"""Tree-comparison operators: bipartition fingerprints and the
Robinson-Foulds (symmetric-difference) distance.

The reference synthesizes one supertree from many source trees but offers
no way to QUANTIFY how far two trees disagree — conflict is only surfaced
edge-by-edge (supporting/conflicting source sets on each synthesis edge,
opentree/GraphExplorer.java:1008-1032 unique-source accumulation). RF
distance is the standard whole-tree disagreement metric in phylogenetics
(Robinson & Foulds 1981, Math. Biosci. 53): the number of non-trivial
bipartitions (internal edges, identified by the tip set on their far side)
present in exactly one of the two trees.

Spark-first recipe — no tree walking, three aggregations:

1. ancestor closure (``graph/closure.build_closure``, one map-only job)
2. one ``groupBy(ancestor)`` over tip rows → each internal node's
   bipartition fingerprint ``(sum of md5-derived tip hashes, tip count)``.
   The sum is order-independent, exact BIGINT arithmetic, identical in
   Spark and DuckDB (``functions/hashing.h32``), and collision-safe in
   practice (two different tip SETS of equal size colliding on a 32-bit
   hash-sum needs an engineered corpus; fine for a distance metric, and
   the gate pins both engines to the SAME fingerprint algebra).
3. one full-outer join of the two fingerprint sets → shared / distinct
   counts; RF = |B1| + |B2| - 2·|B1 ∩ B2|.

Scale shape: step 2 is a partial-aggregating shuffle on ancestor_id (the
fingerprint table is |internal nodes| rows, tiny vs the closure); step 3
joins two fingerprint tables — broadcastable for any real tree. Nothing
driver-side, no per-request iteration; works unchanged on a 2.4M-tip tree
where the closure already exists as an ingest artifact.

Trivial bipartitions (single tips, the full tip set) are excluded per the
standard definition; duplicate fingerprints (unresolved multifurcation
chains produce the same tip set twice) collapse via ``distinct`` so the
metric is well-defined on non-binary trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from treemachine_spark.functions.hashing import h32
from treemachine_spark.graph.closure import build_closure
from treemachine_spark.graph.traversal import leaf_set


def bipartition_fingerprints(
    edges: DataFrame,
    paths: DataFrame | None = None,
    tip_labels: DataFrame | None = None,
) -> DataFrame:
    """Distinct non-trivial bipartition fingerprints of a rooted tree.

    ``edges``: child_id/parent_id table. ``paths``: optional precomputed
    closure (ingest artifact) to avoid rebuilding it. ``tip_labels``:
    optional (node_id, tip_label) mapping — two independently parsed trees
    share tip NAMES, not synthetic node ids, so fingerprints hash the
    label when one is supplied (default: the node id itself).

    Returns (tip_hash_sum bigint, n_tips bigint), distinct rows.
    """
    if paths is None:
        paths = build_closure(edges)
    tips = leaf_set(edges)
    if tip_labels is not None:
        tips = tips.join(tip_labels, "node_id").select(
            "node_id", F.col("tip_label").alias("_label")
        )
    else:
        tips = tips.select("node_id", F.col("node_id").alias("_label"))
    # one row per (tip, ancestor): paths is unique on that pair in a tree
    fp = (
        paths.join(tips, "node_id")
        .groupBy("ancestor_id")
        .agg(
            F.sum(h32(F.col("_label"))).alias("tip_hash_sum"),
            F.count("*").alias("n_tips"),
        )
    )
    # the root covers every tip, so max(n_tips) IS the total — keeps the
    # trivial-bipartition filter lazy (no separate count() action)
    tot = fp.agg(F.max("n_tips").alias("_tot"))
    return (
        fp.join(F.broadcast(tot))
        .where((F.col("n_tips") >= 2) & (F.col("n_tips") < F.col("_tot")))
        .select("tip_hash_sum", F.col("n_tips").cast("long").alias("n_tips"))
        .distinct()
    )


def rf_distance(bip1: DataFrame, bip2: DataFrame) -> DataFrame:
    """Robinson-Foulds distance from two fingerprint sets.

    One full-outer join on the fingerprint key; returns a single row
    (n_bip_t1, n_bip_t2, n_shared, rf_distance) — all bigint.
    """
    a = bip1.withColumn("in1", F.lit(1))
    b = bip2.withColumn("in2", F.lit(1))
    j = a.join(b, ["tip_hash_sum", "n_tips"], "full_outer")
    return (
        j.agg(
            F.coalesce(F.sum("in1"), F.lit(0)).cast("long").alias("n_bip_t1"),
            F.coalesce(F.sum("in2"), F.lit(0)).cast("long").alias("n_bip_t2"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("in1").isNotNull() & F.col("in2").isNotNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_shared"),
        )
        .select(
            "n_bip_t1",
            "n_bip_t2",
            "n_shared",
            (F.col("n_bip_t1") + F.col("n_bip_t2") - 2 * F.col("n_shared")).alias(
                "rf_distance"
            ),
        )
    )


def rf_distance_newick(spark, newick1: str, newick2: str) -> DataFrame:
    """RF distance between two newick strings, matched on tip names."""
    from treemachine_spark.sources.newick import newick_to_dataframes

    fps = []
    for i, text in enumerate((newick1, newick2)):
        nodes, edges = newick_to_dataframes(spark, text, f"t{i}")
        labels = nodes.where("is_leaf").select(
            "node_id", F.col("name").alias("tip_label")
        )
        fps.append(
            bipartition_fingerprints(
                edges.select("child_id", "parent_id"), tip_labels=labels
            )
        )
    return rf_distance(fps[0], fps[1])


def node_distance(
    paths_self: DataFrame, pairs: list[tuple], max_pairs: int | None = 100_000
) -> DataFrame:
    """Pairwise hop distance between nodes of one tree:
    ``dist(a, b) = min over common ancestors c of (depth_a(c) + depth_b(c))``
    — the minimum is attained at the MRCA, so one join + one MIN replaces
    the reference's double rootward walk + intersection scan
    (GraphExplorer.getPathToRoot x2, opentree/GraphExplorer.java:795-814).
    This is the (unit-branch-length) patristic distance of phylogenetics.

    ``pairs`` is request-scale (an HTTP request's id pairs): it becomes a
    broadcast local relation; the closure is hit with one literal IN-filter
    (the t2_mrca discipline). ``paths_self`` must include depth-0 self
    rows so identical and ancestor-descendant pairs resolve. Because the
    pair list is both driver-resident and rendered into the plan as
    literals, ``max_pairs`` bounds it (guard-consistency with the v4/T2
    size gates): corpus-scale ALL-pairs belongs in a join over a pair
    table, not this request-path helper. ``max_pairs=None`` opts out.

    Returns (a, b, hop_distance).
    """
    from treemachine_spark.graph.traversal import local_df

    if max_pairs is not None and len(pairs) > max_pairs:
        raise ValueError(
            f"node_distance is a request-path helper guarded at {max_pairs} "
            f"pairs (got {len(pairs)}): the pair list is driver-resident and "
            f"becomes plan literals — for corpus-scale all-pairs distances "
            f"join the closure on a pair TABLE instead, or raise max_pairs "
            f"explicitly"
        )
    spark = paths_self.sparkSession
    ids = sorted({x for p in pairs for x in p})
    sub = paths_self.where(F.col("node_id").isin(ids)).select(
        "node_id", "ancestor_id", "depth"
    )
    pdf = local_df(spark, pairs, "a string, b string")
    return (
        pdf.join(sub.alias("x"), F.col("a") == F.col("x.node_id"))
        .join(
            sub.alias("y"),
            (F.col("b") == F.col("y.node_id"))
            & (F.col("x.ancestor_id") == F.col("y.ancestor_id")),
        )
        .groupBy("a", "b")
        .agg(
            F.min(F.col("x.depth") + F.col("y.depth"))
            .cast("long")
            .alias("hop_distance")
        )
    )


def patristic_distance_newick(
    spark, newick: str, pairs: list[tuple[str, str]]
) -> DataFrame:
    """True (branch-length-weighted) patristic distance between named tips
    of one newick tree: the weighted closure (build_closure w_sum) makes it
    ``min over common ancestors of (w_sum_a + w_sum_b)`` — the same
    single-join recipe as node_distance, summing branch lengths instead of
    hops. Missing branch lengths count 0 (the reference's MIN_BRANCHLENGTH
    serialization rule lives in the sink, not the metric).

    Returns (a, b, distance) with tip NAMES as the pair keys.
    """
    from treemachine_spark.graph.traversal import local_df
    from treemachine_spark.sources.newick import newick_to_dataframes

    nodes, edges = newick_to_dataframes(spark, newick, "t")
    paths = build_closure(
        edges.select(
            "child_id",
            "parent_id",
            F.coalesce(F.col("branch_length"), F.lit(0.0)).alias("bl"),
        ),
        weight_col="bl",
    )
    self_rows = nodes.select(
        F.col("node_id"),
        F.col("node_id").alias("ancestor_id"),
        F.lit(0).alias("depth"),
        F.lit(0.0).alias("w_sum"),
    )
    ps = paths.unionByName(self_rows)
    name_to_id = {
        r["name"]: r["node_id"]
        for r in nodes.where("is_leaf").select("node_id", "name").collect()
    }
    id_pairs = [(name_to_id[a], name_to_id[b], a, b) for a, b in pairs]
    pdf = local_df(
        spark, id_pairs, "ida string, idb string, a string, b string"
    )
    return (
        pdf.join(ps.alias("x"), F.col("ida") == F.col("x.node_id"))
        .join(
            ps.alias("y"),
            (F.col("idb") == F.col("y.node_id"))
            & (F.col("x.ancestor_id") == F.col("y.ancestor_id")),
        )
        .groupBy("a", "b")
        .agg(F.min(F.col("x.w_sum") + F.col("y.w_sum")).alias("distance"))
    )


def bipartition_branch_lengths(
    edges: DataFrame, tip_labels: DataFrame | None = None
) -> DataFrame:
    """Non-trivial bipartition fingerprints WITH the branch length of the
    subtending edge: (tip_hash_sum, n_tips, bl). When several edges share
    one tip set (unary chains / unresolved regions) their lengths SUM —
    the path length separating the bipartition's two sides.

    Same plan as bipartition_fingerprints plus one join against the edge
    table (the edge ABOVE each internal node) and a fingerprint-keyed
    partial-agg sum.
    """
    paths = build_closure(edges.select("child_id", "parent_id"))
    tips = leaf_set(edges.select("child_id", "parent_id"))
    if tip_labels is not None:
        tips = tips.join(tip_labels, "node_id").select(
            "node_id", F.col("tip_label").alias("_label")
        )
    else:
        tips = tips.select("node_id", F.col("node_id").alias("_label"))
    fp = (
        paths.join(tips, "node_id")
        .groupBy("ancestor_id")
        .agg(
            F.sum(h32(F.col("_label"))).alias("tip_hash_sum"),
            F.count("*").alias("n_tips"),
        )
    )
    tot = fp.agg(F.max("n_tips").alias("_tot"))
    nontrivial = fp.join(F.broadcast(tot)).where(
        (F.col("n_tips") >= 2) & (F.col("n_tips") < F.col("_tot"))
    )
    above = edges.select(
        F.col("child_id").alias("ancestor_id"),
        F.coalesce(F.col("branch_length"), F.lit(0.0)).alias("_bl"),
    )
    return (
        nontrivial.join(above, "ancestor_id")
        .groupBy("tip_hash_sum", F.col("n_tips").cast("long").alias("n_tips"))
        .agg(F.sum("_bl").alias("bl"))
    )


def branch_score_newick(spark, newick1: str, newick2: str) -> DataFrame:
    """Branch-score distance (Kuhner & Felsenstein 1994, MBE 11) between
    two newick trees over the same tips, restricted (like rf_distance) to
    non-trivial bipartitions: sqrt of the sum over all bipartitions of
    (bl_1 - bl_2)^2, a bipartition absent from one tree contributing its
    full length. RF is this metric's topology-only shadow; branch score
    also sees how STRONGLY the trees disagree.

    One fingerprint full-outer join + one aggregation. Returns a single
    row (n_bip_t1, n_bip_t2, n_shared, branch_score).
    """
    from treemachine_spark.sources.newick import newick_to_dataframes

    fps = []
    for i, text in enumerate((newick1, newick2)):
        nodes, edges = newick_to_dataframes(spark, text, f"t{i}")
        labels = nodes.where("is_leaf").select(
            "node_id", F.col("name").alias("tip_label")
        )
        fps.append(bipartition_branch_lengths(edges, tip_labels=labels))
    a = fps[0].withColumnRenamed("bl", "bl1")
    b = fps[1].withColumnRenamed("bl", "bl2")
    j = a.join(b, ["tip_hash_sum", "n_tips"], "full_outer")
    d = F.coalesce(F.col("bl1"), F.lit(0.0)) - F.coalesce(F.col("bl2"), F.lit(0.0))
    return j.agg(
        F.coalesce(F.count("bl1"), F.lit(0)).cast("long").alias("n_bip_t1"),
        F.coalesce(F.count("bl2"), F.lit(0)).cast("long").alias("n_bip_t2"),
        F.coalesce(
            F.sum(
                F.when(F.col("bl1").isNotNull() & F.col("bl2").isNotNull(), 1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_shared"),
        F.sqrt(F.coalesce(F.sum(d * d), F.lit(0.0))).alias("branch_score"),
    )


def node_heights(
    paths_self: DataFrame,
    leaves: DataFrame,
    node_weights: DataFrame,
) -> DataFrame:
    """Per-node HEIGHT: the maximum weighted distance from each node down
    to any of its descendant tips (tips themselves are height 0) — parity
    for the reference's dead helper ``jade/tree/deprecated/TreeUtils.java``
    :15-52 (``assignHeightsFromTipLengths``' node-height annotation), the
    one unused-helper surface VERDICT r5 flagged as uncovered.

    Spark-first recipe with NO per-node walking and NO weighted closure
    rebuild: with ``pre(x)`` = weighted depth of x from the root, the
    distance tip→ancestor telescopes to ``pre(tip) - pre(ancestor)``, and
    because ``pre(ancestor)`` is constant within a group,

        height(a) = max over descendant tips t of pre(t)  -  pre(a).

    So the whole operator is: (1) one groupBy(node_id) over the EXISTING
    unweighted closure joined to the node-scale in-edge weight table →
    ``pre``; (2) one groupBy(ancestor_id) over the closure's tip rows →
    ``max(pre(tip))``; (3) one node-scale join subtracting ``pre(a)``.
    The only closure-wide work is those two join+agg passes; the joined
    sides (``node_weights``, ``tip_pre``) are node-scale, and the tip-rows
    join keys on ``node_id`` — the cached closure's own partitioning
    column — so it shuffles only the node-scale side.

    ``node_weights``: (node_id, w) — each node's IN-edge weight in BIGINT
    micro-units (integer algebra end-to-end, the x15/x16/x20 determinism
    pattern; the root simply has no row). ``paths_self`` must carry the
    depth-0 self rows so tips anchor their own groups.

    r14 (guide §3.1 + §5): two fixes, measured 16.9 -> ~2.5 s noop at
    sf0.1 (rows identical — join strategy and materialization only, same
    algebra; see OPTIMIZATION_r14.md):

    1. Without a hint the planner estimated the aggregated ``tip_pre``
       above the broadcast threshold and chose a SortMergeJoin — shuffling
       AND sorting the whole closure union (Exchange of 3.3M rows at
       sf0.1) against a NODE-scale table, 17-54 s noop with a GC-degrading
       tail. Both node-scale joins now broadcast whenever the tip count
       fits (auto: cached-leaves count ≤ 5M — covers every gate/bench
       decade; past it the code falls back to the shuffled plan, where the
       production answer is the bucketed-closure layout that co-partitions
       both sides anyway). The closure itself is never shuffled.
    2. ``pre`` feeds BOTH broadcast builds and Spark plans the subtree
       once per consumer (the x15/x18 duplicated-subtree lesson), so the
       closure-wide aggregation ran 3x per invocation. One per-invocation
       ``localCheckpoint`` materializes it once (~30 MB node-scale;
       recomputed on every call — no cross-run reuse).

    Returns (node_id, height_micro) for every node.
    """
    w = node_weights.select(
        F.col("node_id").alias("w_node"), F.col("w").cast("long").alias("w")
    )
    pre = (
        paths_self.join(F.broadcast(w), F.col("ancestor_id") == F.col("w_node"), "left")
        .groupBy("node_id")
        .agg(F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("pre"))
        .localCheckpoint()
    )
    tip_pre = pre.join(leaves.select("node_id"), "node_id", "left_semi")
    if leaves.count() <= 5_000_000:
        tip_pre, pre_join = F.broadcast(tip_pre), F.broadcast(pre)
    else:
        pre_join = pre
    maxtip = (
        paths_self.join(tip_pre, "node_id")
        .groupBy("ancestor_id")
        .agg(F.max("pre").alias("mx"))
        .select(F.col("ancestor_id").alias("node_id"), "mx")
    )
    return maxtip.join(pre_join, "node_id").select(
        "node_id", (F.col("mx") - F.col("pre")).cast("long").alias("height_micro")
    )
