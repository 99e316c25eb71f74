"""Tree traversal operators (SURVEY.md §2.4 T1-T16) as join+aggregation
recipes over the ancestor closure.

Every routine here replaces a hand-coded Neo4j traversal in
opentree/GraphExplorer.java with a declarative DataFrame plan so Catalyst
picks the physical join strategy (broadcast for small tip sets, sort-merge
for bulk) and the whole thing distributes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def local_df(spark, rows: list[tuple], ddl: str) -> DataFrame:
    """Small driver-computed result as a TRUE LocalTableScan.

    ``createDataFrame`` from a Python list parallelizes through an RDD, so
    every downstream action schedules a task wave (~0.3 s at local[32], and
    a flat ~4 s if coalesced — measured); routing the rows through pandas
    gives a LocalRelation the consumer evaluates driver-side (~0.1 s). The
    DDL schema is applied explicitly so dtypes match the DuckDB oracles.
    """
    if not rows:
        return spark.createDataFrame([], ddl)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.split()[0] for f in ddl.split(",")]), ddl
    )


def ids_in(col: str, ids) -> Column:
    """``col IN (ids)`` as one parsed expression, the one literal-IN rule
    of the served path. ``Column.isin`` makes a JVM literal per id through
    py4j, so its plan cost grows with the request by far more than the
    parser's does."""
    quoted = ("'" + i.replace("\\", "\\\\").replace("'", "\\'") + "'" for i in ids)
    return F.expr(f"{col} IN ({','.join(quoted)})")


def path_to_root(paths: DataFrame, node_id: str) -> DataFrame:
    """T1 — ordered ancestor chain of one node.

    Reference: GraphExplorer.getPathToRoot (opentree/GraphExplorer.java:
    795-814) walks parent pointers one at a time; here it is one
    partition-pruned filter over the closure.
    """
    return (
        paths.where(F.col("node_id") == node_id)
        .select("ancestor_id", "depth")
        .orderBy("depth")
    )


# Above this many tips the driver-side fast path (literal IN-filter +
# driver-side coverage counting) stops being "request-scale": the IN-list
# plan and the |tips| x height driver dict both grow with the request. The
# join+agg recipes below the gate scale instead of capping — the engine's
# whole point vs the reference's HTTP 400s.
DRIVER_PATH_MAX_TIPS = 5000


def _resolve_tips(paths_self: DataFrame, tips):
    """Normalize ``tips`` (DataFrame or id list) into either a small id
    list (driver fast path, at most ``DRIVER_PATH_MAX_TIPS`` ids — read at
    call time, so a test forces the join path by patching it to 0) or a
    distinct node_id DataFrame (join path).
    Returns (ids_or_None, tips_df_or_None) — exactly one is set. Sizing a
    DataFrame input uses a LIMIT-probe collect (one action that doubles as
    the fast path's id fetch), never a separate count().

    The join path's tips_df is localCheckpointed ONCE here: the joined
    recipes run several independent actions over it (reference-tip min,
    covering join, count-distinct broadcast), and re-deriving an arbitrary
    caller subplan under each action violates the repo invariant 'never
    re-execute subplans under multiple actions' — costly when ``tips`` is
    itself a derived query above the size gate."""
    spark = paths_self.sparkSession
    if isinstance(tips, DataFrame):
        tdf = tips.select("node_id").distinct()
        probe = tdf.limit(DRIVER_PATH_MAX_TIPS + 1).collect()
        if len(probe) <= DRIVER_PATH_MAX_TIPS:
            return [r["node_id"] for r in probe], None
        return None, tdf.localCheckpoint(eager=True)
    ids = list(dict.fromkeys(tips))
    if len(ids) <= DRIVER_PATH_MAX_TIPS:
        return ids, None
    # local_df (LocalRelation), not the RDD createDataFrame route — the
    # same measured guidance as every other request-scale frame in this
    # file; the eager checkpoint then materializes it exactly once
    tdf = local_df(spark, [(i,) for i in ids], "node_id string").distinct()
    return None, tdf.localCheckpoint(eager=True)


def mrca(
    paths_self: DataFrame,
    tips: DataFrame,
    paths: DataFrame | None = None,
    root_id: str | None = None,
) -> DataFrame:
    """T2 — most recent common ancestor of a set of tips.

    Reference: GraphExplorer.getDraftTreeMRCA (opentree/GraphExplorer.java:
    617-650) walks each tip rootward tracking the rootward-most intersection.
    Spark recipe: an ancestor common to all n tips with maximum distance from
    the root IS the MRCA — one join + one aggregation, no iteration. Distance
    from root needs no root lookup: in a rooted tree it equals max(depth)
    over a node's ancestor paths.

    ``paths_self`` must include depth-0 self paths so a tip that is itself an
    ancestor of the others can win. Returns one row
    (mrca_node_id, mrca_depth). ``tips`` may be a DataFrame (request-scale:
    its subplan is evaluated ONCE and re-literalized) or a plain list of
    node ids, as an HTTP request would supply.

    SIZE-GATED: requests up to ``DRIVER_PATH_MAX_TIPS`` take the measured-3x-
    faster driver-side path below; anything larger routes to the pure
    join+agg recipe (``_mrca_joined``) whose plan is bounded by DATA, not
    by the request — no literal IN-list, no driver-side dict. Both paths
    are verified by the same oracle (test_large_tipset.py pins agreement
    and runs the join path at >=50k tips).

    When the caller supplies the RAW closure (``paths``) and ``root_id``
    (ingest artifacts), the fast path scans ONLY the closure cache and
    synthesizes the depth-0 self rows driver-side: every non-root node
    appears in the closure as a node_id (it has >= 1 ancestor), so a
    request tip is valid iff it showed up in the scan or is the root —
    the paths_self union's second InSet scan over the nodes cache
    (~30% of the serve floor, profiled r4) disappears with identical
    semantics, including empty-result behavior for unknown ids.
    """
    tip_ids, tips_df = _resolve_tips(paths_self, tips)
    if tips_df is not None:
        return _mrca_joined(paths_self, tips_df)
    n_tips = len(tip_ids)
    spark = paths_self.sparkSession
    # ONE single-stage job: filter the closure to the tip rows (literal
    # IN-filter over the cached closure — no shuffle, no aggregation stage)
    # and collect them. The filtered set is request-scale by construction
    # (|tips| x path depth, <= ~160 x tree height under the reference's id
    # caps), so the coverage count runs driver-side: an ancestor covering
    # all n tips with minimum distance d0 from the first tip IS the MRCA —
    # the common ancestor nearest one tip is nearest all of them — and
    # max(d0) over covering ancestors is tip 0's root distance (the root
    # covers everything), so mrca_depth = max(d0) - min(d0) falls out of
    # the same rows. Replacing the former groupBy/countDistinct stage with
    # the driver-side count measured 3x faster (0.65s -> 0.21s at sf0.1):
    # the agg stage's shuffle + extra task wave dominated, not the scan.
    src = paths if paths is not None else paths_self
    rows = (
        src.where(F.col("node_id").isin(tip_ids))
        .select("ancestor_id", "node_id", "depth")
        .collect()
    )
    schema = "mrca_node_id string, mrca_depth int"
    t0 = tip_ids[0] if tip_ids else None
    cov: dict[str, list] = {}
    for r in rows:
        ent = cov.setdefault(r["ancestor_id"], [set(), None])
        ent[0].add(r["node_id"])
        if r["node_id"] == t0:
            ent[1] = r["depth"]
    if paths is not None:
        # synthesize the depth-0 self rows the raw closure lacks, for tips
        # proven valid by the scan (or the root, which has no closure rows)
        seen = {r["node_id"] for r in rows}
        for t in tip_ids:
            if t in seen or t == root_id:
                ent = cov.setdefault(t, [set(), None])
                ent[0].add(t)
                if t == t0:
                    ent[1] = 0
    full = [
        (anc, d0)
        for anc, (seen, d0) in cov.items()
        if len(seen) == n_tips and d0 is not None
    ]
    if not full:
        return spark.createDataFrame([], schema)
    dmin = min(d for _, d in full)
    dmax = max(d for _, d in full)
    node = next(a for a, d in full if d == dmin)
    return local_df(spark, [(node, int(dmax - dmin))], schema)


def _mrca_joined(paths_self: DataFrame, tips_df: DataFrame) -> DataFrame:
    """T2 at arbitrary tip-set size: the r2 pure join+agg recipe.

    covering = ancestors seen by ALL tips (join closure⋈tips, groupBy
    ancestor, countDistinct == broadcast total — partial-agg shuffle on
    ancestor_id, the only data-scale stage; the total joins in as a 1-row
    broadcast so no driver-side count action is needed). The covering set
    is at most one root path (height-scale), so the final ranking is a
    window over a handful of rows: with d0 = depth from the min-id
    reference tip, the MRCA is the covering ancestor at min(d0) and its
    root distance is max(d0) - d0.
    """
    ntot = tips_df.agg(F.countDistinct("node_id").alias("n_t"))
    cov = (
        paths_self.join(tips_df, "node_id")
        .groupBy("ancestor_id")
        .agg(F.countDistinct("node_id").alias("n_cov"))
        .join(F.broadcast(ntot))
        .where(F.col("n_cov") == F.col("n_t"))
    )
    t0 = tips_df.agg(F.min("node_id")).first()[0]
    d0 = paths_self.where(F.col("node_id") == t0).select(
        "ancestor_id", F.col("depth").alias("d0")
    )
    w = Window.partitionBy(F.lit(1))
    return (
        cov.join(d0, "ancestor_id")
        .withColumn("dmax", F.max("d0").over(w))
        .orderBy("d0")
        .limit(1)
        .select(
            F.col("ancestor_id").alias("mrca_node_id"),
            (F.col("dmax") - F.col("d0")).cast("int").alias("mrca_depth"),
        )
    )


def mrta(paths: DataFrame, nodes: DataFrame, query: DataFrame, max_level: int) -> DataFrame:
    """T3 — nearest 'taxonomic' ancestor: for each query node, the closest
    ancestor whose level <= max_level (the analog of 'first ancestor with a
    tax_uid', GraphExplorer.getDraftTreeMRTA, opentree/GraphExplorer.java:
    654-664). Window over depth replaces the rootward walk.
    """
    named = nodes.where(F.col("level") <= max_level).select(
        F.col("node_id").alias("ancestor_id"), F.col("level")
    )
    w = Window.partitionBy("node_id").orderBy("depth")
    return (
        paths.join(F.broadcast(query), "node_id")
        .join(named, "ancestor_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("node_id", F.col("ancestor_id").alias("mrta_node_id"), "depth")
    )


def subtree(paths: DataFrame, root_node: str, max_depth: int | None = None) -> DataFrame:
    """T4/T7 — (depth-limited) subtree: all descendants of ``root_node``.

    Reference: depth-limited Neo4j traversal with Evaluators.toDepth
    (GraphExplorer.reconstructDepthLimitedSubtree, opentree/GraphExplorer.
    java:539-574). Here: one filter on the closure — partition-prunable and
    O(|result|) regardless of tree size.
    """
    out = paths.where(F.col("ancestor_id") == root_node)
    if max_depth is not None and max_depth >= 0:
        out = out.where(F.col("depth") <= max_depth)
    return out.select("node_id", "depth")


def subtree_num_tips(paths: DataFrame, edges: DataFrame, root_node: str) -> DataFrame:
    """T5 — pre-flight tip count of a subtree (the reference's result-size
    guard before materializing, tree_of_life_v3.java:685-700 +
    GraphExplorer.getSubtreeNumTips:501-530). Tips = descendants that never
    appear as a parent (set difference, E1 at GraphExplorer.java:527).
    """
    desc = paths.where(F.col("ancestor_id") == root_node).select("node_id")
    parents = edges.select(F.col("parent_id").alias("node_id")).distinct()
    return desc.join(parents, "node_id", "left_anti").agg(
        F.count("*").alias("num_tips")
    )


def leaf_set(edges: DataFrame) -> DataFrame:
    """Leaves = child ids that never appear as parents (E1 set difference)."""
    parents = edges.select(F.col("parent_id").alias("node_id")).distinct()
    return edges.select(F.col("child_id").alias("node_id")).join(
        parents, "node_id", "left_anti"
    )


def tip_counts(
    paths: DataFrame,
    edges: DataFrame,
    max_level_nodes: DataFrame | None = None,
    leaves: DataFrame | None = None,
) -> DataFrame:
    """A1 — tip_descendants per ancestor (precomputed at ingest in the
    reference and stored on every edge, IngestSynthesisData.java:435-443).

    One shuffle: join closure to the leaf set, count per ancestor. Pass a
    cached ``leaves`` (leaf_set) to skip recomputing the anti-join per call.
    """
    if leaves is None:
        leaves = leaf_set(edges)
    counts = (
        paths.join(leaves, "node_id")
        .groupBy("ancestor_id")
        .agg(F.count("*").alias("tip_descendants"))
    )
    if max_level_nodes is not None:
        counts = counts.join(
            max_level_nodes.select(F.col("node_id").alias("ancestor_id")), "ancestor_id"
        )
    return counts


def induced_subtree(
    paths_self: DataFrame,
    tips: DataFrame,
) -> DataFrame:
    """T6 — covering-ancestor edges of a tip set: the tips plus every
    ancestor that covers >= 2 tips, re-wired so each kept node's parent is
    its nearest kept ancestor. That keeps non-branching ancestors and the
    chain from the tips' MRCA up to the root, which the reference's answer
    does not have; these edges are what the ``t6_induced_subtree`` gate and
    its DuckDB oracle pin. Served induced answers come from
    ``graph.topology.TreeIndex.virtual_tree`` instead, with the reference's
    topology: only the pairwise first intersections, rooted at the MRCA.

    Reference: GraphExplorer.getInducedSubtree (opentree/GraphExplorer.java:
    704-785) — per-tip path walks, pairwise first-intersections, retainAll
    pruning. Spark recipe (pure joins/aggs, no iteration):

      1. ``anc``  = closure rows for query tips (depth >= 1)
      2. keep internal node a if countDistinct(tips under a) >= 2
      3. kept set = tips ∪ kept internals
      4. parent(x) = kept ancestor of x with min depth (row_number window)

    Returns (child_id, parent_id) edges of the induced tree. Broadcast tip
    set keeps this shuffle-light for request-sized inputs; for huge tip sets
    Catalyst falls back to a shuffled join automatically.
    """
    # tips, the kept set, and the filtered row set are request-scale
    # (|tips| x tree height under the reference's id caps): the big closure
    # is scanned exactly ONCE — a single shuffle-free stage whose output
    # collects to the driver — and the MRCA counting + nearest-kept-
    # ancestor rewire run driver-side (same measured win as mrca(): the
    # agg/window shuffle stages dominated these jobs, not the scan). The
    # former second scan (kept-to-kept closure rows) is DERIVED from the
    # first: in a tree, a kept internal a's rootward path is the tail of
    # any covering tip t's path, so a's kept-ancestor chain is t's kept
    # ancestors at depth > d(t, a), with d(a, b) = d(t, b) - d(t, a) —
    # depths along one chain are strictly increasing, so the min is
    # unambiguous. ``tips`` may also be a plain id list, as an HTTP
    # request would supply. SIZE-GATED like mrca(): above
    # ``DRIVER_PATH_MAX_TIPS`` the request routes to the pure join+window
    # recipe (_induced_subtree_joined) — bounded by data, not the request.
    tip_ids, tips_df = _resolve_tips(paths_self, tips)
    if tips_df is not None:
        return _induced_subtree_joined(paths_self, tips_df)
    spark = paths_self.sparkSession
    rows = (
        paths_self.where(F.col("depth") > 0)
        .where(F.col("node_id").isin(tip_ids))
        .select("node_id", "ancestor_id", "depth")
        .collect()
    )
    under: dict[str, set] = {}
    chains: dict[str, list] = {}
    for r in rows:
        under.setdefault(r["ancestor_id"], set()).add(r["node_id"])
        chains.setdefault(r["node_id"], []).append((r["depth"], r["ancestor_id"]))
    kept_internal = {a for a, tips_under in under.items() if len(tips_under) >= 2}
    kept = kept_internal | set(tip_ids)

    # nearest kept ancestor for every kept node (the induced root has none
    # and drops out); unknown ids have no closure rows and drop out too
    best: dict[str, str] = {}
    for t, ch in chains.items():
        ka = [(d, a) for d, a in ch if a in kept]
        if ka:
            best[t] = min(ka)[1]
    for a in kept_internal:
        if a in chains:
            continue  # also a request tip (or handled above); a==root has no chain
        t = next(iter(under[a]))
        d_a = next(d for d, b in chains[t] if b == a)
        ka = [(d - d_a, b) for d, b in chains[t] if d > d_a and b in kept]
        if ka:
            best[a] = min(ka)[1]
    edges = sorted(best.items())
    return local_df(spark, edges, "child_id string, parent_id string")


def _induced_subtree_joined(paths_self: DataFrame, tips_df: DataFrame) -> DataFrame:
    """T6 at arbitrary tip-set size: the r2 pure join+window recipe.

    kept = tips ∪ {internal a : countDistinct(tips under a) >= 2}; the
    kept set is |tips|-scale (an induced tree has < 2·|tips| nodes) so it
    is localCheckpointed ONCE — both semi-joins below reuse the
    materialized rows instead of re-running the aggregation subtree. The
    rewire is one window per node over kept-to-kept closure rows: the
    nearest kept ancestor is the induced parent. Every stage is a
    shuffle on closure keys — nothing scales with the request beyond the
    kept-set checkpoint.
    """
    anc = paths_self.where(F.col("depth") > 0).join(tips_df, "node_id")
    kept_internal = (
        anc.groupBy("ancestor_id")
        .agg(F.countDistinct("node_id").alias("n_tips"))
        .where(F.col("n_tips") >= 2)
        .select(F.col("ancestor_id").alias("node_id"))
    )
    kept = kept_internal.unionByName(tips_df).distinct().localCheckpoint(eager=True)
    to_kept = (
        paths_self.where(F.col("depth") > 0)
        .join(kept, "node_id", "left_semi")
        .join(
            kept.select(F.col("node_id").alias("ancestor_id")),
            "ancestor_id",
            "left_semi",
        )
    )
    w = Window.partitionBy("node_id").orderBy("depth")
    return (
        to_kept.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("node_id").alias("child_id"),
            F.col("ancestor_id").alias("parent_id"),
        )
    )


def adjacent_by_source(
    edges: DataFrame,
    node_id: str,
    source: str,
    source_col: str = "source",
    direction: str = "out",
) -> DataFrame:
    """T16 — the adjacent node over the first edge carrying ``source``
    (GraphBase.getAdjNodeFromFirstRelationshipBySource,
    opentree/GraphBase.java:262-273). The reference takes Neo4j's storage
    order for "first"; a distributed engine needs a STABLE order, so this
    takes the min adjacent id — one pushed-down filter + TakeOrdered(1).
    """
    if direction == "out":
        pred = (F.col("child_id") == node_id) & (F.col(source_col) == source)
        adj = edges.where(pred).select(F.col("parent_id").alias("adjacent_id"))
    else:
        pred = (F.col("parent_id") == node_id) & (F.col(source_col) == source)
        adj = edges.where(pred).select(F.col("child_id").alias("adjacent_id"))
    return adj.orderBy("adjacent_id").limit(1)


def representative_names(paths: DataFrame, nodes: DataFrame) -> DataFrame:
    """T9 — representative descendant names: for each internal node, a
    deterministic first/last named descendant.

    Reference: GraphExplorer.getNamesOfRepresentativeDescendants
    (opentree/GraphExplorer.java:451-490) recursively walks first/last child
    until a named node is found. Relational form: min/max named descendant
    per ancestor — one join + one aggregation (O6 deterministic first/last
    via min/max, GraphExplorer.java:455-468).
    """
    named = nodes.where(F.col("name").isNotNull()).select("node_id", "name")
    return (
        paths.join(named, "node_id")
        .groupBy("ancestor_id")
        .agg(
            F.min("name").alias("first_name"),
            F.max("name").alias("last_name"),
        )
    )


def degree_prune_frontier(edges: DataFrame, threshold: int = 100) -> DataFrame:
    """T12 — nodes whose child count >= threshold (the reference stops
    expanding these during web-tree BFS, opentree/ChildNumberEvaluator.java:
    15-40, threshold set at GraphExplorer.java:70-71).
    """
    return (
        edges.groupBy(F.col("parent_id").alias("node_id"))
        .agg(F.count("*").alias("n_children"))
        .where(F.col("n_children") >= threshold)
    )


def bfs_capped(edges: DataFrame, start: str, max_nodes: int, max_depth: int = 20) -> DataFrame:
    """T10/T11 — breadth-first expansion from ``start`` stopping once the
    visited set reaches ``max_nodes`` (GraphExporter.buildSyntheticTreeForWeb,
    opentree/GraphExporter.java:948-1036, cap check :952-958).

    Driver-controlled iteration (Spark has no recursive SQL); each level is
    one join. The frontier is broadcast — web-tree requests are small by
    construction (the cap).
    """
    spark = edges.sparkSession
    frontier = spark.createDataFrame([(start, 0)], "node_id string, depth int")
    visited = frontier
    total = 1
    for d in range(1, max_depth + 1):
        if total >= max_nodes:
            break
        # The limit below is order-sensitive, and nxt feeds three consumers
        # (count, visited union, next frontier): materialize it ONCE so all
        # three see the same row set — an unordered limit re-executed per
        # action could return different rows each time.
        nxt = (
            edges.join(
                F.broadcast(frontier.select(F.col("node_id").alias("parent_id"))),
                "parent_id",
            )
            .select(F.col("child_id").alias("node_id"), F.lit(d).alias("depth"))
            .limit(max_nodes - total)
            .localCheckpoint(eager=True)
        )
        n = nxt.count()
        if n == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
        total += n
    return visited


MAX_REMAP_MATCHES = 10_000


def deepest_exemplified_remap(paths_self: DataFrame, matched) -> DataFrame:
    """T15 — deepest-exemplified-taxon remap, the legacy ingest step that
    lifts each input-tree tip's taxon mapping to the HIGHEST taxonomic
    ancestor it can exemplify without colliding with the other tips.

    Reference: GraphImporter.getDeepestExemplifiedTaxon
    (opentree/GraphImporter.java:445-479) climbs TAXCHILDOF one node at a
    time, stopping when the parent's ``mrca`` descendant BitSet intersects
    the union of the OTHER matched nodes' BitSets (the outgroup built by
    relabelDeepest, :174-229). Declarative form: ancestor tip sets are
    supersets of their children's, so disjointness is monotone up the
    chain and the climb returns exactly the max-depth ancestor whose
    tip-descendant set misses the outgroup — with the node itself as the
    floor when even its own set intersects (nested matches; the reference
    hits that as "first parent already intersects, return inNode").

    On a tree closure no tip sets are needed at all: two nodes' tip sets
    intersect iff one is an ancestor-or-self of the other, so "candidate x
    intersects matched j" is just closure membership between x and j in
    either direction. The whole operator is then IN-pushed closure scans
    + request-scale joins — no per-node BitSets, no corpus-scale shuffle
    (the gate's DuckDB oracle recomputes the literal tip-set-intersection
    semantics, cross-checking this equivalence every run).

    ``matched`` is a driver-resident id list (the reference's per-input-
    tree leaf map — request-scale by construction, bounded like the other
    literal-IN request ops). Needs >= 2 distinct ids: with an empty
    outgroup the reference climb runs off the root (its documented
    IllegalStateException). Returns one row per distinct matched id:
    (node_id, remap_id, remap_depth).
    """
    ids = list(dict.fromkeys(matched))
    if len(ids) < 2:
        raise ValueError(
            "deepest_exemplified_remap needs >= 2 distinct matched nodes: "
            "with an empty outgroup every ancestor is exemplified and the "
            "climb has no stopping point (the reference raises hitting the "
            "graph root)"
        )
    if len(ids) > MAX_REMAP_MATCHES:
        raise ValueError(
            f"deepest_exemplified_remap is a request-scale operator bounded "
            f"at {MAX_REMAP_MATCHES} matched nodes ({len(ids)} given): remap "
            f"trees one at a time (the reference's unit of work)"
        )
    spark = paths_self.sparkSession
    # candidate ancestors of each matched node, self included (depth 0):
    # one IN-pushed closure scan, |matched| x height rows.
    # r14 (guide §5 + the x15/x18 duplicated-subtree lesson): ``cand``
    # feeds THREE consumers (above, below's semi build, the anti-join's
    # probe side) and ``pairs`` anchors a broadcast build — each planned
    # consumer re-ran the closure scan. Both are REQUEST-scale (tens of
    # rows), so a per-invocation localCheckpoint materializes each once;
    # paired A/B at sf0.1: ~6.6 -> ~3.4 s total, rows identical.
    cand = (
        paths_self.where(F.col("node_id").isin(ids))
        .select(
            F.col("node_id").alias("m"),
            F.col("ancestor_id").alias("cand"),
            "depth",
        )
        .localCheckpoint()
    )
    # "x intersects matched j" pairs via tree comparability:
    #  - x is an ancestor-or-self of j: the cand rows themselves, re-read
    #  - x is a descendant-or-self of j: rows below a matched node,
    #    semi-joined to the candidate set to stay request-scale (only
    #    candidates are ever consulted by the anti-join)
    above = cand.select(F.col("cand"), F.col("m").alias("mj"))
    below = (
        paths_self.where(F.col("ancestor_id").isin(ids))
        .select(F.col("node_id").alias("cand"), F.col("ancestor_id").alias("mj"))
        .join(
            F.broadcast(cand.select("cand").distinct()), "cand", "left_semi"
        )
    )
    pairs = above.unionByName(below).localCheckpoint()
    # unblocked = candidates intersecting no OTHER matched node; keep the
    # highest (max depth — unique per depth on a tree, struct-max is
    # deterministic regardless)
    # pairs derives from cand, so the anti-join is a self-join: explicit
    # aliases keep the condition's two 'cand' columns from resolving to
    # the same lineage (Spark would silently plan `cand == cand` as true)
    best = (
        cand.alias("c")
        .join(
            pairs.alias("p"),
            (F.col("p.cand") == F.col("c.cand")) & (F.col("p.mj") != F.col("c.m")),
            "left_anti",
        )
        .groupBy("m")
        .agg(F.max(F.struct("depth", "cand")).alias("b"))
        .select("m", F.col("b.cand").alias("remap_id"), F.col("b.depth").alias("d"))
    )
    # floor: a matched node whose own tip set intersects the outgroup
    # (nested matches) has NO unblocked candidate — it remaps to itself,
    # exactly the reference's first-parent-intersects return
    matched_df = local_df(spark, [(i,) for i in ids], "m string")
    return (
        matched_df.join(best, "m", "left")
        .select(
            F.col("m").alias("node_id"),
            F.coalesce("remap_id", "m").alias("remap_id"),
            F.coalesce("d", F.lit(0)).cast("int").alias("remap_depth"),
        )
    )
