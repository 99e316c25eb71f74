"""The oracle-checkable query suite: every operator family from SURVEY.md §2
expressed over the driver's synthetic tables.

Tree operators (T/A/E families) run on the hierarchy derived from the star
schema (root -> region -> nation -> customer -> orders -> lineitem, see
graph/hierarchy.py) so that DuckDB can verify them with recursive CTEs.
Relational operators (L/P/A/O families) run on the tables directly.

Each entry is ``name -> callable(spark, sf_dir) -> DataFrame``; column names
and types are aligned with the matching SQL in workload/oracles.py.

Determinism notes: computed float aggregates are ROUNDed on both sides so
engine-level summation-order noise (~1e-12 relative) cannot flip the value
hash; stored doubles pass through exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from treemachine_spark.graph.closure import with_self_paths
from treemachine_spark.graph.hierarchy import hierarchy_artifacts
from treemachine_spark.graph import traversal as T
from treemachine_spark.io.tables import load_tables

# ---------------------------------------------------------------------------
# cached per-(session, sf_dir) graph artifacts — the rebuild's equivalent of
# the reference's ingest step (IngestSynthesisData.buildDB). The closure is
# built once and cached; every tree query below is then a join/agg over it.
# ---------------------------------------------------------------------------
_CTX: dict[tuple[int, str], dict] = {}


def get_ctx(spark: SparkSession, sf_dir: str) -> dict:
    key = (id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark), sf_dir)
    if key not in _CTX:
        tables = load_tables(spark, sf_dir)
        # the sf-scale parquet files land in ONE partition each (single files
        # under maxPartitionBytes), which would serialize per-row-heavy
        # compute (UDF shingling, vector math) on one core; re-spread just
        # those tables at ingest — the local analog of the many-file layout
        # the same tables have at 100 TB. The relational tables keep their
        # natural scan layout: at this SF more tasks is pure scheduling
        # overhead, and at real scale the scan parallelism comes from the
        # file count anyway.
        # r14 (guide §2 "make partitioning scale-adaptive"): both spread
        # factors derive from the session's core count instead of being
        # constants tuned for local[32] — identical at 32 cores (8 resp.
        # 32), proportionally smaller when the driver benches at a lower
        # core count (fewer tasks of the same tiny data = less scheduling
        # overhead). At 100 TB neither constant applies: scan parallelism
        # comes from the file count.
        par = spark.sparkContext.defaultParallelism
        for name in ("documents", "embeddings"):
            tables[name] = tables[name].repartition(max(par // 4, 4)).cache()
        # fused ingest: nodes/edges/closure share one set of level frames,
        # one lineitem dedup AND one parents distinct (hierarchy_artifacts
        # docstring has the cost model; build_closure remains the generic
        # path for arbitrary-depth newick trees). The keyed closure respread
        # (load-bearing: without it the broadcast-join build leaves ~5
        # partitions — the lineitem scan's — serializing every downstream
        # closure scan; A/B at sf0.1: t6 0.21 -> 0.50 s, heights-join
        # 1.63 -> 2.16 s) is applied PRE-explode inside the build since r15
        # (fewer shuffled rows/bytes, identical partitioning guarantee).
        nodes, edges, paths, leaves = hierarchy_artifacts(
            tables, closure_partitions=max(par, 8), with_leaves=True
        )
        nodes, edges = nodes.cache(), edges.cache()
        paths = paths.cache()
        # paths_self stays a lazy union VIEW over the two cached inputs —
        # caching it would duplicate the whole closure in memory for no
        # speedup (both branches are already cached)
        paths_self = with_self_paths(paths, nodes)
        leaves = leaves.cache()
        # ingest artifact set, like the reference's batch ingest + Lucene
        # index build: the graph caches, the LSH signature table (the dedup
        # index every near-dup query serves from), the stored
        # tip_descendants aggregate (IngestSynthesisData.java:435-443), and
        # the deterministic request parameters (at serving time the client
        # supplies tip ids in the HTTP request — deriving them is request
        # construction, not the operator).
        from treemachine_spark.functions.dedup import (
            minhash_index,
            minhash_near_dup_pairs,
        )

        # with_shingles: the index carries each doc's 60-bit shingle-hash
        # set so the pairs build verifies straight off the index (no second
        # shingling pass / text scan — see minhash_near_dup_pairs)
        doc_sig = minhash_index(tables["documents"], with_shingles=True).cache()
        tip_counts = T.tip_counts(paths, edges, leaves=leaves).cache()
        tip_sets: dict[str, list] = {}
        # the verified near-dup PAIRS are an ingest artifact too (pair-scale,
        # localCheckpointed by minhash_near_dup_pairs): the band join + exact
        # verify runs once here, and every d2 serve is then a pure index
        # lookup — the same precompute-at-ingest contract as the reference's
        # Lucene index build. The full compute path stays benched separately
        # (bench_pipeline.py builds pairs from cold at 100k-500k docs).
        artifacts: dict[str, DataFrame] = {}

        def _build_pairs():
            artifacts["dup_pairs"] = minhash_near_dup_pairs(
                tables["documents"], threshold=0.3, sig=doc_sig
            )

        def _build_rf():
            fp1, fp2 = _rf_fingerprints(tables)
            artifacts["rf_fp1"] = fp1.cache()
            artifacts["rf_fp2"] = fp2.cache()
            artifacts["rf_fp1"].count()
            artifacts["rf_fp2"].count()

        # ALL materializations are independent jobs — submit them
        # concurrently and let the scheduler pack the cluster (shared cached
        # inputs like li_ids/paths are computed once under the cache lock
        # and reused by the racing jobs)
        def _collect_tips(name, df):
            tip_sets[name] = [r["node_id"] for r in df.collect()]

        jobs = [
            edges.count,
            nodes.count,
            paths.count,
            leaves.count,
            doc_sig.count,
            tip_counts.count,
            lambda: _collect_tips("mrca", _mrca_tips(tables)),
            lambda: _collect_tips("induced", _induced_tips(tables)),
            _build_pairs,
            _build_rf,
        ]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(j) for j in jobs]
            for f in futures:
                f.result()
        mrca_tips, induced_tips = tip_sets["mrca"], tip_sets["induced"]
        _CTX[key] = {
            "tables": tables,
            "edges": edges,
            "nodes": nodes,
            "paths": paths,
            "paths_self": paths_self,
            "leaves": leaves,
            "doc_sig": doc_sig,
            "dup_pairs": artifacts["dup_pairs"],
            "rf_fp1": artifacts["rf_fp1"],
            "rf_fp2": artifacts["rf_fp2"],
            "tip_counts": tip_counts,
            "mrca_tips": mrca_tips,
            "induced_tips": induced_tips,
        }
    return _CTX[key]


# ---------------------------------------------------------------------------
# deterministic parameter selection (mirrored exactly in oracles.py)
# ---------------------------------------------------------------------------


def _mrca_tips(tables) -> DataFrame:
    """Tips for t2_mrca: first lineitem of each of the 2 smallest orders of
    the smallest customer having >= 2 orders. Expected MRCA = that customer.
    """
    orders = tables["orders"]
    li = tables["lineitem"]
    cust = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .orderBy("o_custkey")
        .limit(1)
        .select("o_custkey")
    )
    sel = (
        orders.join(F.broadcast(cust), "o_custkey")
        .orderBy("o_orderkey")
        .limit(2)
        .select("o_orderkey")
    )
    return (
        li.join(F.broadcast(sel), li.l_orderkey == sel.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.min("l_linenumber").alias("ln"))
        .select(
            F.concat(
                F.lit("l"), F.col("l_orderkey").cast("string"), F.lit("_"), F.col("ln").cast("string")
            ).alias("node_id")
        )
    )


def _induced_tips(tables) -> DataFrame:
    """Tips for t6_induced_subtree: first lineitem of the 10 smallest orders."""
    orders = tables["orders"]
    li = tables["lineitem"]
    sel = orders.orderBy("o_orderkey").limit(10).select("o_orderkey")
    return (
        li.join(F.broadcast(sel), li.l_orderkey == sel.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.min("l_linenumber").alias("ln"))
        .select(
            F.concat(
                F.lit("l"), F.col("l_orderkey").cast("string"), F.lit("_"), F.col("ln").cast("string")
            ).alias("node_id")
        )
    )


# ---------------------------------------------------------------------------
# tree operator queries (SURVEY.md §2.4-2.7)
# ---------------------------------------------------------------------------


def q_closure_paths(spark, sf_dir):
    """The ancestor closure itself — the rebuild's core materialization
    (replaces pointer-chasing traversals, GraphExplorer.java:795-814)."""
    return get_ctx(spark, sf_dir)["paths"].select("node_id", "ancestor_id", "depth")


def q_t1_path_to_root(spark, sf_dir):
    """T1 — ancestor chain of customer node 'c0'."""
    ctx = get_ctx(spark, sf_dir)
    return T.path_to_root(ctx["paths"], "c0")


def q_t2_mrca(spark, sf_dir):
    """T2 — MRCA of a deterministic tip set (GraphExplorer.java:617-650)."""
    ctx = get_ctx(spark, sf_dir)
    # raw closure + root id: the fast path synthesizes self rows driver-side
    # instead of paying the nodes-cache InSet scan (r4 floor profile)
    return T.mrca(
        ctx["paths_self"], ctx["mrca_tips"], paths=ctx["paths"], root_id="root"
    )


def q_t3_mrta(spark, sf_dir):
    """T3 — nearest customer-or-above ancestor for the mrca tip set
    (analog of first-taxonomy-ancestor, GraphExplorer.java:654-664)."""
    ctx = get_ctx(spark, sf_dir)
    tips = spark.createDataFrame([(t,) for t in ctx["mrca_tips"]], "node_id string")
    return T.mrta(ctx["paths"], ctx["nodes"], tips, max_level=3).select(
        "node_id", "mrta_node_id", "depth"
    )


def q_t4_subtree(spark, sf_dir):
    """T4 — depth-limited subtree under nation 'n0' (GraphExplorer.java:539-574)."""
    ctx = get_ctx(spark, sf_dir)
    return T.subtree(ctx["paths"], "n0", max_depth=2)


def q_t5_subtree_num_tips(spark, sf_dir):
    """T5 — pre-flight tip count under 'n0' (GraphExplorer.java:501-530)."""
    ctx = get_ctx(spark, sf_dir)
    return T.subtree_num_tips(ctx["paths"], ctx["edges"], "n0")


def q_t6_induced_subtree(spark, sf_dir):
    """T6 — induced subtree edges for 10 deterministic tips
    (GraphExplorer.java:704-785)."""
    ctx = get_ctx(spark, sf_dir)
    return T.induced_subtree(ctx["paths_self"], ctx["induced_tips"])


def q_a1_tip_counts(spark, sf_dir):
    """A1 — tip_descendants per region/nation ancestor
    (IngestSynthesisData.java:435-443)."""
    ctx = get_ctx(spark, sf_dir)
    counts = ctx["tip_counts"]
    return counts.where(
        (F.col("ancestor_id") == "root") | F.col("ancestor_id").rlike("^[rn][0-9]+$")
    )


def q_t12_degree_prune(spark, sf_dir):
    """T12 — high-degree frontier (ChildNumberEvaluator.java:15-40), with a
    threshold scaled to the synthetic tree (>= 5 children)."""
    ctx = get_ctx(spark, sf_dir)
    return T.degree_prune_frontier(ctx["edges"], threshold=5)


def q_e1_leaf_set(spark, sf_dir):
    """E1 — set difference: leaves = children EXCEPT parents
    (GraphExplorer.java:527)."""
    ctx = get_ctx(spark, sf_dir)
    edges = ctx["edges"]
    parents = edges.select(F.col("parent_id").alias("node_id")).distinct()
    leaves = edges.select(F.col("child_id").alias("node_id")).join(
        parents, "node_id", "left_anti"
    )
    # level-4 leaves only (orders with no lineitems) — small deterministic set
    return leaves.where(F.col("node_id").rlike("^o[0-9]+$"))


def q_c2_node_distance(spark, sf_dir):
    """C2 — pairwise hop distance (unit-BL patristic distance): the t6 tip
    set sorted and paired consecutively; min-over-common-ancestors recipe
    (graph/compare.node_distance)."""
    from treemachine_spark.graph import compare as C

    ctx = get_ctx(spark, sf_dir)
    tips = sorted(ctx["induced_tips"])
    pairs = [(tips[i], tips[i + 1]) for i in range(0, len(tips) - 1, 2)]
    return C.node_distance(ctx["paths_self"], pairs)


def _rf_fingerprints(tables) -> tuple[DataFrame, DataFrame]:
    """Bipartition fingerprints of the two c1 trees — an INGEST artifact
    (like tip_counts / dup_pairs): the two closure builds run once at
    ingest; every c1 serve is then one full-outer join of two
    internal-node-scale cached tables (r3 paid 2.4 s per serve rebuilding
    the closures; VERDICT r3 #4)."""
    from concurrent.futures import ThreadPoolExecutor

    from treemachine_spark.graph import compare as C

    t = tables
    reg = t["region"].select(
        F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias("child_id"),
        F.lit("root").alias("parent_id"),
    )
    # Only nations that HAVE customers become internal nodes of T1 — a
    # childless nation would otherwise read as a tip to leaf_set and its
    # h32('nN') label would pollute region fingerprints, diverging from the
    # oracle's customer-only aggregation (ADVICE r3; node-set semantics).
    nat = (
        t["nation"]
        .join(
            t["customer"].select(F.col("c_nationkey").alias("n_nationkey")).distinct(),
            "n_nationkey",
            "left_semi",
        )
        .select(
            F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("child_id"),
            F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("parent_id"),
        )
    )
    cust1 = t["customer"].select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("child_id"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("parent_id"),
    )
    cust2 = (
        t["customer"]
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("child_id"),
            F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias(
                "parent_id"
            ),
        )
    )
    # r14 (guide §2.4, ingest): both trees have a STATICALLY KNOWN depth
    # (T1: c->n->r->root, T2: c->r->root), so their closures are analytic
    # level-frame unions (the hierarchy_closure recipe) instead of the
    # generic build — build_closure collects every edge to the driver
    # before its emission job (a serialized driver round trip per tree on
    # the ingest critical path). The frame closure is one lazy union of
    # projections; the only join is customer ⋈ broadcast(nation frame) for
    # T1's grandparent — fingerprint values are identical (same path sets).
    root_arr = F.array(F.lit("root"))
    p_reg = reg.select(F.col("child_id").alias("node_id"), root_arr.alias("anc"))
    p_nat = nat.select(
        F.col("child_id").alias("node_id"),
        F.concat(F.array(F.col("parent_id")), root_arr).alias("anc"),
    )
    p_cust1 = (
        cust1.join(
            F.broadcast(
                nat.select(
                    F.col("child_id").alias("parent_id"),
                    F.col("parent_id").alias("_gp"),
                )
            ),
            "parent_id",
        )
        .select(
            F.col("child_id").alias("node_id"),
            F.concat(F.array(F.col("parent_id"), F.col("_gp")), root_arr).alias("anc"),
        )
    )
    p_cust2 = cust2.select(
        F.col("child_id").alias("node_id"),
        F.concat(F.array(F.col("parent_id")), root_arr).alias("anc"),
    )

    def _explode(frames):
        from functools import reduce

        parts = [
            f.select(
                "node_id", F.posexplode("anc").alias("pos", "ancestor_id")
            ).select(
                "node_id",
                "ancestor_id",
                (F.col("pos") + F.lit(1)).cast("int").alias("depth"),
            )
            for f in frames
        ]
        return reduce(DataFrame.unionByName, parts)

    paths1 = _explode([p_reg, p_nat, p_cust1])
    paths2 = _explode([p_reg, p_cust2])
    # the two fingerprint aggregations stay independent job chains —
    # submit them concurrently so they pack the cluster (get_ctx pattern)
    with ThreadPoolExecutor(2) as pool:
        f1 = pool.submit(
            C.bipartition_fingerprints, cust1.union(nat).union(reg), paths1
        )
        f2 = pool.submit(C.bipartition_fingerprints, cust2.union(reg), paths2)
        fp1, fp2 = f1.result(), f2.result()
    return fp1, fp2


def q_c1_rf_distance(spark, sf_dir):
    """C1 — Robinson-Foulds distance between two trees over the same tips.

    T1 = root→region→nation→customer, T2 = the same tree with the nation
    level collapsed (customers attach directly to their region). The
    collapse removes exactly the non-trivial nation bipartitions, so the
    gate has a structurally known answer while exercising the full generic
    machinery: closure build per tree, bipartition fingerprint aggregation,
    fingerprint full-outer join (graph/compare.py; the reference has no
    whole-tree disagreement metric — beyond-reference surface).

    The fingerprints are persisted at ingest (_rf_fingerprints, the
    tip_counts pattern) so a serve is one join over two cached
    internal-node-scale tables; the cold closure-build path stays benched
    in bench_tree.py (rf_cold_sec).
    """
    from treemachine_spark.graph import compare as C

    ctx = get_ctx(spark, sf_dir)
    return C.rf_distance(ctx["rf_fp1"], ctx["rf_fp2"])


def q_c3_node_heights(spark, sf_dir):
    """C3 — per-node max weighted distance to a descendant tip
    (graph/compare.node_heights; TreeUtils.java:15-52 parity). The in-edge
    weight is a deterministic per-node BIGINT in micro-units
    (h32(node_id) % 900 + 100 — integer algebra end-to-end, so the DuckDB
    oracle's recursive-closure recomputation is value-exact)."""
    from treemachine_spark.functions.hashing import h32
    from treemachine_spark.graph import compare as C

    ctx = get_ctx(spark, sf_dir)
    node_w = ctx["nodes"].where(F.col("node_id") != "root").select(
        "node_id", (F.pmod(h32(F.col("node_id")), F.lit(900)) + 100).alias("w")
    )
    return C.node_heights(ctx["paths_self"], ctx["leaves"], node_w)


def q_l4_batch_resolution(spark, sf_dir):
    """L4/E4 — batch id resolution partitioned into found / not-in-tree
    (tree_of_life_v3.java:292-330): one join pass, no per-id loop."""
    ctx = get_ctx(spark, sf_dir)
    lookup = spark.createDataFrame(
        [("c0",), ("c1",), ("c2",), ("n0",), ("nope1",), ("nope2",)], "lookup_id string"
    )
    nodes = ctx["nodes"].select(F.col("node_id").alias("lookup_id"), F.lit(True).alias("hit"))
    return (
        lookup.join(nodes, "lookup_id", "left")
        .select("lookup_id", F.coalesce(F.col("hit"), F.lit(False)).alias("found"))
    )


# ---------------------------------------------------------------------------
# relational operator queries (SURVEY.md §2.2/2.3/2.5/2.7/2.8/2.9)
# ---------------------------------------------------------------------------


def q_t9_repr_descendants(spark, sf_dir):
    """T9 — deterministic first/last named descendant per nation node
    (GraphExplorer.java:451-490)."""
    ctx = get_ctx(spark, sf_dir)
    return T.representative_names(ctx["paths"], ctx["nodes"]).where(
        F.col("ancestor_id").rlike("^n[0-9]+$")
    )


def q_t15_deepest_exemplified(spark, sf_dir):
    """T15 — deepest-exemplified-taxon remap (the last reference op:
    GraphImporter.java:445-479 + relabelDeepest :174-229). Matched set =
    the min customer-with-orders of each of the 6 lowest nations (one per
    nation, so each can climb to its nation; 6 nations over 5 regions, so
    by pigeonhole at least two share a region and stay at nation level
    while lone-in-region ones climb to region — both stop conditions
    exercised). Deriving the matched ids is request construction (the
    reference's caller owns the leaf->taxon map); the operator itself is
    IN-pushed closure scans, no tip sets."""
    ctx = get_ctx(spark, sf_dir)
    orders = ctx["tables"]["orders"].select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    matched = [
        r["m"]
        for r in ctx["tables"]["customer"]
        .join(orders, "c_custkey", "left_semi")
        .groupBy("c_nationkey")
        .agg(F.concat(F.lit("c"), F.min("c_custkey").cast("string")).alias("m"))
        .orderBy("c_nationkey")
        .limit(6)
        .collect()
    ]
    return T.deepest_exemplified_remap(ctx["paths_self"], matched)


def q_e2_intersect(spark, sf_dir):
    """E2 — set intersection (retainAll prune, GraphExplorer.java:751-753):
    customers in the BUILDING segment ∩ customers with >= 1 order."""
    t = load_tables(spark, sf_dir)
    building = t["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_orders = t["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    return building.intersect(with_orders)


def q_a11_rollup(spark, sf_dir):
    """Rollup aggregation (beyond-reference §2.9: the reference has no
    grouping sets at all): revenue by region, region+nation, grand total.
    The price sum runs in DECIMAL(18,2) (exact, order-independent) and
    casts back to double — ROUND(SUM(double), 2) flips on 1-ulp sum-order
    differences once the grand total reaches ~1e12 (caught by the r7 sf10
    sweep; the x15/x16/x20 integer-unit lesson applied to currency)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def q_p4_packed_map_roundtrip(spark, sf_dir):
    """P4/P5 — packed-string encode + decode (the reference's workaround for
    Neo4j's flat property model: IngestSynthesisData.java:462-498 flatten,
    GraphExplorer.stringToMapArray:586-597 re-parse). Here: pack nation
    names per region, then decode and count via higher-order functions."""
    t = load_tables(spark, sf_dir)
    packed = (
        t["nation"]
        .groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("packed")
        )
    )
    return packed.select(
        "n_regionkey",
        "packed",
        F.size(F.split("packed", ",")).alias("n_decoded"),
        F.element_at(F.split("packed", ","), 1).alias("first_decoded"),
    )


def _dec_disc_price():
    """l_extendedprice * (1 - l_discount) in exact DECIMAL arithmetic: the
    a11/r7-sf10 lesson — SUM(double) is sum-order-dependent, and once a
    group's total crosses ~1e11 the noise flips ROUND(x, 2). Money sums
    run in DECIMAL end-to-end and cast back to double at the end, so gate
    schemas are unchanged and values are engine-exact at ANY density."""
    one = F.lit(1).cast("decimal(3,2)")
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        one - F.col("l_discount").cast("decimal(4,2)")
    )


def q_q1_pricing_summary(spark, sf_dir):
    """A-family — grouped aggregation (TPC-H Q1 shape): map-side partial agg,
    one shuffle on (returnflag, linestatus). Money sums in DECIMAL
    (_dec_disc_price rationale); averages stay double (group-constant
    denominators, far from rounding boundaries)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    disc_price = _dec_disc_price()
    one = F.lit(1).cast("decimal(3,2)")
    charge = disc_price * (one + F.col("l_tax").cast("decimal(4,2)"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_plan(lineitem, orders, customer):
    """The q3 JOIN+AGG+TOP-K body over caller-supplied fact tables, so the
    same plan runs against raw parquet (the gate) or against orderkey-
    co-bucketed warehouse tables (operators/scale.write_bucketed): with
    both facts bucketed+sorted on the order key the sort-merge join AND
    the group-by run Exchange-free — hashpartitioning(orderkey) satisfies
    the agg's clustered distribution because orderkey is a grouping-key
    subset, and the final top-k is TakeOrderedAndProject (no exchange
    anywhere — asserted in test_cobucketed_facts.py). That layout is the
    documented remedy for the fact⋈fact shuffle this query pays at sf10."""
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(rev, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q_q3_top_orders(spark, sf_dir):
    """Join + agg + top-k (TPC-H Q3 shape). Customer dim is broadcast;
    revenue agg is partial-aggregated before the shuffle."""
    t = load_tables(spark, sf_dir)
    return q3_plan(t["lineitem"], t["orders"], t["customer"])


def q5_plan(lineitem, orders, customer, nation, region):
    """The q5 star body over caller-supplied facts: with orderkey-
    co-bucketed lineitem/orders (operators/scale.write_bucketed) the
    fact⋈fact join is Exchange-free and only the small map-side-combined
    (r_name, n_name) aggregate shuffles — see bench_bucketed.py."""
    return (
        lineitem
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            # money sum in DECIMAL (the a11 sf10 lesson — _dec_disc_price)
            F.round(F.sum(_dec_disc_price()), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_q5_region_revenue(spark, sf_dir):
    """Dimension-join chain (§2.8): region ⋈ nation ⋈ customer ⋈ orders ⋈
    lineitem. All dims broadcast; single shuffle for the final agg."""
    t = load_tables(spark, sf_dir)
    return q5_plan(
        t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"]
    )


def q_q4_order_priority(spark, sf_dir):
    """Semi-join EXISTS (TPC-H Q4 shape): orders with at least one lineitem,
    counted by priority."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(
            t["lineitem"].select(F.col("l_orderkey").alias("o_orderkey")).distinct(),
            "o_orderkey",
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_q13_customer_distribution(spark, sf_dir):
    """Left outer join + double aggregation (TPC-H Q13 shape): distribution
    of customers by order count (including zero)."""
    t = load_tables(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(
            t["orders"].select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_q16_supplier_part_types(spark, sf_dir):
    """count(DISTINCT) aggregation (TPC-H Q16 shape): distinct suppliers per
    part type/size bucket."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_q18_large_orders(spark, sf_dir):
    """Group-HAVING over a join (TPC-H Q18 shape): orders whose total
    quantity exceeds a threshold."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(load_tables(spark, sf_dir)["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice", "total_qty")
    )


def q_q6_forecast_revenue(spark, sf_dir):
    """Selective scan aggregation (TPC-H Q6 shape): all three predicates
    push down into the parquet scan; zero joins, one partial-agg reduce."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # money sum in DECIMAL (the a11 sf10 lesson)
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_discount").cast("decimal(4,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_q7_nation_volume(spark, sf_dir):
    """Two-role dimension join (TPC-H Q7 shape): nation joined once through
    supplier and once through customer — both broadcast; the fact-side
    shuffle is only the final (supp_nation, cust_nation, year) agg."""
    t = load_tables(spark, sf_dir)
    supp_n = t["supplier"].join(
        F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        t["supplier"].s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cust_n = t["customer"].join(
        F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("cust_nation"))),
        t["customer"].c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(F.broadcast(cust_n), t["orders"].o_custkey == cust_n.c_custkey)
        .join(F.broadcast(supp_n), t["lineitem"].l_suppkey == supp_n.s_suppkey)
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            # Sum in DECIMAL, not double: price/discount are exact 2dp
            # values, so the 4dp products and their sum are EXACT — a
            # double sum's order-dependence flipped one ROUND(2dp) row at
            # derived-sf1 magnitude (~6.8e7, the CLAUDE.md q7 knife-edge).
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("volume")
        )
    )


def q_q8_market_share(spark, sf_dir):
    """Market share (TPC-H Q8 shape): conditional aggregation over a 5-way
    star join; every dimension side is broadcast."""
    t = load_tables(spark, sf_dir)
    vol = _dec_disc_price()  # exact DECIMAL volume (the a11 sf10 lesson)
    supp_n = t["supplier"].join(
        F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        t["supplier"].s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cust_r = (
        t["customer"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_regionkey")),
            t["customer"].c_nationkey == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    promo = t["part"].where(F.col("p_type") == "PROMO").select("p_partkey")
    return (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(F.broadcast(cust_r), t["orders"].o_custkey == cust_r.c_custkey, "left_semi")
        .join(F.broadcast(promo), t["lineitem"].l_partkey == promo.p_partkey, "left_semi")
        .join(F.broadcast(supp_n), t["lineitem"].l_suppkey == supp_n.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            # both sums exact DECIMAL -> one deterministic double division
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(3,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


def q_q10_returned_items(spark, sf_dir):
    """Returned-item ranking (TPC-H Q10 shape): selective fact filter, star
    join, top-20 with deterministic tie-break."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .where(F.col("l_returnflag") == "R")
        .join(
            t["orders"].where(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-07-01"))
            ),
            t["lineitem"].l_orderkey == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_q14_promo_share(spark, sf_dir):
    """Promo revenue share (TPC-H Q14 shape): conditional aggregation over a
    broadcast part join within one ship-month."""
    t = load_tables(spark, sf_dir)
    vol = _dec_disc_price()  # exact DECIMAL volume (the a11 sf10 lesson)
    return (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_type")),
            t["lineitem"].l_partkey == F.col("p_partkey"),
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(
                        F.lit(0).cast("decimal(3,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def q_q15_top_supplier(spark, sf_dir):
    """Top supplier (TPC-H Q15 shape): revenue 'view' + scalar max + equality
    join back — the classic view/subquery composition."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("total_revenue"))
    return (
        rev.join(F.broadcast(top), "total_revenue")
        .join(
            F.broadcast(t["supplier"]),
            rev.supplier_no == t["supplier"].s_suppkey,
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_q17_small_qty_revenue(spark, sf_dir):
    """Small-quantity revenue (TPC-H Q17 shape): per-part correlated average
    rewritten as an aggregate-then-join — the standard decorrelation."""
    t = load_tables(spark, sf_dir)
    brand_parts = t["part"].where(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = t["lineitem"].join(
        F.broadcast(brand_parts), t["lineitem"].l_partkey == F.col("p_partkey")
    )
    avg_qty = li.groupBy("p_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    ).withColumnRenamed("p_partkey", "ap_partkey")
    return (
        li.join(F.broadcast(avg_qty), li.p_partkey == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            # exact DECIMAL sum -> one deterministic double division
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


def q_q19_disjunctive_join(spark, sf_dir):
    """Disjunctive predicate join (TPC-H Q19 shape): OR of three
    brand/size/quantity envelopes — Catalyst extracts the common join key so
    this stays an equi-join with a residual filter, not a cross product."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].join(
        F.broadcast(t["part"].select("p_partkey", "p_brand", "p_size")),
        t["lineitem"].l_partkey == F.col("p_partkey"),
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 20))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return li.where(cond).agg(
        # money sum in DECIMAL (the a11 sf10 lesson)
        F.round(F.sum(_dec_disc_price()), 2).cast("double").alias("revenue")
    )


def q_q22_idle_customers(spark, sf_dir):
    """Scalar subquery + anti join (TPC-H Q22 shape): above-average-balance
    customers with no orders... none exist at these SFs for the no-order
    branch, so the filter is balance-only + order-count join."""
    t = load_tables(spark, sf_dir)
    avg_bal = t["customer"].where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = t["customer"].crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("a")
    )
    n_orders = t["orders"].groupBy("o_custkey").agg(F.count("*").alias("n"))
    return (
        rich.join(
            n_orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


def q_q2_min_supplier(spark, sf_dir):
    """Correlated scalar-min subquery (TPC-H Q2 shape, adapted: the driver
    schema has no partsupp, so the part-supplier relation is the DISTINCT
    (l_partkey, l_suppkey) projection of lineitem and min supplycost becomes
    min s_acctbal). Decorrelated the standard way: a per-part window min +
    equality filter — one shuffle on p_partkey, dims broadcast."""
    t = load_tables(spark, sf_dir)
    ps = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    j = (
        ps.join(
            F.broadcast(t["part"].where(F.col("p_size") == 10)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
    )


def q_q9_product_profit(spark, sf_dir):
    """Product-type profit (TPC-H Q9 shape, adapted: no partsupp, so profit
    is revenue sum(extprice*(1-disc)) for LIKE-matched parts): LIKE filter
    on the part dim + 4-way star join, grouped by supplier nation and order
    year. All dims broadcast; the fact table never shuffles pre-agg."""
    t = load_tables(spark, sf_dir)
    red = t["part"].where(F.col("p_name").like("%red%")).select("p_partkey")
    return (
        t["lineitem"]
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            # DECIMAL sum (the q7 pattern): at derived-sf1 magnitude (~2.7e8)
            # a double sum's order lands on the ROUND(2dp) knife-edge
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("profit")
        )
    )


def q_q11_important_parts(spark, sf_dir):
    """Group-HAVING against a scalar subquery over the same aggregate
    (TPC-H Q11 shape, adapted to lineitem value instead of partsupp stock):
    parts whose total lineitem value exceeds a fixed fraction of the global
    total. The global total is a one-row broadcast, so the HAVING is a
    map-side filter after one shuffle on l_partkey."""
    li = load_tables(spark, sf_dir)["lineitem"]
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value")
    )
    # threshold is relative to the MEAN per-part value (TPC-H scales its
    # fraction by SF for the same reason — a fixed share of the total would
    # select nothing once the part count grows 10x)
    avg_val = per_part.agg(F.avg("value").alias("avg_value"))
    return (
        per_part.crossJoin(F.broadcast(avg_val))
        .where(F.col("value") > 1.2 * F.col("avg_value"))
        .select("l_partkey", F.round("value", 2).alias("part_value"))
    )


def q_q12_ship_lag(spark, sf_dir):
    """Conditional two-way counts per category (TPC-H Q12 shape, adapted:
    no l_shipmode column, so the category is the order-to-ship lag bucket):
    per bucket, how many lineitems belong to URGENT/HIGH orders vs not —
    the canonical sum(CASE WHEN ...) pivot over one broadcast join."""
    t = load_tables(spark, sf_dir)
    lag = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(lag < 0, "early").when(lag <= 30, "ontime").otherwise("late")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(high.cast("bigint")).alias("high_line_count"),
            F.sum((~high).cast("bigint")).alias("low_line_count"),
        )
    )


def q_q20_part_suppliers(spark, sf_dir):
    """Nested semi-join chain (TPC-H Q20 shape, adapted: availability from
    partsupp becomes shipped quantity from lineitem): suppliers that shipped
    more than 80 units of any 'small' part — prefix-LIKE part filter feeds a
    grouped threshold, whose supplier set SEMI-joins the supplier dim."""
    t = load_tables(spark, sf_dir)
    small = t["part"].where(F.col("p_name").like("small%")).select("p_partkey")
    heavy = (
        t["lineitem"]
        .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 80)
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


def q_q21_sole_blame(spark, sf_dir):
    """EXISTS + NOT EXISTS self-joins on the fact table (TPC-H Q21 shape,
    adapted: no receipt/commit dates, so 'late' is returnflag='R'): for
    finalized orders, suppliers whose item was returned while at least one
    OTHER supplier was on the order (EXISTS) and no OTHER supplier's item
    was returned (NOT EXISTS) — the sole-blame count per supplier.
    Both correlated subqueries become semi/anti self-joins on l_orderkey
    with the supplier-mismatch residual."""
    t = load_tables(spark, sf_dir)
    f_orders = t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_returnflag")
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .join(f_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    sole = cand.join(
        l3,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    return (
        sole.join(
            F.broadcast(load_tables(spark, sf_dir)["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def q_s6_native_sessions(spark, sf_dir):
    """Spark's NATIVE session_window (gap-merged state machine) pinned
    against portable lag-gap SQL. Semantics note the gate encodes: the
    built-in merges only when the gap is STRICTLY under the 30-minute
    timeout (an event exactly 30:00 later starts a NEW session), so the
    oracle's new-session predicate is >= — one boundary notch away from
    s2's lag recipe (>)."""
    e = load_tables(spark, sf_dir)["events"]
    sw = F.session_window(F.col("ts").cast("timestamp"), "30 minutes")
    return (
        e.groupBy(sw.alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
    )


def q_s2_sessions_batch(spark, sf_dir):
    """Batch sessionization via lag-window gap detection (the relational
    twin of streaming/events.py::sessionize): a new session starts when the
    gap to the previous event of the same user exceeds 30 minutes."""
    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ -> epoch seconds (session TZ is pinned to UTC by load_tables, so
    # this matches DuckDB's epoch() on the naive timestamp)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gapped = e.withColumn(
        "new_session",
        (ts_s - F.coalesce(F.lag(ts_s).over(w), F.lit(0)) > 30 * 60).cast("int"),
    )
    sessions = gapped.withColumn(
        "session_no", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .drop("session_no")
    )


def q_j3_asof_join(spark, sf_dir):
    """As-of join (custom operator; union + last-value window, no interval
    explosion): each purchase event gets the user's most recent prior-or-
    simultaneous click. Verified against DuckDB's native ASOF JOIN."""
    from treemachine_spark.operators.temporal import asof_join, latest_per_ts

    e = load_tables(spark, sf_dir)["events"]
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = latest_per_ts(
        e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value"),
        "user_id",
        "ts",
        "event_id",
    )
    return asof_join(purchases, clicks, "user_id", "ts", "ts", ["event_id", "value"])


def q_j4_range_join(spark, sf_dir):
    """Range (interval) join: clicks within the hour before each purchase
    by the same user."""
    from treemachine_spark.operators.temporal import range_join

    e = load_tables(spark, sf_dir)["events"]
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_event"), F.col("ts").alias("p_ts")
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_event"), F.col("ts").alias("c_ts")
    )
    return range_join(
        purchases, clicks, "user_id", "p_ts", "c_ts", lower_seconds=3600
    ).select("p_event", "c_event")


def q_l1_point_lookup(spark, sf_dir):
    """L1 — point lookup by unique name (GraphBase.findTaxNodeByName,
    GraphBase.java:145-159). Predicate pushes down to the parquet scan."""
    c = load_tables(spark, sf_dir)["customer"]
    return c.where(F.col("c_name") == "Customer#000000042").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


def q_l9_distinct_sorted(spark, sf_dir):
    """L9 — wildcard scan + dedup + sort (GraphExplorer.getSynthTreeIDs,
    GraphExplorer.java:95-107)."""
    e = load_tables(spark, sf_dir)["events"]
    return e.select("event_type").distinct().orderBy("event_type")


def q_o2_top1_latest(spark, sf_dir):
    """O2 — top-1 by sort (most-recent-tree lookup,
    GraphExplorer.java:110-114)."""
    e = load_tables(spark, sf_dir)["events"]
    return e.orderBy(F.desc("ts"), "event_id").limit(1).select("event_id", "event_type")


def q_w1_window_topn(spark, sf_dir):
    """Window function (§2.9): top-2 orders per customer by totalprice —
    the same partition/order window shape used internally by T3/T6."""
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
    )


def q_e4_anti_join(spark, sf_dir):
    """E4 — membership partition (found vs not-in-tree,
    tree_of_life_v3.java:292-330): every order node flagged by whether it has
    lineitem children — semi/anti join pair in one pass."""
    t = load_tables(spark, sf_dir)
    with_kids = (
        t["lineitem"].select(F.col("l_orderkey").alias("o_orderkey")).distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        t["orders"]
        .join(with_kids, "o_orderkey", "left")
        .select("o_orderkey", F.coalesce(F.col("hit"), F.lit(False)).alias("has_lineitems"))
    )


def q_p10_id_codec(spark, sf_dir):
    """P10 — v2<->v3 id codec (tree_of_life.longIdToStringId /
    stringIdToLongId, tree_of_life.java:385-422): long id < 10^7 -> 'ottN',
    else 'mrcaott{id mod 10^7}ott{id div 10^7}'; verified by round-trip."""
    o = load_tables(spark, sf_dir)["orders"]
    id_limit = 10_000_000
    long_id = (F.col("o_orderkey") * F.lit(4321) + F.lit(9_999_000)).cast("long")
    low = long_id % id_limit
    high = ((long_id - low) / id_limit).cast("long")
    string_id = F.when(long_id < id_limit, F.concat(F.lit("ott"), long_id.cast("string"))).otherwise(
        F.concat(
            F.lit("mrcaott"), low.cast("string"), F.lit("ott"), high.cast("string")
        )
    )
    df = o.select(long_id.alias("long_id"), string_id.alias("string_id"))
    # (r14: an alternative decode via one F.split('ott') + element_at was
    # A/B'd against these three anchored regexp_extracts — the split
    # allocates an array per row and measured SLOWER (noop median 0.275 vs
    # 0.228 s at sf0.1, 9 repeats, same session); the regex decode stays.)
    decoded = F.when(
        ~F.col("string_id").startswith("mrcaott"),
        F.regexp_extract("string_id", r"^ott(\d+)$", 1).cast("long"),
    ).otherwise(
        F.regexp_extract("string_id", r"^mrcaott(\d+)ott", 1).cast("long")
        + F.regexp_extract("string_id", r"ott(\d+)$", 1).cast("long") * id_limit
    )
    return df.select("long_id", "string_id", decoded.alias("decoded_id"))


def q_p3_props_decode(spark, sf_dir):
    """P3-analog — packed-value decode at query time (the reference re-parses
    packed strings via stringToMap, GraphExplorer.java:601-612; here JSON
    props on the events table)."""
    e = load_tables(spark, sf_dir)["events"]
    return (
        e.select(
            "event_id", F.get_json_object("props", "$.k").cast("int").alias("k_value")
        )
        .where(F.col("k_value") > 90)
    )


from treemachine_spark.workload.pipeline_queries import PIPELINE_QUERIES  # noqa: E402

QUERIES = {
    **PIPELINE_QUERIES,
    "closure_paths": q_closure_paths,
    "t1_path_to_root": q_t1_path_to_root,
    "t2_mrca": q_t2_mrca,
    "t3_mrta": q_t3_mrta,
    "t4_subtree": q_t4_subtree,
    "t5_subtree_num_tips": q_t5_subtree_num_tips,
    "t6_induced_subtree": q_t6_induced_subtree,
    "t9_repr_descendants": q_t9_repr_descendants,
    "t15_deepest_exemplified": q_t15_deepest_exemplified,
    "e2_intersect": q_e2_intersect,
    "a11_rollup": q_a11_rollup,
    "p4_packed_map_roundtrip": q_p4_packed_map_roundtrip,
    "a1_tip_counts": q_a1_tip_counts,
    "t12_degree_prune": q_t12_degree_prune,
    "e1_leaf_set": q_e1_leaf_set,
    "c1_rf_distance": q_c1_rf_distance,
    "c2_node_distance": q_c2_node_distance,
    "c3_node_heights": q_c3_node_heights,
    "l4_batch_resolution": q_l4_batch_resolution,
    "q1_pricing_summary": q_q1_pricing_summary,
    "q3_top_orders": q_q3_top_orders,
    "q5_region_revenue": q_q5_region_revenue,
    "q4_order_priority": q_q4_order_priority,
    "q13_customer_distribution": q_q13_customer_distribution,
    "q16_supplier_part_types": q_q16_supplier_part_types,
    "q18_large_orders": q_q18_large_orders,
    "q22_idle_customers": q_q22_idle_customers,
    "q6_forecast_revenue": q_q6_forecast_revenue,
    "q7_nation_volume": q_q7_nation_volume,
    "q8_market_share": q_q8_market_share,
    "q10_returned_items": q_q10_returned_items,
    "q14_promo_share": q_q14_promo_share,
    "q15_top_supplier": q_q15_top_supplier,
    "q17_small_qty_revenue": q_q17_small_qty_revenue,
    "q19_disjunctive_join": q_q19_disjunctive_join,
    "q2_min_supplier": q_q2_min_supplier,
    "q9_product_profit": q_q9_product_profit,
    "q11_important_parts": q_q11_important_parts,
    "q12_ship_lag": q_q12_ship_lag,
    "q20_part_suppliers": q_q20_part_suppliers,
    "q21_sole_blame": q_q21_sole_blame,
    "s2_sessions_batch": q_s2_sessions_batch,
    "s6_native_sessions": q_s6_native_sessions,
    "j3_asof_join": q_j3_asof_join,
    "j4_range_join": q_j4_range_join,
    "l1_point_lookup": q_l1_point_lookup,
    "l9_distinct_sorted": q_l9_distinct_sorted,
    "o2_top1_latest": q_o2_top1_latest,
    "w1_window_topn": q_w1_window_topn,
    "e4_anti_join": q_e4_anti_join,
    "p10_id_codec": q_p10_id_codec,
    "p3_props_decode": q_p3_props_decode,
}
