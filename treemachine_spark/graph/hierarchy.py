"""Derive a rooted tree (child->parent edge table) from the driver's star
schema, so every tree operator is exercised — and oracle-checked — on the
standard test tables.

This plays the role of the reference's ingested synthetic tree: nodes + typed
child->parent SYNTHCHILDOF edges (opentree/IngestSynthesisData.java:367-457).
The hierarchy is:

    root -> region -> nation -> customer -> orders -> lineitem

Node ids are prefixed keys ('r0', 'n5', 'c123', 'o4567', 'l4567_3'), matching
the reference's ot_node_id convention of string ids ('ott81461',
'mrcaott3504ott396446' — opentree/constants/NodeProperty.java:12-19).

Scale notes: each level is produced by a narrow projection of one parquet
scan (column-pruned to the two key columns), then unioned — no shuffle at
all. At 100 TB the edge table inherits the source tables' partitioning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROOT_ID = "root"

# (table, child prefix, child key expr, parent prefix, parent key column, level)
_LEVELS = [
    ("region", "r", "r_regionkey", None, None, 1),
    ("nation", "n", "n_nationkey", "r", "n_regionkey", 2),
    ("customer", "c", "c_custkey", "n", "c_nationkey", 3),
    ("orders", "o", "o_orderkey", "c", "o_custkey", 4),
    ("lineitem", None, None, "o", "l_orderkey", 5),
]


def _lineitem_id(df: DataFrame):
    return F.concat(
        F.lit("l"),
        F.col("l_orderkey").cast("string"),
        F.lit("_"),
        F.col("l_linenumber").cast("string"),
    )


def hierarchy_edges(tables: dict[str, DataFrame]) -> DataFrame:
    """Child->parent edge DataFrame (child_id, parent_id).

    Mirrors the SYNTHCHILDOF edge set (opentree/constants/RelType.java:6,
    created at IngestSynthesisData.java:427).
    """
    parts = []
    for table, cpre, ckey, ppre, pkey, _level in _LEVELS:
        df = tables[table]
        child = (
            _lineitem_id(df)
            if cpre is None
            else F.concat(F.lit(cpre), F.col(ckey).cast("string"))
        )
        parent = (
            F.lit(ROOT_ID)
            if ppre is None
            else F.concat(F.lit(ppre), F.col(pkey).cast("string"))
        )
        parts.append(df.select(child.alias("child_id"), parent.alias("parent_id")))
    # node-set semantics: (l_orderkey, l_linenumber) is not unique in the
    # synthetic data, so distinct() collapses colliding node ids — a graph
    # node is identified by its id, mirroring the reference where ingest
    # resolves repeated labels to one Neo4j node (IngestSynthesisData.java:
    # 383-402). One ingest-time shuffle; every downstream query reuses it.
    return reduce(DataFrame.unionByName, parts).distinct()


def hierarchy_closure(tables: dict[str, DataFrame]) -> DataFrame:
    """Ancestor closure (node_id, ancestor_id, depth>=1) of the leveled
    hierarchy, built WITHOUT iteration.

    The generic ``graph/closure.build_closure`` (a driver-side parent array
    and one map-only emission job) handles arbitrary trees — newick ingest
    still uses it. But this hierarchy has a statically known level
    structure, so its closure is exactly the star-schema denormalization
    every warehouse does: prepend each level's parent key to the parent
    level's ancestor array (a chain of dimension joins), then
    ``posexplode`` the array into (ancestor, depth) rows.

    Cost model vs the generic build, at any scale:
      - generic: one collect of every edge to the driver, whose memory
        bounds the tree size — fine for a tree, not for the fact tables.
      - here: region/nation ancestors need NO join (the parent key is in the
        row); customer and orders join a strictly-smaller dimension (Catalyst
        broadcasts under the threshold, AQE decides above it); the single
        big-x-big join (lineitem x orders) shuffles on the natural key
        l_orderkey/o_orderkey — the same key the source tables would already
        be bucketed by at 100 TB, making it co-located there. Plus one
        distinct() on lineitem node ids (the only level whose business key
        collides — node-set semantics, see hierarchy_edges).

    Replaces pointer-walk path construction (GraphExplorer.getPathToRoot,
    opentree/GraphExplorer.java:795-814) just like build_closure, with the
    physical plan a warehouse would pick for a fixed-depth hierarchy.
    """
    return _closure_from_frames(_level_frames(tables))


def _id(pre: str, col: str):
    return F.concat(F.lit(pre), F.col(col).cast("string"))


def lineitem_ids(tables: dict[str, DataFrame]) -> DataFrame:
    """Distinct lineitem node ids + their order key: (node_id, _pk).

    (l_orderkey, l_linenumber) collides in the source data, so this
    distinct() — on a 2-column projection only — is the one dedup shuffle
    the whole hierarchy needs (node-set semantics; the dimension keys are
    unique by construction). Cache it and pass to ``_level_frames`` /
    ``hierarchy_artifacts`` so edges, nodes and closure all share one pass.
    """
    li = tables["lineitem"]
    # dedup on the numeric key pair (node_id is a pure function of it), THEN
    # build the string id: shuffles 16 bytes/row instead of a ~15-char
    # string, measured ~35% faster — the same trick matters much more at
    # 100 TB shuffle volumes
    dd = li.select("l_orderkey", "l_linenumber").distinct()
    return dd.select(
        _lineitem_id(dd).alias("node_id"), F.col("l_orderkey").alias("_pk")
    )


def _level_frames(
    tables: dict[str, DataFrame], li_ids: DataFrame | None = None
) -> list[tuple[int, DataFrame]]:
    """Per-level frames [(level, df(node_id, name, anc))]: each node with its
    display name (NULL below customer) and its full root-ward ancestor array.
    Everything downstream (edges, nodes, closure) is a narrow projection or
    posexplode of these."""
    root_arr = F.array(F.lit(ROOT_ID))
    # level 1-2: ancestor arrays computable from the row itself (no join);
    # frames carry the natural key so the next level joins on it
    region_anc = tables["region"].select(
        F.col("r_regionkey").alias("key"),
        _id("r", "r_regionkey").alias("node_id"),
        F.col("r_name").alias("name"),
        root_arr.alias("anc"),
    )
    nation_anc = tables["nation"].select(
        F.col("n_nationkey").alias("key"),
        _id("n", "n_nationkey").alias("node_id"),
        F.col("n_name").alias("name"),
        F.concat(F.array(_id("r", "n_regionkey")), root_arr).alias("anc"),
    )

    def _extend(child, ckey, cpre, pkey, name_col, parent_anc):
        """child level ⋈ parent ancestors on the natural key; ancestor array =
        [parent] ++ parent's ancestors. Dimension join — broadcast under the
        threshold, shuffle-on-key above it (AQE decides)."""
        p = parent_anc.select(
            F.col("key").alias("_pk"),
            F.col("node_id").alias("_pid"),
            F.col("anc").alias("_panc"),
        )
        name = F.col(name_col) if name_col else F.lit(None).cast("string")
        return (
            child.select(
                F.col(ckey).alias("key"),
                _id(cpre, ckey).alias("node_id"),
                name.alias("name"),
                F.col(pkey).alias("_pk"),
            )
            .join(p, "_pk")
            .select(
                "key",
                "node_id",
                "name",
                F.concat(F.array("_pid"), F.col("_panc")).alias("anc"),
            )
        )

    customer_anc = _extend(
        tables["customer"], "c_custkey", "c", "c_nationkey", "c_name", nation_anc
    )
    orders_anc = _extend(
        tables["orders"], "o_orderkey", "o", "o_custkey", None, customer_anc
    )
    # level 5: deduped lineitem ids ⋈ orders ancestors on the natural key
    if li_ids is None:
        li_ids = lineitem_ids(tables)
    li_anc = li_ids.join(
        orders_anc.select(
            F.col("key").alias("_pk"),
            F.col("node_id").alias("_pid"),
            F.col("anc").alias("_panc"),
        ),
        "_pk",
    ).select(
        "node_id",
        F.lit(None).cast("string").alias("name"),
        F.concat(F.array("_pid"), F.col("_panc")).alias("anc"),
    )
    return [
        (1, region_anc),
        (2, nation_anc),
        (3, customer_anc),
        (4, orders_anc),
        (5, li_anc),
    ]


def _closure_from_frames(
    frames: list[tuple[int, DataFrame]], repartition: int | None = None
) -> DataFrame:
    """Union the level frames and posexplode ONCE (node_id, ancestor_id,
    depth). With ``repartition`` set, the keyed respread happens BEFORE the
    explode (r15, guide §2.3 "shuffle fewer bytes"): the pre-explode union
    carries each node once with its ancestor array, ~4x fewer rows and
    ~2.5x fewer bytes than the exploded closure the old post-explode
    repartition shuffled — and ``Generate``/``Project`` preserve the
    child's hashpartitioning(node_id), so the cached closure keeps the
    exact partitioning guarantee downstream consumers rely on."""
    pre = reduce(
        DataFrame.unionByName,
        [lvl.select("node_id", "anc") for _level, lvl in frames],
    )
    if repartition:
        pre = pre.repartition(repartition, "node_id")
    return pre.select(
        "node_id",
        F.posexplode("anc").alias("pos", "ancestor_id"),
    ).select(
        "node_id",
        "ancestor_id",
        (F.col("pos") + F.lit(1)).cast("int").alias("depth"),
    )


def hierarchy_artifacts(
    tables: dict[str, DataFrame],
    closure_partitions: int | None = None,
    with_leaves: bool = False,
):
    """(nodes, edges, paths[, leaves]) built from ONE set of level frames
    sharing ONE lineitem dedup — the fused ingest path ``get_ctx`` uses.

    Standalone ``hierarchy_edges`` / ``hierarchy_nodes`` (below) stay as the
    generic derivation (global distinct over unioned projections); this fused
    form relies on the verified invariants that dimension keys are unique and
    every child key resolves to a parent row (checked for the driver's
    testdata at all SFs), which make the global distinct redundant. Row sets
    are identical; cost drops from 3 wide dedup shuffles to 1 narrow one.

    ``closure_partitions`` applies the keyed closure respread BEFORE the
    posexplode (see ``_closure_from_frames`` — fewer shuffled rows/bytes,
    identical partitioning guarantee). ``with_leaves=True`` additionally
    returns the leaf set, built from the SAME cached ``parents`` distinct
    that ``is_leaf`` uses (r15: the racing ingest jobs used to run that
    shuffle twice — once in nodes' left join, once in leaf_set's anti join).
    """
    spark = tables["region"].sparkSession
    li_ids = lineitem_ids(tables).cache()

    # edges + nodes are pure per-table projections (parent key is IN the
    # child row — no join, no shuffle) with the shared li_ids standing in
    # for the lineitem level; only the closure needs the ancestor-chain
    # joins below.
    dim_edges = [
        tables["region"].select(
            _id("r", "r_regionkey").alias("child_id"), F.lit(ROOT_ID).alias("parent_id")
        ),
        tables["nation"].select(
            _id("n", "n_nationkey").alias("child_id"),
            _id("r", "n_regionkey").alias("parent_id"),
        ),
        tables["customer"].select(
            _id("c", "c_custkey").alias("child_id"),
            _id("n", "c_nationkey").alias("parent_id"),
        ),
        tables["orders"].select(
            _id("o", "o_orderkey").alias("child_id"),
            _id("c", "o_custkey").alias("parent_id"),
        ),
        li_ids.select(
            F.col("node_id").alias("child_id"),
            F.concat(F.lit("o"), F.col("_pk").cast("string")).alias("parent_id"),
        ),
    ]
    edges = reduce(DataFrame.unionByName, dim_edges)

    root = spark.createDataFrame(
        [(ROOT_ID, "root", 0)],
        "node_id string, name string, level int",
    )
    name_cols = {1: ("region", "r_regionkey", "r", "r_name"),
                 2: ("nation", "n_nationkey", "n", "n_name"),
                 3: ("customer", "c_custkey", "c", "c_name"),
                 4: ("orders", "o_orderkey", "o", None)}
    node_parts = [root]
    for lvl, (table, key, pre, name_col) in name_cols.items():
        name = F.col(name_col) if name_col else F.lit(None).cast("string")
        node_parts.append(
            tables[table].select(
                _id(pre, key).alias("node_id"),
                name.alias("name"),
                F.lit(lvl).alias("level"),
            )
        )
    node_parts.append(
        li_ids.select(
            "node_id",
            F.lit(None).cast("string").alias("name"),
            F.lit(5).alias("level"),
        )
    )
    bare_nodes = reduce(DataFrame.unionByName, node_parts)
    paths = _closure_from_frames(
        _level_frames(tables, li_ids), repartition=closure_partitions
    )
    if not with_leaves:
        return _with_edge_leaf(bare_nodes, edges), edges, paths
    # ONE cached parents distinct feeds both is_leaf and the leaf set —
    # parents is internal-node-scale (~edges/4 rows of one string), and
    # without the share the racing ingest jobs each ran the shuffle
    parents = (
        edges.select(F.col("parent_id").alias("node_id")).distinct().cache()
    )
    nodes = _with_edge_leaf(bare_nodes, edges, parents=parents)
    leaves = edges.select(F.col("child_id").alias("node_id")).join(
        parents, "node_id", "left_anti"
    )
    return nodes, edges, paths, leaves


def _with_edge_leaf(
    nodes: DataFrame, edges: DataFrame, parents: DataFrame | None = None
) -> DataFrame:
    """Append the EDGE-BASED ``is_leaf`` flag: a node is a leaf iff it never
    appears as a parent — the same definition leaf_set/tip_counts/E1 use, so
    the store has ONE leaf semantics (a childless order or customer IS a
    tree leaf, exactly as it would be in the reference's graph). One narrow
    distinct + anti-style left join at ingest; never recomputed per query.
    Pass a shared ``parents`` (node_id) frame to skip rebuilding the
    distinct (hierarchy_artifacts shares it with the leaf set).
    """
    if parents is None:
        parents = edges.select(F.col("parent_id").alias("node_id")).distinct()
    parents = parents.withColumn("_isp", F.lit(True))
    return nodes.join(parents, "node_id", "left").select(
        nodes["*"], F.col("_isp").isNull().alias("is_leaf")
    )


def hierarchy_nodes(tables: dict[str, DataFrame]) -> DataFrame:
    """Node DataFrame (node_id, name, level, is_leaf).

    The analog of the reference's node store with `name` / `ot_node_id`
    properties (opentree/constants/NodeProperty.java:12-19); levels 4-5
    (orders/lineitem) are the 'unnamed internal / tip' nodes that carry only
    an id (IngestSynthesisData.java:390-402). ``is_leaf`` is edge-based
    (node never a parent — see ``_with_edge_leaf``), matching
    leaf_set/tip_counts semantics.
    """
    spark = tables["region"].sparkSession
    root = spark.createDataFrame(
        [(ROOT_ID, "root", 0)], "node_id string, name string, level int"
    )
    parts = [root]
    name_cols = {"region": "r_name", "nation": "n_name", "customer": "c_name"}
    for table, cpre, ckey, _ppre, _pkey, level in _LEVELS:
        df = tables[table]
        node = (
            _lineitem_id(df)
            if cpre is None
            else F.concat(F.lit(cpre), F.col(ckey).cast("string"))
        )
        name = F.col(name_cols[table]) if table in name_cols else F.lit(None).cast("string")
        parts.append(
            df.select(
                node.alias("node_id"),
                name.alias("name"),
                F.lit(level).alias("level"),
            )
        )
    bare = reduce(DataFrame.unionByName, parts).distinct()
    return _with_edge_leaf(bare, hierarchy_edges(tables))
