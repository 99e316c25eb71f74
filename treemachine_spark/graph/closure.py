"""Ancestor-closure (transitive closure of child->parent edges) construction.

This is the rebuild's workhorse: the reference answers every traversal
question by pointer-chasing Neo4j relationships one hop at a time
(opentree/GraphExplorer.java:795-814 getPathToRoot and friends). The Spark
substitute is a precomputed ``paths(node_id, ancestor_id, depth)`` table,
after which MRCA / subtree / induced-subtree are single joins + aggregations.

Construction uses **binary path-doubling**: O(log depth) self-joins instead
of O(depth) sequential hops. On a tree, a path of length d > k decomposes
uniquely into (first k hops) + (remaining d-k hops), so extending only the
max-depth frontier produces no duplicates and needs no ``distinct()`` — at
100 TB that saves one full shuffle+dedup per iteration. Lineage is cut with
localCheckpoint each round so the plan stays flat; on a cluster use
``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for fault
tolerance instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_closure(edges: DataFrame, weight_col: str | None = None) -> DataFrame:
    """paths(node_id, ancestor_id, depth>=1) for a child->parent edge table.

    Replaces the reference's per-request rootward walks
    (GraphExplorer.getPathToRoot, opentree/GraphExplorer.java:795-814) and its
    precomputed long[] mrca arrays (opentree/GraphBase.java:28-43).

    Invariant per iteration k (a power of two): ``full`` holds every path of
    depth 1..k. ``top ⋈ full`` yields exactly the paths of depth k+1..2k.

    ``weight_col`` (optional): an edge weight column (e.g. branch_length);
    the closure then also carries ``w_sum``, the per-path weight total,
    accumulated by the same doubling joins — this is what turns hop
    distance into true patristic distance on trees with branch lengths.
    """
    cols = [
        F.col("child_id").alias("node_id"),
        F.col("parent_id").alias("ancestor_id"),
        F.lit(1).alias("depth"),
    ]
    if weight_col:
        cols.append(F.col(weight_col).cast("double").alias("w_sum"))
    full = edges.select(*cols).localCheckpoint(eager=True)
    k = 1
    while True:
        top = full.where(F.col("depth") == k)
        ext_cols = [
            F.col("a.node_id").alias("node_id"),
            F.col("b.ancestor_id").alias("ancestor_id"),
            (F.col("a.depth") + F.col("b.depth")).alias("depth"),
        ]
        if weight_col:
            ext_cols.append((F.col("a.w_sum") + F.col("b.w_sum")).alias("w_sum"))
        ext = (
            top.alias("a")
            .join(full.alias("b"), F.col("a.ancestor_id") == F.col("b.node_id"))
            .select(*ext_cols)
        )
        # materialize the (small) extension once; isEmpty and the union
        # below then reuse it instead of re-running the join, and `full`
        # stays a shallow union of checkpointed segments — the whole
        # closure is never re-materialized per iteration.
        ext = ext.localCheckpoint(eager=True)
        if ext.isEmpty():
            return full
        full = full.unionByName(ext)
        k *= 2


def with_self_paths(paths: DataFrame, nodes: DataFrame) -> DataFrame:
    """Add (node, node, 0) self-paths — simplifies MRCA when one query tip is
    an ancestor of another (reference handles this with index juggling in
    GraphExplorer.getDraftTreeMRCA, opentree/GraphExplorer.java:617-650).
    """
    self_paths = nodes.select(
        F.col("node_id"),
        F.col("node_id").alias("ancestor_id"),
        F.lit(0).alias("depth"),
    )
    return paths.unionByName(self_paths)

