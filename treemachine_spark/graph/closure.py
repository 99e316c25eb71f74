"""Ancestor-closure (transitive closure of child->parent edges) construction.

This is the rebuild's workhorse: the reference answers every traversal
question by pointer-chasing Neo4j relationships one hop at a time
(opentree/GraphExplorer.java:795-814 getPathToRoot and friends). The Spark
substitute is a precomputed ``paths(node_id, ancestor_id, depth)`` table,
after which MRCA / subtree / induced-subtree are single joins + aggregations.

Construction is **one driver pass plus one map-only job**. A tree's
topology fits in O(n) driver arrays (as the reference builds its graph in
one postorder pass over the in-memory tree, IngestSynthesisData.java:
367-457, and ``graph/topology.TreeIndex`` holds it for serving), so the
driver collects the edge list once, maps it to a parent array and computes
every node's depth. The closure then has exactly sum(depth) rows, known
before any job runs. The O(n * depth) rows themselves are made on the
executors: each task climbs the ancestors of one slice of the nodes,
sliced so every task emits about the same number of rows. No shuffle, no
checkpoint, and nothing stays in Spark storage unless the caller caches
the frame.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from treemachine_spark.graph.topology import parent_array


def _depths(parent: np.ndarray) -> np.ndarray:
    """The number of proper ancestors of every row of the parent array
    ``parent`` (-1 at each root; a forest is fine), by pointer jumping:
    ceil(log2(n)) vectorized rounds whatever the height. Raises
    ValueError when the parent links contain a cycle."""
    depth = (parent >= 0).astype(np.int64)
    up = parent.copy()
    for _ in range(len(parent).bit_length() + 1):
        live = np.flatnonzero(up >= 0)
        if not len(live):
            return depth
        depth[live] += depth[up[live]]
        up[live] = up[up[live]]
    raise ValueError("the parent links contain a cycle")


def build_closure(edges: DataFrame, weight_col: str | None = None) -> DataFrame:
    """paths(node_id, ancestor_id, depth>=1) for a child->parent edge table.

    Replaces the reference's per-request rootward walks
    (GraphExplorer.getPathToRoot, opentree/GraphExplorer.java:795-814) and its
    precomputed long[] mrca arrays (opentree/GraphBase.java:28-43).

    One Arrow collect of the edges gives the parent array and the depths;
    one ``mapInArrow`` job over ``defaultParallelism`` slices of the nodes
    emits the rows, each task climbing its slice one level at a time. The
    parent array, the ids and the weights travel once, as one broadcast.
    Raises ValueError on a child with two parents, a cycle or a NULL id.

    ``weight_col`` (optional): an edge weight column (e.g. branch_length);
    the closure then also carries ``w_sum``, the per-path weight total,
    summed as the climb goes (NULL if any edge on the path has a NULL
    weight) — this is what turns hop distance into true patristic distance
    on trees with branch lengths.
    """
    spark = edges.sparkSession
    cols = [F.col(c).cast("string").alias(c) for c in ("child_id", "parent_id")]
    if weight_col:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    table = edges.select(*cols).toArrow()
    ids, child, parent = parent_array(table["child_id"], table["parent_id"])
    weight = valid = None  # per node: its parent edge's weight, and whether it is set
    if weight_col:
        w = table["w"].combine_chunks()
        weight, valid = np.zeros(len(ids)), np.zeros(len(ids), bool)
        weight[child] = w.fill_null(0.0).to_numpy()
        valid[child] = w.is_valid().to_numpy(zero_copy_only=False)
    # slices of consecutive nodes that each emit about total / n_slices rows
    rows = np.cumsum(_depths(parent))
    n_slices = spark.sparkContext.defaultParallelism
    total = int(rows[-1]) if len(rows) else 0
    cuts = np.searchsorted(rows, np.arange(1, n_slices) * total // n_slices, side="right")
    cuts = np.concatenate([[0], cuts, [len(ids)]])
    shared = spark.sparkContext.broadcast((parent.astype(np.int32), ids, weight, valid, cuts))

    schema = "node_id string, ancestor_id string, depth int not null" + (
        ", w_sum double" if weight_col else ""
    )

    def emit(batches):
        parent, ids, weight, valid, cuts = shared.value
        for batch in batches:
            for part in batch.column(0).to_numpy():
                node = np.arange(cuts[part], cuts[part + 1])
                up = parent[node]
                node, up = node[up >= 0], up[up >= 0]
                if weight is not None:
                    w_sum, w_ok = weight[node], valid[node]
                depth = 1
                while len(node):
                    cols = [ids.take(node), ids.take(up), pa.array(np.full(len(node), depth, np.int32))]
                    if weight is not None:
                        cols.append(pa.array(w_sum, mask=~w_ok))
                    names = ["node_id", "ancestor_id", "depth", "w_sum"][: len(cols)]
                    yield pa.RecordBatch.from_arrays(cols, names=names)
                    nxt = parent[up]
                    keep = nxt >= 0
                    if weight is not None:
                        w_sum = (w_sum + weight[up])[keep]
                        w_ok = (w_ok & valid[up])[keep]
                    node, up = node[keep], nxt[keep]
                    depth += 1

    return spark.range(n_slices, numPartitions=n_slices).mapInArrow(emit, schema)


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
