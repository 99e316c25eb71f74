"""Ingest pipeline (S6 + A1 + closure build) — the Spark rebuild of
IngestSynthesisData.buildDB (opentree/IngestSynthesisData.java:92-143):

  reference: newick → JadeTree (heap) → postorder per-node Neo4j writes with
  50k-row transactions (:30-31, :367-457)
  rebuild:   newick → edge/node DataFrames → taxonomy semi-join → annotation
             decode → ancestor closure + tip_descendants → immutable parquet
             snapshot (no transactions needed)

Every per-node loop in the reference becomes a set-oriented job; the only
driver-side stage is parsing the newick string itself.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from treemachine_spark.graph.closure import build_closure, with_self_paths
from treemachine_spark.sources.annotations import read_annotations, with_taxonomy_support
from treemachine_spark.sources.newick import newick_to_dataframes
from treemachine_spark.sources.taxonomy import filter_to_tree, read_taxonomy_tsv


@dataclass
class GraphStore:
    """The engine's table set (FIXTURES.md §2). All DataFrames; immutable.

    nodes: (tree_id, node_id, ott_id, name, unique_name, rank, tax_sources,
            is_leaf)
    edges: (tree_id, child_id, parent_id, branch_length, child_index,
            tip_descendants)
    paths: (node_id, ancestor_id, depth)   -- ancestor closure
    node_annotations: (node_id, supported_by, conflicts_with, resolves,
            resolved_by, partial_path_of, terminal)
    source_map: (source_id, study_id, tree_id, git_sha)
    tree_meta: dict (driver-side; tiny)
    """

    tree_id: str
    root_id: str
    nodes: DataFrame
    edges: DataFrame
    paths: DataFrame
    node_annotations: DataFrame
    source_map: DataFrame
    tree_meta: dict

    def cache(self) -> "GraphStore":
        for df in (self.nodes, self.edges, self.paths, self.node_annotations, self.source_map):
            df.cache()
        return self

    def paths_with_self(self) -> DataFrame:
        return with_self_paths(self.paths, self.nodes)


def ingest_synthesis_data(
    spark: SparkSession,
    newick_path: str,
    annotations_path: str,
    taxonomy_path: str,
    out_dir: str | None = None,
) -> GraphStore:
    """CLI ``ingestsynth`` equivalent (MainRunner.java:35-81 →
    IngestSynthesisData.buildDB:92-143)."""
    with open(newick_path) as fh:
        newick_text = fh.read()

    meta, ann_raw, source_map = read_annotations(spark, annotations_path)
    tree_id = str(meta.get("tree_id", "synth"))

    nodes_raw, edges_raw = newick_to_dataframes(spark, newick_text, tree_id)

    # taxonomy join — labels 'ott<uid>' carry the taxon id
    # (IngestSynthesisData.java:161-180 collectOTTIDs + :184-274 TSV filter)
    ott_uid = F.regexp_extract("node_id", r"^ott([0-9]+)$", 1)
    used_uids = nodes_raw.select(ott_uid.alias("uid")).where(F.col("uid") != "")
    taxonomy = filter_to_tree(read_taxonomy_tsv(spark, taxonomy_path), used_uids)

    # the newick label IS the ot_node_id; the human 'name' comes from the
    # taxonomy row (unnamed internals keep NULL name —
    # IngestSynthesisData.java:383-402)
    nodes = (
        nodes_raw.drop("name")
        .withColumn("uid", ott_uid)
        .join(F.broadcast(taxonomy), "uid", "left")
        .select(
            "tree_id",
            "node_id",
            F.when(F.col("uid") != "", F.col("uid").cast("long")).alias("ott_id"),
            F.col("name"),
            F.col("uniqname").alias("unique_name"),
            F.col("rank"),
            F.split(F.col("sourceinfo"), ",").alias("tax_sources"),
            "is_leaf",
        )
    )

    paths = build_closure(edges_raw.select("child_id", "parent_id"))

    # A1 — tip_descendants stored per edge (IngestSynthesisData.java:435-443)
    leaves = nodes_raw.where(F.col("is_leaf")).select("node_id")
    tipc = (
        paths.join(F.broadcast(leaves), "node_id")
        .groupBy("ancestor_id")
        .agg(F.count("*").alias("tip_descendants"))
    )
    edges = (
        edges_raw.join(
            tipc.withColumnRenamed("ancestor_id", "child_id"), "child_id", "left"
        )
        .withColumn("tip_descendants", F.coalesce("tip_descendants", F.lit(1)))
    )

    ann = with_taxonomy_support(
        ann_raw, nodes_raw, str(meta.get("taxonomy_version", ""))
    )

    tree = parse_root(nodes_raw, edges_raw)
    store = GraphStore(
        tree_id=tree_id,
        root_id=tree,
        nodes=nodes,
        edges=edges,
        paths=paths,
        node_annotations=ann,
        source_map=source_map,
        tree_meta=meta,
    ).cache()

    if out_dir:
        write_store(store, out_dir)
    return store


def parse_root(nodes_raw: DataFrame, edges_raw: DataFrame) -> str:
    """Root = the node that is never a child (graph-root lookup, L7 —
    GraphBase.getGraphRootNode, opentree/GraphBase.java:198-200)."""
    root = (
        nodes_raw.select("node_id")
        .join(edges_raw.select(F.col("child_id").alias("node_id")), "node_id", "left_anti")
        .collect()
    )
    assert len(root) == 1, f"expected 1 root, got {root}"
    return root[0]["node_id"]


# one written file per this many rows, so a table's file split follows its
# row count alone, never the partitioning of the plan that computed it
STORE_FILE_ROWS = 1_000_000

# each table's lookup key: rows are hashed into files and sorted by it,
# so the same table is written as the same files
_STORE_KEYS = {
    "nodes": ("node_id",),
    "edges": ("child_id",),
    "paths": ("ancestor_id", "node_id"),
    "node_annotations": ("node_id",),
    "source_map": ("source_id",),
}


def write_store(store: GraphStore, out_dir: str) -> None:
    """Immutable parquet snapshot, partitioned by tree_id so multi-tree
    stores prune partitions (the reference hides multi-tree support;
    we keep tree_id first-class — SURVEY.md §7 risk 5). The same store
    is written as the same files: an explicit-count repartition on the
    table's lookup key (adaptive execution never re-coalesces it) and a
    sort by that key within each file."""
    import json as _json

    for name, key in _STORE_KEYS.items():
        df = getattr(store, name)
        by = ("tree_id",) if name in ("nodes", "edges") else ()
        n = -(-df.count() // STORE_FILE_ROWS) or 1
        df.repartition(n, *key).sortWithinPartitions(*by, *key).write.mode(
            "overwrite"
        ).partitionBy(*by).parquet(os.path.join(out_dir, name))
    with open(os.path.join(out_dir, "tree_meta.json"), "w") as fh:
        _json.dump({**store.tree_meta, "root_id": store.root_id}, fh)


_STORE_TABLES = tuple(_STORE_KEYS)


def write_single_store(stores: list[GraphStore], out_dir: str) -> None:
    """All trees in ONE partitioned table set (tree_id is the partition key
    of every table) — the scale layout for serving many synthetic trees:
    one metastore entry per table, partition pruning turns every per-tree
    query into a scan of just that tree's files, and cross-tree analytics
    become plain filters instead of unions of registries.

    The reference hides its multi-tree support behind a hardcoded default
    (tree_of_life_v3.java:75-89); here it is the storage layout itself.
    """
    import json as _json
    from functools import reduce

    metas = {}
    parts: dict[str, list[DataFrame]] = {n: [] for n in _STORE_TABLES}
    for s in stores:
        # partition key is a dedicated `synth_id` column: source_map (and
        # annotation blobs) legitimately carry a `tree_id` of the SOURCE
        # study tree, which must not be clobbered by the synth tree id
        for name in _STORE_TABLES:
            parts[name].append(
                getattr(s, name).withColumn("synth_id", F.lit(s.tree_id))
            )
        metas[s.tree_id] = {**s.tree_meta, "root_id": s.root_id}
    for name, dfs in parts.items():
        reduce(DataFrame.unionByName, dfs).write.mode("overwrite").partitionBy(
            "synth_id"
        ).parquet(os.path.join(out_dir, name))
    with open(os.path.join(out_dir, "trees_meta.json"), "w") as fh:
        _json.dump(metas, fh)


def load_single_store(spark: SparkSession, out_dir: str):
    """Load a write_single_store layout as a TreeRegistry of partition-pruned
    GraphStore views (each per-tree DataFrame is a tree_id filter over the
    shared table — the scan touches only that tree's partition directory)."""
    import json as _json

    from treemachine_spark.registry import TreeRegistry

    with open(os.path.join(out_dir, "trees_meta.json")) as fh:
        metas = _json.load(fh)
    if not metas:  # all trees deleted — nothing to read (schema-less dirs)
        return TreeRegistry({})
    tables = {
        name: spark.read.parquet(os.path.join(out_dir, name)) for name in _STORE_TABLES
    }
    stores = {}
    for tid, meta in metas.items():
        view = {
            name: tables[name].where(F.col("synth_id") == tid).drop("synth_id")
            for name in _STORE_TABLES
        }
        stores[tid] = GraphStore(
            tree_id=tid,
            root_id=meta["root_id"],
            tree_meta=meta,
            **view,
        ).cache()
    return TreeRegistry(stores)


def delete_tree(out_dir: str, synth_id: str) -> None:
    """Admin mutation: remove ONE synthetic tree from a single-store layout
    (``write_single_store``) — the counterpart of GraphBase.deleteTreeBySource
    (opentree/GraphBase.java:312-370).

    The reference walks three Neo4j indexes deleting relationships/nodes one
    transaction batch at a time; on the synth_id-partitioned parquet layout
    the same mutation is a METADATA operation: drop each table's
    ``synth_id=<id>`` partition directory and the trees_meta.json entry.
    O(files-in-partition), no scan, no rewrite of surviving trees — the
    shape that still works when one tree is 100 TB.
    """
    import json as _json
    import shutil

    from treemachine_spark.api.errors import BadInputError

    meta_path = os.path.join(out_dir, "trees_meta.json")
    with open(meta_path) as fh:
        metas = _json.load(fh)
    if synth_id not in metas:
        raise BadInputError(
            f"Could not find a synthetic tree corresponding to the 'synth_id' arg: '{synth_id}'."
        )
    for name in _STORE_TABLES:
        part_dir = os.path.join(out_dir, name, f"synth_id={synth_id}")
        if os.path.isdir(part_dir):
            shutil.rmtree(part_dir)
    del metas[synth_id]
    with open(meta_path, "w") as fh:
        _json.dump(metas, fh)


def delete_all_trees(out_dir: str) -> None:
    """Admin mutation: drop every synthetic tree from a single-store layout
    (GraphBase.deleteAllTrees, opentree/GraphBase.java:299-306 — which just
    loops deleteTreeBySource over the source index, as this does)."""
    import json as _json

    with open(os.path.join(out_dir, "trees_meta.json")) as fh:
        metas = _json.load(fh)
    for synth_id in list(metas):
        delete_tree(out_dir, synth_id)


def load_store(spark: SparkSession, out_dir: str) -> GraphStore:
    import json as _json

    with open(os.path.join(out_dir, "tree_meta.json")) as fh:
        meta = _json.load(fh)
    return GraphStore(
        tree_id=str(meta.get("tree_id", "synth")),
        root_id=meta["root_id"],
        nodes=spark.read.parquet(os.path.join(out_dir, "nodes")),
        edges=spark.read.parquet(os.path.join(out_dir, "edges")),
        paths=spark.read.parquet(os.path.join(out_dir, "paths")),
        node_annotations=spark.read.parquet(os.path.join(out_dir, "node_annotations")),
        source_map=spark.read.parquet(os.path.join(out_dir, "source_map")),
        tree_meta=meta,
    ).cache()
