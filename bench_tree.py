"""Tree-operator benchmark at reference scale (BASELINE.md):

  - newick subtree extraction: reference = 100,000 tips in ~40 s
    (~2,500 tips/s, tree_of_life_v3.java:591) with a hard cap; we must beat
    the rate and remove the cap.
  - mrca / induced_subtree over 2-160 ids (the curl_tests.py:44 stressor).
  - ingest (closure build) throughput vs the 50k-rows/tx Neo4j writer.

Builds a synthetic balanced tree of --tips tips (default 100k), runs the
operators, prints one JSON line. Not driver-run; evidence for BENCH notes.
"""

from __future__ import annotations

import json
import random
import sys
import time

from pyspark.sql import functions as F


def _grow_tree(n_tips: int, fanout: int, rows: list | None):
    """SINGLE source of the synthetic tree's frontier/id assignment: grows
    the balanced fanout tree breadth-first, optionally recording (child,
    parent) edge rows, and returns the final frontier's tip names. Both
    ``synthetic_tree_edges`` and ``synthetic_tip_names`` call this, so the
    tip list a sharded bench parent computes WITHOUT building edges is
    identical-by-construction to the workers' stores (ADVICE r5: the two
    previously-independent copies could drift silently)."""
    next_id = 1
    frontier = [0]
    total_leaves = 0
    while total_leaves < n_tips:
        nxt = []
        for p in frontier:
            if len(nxt) >= n_tips:
                break
            for _ in range(fanout):
                if rows is not None:
                    rows.append((f"n{next_id}", f"n{p}"))
                nxt.append(next_id)
                next_id += 1
        total_leaves = len(nxt)
        frontier = nxt
    return [f"n{i}" for i in frontier]


def synthetic_tip_names(n_tips: int, fanout: int = 10) -> list[str]:
    """Tip ids of the synthetic tree without materializing its edges."""
    return _grow_tree(n_tips, fanout, None)


def synthetic_tree_edges(spark, n_tips: int, fanout: int = 10):
    """Balanced fanout tree: ids are 'n<k>' in breadth-first order. The last
    level is truncated so the tip count lands on ~n_tips instead of the next
    full power of fanout (unexpanded parents become tips themselves)."""
    rows: list = []
    tips = _grow_tree(n_tips, fanout, rows)
    return (
        spark.createDataFrame(rows, "child_id string, parent_id string"),
        tips,
    )


def main() -> None:
    n_tips = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    from treemachine_spark.graph.topology import FRAGMENT_TIER_EDGES
    from treemachine_spark.exporters.newick_sink import assemble_newick
    from treemachine_spark.graph import traversal as T
    from treemachine_spark.graph.closure import build_closure, with_self_paths
    from treemachine_spark.session import get_spark

    spark = get_spark("treemachine-tree-bench")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    edges, tips = synthetic_tree_edges(spark, n_tips)
    edges = edges.cache()
    n_edges = edges.count()
    gen_sec = round(time.time() - t0, 2)

    # ingest: closure build (the reference's whole-graph write pass)
    t0 = time.time()
    paths = build_closure(edges).cache()
    n_paths = paths.count()
    ingest_sec = round(time.time() - t0, 2)

    nodes = edges.select(F.col("child_id").alias("node_id")).unionByName(
        spark.createDataFrame([("n0",)], "node_id string")
    )
    paths_self = with_self_paths(paths, nodes).cache()
    paths_self.count()

    # full-tree newick (subtree at root, unbounded depth) — the reference
    # caps this at 100k tips / ~40s. Past the serving gate, serve it
    # through v3.subtree over the bench's synthetic store: the executor-side
    # fragment tier (byte-identical to the driver-side path, asserted in
    # test_large_subtree).
    if n_edges > FRAGMENT_TIER_EDGES:
        from bench_http import build_synth_store
        from treemachine_spark.api.v3 import TreeOfLifeV3

        api = TreeOfLifeV3(build_synth_store(spark, n_tips)[0])
        t0 = time.time()
        newick = api.subtree(node_id="n0")["newick"]
    else:
        t0 = time.time()
        rows = edges.collect()
        newick = assemble_newick([(r["child_id"], r["parent_id"]) for r in rows], "n0")
    newick_sec = round(time.time() - t0, 2)
    tips_per_sec = int(n_tips / newick_sec) if newick_sec else None

    rng = random.Random(42)
    mrca_secs = {}
    induced_secs = {}
    for n_ids in (2, 16, 160):
        sample = rng.sample(tips, n_ids)
        tdf = spark.createDataFrame([(t,) for t in sample], "node_id string")
        t0 = time.time()
        T.mrca(paths_self, tdf).collect()
        mrca_secs[n_ids] = round(time.time() - t0, 2)
        t0 = time.time()
        T.induced_subtree(paths_self, tdf).count()
        induced_secs[n_ids] = round(time.time() - t0, 2)

    # BIG-REQUEST path (the r4 size gate): half of all tips through the
    # pure join+agg recipes — the request the reference 400s on and the
    # driver-side fast path was never meant for. Expected MRCA = root.
    big = rng.sample(tips, max(len(tips) // 2, 1))
    bdf = spark.createDataFrame([(t,) for t in big], "node_id string")
    t0 = time.time()
    mrca_big = T.mrca(paths_self, bdf).collect()
    mrca_secs[f"big_{len(big)}"] = round(time.time() - t0, 2)
    assert mrca_big and mrca_big[0]["mrca_node_id"] == "n0", mrca_big
    t0 = time.time()
    n_induced = T.induced_subtree(paths_self, bdf).count()
    induced_secs[f"big_{len(big)}"] = round(time.time() - t0, 2)
    assert n_induced >= len(big), (n_induced, len(big))

    # RF distance COLD path (serve-time c1 reads ingest-persisted
    # fingerprints; this is the build-both-closures-from-edges cost):
    # two independent fingerprint builds of the same tree -> distance 0.
    from concurrent.futures import ThreadPoolExecutor

    from treemachine_spark.graph import compare as C

    t0 = time.time()
    with ThreadPoolExecutor(2) as pool:
        f1 = pool.submit(C.bipartition_fingerprints, edges)
        f2 = pool.submit(C.bipartition_fingerprints, edges)
        fp1, fp2 = f1.result(), f2.result()
    rf = C.rf_distance(fp1, fp2).collect()[0]
    rf_cold_sec = round(time.time() - t0, 2)
    assert rf["rf_distance"] == 0, rf

    print(
        json.dumps(
            {
                "n_tips": n_tips,
                "n_edges": n_edges,
                "n_paths": n_paths,
                "gen_sec": gen_sec,
                "closure_ingest_sec": ingest_sec,
                "ingest_rows_per_sec": int(n_paths / ingest_sec),
                "newick_sec": newick_sec,
                "newick_tips_per_sec": tips_per_sec,
                "reference_tips_per_sec": 2500,
                "mrca_sec": mrca_secs,
                "induced_subtree_sec": induced_secs,
                "rf_cold_sec": rf_cold_sec,
            }
        )
    )


if __name__ == "__main__":
    main()
