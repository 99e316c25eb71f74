"""Regenerate PLANS.md: physical plans of representative queries with the
scale-relevant properties called out. Run: python gen_plans.py"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SHOW = [
    (
        "q1_pricing_summary",
        "Filter pushed to the parquet scan (PushedFilters), scan pruned to the "
        "referenced columns (ReadSchema), map-side partial HashAggregate before "
        "the single exchange, whole-stage codegen end-to-end.",
    ),
    (
        "q5_region_revenue",
        "Star join: every dimension side is a BroadcastHashJoin — the fact "
        "table is never shuffled for the join, only for the final aggregate.",
    ),
    (
        "q19_disjunctive_join",
        "Disjunctive predicate envelope stays an equi-join on p_partkey with a "
        "residual filter — no cartesian product.",
    ),
    (
        "t4_subtree",
        "Tree traversal = a filter over the cached ancestor closure "
        "(InMemoryTableScan); O(|result|), independent of tree size.",
    ),
    (
        "x6_hash_split",
        "Deterministic train/val/test split: hash-bucket projection fused into "
        "the scan; the ONLY exchange is the final 3-group aggregate.",
    ),
    (
        "v5_centroid_cells",
        "k-means assignment: 8 centroids broadcast under a nested-loop join, "
        "per-row argmax window, then the cell histogram aggregate.",
    ),
    (
        "x15_tfidf",
        "TF-IDF: ONE corpus scan — document frequency is a window count over "
        "the already-aggregated tf table (a second aggregation of the source "
        "would duplicate the whole scan subtree); corpus size N joins in as "
        "a broadcast 1-row aggregate from a metadata-only count-star. Since "
        "r14 the token stream is repartitioned by TERM first, so the "
        "(doc,term) aggregation AND the df window share that one exchange "
        "(guide §2.4) — the tf-path shuffle count drops from 3 to 2.",
    ),
    (
        "x17_dup_spans",
        "Span-level substring dedup: words hashed in whole-stage codegen "
        "after posexplode (never interpreted per-span md5 inside an array "
        "transform), 62-bit span ids via window-lead Horner chains, one "
        "partial-aggregating groupBy on the span id.",
    ),
    (
        "c1_rf_distance",
        "Robinson-Foulds distance: two generic closure builds (log-doubling), "
        "one fingerprint aggregation per tree, fingerprint full-outer join — "
        "no tree walking anywhere.",
    ),
    (
        "v1_ann_brute",
        "Exact brute-force top-k (r9 shape): the collected query matrix "
        "rides the scoring UDF's closure, so the Spark-quantized corpus "
        "crosses Arrow in ONE MapInPandas pass (each batch = one numpy "
        "matmul; integer-valued doubles make it bit-identical to the old "
        "interpreted fold) — no join in the plan at all; the only "
        "Exchange is the per-query top-k window.",
    ),
    (
        "d8_jaccard_probe",
        "Request-scale exact-Jaccard probe: the probe docs' shingles are the "
        "BROADCAST hash side (IN-pushed scan), the corpus is shingled in "
        "EXACTLY ONE Arrow pass — doc sizes ride the exploded stream and "
        "fold into the pair aggregation, so there are no post-joins and no "
        "second/third corpus scan (the first cut had three; explode_outer "
        "dodges the inferred size()>0 filter that would re-run the UDF) — "
        "and no all-pairs pair-shingle intermediate exists anywhere (the "
        "batch recipe's is quadratic in cluster size).",
    ),
    (
        "t15_deepest_exemplified",
        "Deepest-exemplified remap: every closure access is an IN-pushed "
        "filter on the 6 matched ids (no tip-set materialization — tree "
        "comparability replaces the reference's per-node BitSets), the "
        "candidate anti-join and descendant semi-join are broadcasts of "
        "request-scale frames, output is |matched| rows.",
    ),
    (
        "k7_grouped_quantiles",
        "Per-group bottom-k quantile sketch: map-side partial aggregate "
        "collapses duplicates before the one distinct-value shuffle, window "
        "rank keeps k rows per group, and the quantile estimates are "
        "windows + aggregates over the k-row sketch — the source table is "
        "scanned exactly once and never re-touched by the estimator.",
    ),
]


def main() -> None:
    from pyspark.sql import SparkSession

    from treemachine_spark.workload.queries import QUERIES

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of representative queries (sf0.01)",
        "",
        "Auto-generated by `python gen_plans.py`; plan-shape assertions live in",
        "`tests/test_plans.py`. Annotations state the property that matters at",
        "100 TB.",
        "",
    ]
    for name, note in SHOW:
        df = QUERIES[name](spark, "/root/testdata/sf0.01")
        simple = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
        plan = df._jdf.queryExecution().explainString(simple)
        out += [f"## {name}", "", note, "", "```", plan.rstrip(), "```", ""]
    out += _cobucketed_facts_section(spark)
    Path(_REPO, "PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")


def _cobucketed_facts_section(spark) -> list[str]:
    """Co-bucketed fact⋈fact layout (q3's sf10 remedy): lineitem+orders
    bucketed+sorted on the order key run join AND group-by shuffle-free."""
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.operators.scale import write_bucketed
    from treemachine_spark.workload.queries import q3_plan

    t = load_tables(spark, "/root/testdata/sf0.01")
    write_bucketed(t["lineitem"], "plans_li_bkt", "l_orderkey", n_buckets=8)
    write_bucketed(t["orders"], "plans_ord_bkt", "o_orderkey", n_buckets=8)
    q = q3_plan(
        spark.table("plans_li_bkt").hint("merge"),
        spark.table("plans_ord_bkt").hint("merge"),
        t["customer"],
    )
    simple = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = q._jdf.queryExecution().explainString(simple)
    spark.sql("DROP TABLE IF EXISTS plans_li_bkt")
    spark.sql("DROP TABLE IF EXISTS plans_ord_bkt")
    return [
        "## co-bucketed fact layout (operators/scale.write_bucketed + q3_plan)",
        "",
        "lineitem and orders written bucketBy+sortBy(orderkey): the q3 "
        "fact⋈fact SortMergeJoin consumes the bucket layout (Bucketed: true, "
        "no Exchange on either side) and the (o_orderkey, o_orderdate) "
        "group-by is satisfied by hashpartitioning(orderkey) — a "
        "grouping-key subset — so the ONLY Exchange in the plan is the "
        "intended customer BroadcastExchange; top-k is "
        "TakeOrderedAndProject. One ingest-time layout shuffle buys every "
        "subsequent order-keyed join/agg exchange-free (bench_bucketed.py: "
        "q3 at derived sf10 3.5-13.5s parquet -> 1.7-2.4s bucketed). "
        "Assertions: tests/test_cobucketed_facts.py.",
        "",
        "```",
        plan.rstrip(),
        "```",
        "",
    ]


if __name__ == "__main__":
    main()
