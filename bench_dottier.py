"""Paired A/B for the r15 candidate-dot auto-tier (VERDICT r14 #4).

Times the v2/v3 gate shapes (lsh_topk / ivf_topk) with the dot product
forced to the codegen fold, forced to the Arrow einsum (each by patching
``similarity.ARROW_DOT_MIN_ROWS_PER_TASK``), and on the library's own
pick ("auto"), in ONE session with alternating runs — plus a
crossover-scale phase (every corpus vector as a query) where the Arrow
tier must engage and win. Records the tier the library picks — read off
the built plan, where the Arrow tier adds a pair-dot node over the
forced-fold plan — so the JSON shows WHICH side auto landed on at each
scale (the bench_skew auto-column pattern).

Usage: python bench_dottier.py [sf_dir] — default /root/testdata/sf0.1.
"""
import json
import statistics
import sys
import time


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from treemachine_spark.session import get_spark
    from treemachine_spark.functions import similarity as sim
    from treemachine_spark.io.tables import load_tables

    spark = get_spark("bench-dottier")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    emb = load_tables(spark, sf_dir)["embeddings"]
    emb = emb.repartition(max(par // 4, 4)).cache()
    n = emb.count()
    gate_q = emb.where(F.col("vec_id") < 5)
    # crossover phase: per-shape query sets sized so expected candidate
    # rows/task sit ~3x PAST the 10^4 break-even (comfortably on the Arrow
    # side, not at the knife edge); capped at the corpus — a small corpus
    # may not reach it for the LSH shape (recorded honestly via auto_picks)
    thr = sim.ARROW_DOT_MIN_ROWS_PER_TASK
    need_lsh = min(int(3 * thr * (2 ** 8) * par / n) + 1, n)
    need_ivf = min(int(3 * thr * 8 * par / (n * 2)) + 1, n)
    lsh_q = emb.where(F.col("vec_id") < need_lsh)
    ivf_q = emb.where(F.col("vec_id") < need_ivf)
    n_lshq, n_ivfq = lsh_q.count(), ivf_q.count()

    out = {
        "metric": "dot_tier_ab", "unit": "sec", "sf_dir": sf_dir,
        "n_vectors": n, "n_lsh_big_queries": n_lshq,
        "n_ivf_big_queries": n_ivfq, "timings": {}, "auto_picks": {},
    }

    def on_tier(tier, build):
        """``build()`` with the candidate dot forced to "fold" or "arrow"
        through the library constant; "auto" keeps the library's pick."""
        if tier == "auto":
            return build()
        sim.ARROW_DOT_MIN_ROWS_PER_TASK = 0 if tier == "arrow" else float("inf")
        try:
            return build()
        finally:
            sim.ARROW_DOT_MIN_ROWS_PER_TASK = thr

    def timed(tier, build):
        t0 = time.time()
        on_tier(tier, build).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    def n_arrow(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "ArrowEvalPython"
        )

    shapes = {
        "lsh_gate": lambda: sim.lsh_topk(emb, gate_q, k=10),
        "ivf_gate": lambda: sim.ivf_topk(emb, gate_q, k=10),
        "lsh_big": lambda: sim.lsh_topk(emb, lsh_q, k=10),
        "ivf_big": lambda: sim.ivf_topk(emb, ivf_q, k=10),
    }
    for name, build in shapes.items():
        picked_arrow = n_arrow(build()) > n_arrow(on_tier("fold", build))
        out["auto_picks"][name] = "arrow" if picked_arrow else "fold"

    for name, build in shapes.items():
        timed("fold", build)  # warm-up (scan + codegen + workers)
        runs: dict = {"fold": [], "arrow": [], "auto": []}
        for _ in range(3):
            for tier in ("fold", "arrow", "auto"):
                runs[tier].append(timed(tier, build))
        out["timings"][name] = {
            tier: round(statistics.median(v), 3) for tier, v in runs.items()
        }
        out["timings"][name + "_runs"] = runs
    # auto must land within noise of the faster forced tier at every shape
    ok = True
    for name, med in out["timings"].items():
        if name.endswith("_runs"):
            continue
        faster = min(med["fold"], med["arrow"])
        ok = ok and med["auto"] <= max(1.3 * faster, faster + 0.3)
    out["auto_on_faster_side"] = ok
    print(json.dumps(out))


if __name__ == "__main__":
    main()
