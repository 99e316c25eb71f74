"""Equality pins for the r14 batch-7 Arrow rewrites in functions/similarity.py:

- ivf_assign / centroid_assign: Arrow argmax assignment vs the pure-plan
  crossJoin+window twin (_ivf_assign_plan), incl. tie-breaks (duplicate
  centroids) and a NULL vector row.
- hard_negatives: Arrow matmul + in-batch label mask + per-batch partial
  top-k vs the old crossJoin+interpreted-fold shape (reconstructed inline),
  incl. forced tiny Arrow batches (pruning at every boundary) and NULL labels.
- cosine_near_dup_pairs_lsh: zero-norm vectors (which share every LSH band)
  must be DROPPED like the DuckDB oracle drops NULL-cosine rows — the old
  codegen divide raised DIVIDE_BY_ZERO under ANSI (the v4/v7 hazard, fixed
  here the same way).
- candidate-dot tiers of ivf_topk / lsh_topk / ivf_pq_topk, each forced
  through ARROW_DOT_MIN_ROWS_PER_TASK, and their job-free pick over a
  cached corpus and a LocalRelation query frame.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from treemachine_spark.functions import similarity as sim


def _emb_df(spark, rows):
    return spark.createDataFrame(
        [(r[0], r[1], r[2] if len(r) > 2 else int(r[0]) % 3) for r in rows],
        "vec_id long, embedding array<double>, label int",
    )


def _vec(i, dim=6, seed=1):
    # deterministic pseudo-random integers/1000 -> quantize() is exact
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"{seed}:{i}:{d}".encode()).hexdigest()[:6], 16)
        out.append(((h % 2001) - 1000) / 1000.0)
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _vec(i)) for i in range(40)]
    # duplicate vectors -> centroid_assign sees two IDENTICAL centroids
    # (ids 0 and 1), forcing score ties on every row: the argmax tie-break
    # (min cent_id) is exercised on the whole corpus
    rows[1] = (1, list(rows[0][1]))
    return _emb_df(spark, rows)


def test_ivf_assign_arrow_matches_plan_twin(spark, corpus):
    cent = (
        corpus.orderBy("vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("cent_id"),
            sim.quantize(F.col("embedding")).alias("cvec"),
        )
    )
    new = sim.ivf_assign(corpus, cent, meta_cols=("label",))
    old = sim._ivf_assign_plan(corpus, cent, meta_cols=("label",))
    a = sorted(map(tuple, new.collect()))
    b = sorted(map(tuple, old.collect()))
    assert a == b and len(a) == 40


def test_centroid_assign_arrow_matches_plan_twin(spark, corpus):
    new = sorted(map(tuple, sim.centroid_assign(corpus, 4).collect()))
    cent = (
        corpus.orderBy("vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("cent_id"),
            sim.quantize(F.col("embedding")).alias("cvec"),
        )
    )
    old = sorted(
        (r["neighbor_id"], r["cent_id"])
        for r in sim._ivf_assign_plan(corpus, cent).collect()
    )
    assert new == old and len(new) == 40


def test_ivf_assign_null_vector_matches_plan_twin(spark):
    rows = [(i, _vec(i)) for i in range(8)]
    df = _emb_df(spark, rows)
    null_row = spark.createDataFrame(
        [(99, None, 0)], "vec_id long, embedding array<double>, label int"
    )
    df = df.unionByName(null_row)
    cent = (
        df.where(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("cent_id"),
            sim.quantize(F.col("embedding")).alias("cvec"),
        )
    )
    new = sorted(
        (r["neighbor_id"], r["cent_id"]) for r in sim.ivf_assign(df, cent).collect()
    )
    old = sorted(
        (r["neighbor_id"], r["cent_id"])
        for r in sim._ivf_assign_plan(df, cent).collect()
    )
    assert new == old and len(new) == 9


def _hard_negatives_fold_twin(embeddings, queries, k, label_col="label"):
    """The pre-r14 shape: crossJoin(broadcast) + interpreted int_dot fold."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col(label_col).alias("q_label"),
        sim.quantize(F.col("embedding")).alias("qv"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        sim.quantize(F.col("embedding")).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            sim.int_dot(F.col("qv"), F.col("cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "score", "rank")
    )


def test_hard_negatives_matches_fold_twin_tiny_batches(spark, corpus):
    # label = id % 3 -> plenty of cross-label candidates; duplicate vectors
    # (ids 0/1, different labels) force exact score ties resolved by
    # neighbor_id; 7-row Arrow batches exercise the per-batch partial top-k
    # at every boundary (the brute_force_topk test recipe)
    qs = corpus.where(F.col("vec_id") < 4)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        new = sorted(map(tuple, sim.hard_negatives(corpus, qs, k=5).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    old = sorted(map(tuple, _hard_negatives_fold_twin(corpus, qs, k=5).collect()))
    assert new == old and len(new) == 20


def test_hard_negatives_null_labels_match_fold_twin(spark):
    rows = [(i, _vec(i), None if i % 4 == 0 else i % 2) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    qs = df.where(F.col("vec_id") < 5)  # includes NULL-label queries
    new = sorted(map(tuple, sim.hard_negatives(df, qs, k=3).collect()))
    old = sorted(map(tuple, _hard_negatives_fold_twin(df, qs, k=3).collect()))
    # NULL labels never match (`!=` is NULL -> filtered) on either side
    assert new == old
    assert all(r[2] is not None for r in new)


def test_cosine_pairs_lsh_zero_norm_dropped_like_oracle(spark):
    # two zero vectors share every sign-bit band -> they ARE a candidate
    # pair; the cosine denominator is 0 and the oracle's 0/0 is NULL, which
    # fails >= threshold — the pair must be dropped, not raise
    # DIVIDE_BY_ZERO under ANSI (the v4/v7 zero-norm lesson, r14)
    rows = [(i, _vec(i)) for i in range(10)]
    rows += [(100, [0.0] * 6), (101, [0.0] * 6)]
    # and a guaranteed REAL near-dup pair to prove positives still flow
    rows += [(200, [0.5] * 6), (201, [0.5] * 6)]
    df = _emb_df(spark, rows)
    got = sim.cosine_near_dup_pairs_lsh(df, threshold=0.4).collect()
    ids = {(r["id_a"], r["id_b"]) for r in got}
    assert (100, 101) not in ids
    assert (200, 201) in ids
    import duckdb

    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("emb", pdf)
    oracle = con.sql(
        """
        WITH q AS (
          SELECT vec_id, list_transform(embedding, x -> round(x*1000)) v
          FROM emb
        )
        SELECT a.vec_id ia, b.vec_id ib,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 4) cos
        FROM q a JOIN q b ON a.vec_id < b.vec_id
        """
    ).df()
    oracle = oracle[oracle["cos"] >= 0.4]
    # LSH candidates are a subset of all pairs; every verified pair must
    # appear in the oracle's exact filtered set with the identical cosine
    omap = {(int(r.ia), int(r.ib)): r.cos for r in oracle.itertuples()}
    for r in got:
        assert (r["id_a"], r["id_b"]) in omap
        # tolerance, not bit-equality (ADVICE r14): DuckDB's
        # multiply-then-round and Spark's exact-decimal HALF_UP can
        # legitimately diverge by 1 ulp of the 4th decimal on knife-edge
        # doubles (the CLAUDE.md rounding invariant) — this fixture happens
        # to sit off the boundary today, but the test shouldn't depend on it
        assert abs(omap[(r["id_a"], r["id_b"])] - r["cos"]) <= 5e-5


def test_ivf_assign_null_centroid_drops_out_of_contention(spark):
    # ADVICE r14: a NULL cvec among the collected centroids used to crash
    # np.asarray; the pre-r14 crossJoin plan NULL-propagated its score so
    # it could never win. The Arrow path must reproduce that, and the
    # plan twin is the executable spec.
    rows = [(i, _vec(i)) for i in range(8)]
    df = _emb_df(spark, rows)
    cent = df.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("cent_id"),
        F.when(F.col("vec_id") == 1, F.lit(None)).otherwise(
            sim.quantize(F.col("embedding"))
        ).alias("cvec"),
    )
    new = sorted(
        (r["neighbor_id"], r["cent_id"]) for r in sim.ivf_assign(df, cent).collect()
    )
    old = sorted(
        (r["neighbor_id"], r["cent_id"])
        for r in sim._ivf_assign_plan(df, cent).collect()
    )
    assert new == old and len(new) == 8
    assert all(c != 1 for _, c in new)  # the NULL centroid never wins


def test_hard_negatives_null_embeddings_prefiltered(spark):
    # ADVICE r14: NULL embeddings on either side used to crash the Arrow
    # matmul; the fold twin NULL-propagates them (a NULL score never ranks
    # when k real candidates exist). The prefilter must agree with the twin
    # on the non-NULL universe.
    rows = [(i, _vec(i), i % 2) for i in range(12)]
    df = _emb_df(spark, rows)
    null_rows = spark.createDataFrame(
        [(100, None, 0), (101, None, 1)],
        "vec_id long, embedding array<double>, label int",
    )
    df_n = df.unionByName(null_rows)
    qs_n = df_n.where((F.col("vec_id") < 4) | (F.col("vec_id") == 100))
    new = sorted(map(tuple, sim.hard_negatives(df_n, qs_n, k=3).collect()))
    # fold twin over the SAME input minus the NULL rows == the prefilter's
    # contract (NULL-score rows never outrank 3 real candidates; a NULL
    # query has no non-NULL score at all)
    old = sorted(
        map(
            tuple,
            _hard_negatives_fold_twin(df, df.where(F.col("vec_id") < 4), k=3).collect(),
        )
    )
    assert new == old and len(new) == 12


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _dot_tier(monkeypatch, tier: str, fn):
    """``fn()`` with the candidate dot forced to the "fold" or "arrow" tier
    through ``sim.ARROW_DOT_MIN_ROWS_PER_TASK`` ("auto" keeps the
    constant); the tier is fixed when the plan is built."""
    with monkeypatch.context() as m:
        if tier != "auto":
            m.setattr(
                sim, "ARROW_DOT_MIN_ROWS_PER_TASK", 0 if tier == "arrow" else float("inf")
            )
        return fn()


def test_candidate_dot_tiers_bit_equal_and_auto_picks(spark, corpus, monkeypatch):
    # r15 auto-tier (VERDICT r14 #4): fold and Arrow candidate dots must be
    # bit-identical on v2/v3/PQ shapes, and the measured crossover must
    # keep gate scale (40x5 candidates) on the fold.
    q = corpus.where(F.col("vec_id") < 5)
    for fn in (
        lambda: sim.lsh_topk(corpus, q, k=5),
        lambda: sim.ivf_topk(corpus, q, k=5, n_centroids=4),
    ):
        plans = {t: _dot_tier(monkeypatch, t, fn) for t in ("fold", "arrow", "auto")}
        rows = {t: sorted(map(tuple, df.collect())) for t, df in plans.items()}
        assert rows["fold"] == rows["arrow"] == rows["auto"]
        # the bucket/assign UDFs contribute their own Arrow nodes — the
        # tier pick shows up as the DELTA: auto stays on the codegen fold
        # (same Arrow-node count as the forced fold), the forced Arrow
        # tier adds the pair-dot node
        n = {t: _exec_plan(df).count("ArrowEvalPython") for t, df in plans.items()}
        assert n["auto"] == n["fold"] < n["arrow"]


def test_pq_rerank_dot_tiers_bit_equal(spark, corpus, monkeypatch):
    from treemachine_spark.functions import pq

    q = corpus.where(F.col("vec_id") < 5)

    def run():
        return pq.ivf_pq_topk(
            corpus, q, k=5, n_centroids=4, m=3, n_codes=4, rerank=True
        )

    res = {
        tier: sorted(map(tuple, _dot_tier(monkeypatch, tier, run).collect()))
        for tier in ("fold", "arrow", "auto")
    }
    assert res["fold"] == res["arrow"] == res["auto"]


def test_ann_tier_picks_run_no_job_on_cached_corpus(spark, monkeypatch):
    """The serving shape — a materialized cached corpus and a LocalRelation
    query frame: ivf_topk, lsh_topk and ivf_pq_topk read both sizes for
    their dot-tier pick from plan statistics, so no Spark job starts
    before the answer is collected; on both sides of the crossover the
    pick equals the one the count()-based estimate gives."""
    import math

    import pandas as pd

    from treemachine_spark.functions import pq

    sc = spark.sparkContext
    emb = _emb_df(spark, [(i, _vec(i)) for i in range(40)]).cache()
    emb.count()
    cells = tuple(df.cache() for df in sim.ivf_cells(emb, 4))
    for df in cells:
        df.count()
    codebook = pq.pq_train(emb, m=3, n_codes=4)
    qrows = emb.where(F.col("vec_id") < 5).collect()
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [r["vec_id"] for r in qrows],
                "embedding": [list(r["embedding"]) for r in qrows],
            }
        ),
        "vec_id long, embedding array<double>",
    )
    n, nq = emb.count(), q.count()
    shapes = {
        "lsh": (lambda: sim.lsh_topk(emb, q, k=5), n * nq / float(2**8)),
        "ivf": (
            lambda: sim.ivf_topk(emb, q, k=5, n_centroids=4, cells=cells),
            n * nq * 2 / 4,
        ),
        "pq": (
            lambda: pq.ivf_pq_topk(
                emb, q, k=5, n_centroids=4, codebook=codebook, cells=cells,
                rerank=True,
            ),
            nq * 3 * 5,
        ),
    }
    par = max(sc.defaultParallelism, 1)
    try:
        for name, (build, n_candidates) in shapes.items():
            fold = _dot_tier(monkeypatch, "fold", build)
            want_rows = sorted(map(tuple, fold.collect()))
            n_fold = _exec_plan(fold).count("ArrowEvalPython")
            est = n_candidates / par  # rows per task, as counted
            for threshold, want_arrow in ((est, True), (math.nextafter(est, math.inf), False)):
                monkeypatch.setattr(sim, "ARROW_DOT_MIN_ROWS_PER_TASK", threshold)
                group = f"tier-pick-{name}-{want_arrow}"
                sc.setJobGroup(group, "dot-tier pick")
                try:
                    out = build()
                    assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
                    rows = sorted(map(tuple, out.collect()))
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                assert rows == want_rows and rows, name
                picked_arrow = _exec_plan(out).count("ArrowEvalPython") > n_fold
                assert picked_arrow == want_arrow, (name, threshold)
    finally:
        emb.unpersist()
        for df in cells:
            df.unpersist()
