"""Distributed Lloyd k-means vs an independent numpy reference."""

from __future__ import annotations

import numpy as np
import pytest

from treemachine_spark.functions.similarity import kmeans_fit


def _synthetic(n=200, dim=6, k=4, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 10, size=(k, dim))
    pts = centers[rng.integers(0, k, n)] + rng.normal(0, 1, size=(n, dim))
    return pts


def _numpy_lloyd(pts, k, iters):
    cents = pts[:k].astype(float).copy()  # same init: k smallest ids
    for _ in range(iters):
        d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # ties -> lowest index, same rule
        for ci in range(k):
            m = assign == ci
            if m.any():
                cents[ci] = pts[m].mean(axis=0)
    # final assignment against the FINAL centroids (matches kmeans_fit)
    d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return cents, d.argmin(axis=1)


@pytest.fixture(scope="module")
def emb_df(spark):
    pts = _synthetic()
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(pts)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_matches_numpy(spark, emb_df):
    pts = _synthetic()
    cdf, adf, _ = kmeans_fit(emb_df, k=4, iters=4)
    np_cents, np_assign = _numpy_lloyd(pts, k=4, iters=4)
    got = {r["cent_id"]: r["centroid"] for r in cdf.collect()}
    for ci in range(4):
        assert np.allclose(got[ci], np_cents[ci], rtol=1e-8), ci
    got_assign = dict(adf.collect())
    # spark assignment is a FINAL E-step against the returned centroids
    mismatches = sum(
        1 for i, a in enumerate(np_assign) if got_assign[i] != a
    )
    assert mismatches == 0
    members = {r["cent_id"]: r["n_members"] for r in cdf.collect()}
    assert sum(members.values()) == len(pts)


def test_kmeans_inertia_non_increasing(spark, emb_df):
    _, _, hist = kmeans_fit(emb_df, k=4, iters=5, compute_inertia=True)
    assert len(hist) == 5
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-6


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # two far blobs, k=3 with the three init points all in blob one ->
    # at least one centroid may end empty; the fit must not crash and
    # every vector must stay assigned
    rows = [(i, [float(i % 2) * 100.0, 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf, adf, _ = kmeans_fit(df, k=3, iters=3)
    assert adf.count() == 20
    assert cdf.count() == 3
    # n_members must describe the RETURNED assignment exactly
    members = {r["cent_id"]: r["n_members"] for r in cdf.collect()}
    from_assign = {r["cent_id"]: r["count"] for r in adf.groupBy("cent_id").count().collect()}
    for ci, n in members.items():
        assert from_assign.get(ci, 0) == n


def test_kmeans_k_exceeds_rows_clamps(spark):
    rows = [(i, [float(i), 0.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf, adf, _ = kmeans_fit(df, k=10, iters=2)
    assert cdf.count() == 3  # clamped to the row count, no crash
    assert adf.count() == 3
    assert sorted(r["n_members"] for r in cdf.collect()) == [1, 1, 1]


def test_kmeans_empty_input_raises(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        kmeans_fit(df, k=2, iters=1)


def _fit_tier(monkeypatch, tier: str, df, **kwargs):
    """kmeans_fit with the E-step forced to the "catalyst" fold or the
    "arrow" twin through ``ARROW_DOT_MIN_ROWS_PER_TASK``; returns sorted
    centroid rows, sorted assignment rows and the inertia history."""
    import treemachine_spark.functions.similarity as sim

    with monkeypatch.context() as m:
        m.setattr(
            sim, "ARROW_DOT_MIN_ROWS_PER_TASK", 0 if tier == "arrow" else float("inf")
        )
        cdf, adf, hist = kmeans_fit(df, **kwargs)
        return (
            sorted(map(tuple, cdf.collect())),
            sorted(map(tuple, adf.collect())),
            hist,
        )


def test_estep_arrow_parity_bit_exact(spark, emb_df, monkeypatch):
    # r15 (VERDICT r14 #8): the Arrow E-step preserves IEEE op order, so
    # BOTH tiers must produce bit-identical centroids, assignments and
    # inertia histories — on the synthetic corpus AND the sf0.1 embeddings
    from treemachine_spark.io.tables import load_tables

    sf01 = (
        load_tables(spark, "/root/testdata/sf0.1")["embeddings"]
        .limit(500)
    )
    for df, k in ((emb_df, 4), (sf01, 6)):
        out = {
            tier: _fit_tier(monkeypatch, tier, df, k=k, iters=3, compute_inertia=True)
            for tier in ("catalyst", "arrow")
        }
        assert out["catalyst"][0] == out["arrow"][0]  # centroids bit-equal
        assert out["catalyst"][1] == out["arrow"][1]  # assignments equal
        assert out["catalyst"][2] == out["arrow"][2]  # inertia bit-equal


def test_estep_arrow_null_and_ragged_vectors(spark, monkeypatch):
    # NULL vectors, wrong-length vectors and vectors with a NULL element
    # must get a NULL cent_id and a NULL distance in BOTH tiers (the fold
    # NULL-propagates through zip_with padding and the sum), so the two
    # tiers agree on centroids, assignments and inertia
    rows = [
        (0, [1.0, 2.0]), (1, [1.5, 2.5]), (2, None), (3, [9.0, 9.0, 9.0]),
        (4, [1.0, None]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        tier: _fit_tier(monkeypatch, tier, df, k=2, iters=2, compute_inertia=True)
        for tier in ("catalyst", "arrow")
    }
    for tier, (_, assigned, hist) in out.items():
        got = dict(assigned)
        assert got[2] is None and got[3] is None and got[4] is None, (tier, got)
        assert got[0] is not None and got[1] is not None, (tier, got)
        assert not any(np.isnan(h) for h in hist), (tier, hist)
    assert out["catalyst"] == out["arrow"]


def test_estep_auto_crosses_to_arrow(spark, emb_df, monkeypatch):
    import treemachine_spark.functions.similarity as sim

    def _n_arrow(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "ArrowEvalPython"
        )

    # 200 rows / par is far below the crossover -> catalyst
    _, adf, _ = kmeans_fit(emb_df, k=4, iters=1)
    assert _n_arrow(adf) == 0
    monkeypatch.setattr(sim, "ARROW_DOT_MIN_ROWS_PER_TASK", 0)
    _, adf, _ = kmeans_fit(emb_df, k=4, iters=1)
    assert _n_arrow(adf) > 0
