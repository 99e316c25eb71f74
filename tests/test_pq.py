"""Product quantization (functions/pq.py): codebook training, Arrow
encoding, and IVF-PQ ADC serving — verified against an independent numpy
reference (full ||x-c||^2 argmin / direct LUT sums, NOT the expanded-form
shortcuts the implementation uses) plus recall against the exact
brute-force ranking."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from treemachine_spark.functions import pq, similarity
from treemachine_spark.io.tables import load_tables

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ctx(spark):
    emb = load_tables(spark, SF)["embeddings"]
    codebook = pq.pq_train(emb, m=8, n_codes=16, iters=3, train_rows=None)
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    return {"emb": emb, "codebook": codebook, "vecs": vecs}


def test_subspace_bounds_cover_dim_exactly():
    for dim, m in [(64, 8), (64, 7), (10, 3), (5, 5)]:
        b = pq._subspace_bounds(dim, m)
        assert len(b) == m
        assert b[0][0] == 0 and sum(ln for _, ln in b) == dim
        # contiguous, no gaps
        for (s0, l0), (s1, _) in zip(b, b[1:]):
            assert s0 + l0 == s1


def test_codebook_shape(ctx):
    cb = ctx["codebook"]
    assert len(cb) == 8 and all(len(sub) == 16 for sub in cb)
    assert sum(len(sub[0]) for sub in cb) == 64  # subspace dims cover 64


def test_encode_matches_numpy_reference(ctx, spark):
    """Every (vector, subspace) code equals the naive numpy argmin of the
    FULL squared distance (the UDF uses the expanded -2x.c + ||c||^2 form;
    agreement proves the algebra and the tie-break)."""
    codes = {
        r["vec_id"]: r["codes"]
        for r in pq.pq_encode(ctx["emb"], ctx["codebook"]).collect()
    }
    bounds = pq._subspace_bounds(64, 8)
    cbs = [np.asarray(sub) for sub in ctx["codebook"]]
    for vid, v in ctx["vecs"].items():
        for s, (start, ln) in enumerate(bounds):
            d = ((cbs[s] - v[start : start + ln]) ** 2).sum(axis=1)
            assert codes[vid][s] == int(d.argmin()), (vid, s)


def test_adc_scores_match_numpy_reference(ctx, spark):
    """ivf_pq_topk's JVM-side aggregate(zip_with(element_at)) ADC sum must
    equal the numpy LUT sum for the same (query, candidate) pairs."""
    emb = ctx["emb"]
    out = pq.ivf_pq_topk(
        emb,
        emb.where(F.col("vec_id") < 3),
        k=5,
        codebook=ctx["codebook"],
    ).collect()
    assert out, "ADC returned no rows"
    codes = {
        r["vec_id"]: r["codes"]
        for r in pq.pq_encode(emb, ctx["codebook"]).collect()
    }
    bounds = pq._subspace_bounds(64, 8)
    cbs = [np.asarray(sub) for sub in ctx["codebook"]]
    for r in out:
        qv = ctx["vecs"][r["query_id"]]
        expect = sum(
            float(qv[start : start + ln] @ cbs[s][codes[r["neighbor_id"]][s]])
            for s, (start, ln) in enumerate(bounds)
        )
        assert abs(r["score"] - expect) < 1e-6, (r, expect)


def test_recall_vs_brute_and_rerank_recovery(ctx, spark):
    """ADC top-10 overlaps the exact brute-force top-10; exact re-ranking
    of the ADC short-list can only improve agreement (the standard IVFADC
    recall-recovery step). Thresholds pinned from measured behavior on the
    deterministic corpus — this is a regression tripwire, not a theorem."""
    emb = ctx["emb"]
    q = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_topk(emb, q, k=10).collect()
    top = {}
    for r in brute:
        top.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        hits = sum(
            1 for r in rows if r["neighbor_id"] in top.get(r["query_id"], ())
        )
        return hits / sum(len(v) for v in top.values())

    adc = pq.ivf_pq_topk(
        emb, q, k=10, n_probe=8, codebook=ctx["codebook"]
    ).collect()
    rr5 = pq.ivf_pq_topk(
        emb, q, k=10, n_probe=8, codebook=ctx["codebook"],
        rerank=True, rerank_factor=5,
    ).collect()
    rr10 = pq.ivf_pq_topk(
        emb, q, k=10, n_probe=8, codebook=ctx["codebook"],
        rerank=True, rerank_factor=10,
    ).collect()
    r_adc, r_rr5, r_rr10 = recall(adc), recall(rr5), recall(rr10)
    # measured on the deterministic corpus (random vectors — PQ's worst
    # case; real embeddings cluster and do far better): 0.30 / 0.66 / 0.84
    assert r_adc >= 0.2, r_adc  # ADC alone finds a real fraction
    assert r_rr5 >= max(r_adc, 0.55), r_rr5  # exact re-rank recovers
    assert r_rr10 >= max(r_rr5, 0.75), r_rr10  # wider short-list, more recall
    rr = rr10
    # ranks are dense 1..10 per query
    per_q: dict = {}
    for r in rr:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())


def test_precomputed_codes_path_matches_inline(ctx, spark):
    """The ingest-artifact deployment (codebook + codes table reused) must
    return exactly the inline derivation's rows."""
    emb = ctx["emb"]
    q = emb.where(F.col("vec_id") < 3)
    codes = pq.pq_encode(emb, ctx["codebook"]).localCheckpoint(eager=True)
    a = pq.ivf_pq_topk(emb, q, k=5, codebook=ctx["codebook"]).collect()
    b = pq.ivf_pq_topk(
        emb, q, k=5, codebook=ctx["codebook"], codes=codes
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, a), key=None) == sorted(map(tuple, b), key=None)


@pytest.mark.slow
def test_recall_on_clustered_corpus(spark):
    """The random driver embeddings are PQ's theoretical WORST case; real
    embedding corpora cluster. Pin the claim with a deterministic
    clustered corpus (20 Gaussian clusters, seeded): ADC recall jumps to
    ~0.74 and the factor-5 exact re-rank reaches 1.0 (measured; vs
    0.30/0.66 on the random corpus)."""
    rng = np.random.RandomState(7)
    centers = rng.randn(20, 64) * 3.0
    X = np.vstack([c + rng.randn(25, 64) * 0.4 for c in centers])
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq.pq_train(emb, m=8, n_codes=16, iters=3, train_rows=None)
    q = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_topk(emb, q, k=10).collect()
    top: dict = {}
    for r in brute:
        top.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows_):
        hits = sum(
            1 for r in rows_ if r["neighbor_id"] in top.get(r["query_id"], ())
        )
        return hits / sum(len(v) for v in top.values())

    adc = pq.ivf_pq_topk(emb, q, k=10, n_probe=8, codebook=cb).collect()
    rr = pq.ivf_pq_topk(
        emb, q, k=10, n_probe=8, codebook=cb, rerank=True, rerank_factor=5
    ).collect()
    assert recall(adc) >= 0.6
    assert recall(rr) >= 0.95


@pytest.mark.slow
def test_persisted_index_roundtrip_and_cli(ctx, spark, tmp_path, capsys):
    """write_pq_index / read_pq_index: the persisted ingest artifact
    (codebook.json + codes parquet) serves identically to the inline
    derivation, and `cli pqbuild` produces the same layout."""
    emb = ctx["emb"]
    out = str(tmp_path / "pqidx")
    cb = pq.write_pq_index(emb, out, m=8, n_codes=16, iters=3, train_rows=None)
    cb2, codes, rot = pq.read_pq_index(spark, out)
    assert cb2 == cb  # json round-trip is exact (floats serialized)
    assert rot is None  # plain-PQ index carries no rotation
    q = emb.where(F.col("vec_id") < 3)
    a = pq.ivf_pq_topk(emb, q, k=5, codebook=cb2, codes=codes).collect()
    b = pq.ivf_pq_topk(emb, q, k=5, codebook=ctx["codebook"]).collect()
    # cb was trained with the same params as ctx codebook -> same results
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    from treemachine_spark import cli

    out2 = str(tmp_path / "pqidx_cli")
    assert (
        cli.main(
            ["pqbuild", SF, out2, "--m", "8", "--codes", "16"]
        )
        == 0
    )
    assert "pq index at" in capsys.readouterr().out
    cb3, codes3, _ = pq.read_pq_index(spark, out2)
    assert len(cb3) == 8 and len(cb3[0]) == 16
    assert codes3.count() == emb.count()


def test_codes_without_codebook_rejected(ctx, spark):
    """ADVICE r6: a pre-encoded codes table with codebook=None would be
    scored against a freshly-trained codebook — silently meaningless ADC
    sums. Must raise instead."""
    emb = ctx["emb"]
    q = emb.where(F.col("vec_id") < 2)
    codes = pq.pq_encode(emb, ctx["codebook"])
    with pytest.raises(ValueError, match="requires the `codebook`"):
        pq.ivf_pq_topk(emb, q, k=5, codes=codes)


def _persisted(out, codebook, codes) -> str:
    """An index directory holding ``codebook`` and ``codes`` in
    write_pq_index's layout."""
    import json
    import os

    codes.write.mode("overwrite").parquet(os.path.join(out, "codes.parquet"))
    with open(os.path.join(out, "codebook.json"), "w") as fh:
        json.dump({"m": len(codebook), "n_codes": len(codebook[0]), "codebook": codebook}, fh)
    return str(out)


def test_mismatched_codes_shape_rejected(ctx, spark, tmp_path):
    """Codes encoded with different m / n_codes than the persisted codebook
    are caught by the shape probe when the index is loaded, not silently
    mis-scored."""
    emb = ctx["emb"]
    # m=4 codes vs the m=8 ctx codebook
    cb4 = pq.pq_train(emb, m=4, n_codes=16, iters=1, train_rows=200)
    codes4 = pq.pq_encode(emb, cb4)
    with pytest.raises(ValueError, match="does not match codebook"):
        pq.read_pq_index(spark, _persisted(tmp_path / "m4", ctx["codebook"], codes4))
    # out-of-range code values vs a narrower codebook
    cb8_small = [sub[:8] for sub in ctx["codebook"]]
    codes16 = pq.pq_encode(emb, ctx["codebook"])
    with pytest.raises(ValueError, match="does not match codebook"):
        pq.read_pq_index(spark, _persisted(tmp_path / "c8", cb8_small, codes16))


def test_loaded_codes_plan_starts_no_job(ctx, spark, tmp_path):
    """The shape probe runs once, where codes come in from disk: building
    the ivf_pq_topk plan that api/ann.AnnIndex builds for every pq request
    (loaded codes, precomputed cells, a local query frame) starts no Spark
    job."""
    emb = ctx["emb"]
    codebook, codes, rotation = pq.read_pq_index(
        spark, _persisted(tmp_path, ctx["codebook"], pq.pq_encode(emb, ctx["codebook"]))
    )
    cells = similarity.ivf_cells(emb, 4)
    sel = emb.select("vec_id", "embedding")
    q = spark.createDataFrame(sel.limit(2).toPandas(), sel.schema)
    sc = spark.sparkContext
    sc.setJobGroup("pq-plan", "ivf_pq_topk plan over loaded codes")
    try:
        pq.ivf_pq_topk(
            emb, q, k=5, codebook=codebook, codes=codes, rotation=rotation,
            rerank=True, cells=cells,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("pq-plan")) == []


def test_rotation_without_codebook_rejected(ctx, spark):
    """ADVICE r7: rotation with codebook=None would train a plain-PQ
    codebook on UNROTATED vectors and then encode/LUT in rotated space —
    silently degraded recall. Must raise instead."""
    emb = ctx["emb"]
    q = emb.where(F.col("vec_id") < 2)
    ident = np.eye(64).tolist()
    with pytest.raises(ValueError, match="`rotation` requires the `codebook`"):
        pq.ivf_pq_topk(emb, q, k=5, rotation=ident)


def test_degenerate_codes_rows_get_clean_diagnostic(ctx, spark, tmp_path):
    """ADVICE r7: an empty codes array used to crash the probe's error
    formatting with 'max() arg is an empty sequence', and a NULL codes
    value with a TypeError — both must surface the shape diagnostic."""
    emb = ctx["emb"]
    empty = emb.select("vec_id", F.array().cast("array<int>").alias("codes"))
    with pytest.raises(ValueError, match="codes empty"):
        pq.read_pq_index(spark, _persisted(tmp_path / "empty", ctx["codebook"], empty))
    nulls = emb.select(
        "vec_id", F.lit(None).cast("array<int>").alias("codes")
    )
    with pytest.raises(ValueError, match="codes=NULL"):
        pq.read_pq_index(spark, _persisted(tmp_path / "nulls", ctx["codebook"], nulls))


def test_opq_undersized_training_sample_rejected(ctx, spark):
    """ADVICE r7: _np_kmeans inits centroids as X[:k]; a sample smaller
    than n_codes would silently persist a codebook below the advertised
    m x n_codes shape. opq_train must refuse."""
    emb = ctx["emb"]
    with pytest.raises(ValueError, match="fewer than"):
        pq.opq_train(emb, m=8, n_codes=16, train_rows=8)


def test_pq_udfs_tolerate_empty_arrow_batch(ctx):
    """ADVICE r6: a zero-row Arrow batch reaches the UDF as a (0,) array
    with no shape[1] — both UDF bodies must short-circuit."""
    import pandas as pd

    enc = pq.pq_encode_udf(ctx["codebook"]).func
    assert list(enc(pd.Series([], dtype=object))) == []
    lut = pq._query_lut_udf(ctx["codebook"]).func
    assert list(lut(pd.Series([], dtype=object))) == []


@pytest.mark.slow
def test_opq_rotation_beats_plain_pq_on_correlated_corpus(spark):
    """VERDICT r6 #7: OPQ (learned orthogonal rotation before PQ, Ge et
    al. 2013) at IDENTICAL bytes per vector. Measured on deterministic
    corpora: isotropic clusters 0.74/0.74 (tie — nothing to rebalance),
    correlated clusters 0.84 -> 0.92, anisotropic-rotated 0.62 -> 0.68.
    Pin the correlated case (real embedding models are correlated; a
    tie would mean the rotation learns nothing)."""
    rng = np.random.RandomState(11)
    # correlated coordinates: decaying per-direction scales then a dense
    # orthogonal mix, so contiguous subspaces see wildly uneven variance
    A = rng.randn(64, 64) * (0.95 ** np.arange(64))[None, :]
    Q_, _ = np.linalg.qr(rng.randn(64, 64))
    centers = rng.randn(20, 64) * 3.0
    Z = np.vstack([c + rng.randn(25, 64) * 0.4 for c in centers])
    X = Z @ (A @ Q_)
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_topk(emb, q, k=10).collect()
    top: dict = {}
    for r in brute:
        top.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows_):
        hits = sum(
            1 for r in rows_ if r["neighbor_id"] in top.get(r["query_id"], ())
        )
        return hits / sum(len(v) for v in top.values())

    cb = pq.pq_train(emb, m=8, n_codes=16, iters=3, train_rows=None)
    rot, cbo = pq.opq_train(
        emb, m=8, n_codes=16, iters=3, opq_iters=8, train_rows=None
    )
    # the learned rotation is orthogonal (R R^T = I) — ADC scores stay
    # approximations of the ORIGINAL <q, x>
    R = np.asarray(rot)
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-8
    r_pq = recall(pq.ivf_pq_topk(emb, q, k=10, n_probe=8, codebook=cb).collect())
    r_opq = recall(
        pq.ivf_pq_topk(
            emb, q, k=10, n_probe=8, codebook=cbo, rotation=rot
        ).collect()
    )
    assert r_opq >= r_pq, (r_opq, r_pq)  # never worse at the same bytes
    assert r_opq >= 0.88 and r_pq <= 0.88  # measured 0.92 vs 0.84


def test_opq_persisted_index_roundtrip(spark, tmp_path):
    """write_pq_index(opq=True) persists the rotation inside
    codebook.json; the reloaded (codebook, codes, rotation) triple serves
    byte-identical results to the inline derivation."""
    rng = np.random.RandomState(11)
    X = rng.randn(300, 64) @ (rng.randn(64, 64) * (0.9 ** np.arange(64))[None, :])
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "opqidx")
    pq.write_pq_index(emb, out, m=8, n_codes=16, iters=2, train_rows=None, opq=True)
    cb, codes, rot = pq.read_pq_index(spark, out)
    assert rot is not None and len(rot) == 64
    q = emb.where(F.col("vec_id") < 3)
    a = pq.ivf_pq_topk(
        emb, q, k=5, codebook=cb, codes=codes, rotation=rot
    ).collect()
    rot2, cb2 = pq.opq_train(emb, m=8, n_codes=16, iters=2, train_rows=None)
    b = pq.ivf_pq_topk(emb, q, k=5, codebook=cb2, rotation=rot2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.slow
def test_persisted_cells_roundtrip(ctx, spark, tmp_path):
    """write_pq_index(n_centroids=) / read_ivf_cells: the persisted IVF
    cell assignment serves identically to the in-memory build — through
    the raw operators AND through AnnIndex.from_paths (which must pick
    the artifact up instead of re-running the corpus x centroids argmax
    at cold start)."""
    emb = ctx["emb"]
    out = str(tmp_path / "pqidx_cells")
    pq.write_pq_index(
        emb, out, m=8, n_codes=16, iters=3, train_rows=None, n_centroids=4
    )
    cells = pq.read_ivf_cells(spark, out)
    assert cells is not None
    cent, assigned = cells
    assert assigned.count() == emb.count()
    # dtype restored through the partition column round-trip
    assert dict(assigned.dtypes)["cent_id"] == "bigint"

    q = emb.where(F.col("vec_id") < 3)
    a = similarity.ivf_topk(emb, q, k=5, n_centroids=4, cells=cells).collect()
    b = similarity.ivf_topk(emb, q, k=5, n_centroids=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and a

    # an index without the artifact still loads (cells derived in-memory)
    assert pq.read_ivf_cells(spark, str(tmp_path / "nope")) is None

    from treemachine_spark.api.ann import AnnIndex

    idx = AnnIndex.from_paths(
        spark, f"{SF}/embeddings.parquet", out, n_centroids=4
    )
    vec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    got = idx.topk(vector=vec, k=5, method="ivf")
    # the query IS corpus vector 0; operator equality is covered above,
    # this pins that from_paths wired the artifact into serving
    assert got["neighbors"][0]["neighbor_id"] == 0
    assert [n["rank"] for n in got["neighbors"]] == [1, 2, 3, 4, 5]

    # r14 filtered ANN over an ARTIFACT-loaded index: the persisted cells
    # were written before/without metadata columns, so AnnIndex joins the
    # corpus metadata on ONCE at boot — a filtered request is then a pure
    # scan-side predicate on the cached cell table (never a per-request
    # join), and pq serving composes the filter with the exact re-rank
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    lbl = int(labels[0])
    assert "label" in dict(idx._cells[1].dtypes)
    for method in ("ivf", "pq"):
        fgot = idx.topk(
            vector=vec, k=5, method=method,
            filter={"col": "label", "op": "eq", "value": lbl},
        )
        assert fgot["neighbors"], method
        assert all(
            labels[n["neighbor_id"]] == lbl for n in fgot["neighbors"]
        ), method
        assert fgot["neighbors"][0]["neighbor_id"] == 0, method


@pytest.mark.slow
def test_pq_append_extends_persisted_index(ctx, spark, tmp_path):
    """pq_append: new vectors encoded with the STORED codebook and
    assigned against the STORED centroids — the appended index serves
    exactly like one whose codes/cells were derived for the full corpus
    with that same (half-trained) codebook and those same centroids."""
    emb = ctx["emb"]
    half = emb.where(F.col("vec_id") < 50)
    rest = emb.where(F.col("vec_id") >= 50)
    out = str(tmp_path / "pqidx_grow")
    cb = pq.write_pq_index(
        half, out, m=8, n_codes=16, iters=3, train_rows=None, n_centroids=4
    )
    n = pq.pq_append(rest, out)
    assert n == rest.count()

    cb2, codes, rot = pq.read_pq_index(spark, out)
    cells = pq.read_ivf_cells(spark, out)
    assert codes.count() == emb.count()
    assert cells[1].count() == emb.count()
    # centroids come from the half build (smallest ids live there), so the
    # reference is: encode/assign the FULL corpus with the stored artifacts
    q = emb.where(F.col("vec_id").isin(0, 60, 99))
    got = pq.ivf_pq_topk(
        emb, q, k=5, n_centroids=4, codebook=cb2, codes=codes,
        rotation=rot, cells=cells, rerank=True,
    ).collect()
    want = pq.ivf_pq_topk(
        emb, q, k=5, n_centroids=4, codebook=cb,
        codes=pq.pq_encode(emb, cb), rerank=True,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    # an appended vector is findable through the served index
    from treemachine_spark.api.ann import AnnIndex

    idx = AnnIndex.from_paths(spark, f"{SF}/embeddings.parquet", out, n_centroids=4)
    vec = [float(x) for x in emb.where(F.col("vec_id") == 60).head()["embedding"]]
    assert idx.topk(vector=vec, k=3, method="ivf")["neighbors"][0]["neighbor_id"] == 60


@pytest.mark.slow
def test_rerank_pool_artifact_default(spark, tmp_path):
    """r10 (r9 verdict #3): the recall-safe serving default. write_pq_index
    measures p95 cell occupancy and stores it as rerank_pool; AnnIndex
    sizes the exact re-rank pool from it when the client omits
    rerank_factor, so an uninformed client keeps high recall on dense
    clusters (where the old hard-wired k*5 collapsed); the explicit knob
    still wins; pq_append refreshes the stored pool."""
    from treemachine_spark.api.ann import AnnIndex

    rng = np.random.RandomState(3)
    centers = rng.randn(6, 16) * 12.0
    X = np.vstack([c + rng.randn(120, 16) * 0.05 for c in centers])
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "emb.parquet")
    emb.write.parquet(path)
    out = str(tmp_path / "pqidx_pool")
    pq.write_pq_index(
        emb, out, m=8, n_codes=16, iters=3, train_rows=None, n_centroids=6
    )
    meta = pq.read_pq_meta(out)
    # p95 occupancy of 720 rows over 6 cells: at least a full cluster
    assert meta["rerank_pool"] and meta["rerank_pool"] >= 100

    idx = AnnIndex.from_paths(spark, path, out, n_centroids=6)
    assert idx.rerank_pool == meta["rerank_pool"]
    qs = [[float(x) for x in X[i]] for i in (0, 120, 240)]
    brute = idx.topk(vectors=qs, k=10, method="brute")

    def recall(res):
        hits = 0
        for qi, got in enumerate(res["results"]):
            want = {n["neighbor_id"] for n in brute["results"][qi]}
            hits += len(want & {n["neighbor_id"] for n in got})
        return hits / (10 * len(qs))

    low = recall(idx.topk(vectors=qs, k=10, method="pq", rerank_factor=5))
    dflt = recall(idx.topk(vectors=qs, k=10, method="pq"))
    assert dflt >= 0.9, (dflt, low)
    assert low <= 0.7, (dflt, low)  # the old default really was unsafe here

    # pre-pool artifacts (no rerank_pool key) load with the legacy default
    import json
    import os

    blob = pq.read_pq_meta(out)
    blob.pop("rerank_pool")
    with open(os.path.join(out, "codebook.json"), "w") as fh:
        json.dump(blob, fh)
    assert pq.read_pq_meta(out)["rerank_pool"] is None
    legacy = AnnIndex.from_paths(spark, path, out, n_centroids=6)
    assert legacy.rerank_pool is None

    # pq_append refreshes the stored pool (occupancy changed)
    out2 = str(tmp_path / "pqidx_pool_grow")
    half = emb.where(F.col("vec_id") < 360)
    pq.write_pq_index(
        half, out2, m=8, n_codes=16, iters=3, train_rows=None, n_centroids=6
    )
    before = pq.read_pq_meta(out2)["rerank_pool"]
    pq.pq_append(emb.where(F.col("vec_id") >= 360), out2)
    after = pq.read_pq_meta(out2)["rerank_pool"]
    assert after is not None and after >= before
