"""Product quantization (PQ) for embedding columns: train per-subspace
codebooks, compress vectors to m small codes, and serve IVF-PQ top-k with
asymmetric distance computation (ADC).

Beyond-reference (the reference has no vector surface at all); this is the
standard memory/IO-compression layer of billion-vector ANN serving
(Jégou, Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 33(1); the IVFADC layout FAISS ships as its default).
Why it matters at 100 TB: the existing IVF path (`similarity.ivf_topk`)
still reads every candidate's FULL float vector inside the probed cells —
dim·4 bytes per candidate. PQ stores m uint8-scale codes per vector
(dim=64, m=8 → 8 bytes vs 256: a 32× scan reduction), and a query scores a
candidate with m lookup-table adds instead of a dim-length dot product.
Recall is the PQ approximation trade-off; the re-rank of the returned
short-list against exact vectors (a request-scale join) is the standard
recovery step and composes with `similarity.brute_force_topk`.

Spark shapes:

- **train** on a deterministic bounded sample (smallest-id rows — FAISS
  trains its codebooks on ~100k samples for billion-vector indexes too),
  one `kmeans_fit` per subspace over SLICED vectors; the codebook is
  driver-side kilobytes.
- **encode** is one Arrow-batched pandas UDF pass (a single numpy
  distance computation per batch against the broadcast codebook) — a
  per-row map, no shuffle; write the (id, codes) table once at ingest.
- **serve**: the query side precomputes its (m × n_codes) LUT of exact
  subvector dots (Arrow pass over the query set — request-scale), probes
  its n_probe best coarse cells exactly like `ivf_topk`, and scores
  candidates JVM-side with `aggregate(zip_with(codes, sequence), ...)` —
  m `element_at` adds per candidate inside codegen, never touching the
  float vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from treemachine_spark.functions.similarity import int_dot, quantize
from treemachine_spark.io.tables import row_count


def _subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """Contiguous subspace (start, length) pairs; dim need not divide m
    evenly (trailing subspaces are one shorter, like numpy.array_split)."""
    base, extra = divmod(dim, m)
    out, pos = [], 0
    for s in range(m):
        ln = base + (1 if s < extra else 0)
        out.append((pos, ln))
        pos += ln
    return out


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 5,
    train_rows: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train the PQ codebook: one small k-means (`similarity.kmeans_fit` —
    deterministic smallest-id init, literal-centroid E-step) per contiguous
    subspace over the sliced vectors. ``train_rows`` bounds the training
    sample deterministically (smallest ids); None trains on everything.

    Returns ``codebook[s][c] -> list[float]`` (m × n_codes × sub_dim),
    driver-side and broadcast-sized (dim · n_codes doubles total).
    """
    from treemachine_spark.functions.similarity import kmeans_fit

    dim = len(
        embeddings.select(F.col(vec_col).alias("v")).limit(1).collect()[0]["v"]
    )
    base = embeddings
    if train_rows is not None:
        base = base.orderBy(id_col).limit(train_rows)
    base = base.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_vec")
    ).localCheckpoint(eager=True)  # m k-means runs share one materialization
    codebook = []
    for start, ln in _subspace_bounds(dim, m):
        sliced = base.select(
            F.col(id_col), F.slice("_vec", start + 1, ln).alias("sub")
        )
        cents, _, _ = kmeans_fit(
            sliced, k=n_codes, iters=iters, id_col=id_col, vec_col="sub"
        )
        rows = sorted(cents.collect(), key=lambda r: r["cent_id"])
        codebook.append([list(map(float, r["centroid"])) for r in rows])
    return codebook


def _np_kmeans(X, k: int, iters: int):
    """Deterministic driver-side Lloyd for OPQ's inner loop: init = first k
    rows (the training sample is already smallest-id-ordered, matching
    kmeans_fit's init discipline); empty clusters keep their centroid."""
    import numpy as np

    cents = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cents[c] = X[mask].mean(axis=0)
    return cents


def _np_pq_train(X, m: int, n_codes: int, iters: int):
    """numpy PQ codebook over an in-memory (sample) matrix: one _np_kmeans
    per contiguous subspace. Used only inside opq_train's alternation."""
    bounds = _subspace_bounds(X.shape[1], m)
    return [
        _np_kmeans(X[:, s : s + ln], n_codes, iters) for s, ln in bounds
    ]


def _np_pq_reconstruct(X, cbs):
    """Encode-then-decode an in-memory matrix against numpy codebooks:
    each subvector snaps to its nearest codeword. The OPQ target matrix."""
    import numpy as np

    m = len(cbs)
    bounds = _subspace_bounds(X.shape[1], m)
    Y = np.empty_like(X)
    for s, (start, ln) in enumerate(bounds):
        sub = X[:, start : start + ln]
        d = -2.0 * (sub @ cbs[s].T) + (cbs[s] * cbs[s]).sum(axis=1)[None, :]
        Y[:, start : start + ln] = cbs[s][d.argmin(axis=1)]
    return Y


def opq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 5,
    opq_iters: int = 8,
    train_rows: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """OPQ (Ge, He, Ke, Sun 2013, "Optimized Product Quantization for
    Approximate Nearest Neighbor Search", CVPR): learn an orthogonal
    rotation R that minimizes PQ reconstruction error before slicing into
    subspaces, by alternating (a) PQ codebook training on the rotated
    sample with (b) the orthogonal-Procrustes solve
    ``min_R ||X R^T - Y||_F`` (SVD of ``X^T Y``) against the
    reconstruction Y. Plain PQ quantizes CONTIGUOUS coordinate blocks, so
    it loses recall when variance is unevenly spread or correlated across
    coordinates (any real embedding model); the rotation rebalances
    variance across subspaces at ZERO serving cost beyond one matmul in
    the encode/LUT UDFs — same m·n_codes bytes per vector.

    Training is driver-side numpy over the deterministic bounded sample
    (``train_rows`` smallest ids — the same FAISS train-on-sample
    discipline as pq_train; the alternation re-encodes the sample every
    iteration, which distributed k-means would pay a Spark job for per
    subspace per iteration). Returns ``(rotation, codebook)`` ready for
    ``pq_encode(..., rotation=...)`` / ``ivf_pq_topk(..., rotation=...)``.
    """
    import numpy as np

    base = embeddings
    if train_rows is not None:
        base = base.orderBy(id_col).limit(train_rows)
    rows = base.select(F.col(id_col), F.col(vec_col).alias("v")).collect()
    X = np.asarray(
        [r["v"] for r in sorted(rows, key=lambda r: r[0])], dtype=np.float64
    )
    if X.shape[0] < n_codes:
        # _np_kmeans inits centroids as X[:k]; fewer sample rows than codes
        # would silently persist a codebook smaller than the advertised
        # m x n_codes index shape (ADVICE r7) — refuse instead
        raise ValueError(
            f"opq_train: training sample has {X.shape[0]} rows, fewer than "
            f"n_codes={n_codes}; lower n_codes or raise train_rows"
        )
    dim = X.shape[1]
    R = np.eye(dim)
    for _ in range(opq_iters):
        Xr = X @ R.T
        cbs = _np_pq_train(Xr, m, n_codes, iters)
        Y = _np_pq_reconstruct(Xr, cbs)
        # Procrustes: min over orthogonal Omega of ||X Omega - Y||_F with
        # Omega = R^T  ->  Omega = U V^T for X^T Y = U S V^T
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = (U @ Vt).T
    cbs = _np_pq_train(X @ R.T, m, n_codes, iters)
    return (
        [[float(x) for x in row] for row in R],
        [[[float(x) for x in c] for c in cb] for cb in cbs],
    )


def pq_encode_udf(codebook, rotation=None):
    """pandas UDF: embedding -> array<int> of m PQ codes (per-subspace
    squared-L2 argmin against the broadcast codebook; ties break to the
    lowest code id via numpy argmin's first-match). One vectorized numpy
    distance computation per Arrow batch; the codebook rides the closure.
    ``rotation`` (OPQ, Ge et al. 2013) applies the learned orthogonal
    dim×dim matrix before slicing — one extra matmul per batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebook]  # (K, L_s)
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64)
    bounds_cache: dict[int, list[tuple[int, int]]] = {}

    def _f(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch: (0,) array has no shape[1]
            return pd.Series([], dtype=object)
        X = np.asarray(list(vecs), dtype=np.float64)  # (n, dim)
        if rot is not None:
            X = X @ rot.T  # x' = R x, row form
        bounds = bounds_cache.setdefault(
            X.shape[1], _subspace_bounds(X.shape[1], len(cbs))
        )
        codes = np.empty((X.shape[0], len(cbs)), dtype=np.int32)
        for s, (start, ln) in enumerate(bounds):
            sub = X[:, start : start + ln]  # (n, L)
            cb = cbs[s]  # (K, L)
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant in c
            d = -2.0 * (sub @ cb.T) + (cb * cb).sum(axis=1)[None, :]
            codes[:, s] = d.argmin(axis=1)
        return pd.Series([row.tolist() for row in codes])

    return pandas_udf(_f, ArrayType(IntegerType()), PandasUDFType.SCALAR)


def pq_encode(
    embeddings: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
) -> DataFrame:
    """(id, codes): the compressed corpus — m ints per vector instead of
    dim floats. Write once at ingest; every ADC query reads ONLY this.
    ``rotation`` must be the OPQ matrix the codebook was trained with."""
    return embeddings.select(
        F.col(id_col),
        pq_encode_udf(codebook, rotation)(F.col(vec_col)).alias("codes"),
    )


def _query_lut_udf(codebook, rotation=None):
    """pandas UDF: query embedding -> flat array<double> LUT of length
    m*n_codes, LUT[s*K + c] = <query_sub_s, codebook[s][c]> (exact float64
    dots). Request-scale work — one small matmul per query batch. With an
    OPQ ``rotation`` the query is rotated first: R is orthogonal, so the
    ADC sum approximates <Rq, Rx> = <q, x> — scores stay comparable to
    the unrotated exact ranking."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebook]
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64)
    bounds_cache: dict[int, list[tuple[int, int]]] = {}

    def _f(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch: (0,) array has no shape[1]
            return pd.Series([], dtype=object)
        X = np.asarray(list(vecs), dtype=np.float64)
        if rot is not None:
            X = X @ rot.T
        bounds = bounds_cache.setdefault(
            X.shape[1], _subspace_bounds(X.shape[1], len(cbs))
        )
        parts = [
            X[:, start : start + ln] @ cbs[s].T  # (n, K)
            for s, (start, ln) in enumerate(bounds)
        ]
        lut = np.concatenate(parts, axis=1)  # (n, m*K)
        return pd.Series([row.tolist() for row in lut])

    return pandas_udf(_f, ArrayType(DoubleType()), PandasUDFType.SCALAR)


def adc_score(codes, lut, n_codes: int):
    """JVM-side asymmetric distance: sum over subspaces of
    LUT[s*K + codes[s]] — m element_at adds in codegen, no vector math.
    ``codes``/``lut`` are Columns; returns the approximate <q, x>."""
    return F.aggregate(
        F.zip_with(
            codes,
            F.sequence(F.lit(0), F.size(codes) - 1),
            lambda c, s: F.element_at(lut, (s * n_codes + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    codebook=None,
    codes: DataFrame | None = None,
    rotation=None,
    rerank: bool = False,
    rerank_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells=None,
    where=None,
) -> DataFrame:
    """IVF-PQ (IVFADC) top-k: coarse cells exactly like ``ivf_topk``
    (deterministic smallest-id centroids, broadcast argmax assignment,
    n_probe best cells per query), but in-cell scoring reads ONLY the m
    PQ codes per candidate and sums m LUT entries (``adc_score``).

    ``codebook``/``codes`` accept a pre-trained codebook and a
    pre-encoded (id, codes) table — the ingest-artifact deployment, whose
    shapes read_pq_index checks once at load; both are derived on the fly
    when omitted. ``rotation`` is the OPQ matrix
    the codebook was trained with (opq_train): it rotates the on-the-fly
    encode and the query LUT; coarse cells and the exact re-rank use the
    ORIGINAL vectors (rotation is orthogonal — rankings are invariant).
    ``rerank=True`` re-scores the
    ADC short-list (``rerank_factor``·k per query) against the exact
    quantized vectors —
    a request-scale join, the standard PQ recall-recovery step — and
    returns exact integer scores for the final top-k.

    Returns (query_id, neighbor_id, score, rank); score is the ADC
    approximation of <q, x> unless rerank (then the exact quantized dot).

    ``where`` (Column or SQL string over corpus metadata columns) is the
    filtered-ANN predicate, applied to the CELL ASSIGNMENT before the
    codes join — so the ADC pass, the short-list, and the exact re-rank
    all see only matching candidates and k fills with the true filtered
    top-k (post-filtering an unfiltered short-list silently under-fills;
    see similarity._where_col). The re-rank recall statement composes
    with filtering: the ADC short-list (rerank_factor·k) is drawn from
    matching rows only, so the pool-must-cover-the-densest-cluster rule
    applies to the FILTERED cluster occupancy.
    """
    if codes is not None and codebook is None:
        # a freshly-trained codebook cannot score someone else's codes —
        # the ADC sums would be silently meaningless
        raise ValueError(
            "ivf_pq_topk: `codes` requires the `codebook` those codes were "
            "encoded with (read both via read_pq_index)"
        )
    if rotation is not None and codebook is None:
        # training a plain-PQ codebook on UNROTATED vectors and then
        # encoding/LUT-ing in rotated space would silently degrade recall
        # (ADVICE r7) — a rotation only makes sense with the codebook
        # opq_train learned alongside it
        raise ValueError(
            "ivf_pq_topk: `rotation` requires the `codebook` it was trained "
            "with (both come from opq_train / read_pq_index)"
        )
    if codebook is None:
        codebook = pq_train(
            embeddings, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
        )
    if codes is None:
        codes = pq_encode(embeddings, codebook, id_col, vec_col, rotation)
    n_codes = len(codebook[0])

    # coarse cells: a precomputed similarity.ivf_cells artifact when the
    # caller serves many requests (api/ann.AnnIndex — the per-call rebuild
    # was the serving bench's whole latency), derived on the fly otherwise
    from treemachine_spark.functions.similarity import _where_col, ivf_cells

    if cells is not None:
        cent, cell_assign = cells
    else:
        meta = tuple(
            c for c in embeddings.columns if c not in (id_col, vec_col)
        ) if where is not None else ()
        cent, cell_assign = ivf_cells(embeddings, n_centroids, id_col, vec_col, meta)
    # the filter lands on the cell table BEFORE the codes join: the probe
    # scan, ADC ranking, and re-rank short-list never see non-matching rows
    filtered_assign = (
        cell_assign.where(_where_col(where)) if where is not None else cell_assign
    )
    assigned = (
        filtered_assign.select("neighbor_id", "cent_id")
        # the compressed candidate table: cell + m codes per vector — at
        # 100 TB this (not the float vectors) is the stored index
        .join(codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(F.col(vec_col)).alias("qv"),
        _query_lut_udf(codebook, rotation)(F.col(vec_col)).alias("lut"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qscore"), "cent_id")
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qv",
            "lut",
            "cent_id",
            int_dot(F.col("qv"), F.col("cvec")).alias("qscore"),
        )
        .withColumn("prn", F.row_number().over(w_probe))
        .where(F.col("prn") <= n_probe)
        .select("query_id", "qv", "lut", "cent_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qv",
            "neighbor_id",
            adc_score(F.col("codes"), F.col("lut"), n_codes).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    if not rerank:
        out = scored.select("query_id", "neighbor_id", F.col("adc").alias("score"))
        return (
            out.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
        )
    # short-list by ADC, then exact re-rank against the quantized vectors
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    short = (
        scored.withColumn("srn", F.row_number().over(w_adc))
        .where(F.col("srn") <= rerank_factor * k)
        .select("query_id", "qv", "neighbor_id")
    )
    # the short-list is request-scale (rerank_factor*k per query) — hint it
    # broadcast so the exact re-rank never shuffles the corpus vectors
    # (Spark's size estimate sees the corpus-joined lineage, not the limit)
    # re-rank pool size is KNOWN statically per query (rerank_factor*k):
    # the tier pick needs only |queries| (request-scale)
    from treemachine_spark.functions.similarity import candidate_dot

    n_candidates = row_count(queries) * rerank_factor * k
    exact = cell_assign.select("neighbor_id", "cv").join(
        F.broadcast(short), "neighbor_id"
    ).select(
        # candidate dot auto-tiered (r15): the pool is request-scale
        # (rerank_factor*k per query) and the r14 pair_dot_udf A/B showed
        # Python task roundtrips beat the fold only past ~10^4 rows/task —
        # candidate_dot picks by size (similarity.ivf_topk's note)
        "query_id", "neighbor_id",
        candidate_dot(
            F.col("qv"), F.col("cv"), n_candidates, queries.sparkSession
        ).alias("score"),
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def write_pq_index(
    embeddings: DataFrame,
    out_dir: str,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 5,
    train_rows: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    opq: bool = False,
    n_centroids: int | None = None,
) -> list:
    """Build and PERSIST the PQ index — the ingest-artifact deployment:
    ``<out_dir>/codebook.json`` (driver-side kilobytes, with the OPQ
    rotation when ``opq=True``) plus ``<out_dir>/codes.parquet`` (the
    m-ints-per-vector compressed corpus, the only thing ADC serving
    scans). With ``n_centroids`` the IVF cell assignment
    (similarity.ivf_cells) persists too — ``cells.parquet`` partitioned
    by cell + ``centroids.parquet`` — so a serving process
    (api/ann.AnnIndex.from_paths) loads the whole index cold instead of
    re-running the corpus × centroids argmax at startup (at corpus scale
    that rebuild is an ingest job, not a boot step). Returns the
    codebook."""
    import json
    import os

    rotation = None
    if opq:
        rotation, codebook = opq_train(
            embeddings, m=m, n_codes=n_codes, iters=iters,
            train_rows=train_rows, id_col=id_col, vec_col=vec_col,
        )
    else:
        codebook = pq_train(
            embeddings, m=m, n_codes=n_codes, iters=iters,
            train_rows=train_rows, id_col=id_col, vec_col=vec_col,
        )
    os.makedirs(out_dir, exist_ok=True)
    pq_encode(embeddings, codebook, id_col, vec_col, rotation).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "codes.parquet"))
    rerank_pool = None
    if n_centroids is not None:
        from treemachine_spark.functions.similarity import ivf_cells

        cent, assigned = ivf_cells(embeddings, n_centroids, id_col, vec_col)
        assigned.repartition(n_centroids, "cent_id").write.mode(
            "overwrite"
        ).partitionBy("cent_id").parquet(os.path.join(out_dir, "cells.parquet"))
        cent.write.mode("overwrite").parquet(
            os.path.join(out_dir, "centroids.parquet")
        )
        # recall-safe serving default (r9 verdict #3): ADC separates
        # clusters, not neighbors WITHIN one — a tight cluster's members
        # share nearly the same code, so the exact re-rank pool must
        # cover the query's cluster or top-k recall collapses (measured
        # 0.13 at the old hard-wired k*5 on a 400-per-cluster corpus).
        # Cell occupancy is the build-time proxy for cluster density:
        # store the p95 as the recommended re-rank pool so an uninformed
        # client gets safe recall by default (max would let one giant
        # boilerplate cell tax every query; the client knob remains).
        rerank_pool = _cell_occupancy_pool(embeddings.sparkSession, out_dir)
    with open(os.path.join(out_dir, "codebook.json"), "w") as fh:
        json.dump(
            {
                "m": m,
                "n_codes": n_codes,
                "codebook": codebook,
                "rotation": rotation,
                "rerank_pool": rerank_pool,
            },
            fh,
        )
    return codebook


def _cell_occupancy_pool(spark, out_dir: str) -> int | None:
    """p95 IVF cell occupancy of the persisted cells artifact — the
    recommended exact-re-rank pool size stored in the PQ index meta
    (AnnIndex derives its rerank_factor default from it)."""
    import math

    cells = read_ivf_cells(spark, out_dir)
    if cells is None:
        return None
    occ = sorted(
        r["c"]
        for r in cells[1]
        .groupBy("cent_id")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    if not occ:
        return None
    return int(occ[min(len(occ) - 1, max(0, math.ceil(0.95 * len(occ)) - 1))])


def read_pq_meta(out_dir: str) -> dict:
    """The PQ artifact's full meta blob (m, n_codes, codebook, rotation,
    rerank_pool) — read_pq_index's raw form for consumers that need the
    serving hints too (AnnIndex.from_paths)."""
    import json
    import os

    with open(os.path.join(out_dir, "codebook.json")) as fh:
        blob = json.load(fh)
    blob.setdefault("rerank_pool", None)
    return blob


def read_pq_index(spark, out_dir: str):
    """(codebook, codes DataFrame, rotation) persisted by
    :func:`write_pq_index` — feed them into
    ``ivf_pq_topk(codebook=..., codes=..., rotation=...)`` so serving
    never re-trains or re-encodes. ``rotation`` is None for plain-PQ
    indexes (including every pre-OPQ index on disk)."""
    import json
    import os

    with open(os.path.join(out_dir, "codebook.json")) as fh:
        blob = json.load(fh)
    # pq_append may have landed from another process: refresh the cached
    # file listing (r12 sharded-soak lesson)
    spark.catalog.refreshByPath(os.path.join(out_dir, "codes.parquet"))
    codes = spark.read.parquet(os.path.join(out_dir, "codes.parquet"))
    _check_codes(blob["codebook"], codes)
    return blob["codebook"], codes, blob.get("rotation")


def _check_codes(codebook, codes: DataFrame) -> None:
    """LIMIT-bounded shape probe of loaded codes against their codebook
    (the v4 guard discipline): never a full-table scan, but enough rows to
    catch codes encoded with another m or n_codes. It runs once per load,
    so serving a request over the loaded codes starts no job for it."""
    probe = [r["c"] for r in codes.select(F.col("codes").alias("c")).limit(256).collect()]

    # a NULL codes value is itself the offense — len()/iteration on it
    # (or max() of an empty array) would mask the diagnostic with a
    # TypeError / 'max() arg is an empty sequence' (ADVICE r7)
    def _row_shape(row):
        if row is None:
            return "codes=NULL"
        if len(row) != len(codebook) or any(c < 0 or c >= len(codebook[0]) for c in row):
            return f"m={len(row)}" + (f", max_code={max(row)}" if row else ", codes empty")
        return None

    bad = next((s for s in map(_row_shape, probe) if s is not None), None)
    if bad is not None:
        raise ValueError(
            f"read_pq_index: codes shape ({bad}) does not match "
            f"codebook (m={len(codebook)}, n_codes={len(codebook[0])})"
        )


def pq_append(
    new_embeddings: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally maintain a persisted index: encode NEW vectors with
    the STORED codebook (+rotation) and append their codes — and, when
    the index carries the IVF cell artifact, assign them against the
    STORED centroids and append their cells. Nothing is retrained and no
    existing row is touched, so an append costs one pass over the new
    rows only — the production freshness path between full rebuilds
    (codebook/centroid drift is a rebuild decision, not an append one).
    The caller owns id uniqueness across appends, as with any keyed
    table (operators/versioned.merge_upsert is the dedup tool when ids
    can collide). A LIVE server's AnnIndex holds its loaded snapshot
    (cached frames) and will not see appends — republish via a fresh
    from_paths + swap, the same snapshot contract as the tree store's
    swap_store. Returns the number of rows appended."""
    spark = new_embeddings.sparkSession
    codebook, _, rotation = read_pq_index(spark, out_dir)
    import os

    n = new_embeddings.count()
    pq_encode(new_embeddings, codebook, id_col, vec_col, rotation).write.mode(
        "append"
    ).parquet(os.path.join(out_dir, "codes.parquet"))
    cells = read_ivf_cells(spark, out_dir)
    if cells is not None:
        from treemachine_spark.functions.similarity import ivf_assign

        cent, _ = cells
        ivf_assign(new_embeddings, cent, id_col, vec_col).write.mode(
            "append"
        ).partitionBy("cent_id").parquet(os.path.join(out_dir, "cells.parquet"))
        # appended vectors shift cell occupancy — refresh the stored
        # recommended re-rank pool so republished snapshots keep the
        # recall-safe default (one cells-scale agg over the artifact)
        import json

        blob = read_pq_meta(out_dir)
        blob["rerank_pool"] = _cell_occupancy_pool(spark, out_dir)
        with open(os.path.join(out_dir, "codebook.json"), "w") as fh:
            json.dump(blob, fh)
    return n


def read_ivf_cells(spark, out_dir: str):
    """The persisted ``similarity.ivf_cells`` artifact written by
    ``write_pq_index(n_centroids=...)``: (centroids, assigned) ready for
    ``ivf_topk/ivf_pq_topk(cells=...)``, or None when the index on disk
    predates cell persistence (the caller derives cells itself)."""
    import os

    path = os.path.join(out_dir, "centroids.parquet")
    if not os.path.exists(path):
        return None
    cent = spark.read.parquet(path)
    spark.catalog.refreshByPath(os.path.join(out_dir, "cells.parquet"))
    assigned = spark.read.parquet(os.path.join(out_dir, "cells.parquet")).select(
        # partition-column inference narrows cent_id to int — restore the
        # id dtype so the probe join keys match without implicit casts
        "neighbor_id", "cv", F.col("cent_id").cast("long").alias("cent_id")
    )
    return cent, assigned
