"""ANN serving surface: a loaded vector index behind POST
/v3/similarity/topk (beyond-reference — the reference has no vector
search; this completes the pipeline family's ingest -> index -> SERVE
loop the way api/server.py's stats routes do for sketches).

Serving shape: the corpus stays a cached DataFrame (at cluster scale a
bucketed table); each request is ONE broadcast of a single-row
LocalRelation query frame against the chosen operator —
``brute_force_topk`` (exact, linear scan), ``ivf_topk`` (coarse cells),
or ``ivf_pq_topk`` over a persisted PQ index (``functions/pq.py``
read_pq_index artifact: ADC scoring over codes, exact re-rank). Scores
are the engine's exact integer quantized dots, so responses are
deterministic and cacheable under the server's snapshot contract. The
operators' dot-product tiers size themselves through
``io.tables.row_count``, which reads the materialized corpus cache and
the LocalRelation query frame from plan statistics: no count job per
request, provided the corpus is cached (``from_paths`` caches it).
"""

from __future__ import annotations

from treemachine_spark.api.errors import BadInputError

MAX_K = 1000
# batch lookups stay request-scale: the query frame is a broadcast
# LocalRelation, so its size is part of the serving contract
MAX_BATCH = 256


class AnnIndex:
    """A served vector corpus + optional PQ index artifact.

    ``methods``: "brute" (exact), "ivf" (coarse cells + in-cell exact),
    "pq" (IVFADC over the persisted codes, exact re-rank) — "pq" only
    when a PQ artifact is loaded; the default method is the best loaded
    tier (pq if present, else ivf).
    """

    def __init__(
        self,
        embeddings,
        codebook=None,
        codes=None,
        rotation=None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 8,
        cells=None,
        rerank_pool: int | None = None,
    ):
        self.embeddings = embeddings
        self.codebook = codebook
        self.codes = codes
        self.rotation = rotation
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_centroids = n_centroids
        # recall-safe PQ serving default (r9 verdict #3): the artifact's
        # measured p95 cell occupancy — when the client doesn't pass
        # rerank_factor, the exact re-rank pool is sized to cover a
        # typical cell so dense-cluster recall doesn't silently collapse
        self.rerank_pool = rerank_pool
        # query frames use synthetic ids -1..-n (outside any corpus id
        # space), so the served id column must be a signed integral type —
        # a string/decimal id would make the operators' query_id !=
        # neighbor_id exclusion and the cell joins compare mismatched
        # types through implicit casts (ADVICE r8). Validated here, at
        # construction, not per request.
        id_type = dict(embeddings.dtypes).get(id_col)
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise BadInputError(
                f"ANN index requires an integral id column; {id_col!r} is "
                f"{id_type!r}"
            )
        # byte/short corpora upcast exactly into int (batch ids reach
        # -MAX_BATCH, past tinyint's floor); int/long keep their own type
        self._query_id_type = id_type if id_type in ("int", "bigint") else "int"
        head = embeddings.select(vec_col).head()
        if head is None:
            raise BadInputError("ANN index: embeddings table is empty")
        self.dim = len(head[0])
        # metadata columns servable as filtered-ANN predicates (everything
        # on the corpus besides id + vector: lang, label, source, ...)
        self.meta_cols = tuple(
            c for c in embeddings.columns if c not in (id_col, vec_col)
        )
        # the IVF cell assignment is the INDEX-BUILD step — load the
        # persisted artifact (write_pq_index(n_centroids=)) or compute it
        # once here and cache it; every ivf/pq request re-running the
        # corpus × centroids argmax is what the r8 serving bench measured
        # at 4-6 s per request against 200k vectors (with the cached
        # artifact a request only scans the probed cells). Repartitioned
        # by cell so the cached batches are cell-pure.
        if cells is None:
            from treemachine_spark.functions.similarity import ivf_cells

            cent, assigned = ivf_cells(
                embeddings, n_centroids, id_col, vec_col, self.meta_cols
            )
            assigned = assigned.repartition(n_centroids, "cent_id")
        else:
            cent, assigned = cells
            # an artifact built before filtered ANN (or with fewer
            # meta_cols) gets the metadata joined on ONCE at boot — so a
            # filtered request stays a scan-side predicate on the cached
            # cell table, never a per-request join back to the corpus
            missing = [c for c in self.meta_cols if c not in assigned.columns]
            if missing:
                from pyspark.sql import functions as F

                assigned = assigned.join(
                    embeddings.select(
                        F.col(id_col).alias("neighbor_id"), *missing
                    ),
                    "neighbor_id",
                )
        assigned = assigned.cache()
        assigned.count()  # materialize the cell cache at boot
        self._cells = (cent.cache(), assigned)

    @classmethod
    def from_paths(cls, spark, emb_path: str, pq_dir: str | None = None, **kw):
        """Load the serving corpus (cached — the snapshot every request
        scans) and, when given, the persisted PQ artifact."""
        # cross-process appends: refresh the cached file listing (same
        # reasoning as DedupIndex.from_path — a stale listing serves a
        # pre-append corpus as if fresh)
        spark.catalog.refreshByPath(emb_path)
        emb = spark.read.parquet(emb_path).cache()
        emb.count()
        codebook = codes = rotation = cells = rerank_pool = None
        if pq_dir is not None:
            from treemachine_spark.functions.pq import (
                read_ivf_cells,
                read_pq_index,
                read_pq_meta,
            )

            codebook, codes, rotation = read_pq_index(spark, pq_dir)
            codes = codes.cache()
            codes.count()
            # persisted cell assignment (pqbuild --n-centroids): cold
            # start skips the corpus x centroids argmax entirely
            cells = read_ivf_cells(spark, pq_dir)
            rerank_pool = read_pq_meta(pq_dir)["rerank_pool"]
        return cls(
            emb, codebook, codes, rotation, cells=cells,
            rerank_pool=rerank_pool, **kw,
        )

    def unpersist(self) -> None:
        """Release this snapshot's cached DataFrames (embeddings, PQ
        codes, the IVF cell assignment + centroids; no-ops on uncached
        frames). Called by ServerCore.swap_indexes on the REPLACED
        snapshot so repeated republishes don't accumulate dead executor
        cache (r9 ADVICE); non-blocking — an in-flight request against
        the old snapshot merely recomputes."""
        cent, assigned = self._cells
        for df in (self.embeddings, self.codes, cent, assigned):
            if df is None:
                continue
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass

    def _query_frame(self, vectors):
        import pandas as pd

        spark = self.embeddings.sparkSession
        # pandas -> LocalRelation under Arrow; ids -1..-n are outside the
        # corpus id space so the operators' self-exclusion never triggers
        # (query i = id -(i+1))
        pdf = pd.DataFrame(
            {
                self.id_col: [-(i + 1) for i in range(len(vectors))],
                self.vec_col: list(vectors),
            }
        )
        schema = f"{self.id_col} {self._query_id_type}, {self.vec_col} array<double>"
        return spark.createDataFrame(pdf, schema=schema)

    _FILTER_OPS = ("eq", "ne", "in")

    def _compile_filter(self, spec):
        """Validate + compile the route's structured ``filter`` arg into a
        Spark Column over the index's metadata columns.

        The wire shape is deliberately restricted (no raw SQL from the
        network): one ``{"col", "op", "value"}`` clause or a list of them
        (ANDed); ``op`` in eq/ne/in; values are JSON scalars. The compiled
        predicate is applied INSIDE the corpus/cell scan by the operators
        (similarity._where_col contract), so k fills with the true
        filtered top-k — never a post-filtered, under-filled list.
        """
        from pyspark.sql import functions as F

        clauses = spec if isinstance(spec, list) else [spec]
        if not clauses:
            raise BadInputError("'filter' must be a clause or non-empty list")
        out = None
        for c in clauses:
            if not isinstance(c, dict) or set(c) != {"col", "op", "value"}:
                raise BadInputError(
                    "each 'filter' clause must be {'col', 'op', 'value'}"
                )
            col, op, val = c["col"], c["op"], c["value"]
            if col not in self.meta_cols:
                raise BadInputError(
                    f"'filter' column {col!r} is not a metadata column of "
                    f"this index (available: {list(self.meta_cols)})"
                )
            if op not in self._FILTER_OPS:
                raise BadInputError(
                    f"'filter' op {op!r} must be one of {list(self._FILTER_OPS)}"
                )

            def _scalar(v):
                return isinstance(v, (str, int, float)) and not isinstance(v, bool)

            if op == "in":
                if (
                    not isinstance(val, (list, tuple))
                    or not val
                    or not all(_scalar(v) for v in val)
                ):
                    raise BadInputError(
                        "'filter' op 'in' needs a non-empty list of scalars"
                    )
                clause = F.col(col).isin(list(val))
            else:
                if not _scalar(val):
                    raise BadInputError(
                        "'filter' value must be a string or number"
                    )
                clause = (
                    F.col(col) == F.lit(val) if op == "eq"
                    else F.col(col) != F.lit(val)
                )
            out = clause if out is None else (out & clause)
        return out

    @staticmethod
    def _check_vec(v, dim, what):
        if not isinstance(v, (list, tuple)) or not v or not all(
            isinstance(x, (int, float)) and not isinstance(x, bool) for x in v
        ):
            raise BadInputError(f"{what} must be a non-empty list of numbers")
        if len(v) != dim:
            raise BadInputError(
                f"{what} has {len(v)} dimensions; the index serves "
                f"{dim}-dimensional embeddings"
            )

    def topk(
        self,
        vector=None,
        vectors=None,
        k: int = 10,
        method: str | None = None,
        n_probe: int = 2,
        rerank_factor: int | None = None,
        filter: dict | list | None = None,
    ) -> dict:
        if (vector is None) == (vectors is None):
            raise BadInputError(
                "'vector' must be a non-empty list of numbers (or pass a "
                "'vectors' batch instead, not both)"
            )
        if vector is not None:
            self._check_vec(vector, self.dim, "'vector'")
            batch = [vector]
        else:
            if not isinstance(vectors, (list, tuple)) or not vectors:
                raise BadInputError("'vectors' must be a non-empty list of vectors")
            if len(vectors) > MAX_BATCH:
                raise BadInputError(
                    f"'vectors' batch is bounded at {MAX_BATCH} "
                    f"({len(vectors)} given): shard larger lookups, or run "
                    f"the library operators over a vector table"
                )
            for i, v in enumerate(vectors):
                self._check_vec(v, self.dim, f"'vectors'[{i}]")
            batch = list(vectors)
        if not isinstance(k, int) or isinstance(k, bool) or not 1 <= k <= MAX_K:
            raise BadInputError(f"'k' must be an integer in [1, {MAX_K}]")
        if not isinstance(n_probe, int) or isinstance(n_probe, bool) or n_probe < 1:
            raise BadInputError("'n_probe' must be a positive integer")
        # the PQ recall knob (r9, measured in bench_ann's recall phase):
        # ADC separates clusters, not neighbors WITHIN a tight cluster —
        # every member shares nearly the same code, so the exact re-rank
        # pool (k * rerank_factor) must cover the query's cluster for
        # intra-cluster top-k to surface (0.16 -> 1.0 recall@10 going
        # rerank_factor 5 -> 40 on the 400-per-cluster corpus, at equal
        # latency). The client knob stays (cluster density is a corpus
        # property), but the DEFAULT is now derived from the artifact's
        # measured p95 cell occupancy (r10, r9 verdict #3): pool
        # rerank_factor*k >= rerank_pool, so an uninformed client gets
        # safe recall instead of the old silently-bad hard-wired 5.
        if rerank_factor is not None and (
            not isinstance(rerank_factor, int)
            or isinstance(rerank_factor, bool)
            or not 1 <= rerank_factor <= 1000
        ):
            raise BadInputError(
                "'rerank_factor' must be an integer in [1, 1000]"
            )
        if rerank_factor is None:
            rerank_factor = 5
            if self.rerank_pool:
                rerank_factor = min(
                    1000, max(5, -(-self.rerank_pool // k))
                )
        methods = ("brute", "ivf") + (("pq",) if self.codebook is not None else ())
        method = method or ("pq" if self.codebook is not None else "ivf")
        if method not in methods:
            raise BadInputError(
                f"Invalid 'method': {method!r}. Loaded methods: {list(methods)}"
            )

        from treemachine_spark.functions import similarity

        where = None if filter is None else self._compile_filter(filter)
        q = self._query_frame([[float(x) for x in v] for v in batch])
        if method == "brute":
            out = similarity.brute_force_topk(
                self.embeddings, q, k=k,
                id_col=self.id_col, vec_col=self.vec_col,
                max_queries=None,  # request-scale by the MAX_BATCH contract
                where=where,
            )
        elif method == "ivf":
            out = similarity.ivf_topk(
                self.embeddings, q, k=k, n_centroids=self.n_centroids,
                n_probe=n_probe, id_col=self.id_col, vec_col=self.vec_col,
                cells=self._cells, where=where,
            )
        else:
            from treemachine_spark.functions.pq import ivf_pq_topk

            out = ivf_pq_topk(
                self.embeddings, q, k=k, n_centroids=self.n_centroids,
                n_probe=n_probe, codebook=self.codebook, codes=self.codes,
                rotation=self.rotation, rerank=True,
                rerank_factor=rerank_factor,
                id_col=self.id_col, vec_col=self.vec_col, cells=self._cells,
                where=where,
            )
        rows = out.orderBy("query_id", "rank").collect() if len(batch) > 1 \
            else out.orderBy("rank").collect()
        results: list[list[dict]] = [[] for _ in batch]
        for r in rows:
            results[-r["query_id"] - 1].append(
                {
                    "neighbor_id": r["neighbor_id"],
                    "score": float(r["score"]),
                    "rank": r["rank"],
                }
            )
        blob = {"method": method, "k": k}
        if filter is not None:
            blob["filter"] = filter
        if vector is not None:
            blob["neighbors"] = results[0]
        else:
            blob["results"] = results
        return blob
