"""End-to-end HTTP serving tests: real sockets against the stdlib server
(api/server.py), mirroring how the reference's ws-tests curl its plugin
endpoints. One server + one SparkSession for the module."""

from __future__ import annotations

import json
import threading
import urllib.request
from pathlib import Path

import pytest

from treemachine_spark.api.server import _dispatch, make_server
from treemachine_spark.ingest import ingest_synthesis_data

FIX = Path(__file__).parent / "fixtures"
_SRV: dict = {}



# the whole HTTP-serving e2e tier is multi-minute (serving soak, not
# semantics): opt-in via -m slow (pyproject addopts)
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module")
def base_url(spark):
    store = ingest_synthesis_data(
        spark,
        str(FIX / "labelled_supertree.tre"),
        str(FIX / "annotations.json"),
        str(FIX / "taxonomy.tsv"),
    )
    srv = make_server(store, host="127.0.0.1", port=0)  # ephemeral port
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _SRV["srv"] = srv
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def post(base_url: str, path: str, body: dict | None = None):
    req = urllib.request.Request(
        base_url + path,
        data=json.dumps(body or {}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_about_over_http(base_url):
    status, resp = post(base_url, "/v3/tree_of_life/about")
    assert status == 200
    assert resp["num_source_trees"] >= 1
    assert "root" in resp


def test_mrca_over_http(base_url):
    status, about = post(base_url, "/v3/tree_of_life/about")
    # pick two tips via subtree of the root
    status, sub = post(
        base_url,
        "/v3/tree_of_life/subtree",
        {"node_id": about["root"]["node_id"], "format": "arguson", "height_limit": 2},
    )
    assert status == 200
    kids = sub["arguson"]["children"]
    ids = [k["node_id"] for k in kids][:2]
    status, resp = post(base_url, "/v3/tree_of_life/mrca", {"node_ids": ids})
    assert status == 200
    assert "mrca" in resp


def test_subtree_newick_over_http(base_url):
    status, about = post(base_url, "/v3/tree_of_life/about")
    status, resp = post(
        base_url,
        "/v3/tree_of_life/subtree",
        {"node_id": about["root"]["node_id"], "label_format": "name"},
    )
    assert status == 200
    assert resp["newick"].endswith(";")


def test_bad_ids_400_carries_payload(base_url):
    # all-invalid ids -> plain 400 message (BadInputError path)
    status, resp = post(
        base_url,
        "/v3/tree_of_life/induced_subtree",
        {"node_ids": ["not_a_real_node_1", "not_a_real_node_2"]},
    )
    assert status == 400 and "message" in resp and len(resp) == 1
    # a mix of valid + invalid ids -> BadIdsException semantics: the 400
    # body CARRIES the partial payload alongside the message
    _, about = post(base_url, "/v3/tree_of_life/about")
    _, sub = post(
        base_url,
        "/v3/tree_of_life/subtree",
        {"node_id": about["root"]["node_id"], "format": "arguson", "height_limit": 2},
    )
    valid = [k["node_id"] for k in sub["arguson"]["children"]][:2]
    status, resp = post(
        base_url,
        "/v3/tree_of_life/induced_subtree",
        {"node_ids": [*valid, "not_a_real_node_1"]},
    )
    assert status == 400
    assert "message" in resp and len(resp) > 1, resp


def test_bad_input_and_unknown_endpoint(base_url):
    status, resp = post(
        base_url, "/v3/tree_of_life/subtree", {"node_id": "x", "format": "bogus"}
    )
    assert status == 400 and "message" in resp
    status, resp = post(base_url, "/v3/tree_of_life/nope")
    assert status == 404
    status, resp = post(base_url, "/v3/tree_of_life/mrca", {"bogus_arg": 1})
    assert status == 400 and "unknown arguments" in resp["message"]


def test_v2_adapter_over_http(base_url):
    status, resp = post(base_url, "/v2/tree_of_life/about")
    assert status == 200


def test_concurrent_requests(base_url):
    """Threaded handler + one shared SparkSession: parallel requests must
    all succeed (Spark schedules the concurrent jobs FIFO-fair)."""
    from concurrent.futures import ThreadPoolExecutor

    _, about = post(base_url, "/v3/tree_of_life/about")
    root = about["root"]["node_id"]

    def one(i):
        if i % 2 == 0:
            return post(base_url, "/v3/tree_of_life/about")[0]
        return post(
            base_url, "/v3/tree_of_life/node_info", {"node_id": root}
        )[0]

    with ThreadPoolExecutor(max_workers=6) as pool:
        statuses = list(pool.map(one, range(12)))
    assert statuses == [200] * 12


def test_dispatch_is_socketless(spark):
    # _dispatch is a pure router — 404 path needs no API objects at all
    status, resp = _dispatch({}, "/v3/none", {})
    assert status == 404


def test_response_cache_memoizes_and_coalesces(base_url):
    """Identical requests are served from the LRU cache (immutable
    snapshot => semantics-free); concurrent identical requests coalesce
    into one computation (single-flight)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    cache = _SRV["srv"].response_cache
    assert cache is not None
    _, about = post(base_url, "/v3/tree_of_life/about")
    root = about["root"]["node_id"]
    # body unique to this test: other tests may have warmed {"node_id": root}
    body = {"node_id": root, "include_lineage": False}
    h0, m0 = cache.hits, cache.misses
    s1, r1 = post(base_url, "/v3/tree_of_life/node_info", body)
    t0 = time.time()
    s2, r2 = post(base_url, "/v3/tree_of_life/node_info", body)
    cached_dt = time.time() - t0
    assert (s1, r1) == (s2, r2) == (200, r1)
    assert cache.hits >= h0 + 1 and cache.misses == m0 + 1
    assert cached_dt < 0.2  # no Spark job on the hit path

    # single-flight: 8 concurrent IDENTICAL fresh requests -> 1 miss
    body2 = {"node_id": root, "include_lineage": True}
    m_before = cache.misses
    with ThreadPoolExecutor(max_workers=8) as pool:
        out = list(
            pool.map(
                lambda _: post(base_url, "/v3/tree_of_life/node_info", body2),
                range(8),
            )
        )
    assert all(o == out[0] for o in out)
    assert cache.misses == m_before + 1


def test_response_cache_keys_on_body(base_url):
    # different bodies never share entries; deterministic 400s are cached
    cache = _SRV["srv"].response_cache
    _, about = post(base_url, "/v3/tree_of_life/about")
    root = about["root"]["node_id"]
    s1, _ = post(base_url, "/v3/tree_of_life/node_info", {"node_id": root})
    s2, r2 = post(base_url, "/v3/tree_of_life/node_info", {"node_id": "nope"})
    assert s1 == 200 and s2 == 400
    m = cache.misses
    s3, r3 = post(base_url, "/v3/tree_of_life/node_info", {"node_id": "nope"})
    assert (s3, r3) == (s2, r2)
    assert cache.misses == m  # 400 replayed from cache


def test_cache_invalidated_on_store_republish(spark, tmp_path):
    """VERDICT r4 #8: mutations publish a NEW store. A serving process that
    swaps snapshots (republish -> re-serve via ServerCore.swap_store) must
    never serve a response cached against the OLD snapshot — the cache keys
    on endpoint+body only, so the swap has to invalidate."""
    from treemachine_spark.api.server import ServerCore
    from treemachine_spark.graph.surgery import SurgeryTree

    def ingest(newick_path):
        return ingest_synthesis_data(
            spark,
            str(newick_path),
            str(FIX / "annotations.json"),
            str(FIX / "taxonomy.tsv"),
        )

    store_a = ingest(FIX / "labelled_supertree.tre")
    # republished snapshot: one tip pruned (a real mutation's shape)
    t = SurgeryTree.from_newick((FIX / "labelled_supertree.tre").read_text())
    t.prune_external(t.find("ott536234"))
    pruned = tmp_path / "pruned.tre"
    pruned.write_text(t.to_newick(with_bl=False) + ";")
    store_b = ingest(pruned)

    core = ServerCore(store_a, cache_size=64)
    body = {"ott_id": 536234}
    status, before = core.handle("/v3/tree_of_life/node_info", body)
    assert status == 200 and before["taxon"]["ott_id"] == 536234
    # warm the cache and prove the hit path is live
    core.handle("/v3/tree_of_life/node_info", body)
    assert core.cache.hits >= 1

    core.swap_store(store_b)
    # the pruned tip no longer exists: serving the cached 200 would be the
    # stale-snapshot bug; the republished store must answer 400
    status, after = core.handle("/v3/tree_of_life/node_info", body)
    assert status == 400

    # and the new answer is itself cached consistently
    status2, again = core.handle("/v3/tree_of_life/node_info", body)
    assert (status2, again) == (status, after)


def test_stats_quantiles_route(spark, base_url, tmp_path):
    """VERDICT r5 #6: the streaming quantile sketch gets a serving
    consumer — POST /v3/stats/quantiles returns per-group estimates over
    the RUNNING sketch (grouped_quantile_estimates over current()), with a
    state-token cache key so a newly-landed micro-batch invalidates cached
    stats without a store swap."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions.sketches import grouped_quantile_estimates
    from treemachine_spark.functions.text import token_count
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.streaming.stats import StreamingQuantileSketch

    # a server with no sketch answers 404 on the route
    status, resp = post(base_url, "/v3/stats/quantiles", {})
    assert status == 404 and "no stats sketch" in resp["message"]

    # a sketch with no ingested partials yet is a 400, not a 500
    empty = StreamingQuantileSketch(str(tmp_path / "empty"), "n", ["lang"])
    srv0 = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0, stats_sketch=empty
    )
    status, resp = srv0.core.handle("/v3/stats/quantiles", {})
    assert status == 400 and "no partial sketches" in resp["message"]
    srv0.server_close()

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    tok = lambda df: df.select("lang", token_count(F.col("text")).alias("n"))  # noqa: E731
    sk = StreamingQuantileSketch(str(tmp_path / "sk"), "n", ["lang"], k=64)
    sk.process_batch(tok(docs.where(F.col("doc_id") % 2 == 0)), 0)

    srv = make_server(_SRV["srv"].core.store, host="127.0.0.1", port=0, stats_sketch=sk)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        status, blob = post(base, "/v3/stats/quantiles", {"qs": [0.5, 0.9]})
        assert status == 200
        # ws-style blob check
        assert blob["col"] == "n" and blob["groups"] == ["lang"]
        assert blob["quantiles"] and all(
            set(e) == {"group", "q", "value"}
            and set(e["group"]) == {"lang"}
            and e["q"] in (0.5, 0.9)
            and isinstance(e["value"], int)
            for e in blob["quantiles"]
        )
        # values match the library computation exactly
        expect = {
            (r["lang"], r["q_micro"]): r["est_v"]
            for r in grouped_quantile_estimates(
                sk.current(spark), ["lang"], (0.5, 0.9)
            ).collect()
        }
        got = {
            (e["group"]["lang"], int(e["q"] * 1_000_000)): e["value"]
            for e in blob["quantiles"]
        }
        assert got == expect
        # identical state -> served from cache
        m = srv.core.cache.misses
        status2, blob2 = post(base, "/v3/stats/quantiles", {"qs": [0.5, 0.9]})
        assert (status2, blob2) == (status, blob)
        assert srv.core.cache.misses == m
        # a NEW batch changes the state token -> recompute, fresher answer
        sk.process_batch(tok(docs.where(F.col("doc_id") % 2 == 1)), 1)
        status3, blob3 = post(base, "/v3/stats/quantiles", {"qs": [0.5, 0.9]})
        assert status3 == 200 and srv.core.cache.misses == m + 1
        expect_all = {
            (r["lang"], r["q_micro"]): r["est_v"]
            for r in grouped_quantile_estimates(
                sk.current(spark), ["lang"], (0.5, 0.9)
            ).collect()
        }
        got3 = {
            (e["group"]["lang"], int(e["q"] * 1_000_000)): e["value"]
            for e in blob3["quantiles"]
        }
        assert got3 == expect_all
        # contract errors are 400s with messages, like every other route
        status, resp = post(base, "/v3/stats/quantiles", {"qs": []})
        assert status == 400 and "non-empty" in resp["message"]
        status, resp = post(base, "/v3/stats/quantiles", {"qs": [1.5]})
        assert status == 400
        status, resp = post(base, "/v3/stats/quantiles", {"nope": 1})
        assert status == 400 and "unknown arguments" in resp["message"]
    finally:
        srv.shutdown()
        srv.server_close()


def test_route_family_fair_pool_scoping(monkeypatch):
    """r12 (VERDICT r11 #6): each request's Spark jobs run in its route
    family's FAIR pool (heavy tree extractions must not FIFO-starve point
    lookups in one shared pool) and the thread's previous pool is restored
    afterwards, so direct batch callers of handle() are unaffected.
    Driven with a recording SparkContext stub — no Spark, no sockets."""
    from treemachine_spark.api import server as srv_mod
    from treemachine_spark.api.server import ServerCore, _route_pool

    assert _route_pool("/v3/tree_of_life/subtree") == "tree-heavy"
    assert _route_pool("/v3/tree_of_life/induced_subtree") == "tree-heavy"
    assert _route_pool("/v2/tree_of_life/induced_tree") == "tree-heavy"
    assert _route_pool("/v3/similarity/topk") == "index"
    assert _route_pool("/v3/documents/duplicates") == "index"
    assert _route_pool("/v3/tree_of_life/node_info") == "interactive"
    assert _route_pool("/v3/tree_of_life/mrca") == "interactive"
    assert _route_pool("/v3/stats/quantiles") == "interactive"

    class FakeSC:
        def __init__(self):
            self.props = {"spark.scheduler.pool": "caller-pool"}
            self.seen: list = []

        def getLocalProperty(self, k):  # noqa: N802 (pyspark API shape)
            return self.props.get(k)

        def setLocalProperty(self, k, v):  # noqa: N802
            self.props[k] = v
            self.seen.append(v)

    sc = FakeSC()

    class _A:  # store.nodes.sparkSession.sparkContext chain
        pass

    store = _A()
    store.nodes = _A()
    store.nodes.sparkSession = _A()
    store.nodes.sparkSession.sparkContext = sc

    pools_during: dict = {}

    def spy_dispatch(apis, path, body):
        pools_during[path] = sc.getLocalProperty("spark.scheduler.pool")
        return 200, {}

    monkeypatch.setattr(
        ServerCore, "_build", lambda self, s: (
            setattr(self, "store", s), setattr(self, "apis", {})
        )
    )
    monkeypatch.setattr(srv_mod, "_dispatch", spy_dispatch)
    core = ServerCore(store, cache_size=0)
    for path in ("/v3/tree_of_life/subtree", "/v3/tree_of_life/node_info"):
        core.handle(path, {})
        # restored to the caller's pool after every request
        assert sc.getLocalProperty("spark.scheduler.pool") == "caller-pool"
    assert pools_during == {
        "/v3/tree_of_life/subtree": "tree-heavy",
        "/v3/tree_of_life/node_info": "interactive",
    }


def test_swap_mid_compute_never_caches_stale_response(monkeypatch):
    """ADVICE r5: a request that BEGINS against the old store (Spark jobs
    take seconds) and finishes after swap_store clears the cache must not
    insert its old-snapshot response into the post-swap cache. Driven
    deterministically with a blocking dispatch stub — no Spark, no
    sockets; the guard under test is the generation capture in handle()
    plus the still_valid veto in ResponseCache.get_or_compute."""
    from treemachine_spark.api import server as srv_mod
    from treemachine_spark.api.server import ServerCore

    monkeypatch.setattr(
        ServerCore, "_build", lambda self, store: setattr(self, "apis", store)
    )
    started, release = threading.Event(), threading.Event()

    def slow_dispatch(apis, path, body):
        started.set()
        release.wait(10)
        return 200, {"snapshot": apis["name"]}

    monkeypatch.setattr(srv_mod, "_dispatch", slow_dispatch)
    core = ServerCore({"name": "old"}, cache_size=16)
    result: dict = {}
    t = threading.Thread(
        target=lambda: result.update(
            zip(("status", "resp"), core.handle("/x", {}))
        )
    )
    t.start()
    assert started.wait(10)
    core.swap_store({"name": "new"})  # swap while the request computes
    release.set()
    t.join(10)
    # in-flight request finished against its pinned old snapshot...
    assert result["resp"] == {"snapshot": "old"}
    # ...but the post-swap cache must NOT have absorbed it: the next
    # request recomputes against the new store instead of replaying
    m = core.cache.misses
    status, resp = core.handle("/x", {})
    assert resp == {"snapshot": "new"}
    assert core.cache.misses == m + 1
    # and the new-store response IS cached normally afterwards
    assert core.handle("/x", {}) == (status, resp)
    assert core.cache.misses == m + 1


def test_router_dispatches_to_real_tree_workers(spark, tmp_path):
    """Two REAL single-store servers behind the ShardRouter: synth_id picks
    the worker, responses are tree-specific, and default traffic flows to
    the default pool — the multi-tree deployment shape (api/router.py)."""
    from treemachine_spark.api.router import ShardRouter, make_router_server
    from treemachine_spark.api.server import make_server
    from treemachine_spark.graph.surgery import SurgeryTree

    def ingest(newick_path):
        return ingest_synthesis_data(
            spark,
            str(newick_path),
            str(FIX / "annotations.json"),
            str(FIX / "taxonomy.tsv"),
        )

    store_a = ingest(FIX / "labelled_supertree.tre")
    t = SurgeryTree.from_newick((FIX / "labelled_supertree.tre").read_text())
    t.prune_external(t.find("ott536234"))
    pruned = tmp_path / "pruned.tre"
    pruned.write_text(t.to_newick(with_bl=False) + ";")
    store_b = ingest(pruned)

    srv_a = make_server(store_a, host="127.0.0.1", port=0)
    srv_b = make_server(store_b, host="127.0.0.1", port=0)
    for s in (srv_a, srv_b):
        threading.Thread(target=s.serve_forever, daemon=True).start()
    url = lambda s: f"http://127.0.0.1:{s.server_address[1]}"  # noqa: E731
    router = ShardRouter(
        pools={"treeA": [url(srv_a)], "treeB": [url(srv_b)]},
        default_pool=[url(srv_a)],
    )
    rsrv = make_router_server(router)
    threading.Thread(target=rsrv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{rsrv.server_address[1]}"
    try:
        body = {"ott_id": 536234}
        # tree-specific answers through one front door
        status, resp = post(
            base, "/v3/tree_of_life/node_info", {**body, "synth_id": "treeA"}
        )
        assert status == 200 and resp["taxon"]["ott_id"] == 536234
        status, resp = post(
            base, "/v3/tree_of_life/node_info", {**body, "synth_id": "treeB"}
        )
        assert status == 400  # pruned tip does not exist in tree B
        # default pool = tree A
        status, resp = post(base, "/v3/tree_of_life/node_info", body)
        assert status == 200
        # v2 adapter THROUGH the router (VERDICT r5 #7): the long<->string
        # id codec and response reshaping cross the forwarding layer
        status, about2 = post(base, "/v2/tree_of_life/about", {"synth_id": "treeA"})
        assert status == 200 and isinstance(about2["root_node_id"], int)
        status, resp = post(
            base, "/v2/tree_of_life/node_info", {**body, "synth_id": "treeA"}
        )
        assert status == 200 and resp["ott_id"] == 536234
        assert resp["in_synth_tree"] is True and isinstance(resp["node_id"], int)
        status, resp = post(
            base,
            "/v2/tree_of_life/mrca",
            {
                "synth_id": "treeA",
                "node_ids": [about2["root_node_id"]],
                "ott_ids": [536234],
            },
        )
        assert status == 200 and isinstance(resp["mrca_node_id"], int)
        assert resp["node_ids_not_in_tree"] == []
        # the same v2 request routed to the OTHER shard answers from ITS
        # snapshot: the pruned tip is a 400 there
        status, resp = post(
            base, "/v2/tree_of_life/node_info", {**body, "synth_id": "treeB"}
        )
        assert status == 400
    finally:
        for s in (rsrv, srv_a, srv_b):
            s.shutdown()
            s.server_close()


def test_stats_route_null_group_value_sorts(spark, base_url, tmp_path):
    """ADVICE r6: a NULL group value used to raise TypeError (None vs str)
    inside the response sort, turning a valid sketch read into a 500. The
    None-safe key sorts null groups first and serves 200."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.server import make_server
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.streaming.stats import StreamingQuantileSketch

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    batch = docs.select(
        F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ).alias("lang"),
        F.length("text").alias("n"),
    )
    sk = StreamingQuantileSketch(str(tmp_path / "sknull"), "n", ["lang"], k=64)
    sk.process_batch(batch, 0)
    srv = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0, stats_sketch=sk
    )
    try:
        status, blob = srv.core.handle("/v3/stats/quantiles", {"qs": [0.5]})
        assert status == 200
        langs = [e["group"]["lang"] for e in blob["quantiles"]]
        assert None in langs  # the null group is served, not 500'd
        assert langs == sorted(langs, key=lambda v: (v is not None, v or ""))
    finally:
        srv.server_close()


def test_stats_distinct_route(spark, base_url, tmp_path):
    """VERDICT r6 #5: the streaming HLL sketch gets a serving consumer —
    POST /v3/stats/distinct returns per-group distinct-count estimates
    over the RUNNING sketch (grouped_hll_estimates over current()), with
    the same state-token cache key as the quantile route: a newly-landed
    micro-batch invalidates cached stats without a store swap."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions.sketches import grouped_hll_estimates
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.streaming.stats import StreamingHLLSketch

    # a server with no sketch answers 404 on the route
    status, resp = post(base_url, "/v3/stats/distinct", {})
    assert status == 404 and "no stats sketch" in resp["message"]

    # a sketch with no ingested partials yet is a 400, not a 500
    empty = StreamingHLLSketch(str(tmp_path / "dempty"), "user_id", ["event_type"])
    srv0 = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0, distinct_sketch=empty
    )
    status, resp = srv0.core.handle("/v3/stats/distinct", {})
    assert status == 400 and "no partial sketches" in resp["message"]
    srv0.server_close()

    events = load_tables(spark, "/root/testdata/sf0.001")["events"]
    sel = lambda df: df.select("event_type", "user_id")  # noqa: E731
    sk = StreamingHLLSketch(str(tmp_path / "dsk"), "user_id", ["event_type"], p=8)
    sk.process_batch(sel(events.where(F.col("event_id") % 2 == 0)), 0)

    srv = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0, distinct_sketch=sk
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        status, blob = post(base, "/v3/stats/distinct", {})
        assert status == 200
        # ws-style blob check
        assert blob["col"] == "user_id" and blob["groups"] == ["event_type"]
        assert blob["counts"] and all(
            set(e) == {"group", "estimate"}
            and set(e["group"]) == {"event_type"}
            and isinstance(e["estimate"], float)
            and e["estimate"] > 0
            for e in blob["counts"]
        )
        # values match the library computation exactly
        expect = {
            r["event_type"]: r["est"]
            for r in grouped_hll_estimates(
                sk.current(spark), ["event_type"], p=8
            ).collect()
        }
        got = {e["group"]["event_type"]: e["estimate"] for e in blob["counts"]}
        assert got == expect
        # identical state -> served from cache
        m = srv.core.cache.misses
        status2, blob2 = post(base, "/v3/stats/distinct", {})
        assert (status2, blob2) == (status, blob)
        assert srv.core.cache.misses == m
        # a NEW batch changes the state token -> recompute, fresher answer
        sk.process_batch(sel(events.where(F.col("event_id") % 2 == 1)), 1)
        status3, blob3 = post(base, "/v3/stats/distinct", {})
        assert status3 == 200 and srv.core.cache.misses == m + 1
        expect_all = {
            r["event_type"]: r["est"]
            for r in grouped_hll_estimates(
                sk.current(spark), ["event_type"], p=8
            ).collect()
        }
        got3 = {e["group"]["event_type"]: e["estimate"] for e in blob3["counts"]}
        assert got3 == expect_all
        # more state -> estimates can only have grown (more distinct users)
        assert all(got3[k] >= got[k] for k in got)
        # contract errors are 400s with messages, like every other route
        status, resp = post(base, "/v3/stats/distinct", {"nope": 1})
        assert status == 400 and "unknown arguments" in resp["message"]
    finally:
        srv.shutdown()
        srv.server_close()


def test_stats_profile_route(spark, base_url, tmp_path):
    """r10 (r8 verdict carry): POST /v3/stats/profile — per-group quantile
    AND distinct-count estimates in ONE round trip over BOTH running
    sketches. Freshness mirrors the two single-sketch routes: the cache
    key carries both state tokens, so advancing EITHER sketch invalidates
    a cached profile; contract 400s and the both-sketches 404 pinned."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions.text import token_count
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.streaming.stats import (
        StreamingHLLSketch,
        StreamingQuantileSketch,
    )

    # the module server has neither sketch -> 404 naming the requirement
    status, resp = post(base_url, "/v3/stats/profile", {})
    assert status == 404 and "both" in resp["message"]

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    events = load_tables(spark, "/root/testdata/sf0.001")["events"]
    tok = lambda df: df.select("lang", token_count(F.col("text")).alias("n"))  # noqa: E731
    sel = lambda df: df.select("event_type", "user_id")  # noqa: E731
    qsk = StreamingQuantileSketch(str(tmp_path / "pq_sk"), "n", ["lang"], k=64)
    qsk.process_batch(tok(docs.where(F.col("doc_id") % 2 == 0)), 0)
    dsk = StreamingHLLSketch(
        str(tmp_path / "pd_sk"), "user_id", ["event_type"], p=8
    )
    dsk.process_batch(sel(events.where(F.col("event_id") % 2 == 0)), 0)

    # only one sketch configured -> still the 404 (the combined route
    # requires both; the single routes keep serving the one)
    half = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0, stats_sketch=qsk
    )
    status, resp = half.core.handle("/v3/stats/profile", {})
    assert status == 404 and "both" in resp["message"]
    half.server_close()

    srv = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0,
        stats_sketch=qsk, distinct_sketch=dsk,
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        status, blob = post(base, "/v3/stats/profile", {"qs": [0.5, 0.9]})
        assert status == 200 and set(blob) == {"quantiles", "distinct"}
        # each half equals its own single route's blob (shared computes)
        s_q, blob_q = post(base, "/v3/stats/quantiles", {"qs": [0.5, 0.9]})
        s_d, blob_d = post(base, "/v3/stats/distinct", {})
        assert (s_q, s_d) == (200, 200)
        assert blob["quantiles"] == blob_q and blob["distinct"] == blob_d
        # identical state -> served from cache
        m = srv.core.cache.misses
        status2, blob2 = post(base, "/v3/stats/profile", {"qs": [0.5, 0.9]})
        assert (status2, blob2) == (status, blob)
        assert srv.core.cache.misses == m
        # advancing the DISTINCT sketch alone invalidates the profile
        # (recompute proven by the miss counter — at sf0.001 the tiny
        # user space can saturate the HLL so VALUES may legitimately
        # repeat; the fresh answer must equal the fresh single route's)
        dsk.process_batch(sel(events.where(F.col("event_id") % 2 == 1)), 1)
        status3, blob3 = post(base, "/v3/stats/profile", {"qs": [0.5, 0.9]})
        assert status3 == 200 and srv.core.cache.misses == m + 1
        assert blob3["quantiles"] == blob["quantiles"]
        _, fresh_d = post(base, "/v3/stats/distinct", {})
        assert blob3["distinct"] == fresh_d
        # advancing the QUANTILE sketch alone invalidates it too
        qsk.process_batch(tok(docs.where(F.col("doc_id") % 2 == 1)), 1)
        m3 = srv.core.cache.misses
        status4, blob4 = post(base, "/v3/stats/profile", {"qs": [0.5, 0.9]})
        assert status4 == 200 and srv.core.cache.misses == m3 + 1
        _, fresh_q = post(base, "/v3/stats/quantiles", {"qs": [0.5, 0.9]})
        assert blob4["quantiles"] == fresh_q
        # contract errors are 400s with messages, like the single routes
        status, resp = post(base, "/v3/stats/profile", {"qs": []})
        assert status == 400 and "non-empty" in resp["message"]
        status, resp = post(base, "/v3/stats/profile", {"nope": 1})
        assert status == 400 and "unknown arguments" in resp["message"]
    finally:
        srv.shutdown()
        srv.server_close()


def test_stats_profile_empty_sketch_contract(spark, tmp_path):
    """Profile with a configured-but-empty sketch is a contract 400 (the
    single routes' 'no partial sketches' behavior), never a 500."""
    from treemachine_spark.api.server import make_server
    from treemachine_spark.streaming.stats import (
        StreamingHLLSketch,
        StreamingQuantileSketch,
    )

    qsk = StreamingQuantileSketch(str(tmp_path / "eq"), "n", ["lang"])
    dsk = StreamingHLLSketch(str(tmp_path / "ed"), "user_id", ["event_type"])
    srv = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0,
        stats_sketch=qsk, distinct_sketch=dsk,
    )
    status, resp = srv.core.handle("/v3/stats/profile", {})
    assert status == 400 and "no partial sketches" in resp["message"]
    srv.server_close()


def test_similarity_topk_route(spark, base_url):
    """r8: the ANN serving surface — POST /v3/similarity/topk over a
    loaded AnnIndex (api/ann.py) completes the pipeline family's
    ingest -> index -> serve loop. Route correctness = the library
    operators' (gated v1/v3 + test_pq); this test pins the serving
    contract: method dispatch, exact score pass-through, contract 400s,
    404 when unconfigured, and snapshot caching."""
    import pandas as pd
    from pyspark.sql import functions as F

    from treemachine_spark.api.ann import AnnIndex
    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions import pq, similarity
    from treemachine_spark.io.tables import load_tables

    # no index configured on the module server -> 404
    status, resp = post(base_url, "/v3/similarity/topk", {"vector": [0.0]})
    assert status == 404 and "no ANN index" in resp["message"]

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"].cache()

    # r9 (ADVICE r8): the query frame's synthetic ids require an integral
    # id column — a string-id corpus is rejected at CONSTRUCTION, not
    # served through implicit casts
    from treemachine_spark.api.errors import BadInputError

    with pytest.raises(BadInputError, match="integral id column"):
        AnnIndex(emb.withColumn("vec_id", F.col("vec_id").cast("string")))
    # an int (not long) id corpus constructs and serves: the query frame
    # adopts the corpus id type, no cross-type joins
    AnnIndex(emb.withColumn("vec_id", F.col("vec_id").cast("int")).cache())

    codebook = pq.pq_train(emb, m=8, n_codes=16, iters=2, train_rows=None)
    codes = pq.pq_encode(emb, codebook)
    idx = AnnIndex(emb, codebook=codebook, codes=codes)
    srv = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0, ann_index=idx
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        vec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
        ]

        # brute == the library exact operator on the same one-row query
        status, blob = post(
            base, "/v3/similarity/topk",
            {"vector": vec, "k": 5, "method": "brute"},
        )
        assert status == 200 and blob["method"] == "brute" and blob["k"] == 5
        qdf = spark.createDataFrame(
            pd.DataFrame({"vec_id": [-1], "embedding": [vec]}),
            schema="vec_id long, embedding array<double>",
        )
        want = [
            (r["neighbor_id"], float(r["score"]), r["rank"])
            for r in similarity.brute_force_topk(
                emb, qdf, k=5, max_queries=None
            ).orderBy("rank").collect()
        ]
        got = [
            (n["neighbor_id"], n["score"], n["rank"]) for n in blob["neighbors"]
        ]
        assert got == want
        # the query IS corpus vector 0 — exact search must surface it first
        assert got[0][0] == 0 and got[0][2] == 1

        # default method over a PQ-loaded index is pq; the identical vector
        # survives ADC + exact re-rank at rank 1
        status, pq_blob = post(base, "/v3/similarity/topk", {"vector": vec})
        assert status == 200 and pq_blob["method"] == "pq"
        assert pq_blob["neighbors"][0]["neighbor_id"] == 0
        # ivf: the query's best cell contains its identical vector
        status, ivf_blob = post(
            base, "/v3/similarity/topk", {"vector": vec, "method": "ivf"}
        )
        assert status == 200 and ivf_blob["neighbors"][0]["neighbor_id"] == 0

        # snapshot caching: identical body replays without recompute
        m = srv.core.cache.misses
        status2, blob2 = post(
            base, "/v3/similarity/topk",
            {"vector": vec, "k": 5, "method": "brute"},
        )
        assert (status2, blob2) == (200, blob)
        assert srv.core.cache.misses == m and srv.core.cache.hits >= 1

        # batch form: per-index results == the single-vector responses
        vec2 = [
            float(x)
            for x in emb.where(F.col("vec_id") == 7).head()["embedding"]
        ]
        status, bblob = post(
            base, "/v3/similarity/topk",
            {"vectors": [vec, vec2], "k": 5, "method": "brute"},
        )
        assert status == 200 and "neighbors" not in bblob
        assert bblob["results"][0] == blob["neighbors"]
        status, solo2 = post(
            base, "/v3/similarity/topk",
            {"vector": vec2, "k": 5, "method": "brute"},
        )
        assert bblob["results"][1] == solo2["neighbors"]
        assert bblob["results"][1][0]["neighbor_id"] == 7

        # r9: rerank_factor is a request knob (the PQ recall lever —
        # bench_ann's recall phase measures why); route == library
        # operator at the same factor
        status, rf_blob = post(
            base, "/v3/similarity/topk",
            {"vector": vec, "k": 5, "method": "pq", "rerank_factor": 7},
        )
        assert status == 200
        from treemachine_spark.functions.pq import ivf_pq_topk

        rf_want = [
            (r["neighbor_id"], float(r["score"]), r["rank"])
            for r in ivf_pq_topk(
                emb, qdf, k=5, n_centroids=idx.n_centroids, n_probe=2,
                codebook=codebook, codes=codes, rerank=True,
                rerank_factor=7, cells=idx._cells,
            ).orderBy("rank").collect()
        ]
        assert [
            (n["neighbor_id"], n["score"], n["rank"])
            for n in rf_blob["neighbors"]
        ] == rf_want

        # r14 (VERDICT r13 #4): filtered ANN through the route — the
        # structured filter arg compiles to a scan-side predicate, so
        # every neighbor matches and k fills with the true filtered
        # top-k; route == library operator with the same where=
        lbl = emb.where(F.col("vec_id") == 0).head()["label"]
        labels = {
            r["vec_id"]: r["label"]
            for r in emb.select("vec_id", "label").collect()
        }
        for method in ("brute", "ivf", "pq"):
            status, fblob = post(
                base, "/v3/similarity/topk",
                {"vector": vec, "k": 5, "method": method,
                 "filter": {"col": "label", "op": "eq", "value": int(lbl)}},
            )
            assert status == 200 and fblob["filter"] == {
                "col": "label", "op": "eq", "value": int(lbl)
            }
            assert fblob["neighbors"], method
            assert all(
                labels[n["neighbor_id"]] == lbl for n in fblob["neighbors"]
            ), method
            # vector 0 matches its own filter and must lead the exact tiers
            if method in ("brute", "pq"):
                assert fblob["neighbors"][0]["neighbor_id"] == 0
        f_want = [
            (r["neighbor_id"], float(r["score"]), r["rank"])
            for r in similarity.brute_force_topk(
                emb, qdf, k=5, max_queries=None,
                where=F.col("label") == int(lbl),
            ).orderBy("rank").collect()
        ]
        status, fb = post(
            base, "/v3/similarity/topk",
            {"vector": vec, "k": 5, "method": "brute",
             "filter": {"col": "label", "op": "eq", "value": int(lbl)}},
        )
        assert [
            (n["neighbor_id"], n["score"], n["rank"]) for n in fb["neighbors"]
        ] == f_want
        # 'in' + clause list (ANDed) accepted
        status, fb2 = post(
            base, "/v3/similarity/topk",
            {"vector": vec, "k": 5, "method": "ivf",
             "filter": [{"col": "label", "op": "in", "value": [int(lbl)]},
                        {"col": "label", "op": "ne", "value": int(lbl) + 1}]},
        )
        assert status == 200 and all(
            labels[n["neighbor_id"]] == lbl for n in fb2["neighbors"]
        )

        # contract 400s
        for bad, msg in [
            ({"vector": vec[:3]}, "dimensions"),
            ({"vector": vec, "filter": {"col": "nope", "op": "eq", "value": 1}},
             "not a metadata column"),
            ({"vector": vec, "filter": {"col": "label", "op": "lt", "value": 1}},
             "'filter' op"),
            ({"vector": vec, "filter": {"col": "label", "op": "in", "value": []}},
             "non-empty list of scalars"),
            ({"vector": vec, "filter": {"col": "label", "op": "eq", "value": True}},
             "'filter' value"),
            ({"vector": vec, "filter": {"col": "label", "value": 1}},
             "clause must be"),
            ({"vector": vec, "filter": []}, "'filter' must be"),
            ({"vector": vec, "method": "faiss"}, "Invalid 'method'"),
            ({"vector": vec, "k": 0}, "'k' must be"),
            ({"vector": vec, "rerank_factor": 0}, "'rerank_factor' must be"),
            ({"vector": vec, "rerank_factor": 1.5}, "'rerank_factor' must be"),
            ({"vector": "nope"}, "'vector' must be"),
            ({}, "'vector' must be"),
            ({"vector": vec, "vectors": [vec]}, "not both"),
            ({"vectors": []}, "'vectors' must be"),
            ({"vectors": [vec, vec2[:3]]}, "'vectors'[1] has"),
            ({"vectors": [vec] * 257}, "bounded at 256"),
            ({"vector": vec, "nope": 1}, "unknown arguments"),
        ]:
            status, resp = post(base, "/v3/similarity/topk", bad)
            assert status == 400 and msg in resp["message"], (bad, resp)
    finally:
        srv.shutdown()
        srv.server_close()


def test_sharded_similarity_scatter_gather(spark, base_url):
    """r8: ANN scatter-gather through the shard router — two workers each
    serving a DISJOINT corpus half; the router fans /v3/similarity/topk
    to every shard and merges by (score desc, neighbor_id asc). For the
    exact brute method the merged top-k must EQUAL the unsharded
    full-corpus answer (every global top-k member is in its own shard's
    top-k); unreachable shard -> 502 (never a silently-partial answer);
    contract 400s pass through verbatim."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.ann import AnnIndex
    from treemachine_spark.api.router import ShardRouter, make_router_server
    from treemachine_spark.api.server import make_server
    from treemachine_spark.io.tables import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"].cache()
    store = _SRV["srv"].core.store
    servers, urls = [], []
    for half in (emb.where(F.col("vec_id") % 2 == 0),
                 emb.where(F.col("vec_id") % 2 == 1),
                 emb):
        srv = make_server(
            store, host="127.0.0.1", port=0, ann_index=AnnIndex(half)
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        urls.append(f"http://127.0.0.1:{srv.server_address[1]}")
    router = make_router_server(
        ShardRouter(
            pools={"t": [urls[2]]}, default_pool=[urls[2]],
            ann_shards=[[urls[0]], [urls[1]]],
        )
    )
    threading.Thread(target=router.serve_forever, daemon=True).start()
    rbase = f"http://127.0.0.1:{router.server_address[1]}"
    try:
        vec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
        ]
        body = {"vector": vec, "k": 7, "method": "brute"}
        status, merged = post(rbase, "/v3/similarity/topk", body)
        status2, full = post(urls[2], "/v3/similarity/topk", body)
        assert status == status2 == 200 and merged["shards"] == 2
        assert merged["neighbors"] == full["neighbors"]

        # batch form merges per query index
        vec2 = [
            float(x)
            for x in emb.where(F.col("vec_id") == 5).head()["embedding"]
        ]
        bb = {"vectors": [vec, vec2], "k": 7, "method": "brute"}
        status, bm = post(rbase, "/v3/similarity/topk", bb)
        status2, bf = post(urls[2], "/v3/similarity/topk", bb)
        assert status == status2 == 200
        assert bm["results"] == bf["results"]

        # contract error passes through verbatim
        status, resp = post(rbase, "/v3/similarity/topk", {"vector": vec, "k": 0})
        assert status == 400 and "'k' must be" in resp["message"]

        # one shard down -> 502, not a partial top-k
        servers[1].shutdown()
        servers[1].server_close()
        status, resp = post(rbase, "/v3/similarity/topk", body)
        assert status == 502 and "shard failed" in resp["message"]
    finally:
        router.shutdown()
        router.server_close()
        for srv in (servers[0], servers[2]):
            srv.shutdown()
            srv.server_close()


def test_documents_duplicates_route(spark, base_url):
    """r8: the dedup serving surface — POST /v3/documents/duplicates over
    a loaded DedupIndex (api/dedup.py). 'texts' = decontamination lookup
    (query need not be in the corpus; exact self-match surfaces at
    jaccard 1.0), 'doc_ids' = corpus-member probe (gate d8's operator);
    route pins dispatch, operator pass-through, contract 400s,
    404-unconfigured, and snapshot caching."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.dedup import DedupIndex
    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions.dedup import ngram_jaccard_probe
    from treemachine_spark.io.tables import load_tables

    status, resp = post(base_url, "/v3/documents/duplicates", {"texts": ["x"]})
    assert status == 404 and "no dedup index" in resp["message"]

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].cache()
    srv = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0,
        dedup_index=DedupIndex(docs),
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        row7 = docs.where(F.col("doc_id") == 7).head()
        status, blob = post(
            base, "/v3/documents/duplicates", {"texts": [row7["text"]]}
        )
        assert status == 200 and blob["threshold"] == 0.3
        mine = blob["results"][0]
        # the query IS corpus doc 7's text: exact self-match leads
        assert mine[0] == {"doc_id": 7, "jaccard": 1.0}
        # ...and the rest of the list == the d8 probe's pairs touching 7
        want = {
            (r["doc_a"] + r["doc_b"] - 7, r["jaccard"])
            for r in ngram_jaccard_probe(docs, [7]).collect()
        }
        assert {(d["doc_id"], d["jaccard"]) for d in mine[1:]} == want

        # doc_ids probe form: same pairs, keyed to the requested id
        status, pblob = post(
            base, "/v3/documents/duplicates", {"doc_ids": [7]}
        )
        assert status == 200
        assert {(d["doc_id"], d["jaccard"]) for d in pblob["results"][0]} == want

        # r9 (ADVICE r8): a request repeating an id gets one result entry
        # PER POSITION — aligned to the original order, never silently
        # shortened/shifted
        status, dblob = post(
            base, "/v3/documents/duplicates", {"doc_ids": [7, 7, 8]}
        )
        assert status == 200 and len(dblob["results"]) == 3
        assert dblob["results"][0] == dblob["results"][1] == pblob["results"][0]

        # r9: text resolution route (the sharded router's doc_ids
        # indirection) — members resolve, unknowns map to null
        status, tb = post(
            base, "/v3/documents/text", {"doc_ids": [7, 999_999_999]}
        )
        assert status == 200 and tb["texts"]["7"] == row7["text"]
        assert tb["texts"]["999999999"] is None
        for bad, msg in [
            ({"doc_ids": []}, "'doc_ids' must be"),
            ({"doc_ids": [1], "nope": 2}, "unknown arguments"),
        ]:
            status, resp = post(base, "/v3/documents/text", bad)
            assert status == 400 and msg in resp["message"], (bad, resp)

        # snapshot caching
        m = srv.core.cache.misses
        status2, blob2 = post(
            base, "/v3/documents/duplicates", {"texts": [row7["text"]]}
        )
        assert (status2, blob2) == (200, blob)
        assert srv.core.cache.misses == m and srv.core.cache.hits >= 1

        for bad, msg in [
            ({}, "exactly one of"),
            ({"texts": ["x"], "doc_ids": [1]}, "exactly one of"),
            ({"texts": []}, "'texts' must be"),
            ({"texts": [1]}, "'texts' must be"),
            ({"texts": ["x"] * 257}, "bounded at 256"),
            ({"doc_ids": ["x"]}, "'doc_ids' must be"),
            ({"texts": ["x"], "threshold": 0}, "'threshold' must be"),
            ({"texts": ["x"], "nope": 1}, "unknown arguments"),
        ]:
            status, resp = post(base, "/v3/documents/duplicates", bad)
            assert status == 400 and msg in resp["message"], (bad, resp)
    finally:
        srv.shutdown()
        srv.server_close()


def test_sharded_duplicates_scatter_gather(spark, base_url):
    """r8/r9: dedup scatter-gather — 'texts' lookups fan out to disjoint
    document shards and the UNION of per-shard hits equals the unsharded
    answer (jaccard(query, doc) involves one shard's doc only); 'doc_ids'
    probes serve via TEXT INDIRECTION (r9, r8 verdict #5: resolve each
    doc's text from its owning shard, re-issue as a texts lookup, strip
    self-matches) and must equal the unsharded probe exactly, aligned to
    the original request order with duplicates repeated; contract 400s
    pass through; shard down -> 502."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.dedup import DedupIndex
    from treemachine_spark.api.router import ShardRouter, make_router_server
    from treemachine_spark.api.server import make_server
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].cache()
    store = _SRV["srv"].core.store
    servers, urls = [], []
    for part in (docs.where(F.col("doc_id") % 2 == 0),
                 docs.where(F.col("doc_id") % 2 == 1),
                 docs):
        srv = make_server(
            store, host="127.0.0.1", port=0, dedup_index=DedupIndex(part)
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        urls.append(f"http://127.0.0.1:{srv.server_address[1]}")
    router = make_router_server(
        ShardRouter(
            pools={"t": [urls[2]]}, default_pool=[urls[2]],
            dedup_shards=[[urls[0]], [urls[1]]],
        )
    )
    threading.Thread(target=router.serve_forever, daemon=True).start()
    rbase = f"http://127.0.0.1:{router.server_address[1]}"
    try:
        texts = [
            r["text"]
            for r in docs.where(F.col("doc_id").isin(7, 8)).orderBy("doc_id").collect()
        ]
        body = {"texts": texts}
        status, merged = post(rbase, "/v3/documents/duplicates", body)
        status2, full = post(urls[2], "/v3/documents/duplicates", body)
        assert status == status2 == 200 and merged["shards"] == 2
        assert merged["results"] == full["results"]
        # non-vacuous: each query finds at least its own source doc
        assert merged["results"][0][0]["jaccard"] == 1.0

        # doc_ids via text indirection: sharded router == unsharded probe,
        # aligned to the ORIGINAL (duplicate-bearing) request order, and an
        # id no shard knows yields an empty list (the probe's silent-empty
        # contract), never a 400
        from treemachine_spark.functions.dedup import ngram_jaccard_probe

        probed = ngram_jaccard_probe(docs, list(range(30))).collect()
        seed = probed[0]["doc_a"] if probed else 7
        pb = {"doc_ids": [seed, 8, seed, 999_999_999]}
        status, sharded = post(rbase, "/v3/documents/duplicates", pb)
        status2, unsharded = post(urls[2], "/v3/documents/duplicates", pb)
        assert status == status2 == 200 and sharded["shards"] == 2
        assert sharded["results"] == unsharded["results"]
        assert sharded["results"][0] == sharded["results"][2]
        assert sharded["results"][3] == []
        if probed:  # non-vacuous when the corpus carries a near-dup pair
            assert sharded["results"][0]

        # doc_ids contract errors reproduce the unsharded messages
        for bad, msg in [
            ({"doc_ids": ["x"]}, "'doc_ids' must be"),
            ({"doc_ids": [seed], "texts": ["x"]}, "exactly one of"),
            ({"doc_ids": [seed], "threshold": 0}, "'threshold' must be"),
        ]:
            status, resp = post(rbase, "/v3/documents/duplicates", bad)
            assert status == 400 and msg in resp["message"], (bad, resp)
        status, resp = post(rbase, "/v3/documents/duplicates", {"texts": []})
        assert status == 400 and "'texts' must be" in resp["message"]

        # per-shard config skew — one shard lacking the dedup index answers
        # 404 while the other answers 200: that is a 502 (ADVICE r8: a 4xx
        # passes through only when every shard agrees), never a
        # passed-through 404 masquerading as the contract answer
        bare = make_server(store, host="127.0.0.1", port=0)
        threading.Thread(target=bare.serve_forever, daemon=True).start()
        skew = make_router_server(
            ShardRouter(
                pools={"t": [urls[2]]}, default_pool=[urls[2]],
                dedup_shards=[
                    [urls[1]],
                    [f"http://127.0.0.1:{bare.server_address[1]}"],
                ],
            )
        )
        threading.Thread(target=skew.serve_forever, daemon=True).start()
        try:
            status, resp = post(
                f"http://127.0.0.1:{skew.server_address[1]}",
                "/v3/documents/duplicates", body,
            )
            assert status == 502 and "skew" in resp["message"], resp
        finally:
            skew.shutdown()
            skew.server_close()
            bare.shutdown()
            bare.server_close()

        # replica failover THROUGH the indirection chain: shard 0's
        # primary replica is dead, so BOTH fan-outs (text resolve + texts
        # lookup) must wrap to the live replica — answers still equal the
        # unsharded probe
        dead = "http://127.0.0.1:9"  # discard port — connection refused
        fo = make_router_server(
            ShardRouter(
                pools={"t": [urls[2]]}, default_pool=[urls[2]],
                dedup_shards=[[dead, urls[0]], [urls[1]]],
            )
        )
        threading.Thread(target=fo.serve_forever, daemon=True).start()
        try:
            status, failover = post(
                f"http://127.0.0.1:{fo.server_address[1]}",
                "/v3/documents/duplicates", pb,
            )
            assert status == 200 and failover["results"] == unsharded["results"]
        finally:
            fo.shutdown()
            fo.server_close()

        servers[0].shutdown()
        servers[0].server_close()
        status, resp = post(rbase, "/v3/documents/duplicates", body)
        assert status == 502 and "shard failed" in resp["message"]
    finally:
        router.shutdown()
        router.server_close()
        for srv in servers[1:]:
            srv.shutdown()
            srv.server_close()


def test_sharded_doc_ids_null_text_member(spark, base_url):
    """r10 (r9 ADVICE): a corpus MEMBER whose text column is NULL. The
    unsharded probe indexes it as the single empty shingle (NULL's
    shingle twin is ''), so it duplicates other empty/NULL docs at
    jaccard 1.0; the sharded doc_ids indirection must reproduce that —
    texts_of resolves the NULL member to '' instead of treating it as
    unknown."""
    from treemachine_spark.api.dedup import DedupIndex
    from treemachine_spark.api.router import ShardRouter, make_router_server
    from treemachine_spark.api.server import make_server
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "some real words here repeated real words here"),
            (2, None),
            (3, ""),
            (4, "other unrelated content entirely present"),
        ],
        "doc_id long, text string",
    )
    store = _SRV["srv"].core.store
    servers, urls = [], []
    for part in (docs.where(F.col("doc_id") % 2 == 0),
                 docs.where(F.col("doc_id") % 2 == 1),
                 docs):
        srv = make_server(
            store, host="127.0.0.1", port=0, dedup_index=DedupIndex(part)
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        urls.append(f"http://127.0.0.1:{srv.server_address[1]}")
    router = make_router_server(
        ShardRouter(
            pools={"t": [urls[2]]}, default_pool=[urls[2]],
            dedup_shards=[[urls[0]], [urls[1]]],
        )
    )
    threading.Thread(target=router.serve_forever, daemon=True).start()
    rbase = f"http://127.0.0.1:{router.server_address[1]}"
    try:
        pb = {"doc_ids": [2, 3]}
        status, sharded = post(rbase, "/v3/documents/duplicates", pb)
        status2, unsharded = post(urls[2], "/v3/documents/duplicates", pb)
        assert status == status2 == 200
        assert sharded["results"] == unsharded["results"]
        # non-vacuous: NULL-text doc 2 and ''-text doc 3 are mutual
        # jaccard-1.0 duplicates in the probe's shingle space
        assert unsharded["results"][0] == [{"doc_id": 3, "jaccard": 1.0}]
        assert unsharded["results"][1] == [{"doc_id": 2, "jaccard": 1.0}]
        # the worker text route resolves the NULL member to '' (a member),
        # unknowns stay null
        status, tb = post(urls[0], "/v3/documents/text", {"doc_ids": [2, 99]})
        assert status == 200 and tb["texts"]["2"] == ""
        assert tb["texts"]["99"] is None
    finally:
        router.shutdown()
        router.server_close()
        for srv in servers:
            srv.shutdown()
            srv.server_close()


def test_pq_append_republish_served_end_to_end(spark, base_url, tmp_path):
    """r9 (r8 verdict #6): the pq_append freshness flow as ONE served
    path — a vector appended to the persisted PQ index is FOUND after
    from_paths + ServerCore.swap_indexes, and the pre-swap cached
    response for the identical body is invalidated by the generation
    guard (never replayed from the old snapshot)."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.ann import AnnIndex
    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions import pq
    from treemachine_spark.io.tables import load_tables

    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"].cache()
    half = emb.where(F.col("vec_id") < 50)
    half_path = str(tmp_path / "half_emb.parquet")
    half.write.parquet(half_path)
    out = str(tmp_path / "pq_grow_served")
    pq.write_pq_index(
        half, out, m=8, n_codes=16, iters=2, train_rows=None, n_centroids=4
    )

    srv = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0,
        ann_index=AnnIndex.from_paths(spark, half_path, out, n_centroids=4),
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        vec60 = [
            float(x)
            for x in emb.where(F.col("vec_id") == 60).head()["embedding"]
        ]
        body = {"vector": vec60, "k": 3, "method": "ivf"}
        status, before = post(base, "/v3/similarity/topk", body)
        assert status == 200
        assert all(n["neighbor_id"] != 60 for n in before["neighbors"])
        # warm the cache: the identical body replays without a new miss
        m = srv.core.cache.misses
        status2, cached = post(base, "/v3/similarity/topk", body)
        assert (status2, cached) == (200, before)
        assert srv.core.cache.misses == m and srv.core.cache.hits >= 1

        # append the rest of the corpus to the PERSISTED artifact, load a
        # fresh snapshot, republish
        n = pq.pq_append(emb.where(F.col("vec_id") >= 50), out)
        assert n == emb.count() - half.count()
        srv.core.swap_indexes(
            ann_index=AnnIndex.from_paths(spark, emb_path, out, n_centroids=4)
        )

        # the appended vector is served (its own cell is the nearest
        # probe), and the stale cached answer is gone
        status, after = post(base, "/v3/similarity/topk", body)
        assert status == 200
        assert after["neighbors"][0]["neighbor_id"] == 60
        # pq method serves the appended codes through the stored codebook
        status, viapq = post(
            base, "/v3/similarity/topk",
            {"vector": vec60, "k": 3, "method": "pq"},
        )
        assert status == 200
        assert any(nb["neighbor_id"] == 60 for nb in viapq["neighbors"])
    finally:
        srv.shutdown()
        srv.server_close()


def test_swap_indexes_republishes_dedup_snapshot(spark, base_url):
    """r9: swap_indexes' dedup side — a republished DedupIndex serves the
    new corpus and the generation guard drops responses cached against
    the old snapshot (socket-free via ServerCore, mirroring the ANN
    republish route test)."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.dedup import DedupIndex
    from treemachine_spark.api.server import ServerCore
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].cache()
    half = docs.where(F.col("doc_id") < 250)
    core = ServerCore(_SRV["srv"].core.store, cache_size=64,
                      dedup_index=DedupIndex(half))
    row = docs.where(F.col("doc_id") == 400).head()
    body = {"texts": [row["text"]]}
    status, before = core.handle("/v3/documents/duplicates", body)
    assert status == 200
    # doc 400 is outside the half-corpus: no exact self-match served
    assert all(d["doc_id"] != 400 for d in before["results"][0])
    m = core.cache.misses
    status2, cached = core.handle("/v3/documents/duplicates", body)
    assert (status2, cached) == (200, before) and core.cache.misses == m

    old = core.dedup_index
    assert old.index.is_cached  # the inline snapshot caches its index
    core.swap_indexes(dedup_index=DedupIndex(docs))
    status, after = core.handle("/v3/documents/duplicates", body)
    assert status == 200
    assert after["results"][0][0] == {"doc_id": 400, "jaccard": 1.0}
    # r10 (r9 ADVICE): the REPLACED snapshot's cached frames are released
    # — repeated republishes must not accumulate dead executor cache
    assert not old.index.is_cached
    assert core.dedup_index.index.is_cached  # the live snapshot keeps its cache


def test_sharded_stats_scatter_gather(spark, base_url, tmp_path):
    """r10: streaming-sketch stats scatter — workers each maintain a
    running sketch over a DISJOINT slice of the ingest stream; the router
    fans ONE /v3/stats/state request out and merges raw sketch STATE with
    the sketches' own exact laws (bottom-k: sum counts then re-take k;
    HLL: register-wise max) instead of merging estimates (a shard median
    is not the global median). Scattered quantiles must EQUAL the
    union-stream worker's bit-for-bit (BIGINT end-to-end); distinct
    estimates match to the last ulp (only the linear-counting branch's
    log() may differ between libm and the JVM — CLAUDE.md invariant);
    contract 400s pass through verbatim; a downed shard is a 502."""
    import math

    from pyspark.sql import functions as F

    from treemachine_spark.api.router import ShardRouter, make_router_server
    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions.text import token_count
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.streaming.stats import (
        StreamingHLLSketch,
        StreamingQuantileSketch,
    )

    tabs = load_tables(spark, "/root/testdata/sf0.001")
    docs, events = tabs["documents"], tabs["events"]
    tok = lambda df: df.select("lang", token_count(F.col("text")).alias("n"))  # noqa: E731
    sel = lambda df: df.select("event_type", "event_id")  # noqa: E731

    servers, urls = [], []
    for tag, pred in (
        ("a", F.col("doc_id") % 2 == 0),
        ("b", F.col("doc_id") % 2 == 1),
        ("u", F.lit(True)),
    ):
        qsk = StreamingQuantileSketch(
            str(tmp_path / f"q_{tag}"), "n", ["lang"], k=64
        )
        qsk.process_batch(tok(docs.where(pred)), 0)
        dsk = StreamingHLLSketch(
            str(tmp_path / f"d_{tag}"), "event_id", ["event_type"], p=4
        )
        dsk.process_batch(
            sel(events.where(F.col("event_id") % 2 == (0 if tag == "a" else 1))
                if tag != "u" else events),
            0,
        )
        srv = make_server(
            _SRV["srv"].core.store, host="127.0.0.1", port=0,
            stats_sketch=qsk, distinct_sketch=dsk,
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        urls.append(f"http://127.0.0.1:{srv.server_address[1]}")

    router = make_router_server(
        ShardRouter(
            pools={"t": [urls[2]]}, default_pool=[urls[2]],
            stats_shards=[[urls[0]], [urls[1]]],
        )
    )
    threading.Thread(target=router.serve_forever, daemon=True).start()
    rbase = f"http://127.0.0.1:{router.server_address[1]}"
    try:
        # the state route itself: register-scale payload + family configs
        status, state = post(urls[0], "/v3/stats/state", {})
        assert status == 200
        assert state["quantiles"]["kind"] == "quantile"
        assert state["quantiles"]["k"] == 64 and state["quantiles"]["rows"]
        assert state["distinct"]["kind"] == "hll" and state["distinct"]["p"] == 4
        status, resp = post(urls[0], "/v3/stats/state", {"nope": 1})
        assert status == 400 and "unknown arguments" in resp["message"]
        # r11 (r10 ADVICE): a families list restricts the reply to those
        # families' folds — a quantiles-only scatter must not force the
        # shard to also fold its other sketches
        status, part = post(
            urls[0], "/v3/stats/state", {"families": ["quantiles"]}
        )
        assert status == 200 and set(part) == {"quantiles"}
        assert part["quantiles"] == state["quantiles"]
        for bad in (
            [], ["nope"], "quantiles", ["quantiles", "nope"],
            [["quantiles"]], [{"a": 1}],  # unhashable: 400, never a dropped
        ):  # connection (TypeError pre-set() — r11 review)
            status, resp = post(urls[0], "/v3/stats/state", {"families": bad})
            assert status == 400 and "families" in resp["message"]

        # scattered quantiles == the union-stream worker's, bit-for-bit
        body = {"qs": [0.5, 0.9, 0.99]}
        status, merged = post(rbase, "/v3/stats/quantiles", body)
        status2, full = post(urls[2], "/v3/stats/quantiles", body)
        assert status == status2 == 200
        assert merged == {**full, "shards": 2}

        # scattered distinct: same groups/order; estimates to the last ulp
        status, md = post(rbase, "/v3/stats/distinct", {})
        status2, fd = post(urls[2], "/v3/stats/distinct", {})
        assert status == status2 == 200 and md["shards"] == 2
        assert (md["col"], md["groups"]) == (fd["col"], fd["groups"])
        assert [e["group"] for e in md["counts"]] == [
            e["group"] for e in fd["counts"]
        ]
        for got, exp in zip(md["counts"], fd["counts"]):
            assert math.isclose(
                got["estimate"], exp["estimate"], rel_tol=1e-12
            )

        # scattered profile mirrors the worker's combined shape
        status, mp = post(rbase, "/v3/stats/profile", body)
        assert status == 200 and set(mp) == {"quantiles", "distinct", "shards"}
        assert mp["quantiles"] == full
        assert [e["group"] for e in mp["distinct"]["counts"]] == [
            e["group"] for e in fd["counts"]
        ]

        # contract errors pass through verbatim (worker-produced 400s)
        status, resp = post(rbase, "/v3/stats/quantiles", {"qs": []})
        assert status == 400 and "non-empty" in resp["message"]
        status, resp = post(rbase, "/v3/stats/quantiles", {"nope": 1})
        assert status == 400 and "unknown arguments" in resp["message"]
        status, resp = post(rbase, "/v3/stats/distinct", {"x": 1})
        assert status == 400 and "unknown arguments" in resp["message"]
        status, resp = post(rbase, "/v3/stats/profile", {"qs": [1.5]})
        assert status == 400

        # one shard down -> 502, never a silently-partial merge
        servers[1].shutdown()
        servers[1].server_close()
        status, resp = post(rbase, "/v3/stats/quantiles", body)
        assert status == 502 and "shard" in resp["message"]
    finally:
        router.shutdown()
        router.server_close()
        for srv in (servers[0], servers[2]):
            srv.shutdown()
            srv.server_close()


def test_stats_scatter_empty_shard_and_config_skew(spark, base_url, tmp_path):
    """r10: stats-scatter edge contracts. A configured-but-empty SHARD is
    the merge identity (rows: []) — the scatter over (full, empty) equals
    the full shard's own answer — while ALL-empty is the workers' own
    'no partial sketches' 400; shards disagreeing on sketch config (k) or
    on which families exist are a 502 (silently-wrong merges forbidden);
    a family absent from EVERY shard is the workers' 404."""
    from pyspark.sql import functions as F

    from treemachine_spark.api.router import ShardRouter
    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions.text import token_count
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.streaming.stats import StreamingQuantileSketch

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    tok = lambda df: df.select("lang", token_count(F.col("text")).alias("n"))  # noqa: E731

    def worker(qsk):
        srv = make_server(
            _SRV["srv"].core.store, host="127.0.0.1", port=0, stats_sketch=qsk
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, f"http://127.0.0.1:{srv.server_address[1]}"

    from treemachine_spark.streaming.stats import StreamingHLLSketch

    full_sk = StreamingQuantileSketch(str(tmp_path / "full"), "n", ["lang"], k=64)
    full_sk.process_batch(tok(docs), 0)
    srv_full, url_full = worker(full_sk)
    both_d = StreamingHLLSketch(str(tmp_path / "bd"), "n", ["lang"], p=4)
    both_d.process_batch(tok(docs), 0)
    both_q = StreamingQuantileSketch(str(tmp_path / "bq"), "n", ["lang"], k=64)
    both_q.process_batch(tok(docs), 0)
    srv_both = make_server(
        _SRV["srv"].core.store, host="127.0.0.1", port=0,
        stats_sketch=both_q, distinct_sketch=both_d,
    )
    threading.Thread(target=srv_both.serve_forever, daemon=True).start()
    url_both = f"http://127.0.0.1:{srv_both.server_address[1]}"
    srv_empty, url_empty = worker(
        StreamingQuantileSketch(str(tmp_path / "e1"), "n", ["lang"], k=64)
    )
    srv_empty2, url_empty2 = worker(
        StreamingQuantileSketch(str(tmp_path / "e2"), "n", ["lang"], k=64)
    )
    srv_k32, url_k32 = worker(
        StreamingQuantileSketch(str(tmp_path / "k32"), "n", ["lang"], k=32)
    )
    try:
        body = {"qs": [0.5, 0.9]}
        # empty shard = merge identity
        r = ShardRouter({}, [], stats_shards=[[url_full], [url_empty]])
        status, merged = r.scatter_stats("/v3/stats/quantiles", body)
        status2, alone = post(url_full, "/v3/stats/quantiles", body)
        assert status == status2 == 200
        assert merged == {**alone, "shards": 2}

        # all shards empty -> the contract 400
        r = ShardRouter({}, [], stats_shards=[[url_empty], [url_empty2]])
        status, resp = r.scatter_stats("/v3/stats/quantiles", body)
        assert status == 400 and "no partial sketches" in resp["message"]

        # config skew (k mismatch) -> 502, never a silently-wrong merge
        r = ShardRouter({}, [], stats_shards=[[url_full], [url_k32]])
        status, resp = r.scatter_stats("/v3/stats/quantiles", body)
        assert status == 502 and "disagree" in resp["message"]

        # distinct family on NO shard -> the workers' 404; profile names
        # the both-families requirement
        r = ShardRouter({}, [], stats_shards=[[url_full], [url_empty]])
        status, resp = r.scatter_stats("/v3/stats/distinct", {})
        assert status == 404 and "no stats sketch" in resp["message"]
        status, resp = r.scatter_stats("/v3/stats/profile", body)
        assert status == 404 and "both" in resp["message"]

        # distinct family on only SOME shards -> 502 config skew (a merge
        # over a partial family would silently undercount)
        r = ShardRouter({}, [], stats_shards=[[url_full], [url_both]])
        status, resp = r.scatter_stats("/v3/stats/distinct", {})
        assert status == 502 and "only some shards" in resp["message"]

        # no stats shards configured at all -> router-level 400
        r = ShardRouter({}, [])
        status, resp = r.scatter_stats("/v3/stats/quantiles", body)
        assert status == 400 and "no stats shards" in resp["message"]
    finally:
        for srv in (srv_full, srv_empty, srv_empty2, srv_k32, srv_both):
            srv.shutdown()
            srv.server_close()


def test_stats_scatter_families_version_skew(spark, base_url, tmp_path):
    """r12 (r11 ADVICE/VERDICT #3): a pre-r11 worker rejects the router's
    families-keyed state scatter with the contract 400 'unknown arguments:
    [families]' — version skew that must NOT reach the client as if ITS
    request were malformed. The router detects that exact reply (both the
    unanimous-400 pass-through and _fan_out's mixed-status 502 wrap) and
    retries once with the pre-r11 all-three payload, filtering families
    router-side. A genuine client contract error still passes through."""
    import http.server
    import socketserver

    from pyspark.sql import functions as F

    from treemachine_spark.api.router import ShardRouter, _is_families_skew
    from treemachine_spark.api.server import make_server
    from treemachine_spark.functions.text import token_count
    from treemachine_spark.io.tables import load_tables
    from treemachine_spark.streaming.stats import StreamingQuantileSketch

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    tok = lambda df: df.select("lang", token_count(F.col("text")).alias("n"))  # noqa: E731

    def worker(tag, pred):
        qsk = StreamingQuantileSketch(str(tmp_path / tag), "n", ["lang"], k=64)
        qsk.process_batch(tok(docs.where(pred)), 0)
        srv = make_server(
            _SRV["srv"].core.store, host="127.0.0.1", port=0, stats_sketch=qsk
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, f"http://127.0.0.1:{srv.server_address[1]}"

    srv_a, url_a = worker("a", F.col("doc_id") % 2 == 0)
    srv_b, url_b = worker("b", F.col("doc_id") % 2 == 1)
    srv_u, url_u = worker("u", F.lit(True))

    def pre_r11_proxy(backend_url):
        """A stub speaking the PRE-r11 state-route contract in front of a
        real worker: any body key (including families) is the old code's
        'unknown arguments' 400; the empty body forwards and replays the
        worker's all-three reply verbatim."""

        class H(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (stdlib handler name)
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n) or b"{}")
                if self.path == "/v3/stats/state" and body:
                    status, resp = 400, {
                        "message": f"unknown arguments: {sorted(body)}"
                    }
                else:
                    status, resp = post(backend_url, self.path, body)
                raw = json.dumps(resp).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def log_message(self, *a):  # keep pytest output clean
                pass

        srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), H)
        srv.daemon_threads = True
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, f"http://127.0.0.1:{srv.server_address[1]}"

    old_a, url_old_a = pre_r11_proxy(url_a)
    old_b, url_old_b = pre_r11_proxy(url_b)
    try:
        body = {"qs": [0.5, 0.9, 0.99]}
        _, expect = post(url_u, "/v3/stats/quantiles", body)

        # every shard old: the workers' unanimous 400 -> one retry with
        # the pre-r11 empty body -> the correct merged answer
        r = ShardRouter({}, [], stats_shards=[[url_old_a], [url_old_b]])
        status, merged = r.scatter_stats("/v3/stats/quantiles", body)
        assert status == 200, merged
        assert merged == {**expect, "shards": 2}

        # mixed fleet (one old, one new): _fan_out wraps the lone 400 in
        # its config-skew 502 -> same retry, same answer
        r = ShardRouter({}, [], stats_shards=[[url_old_a], [url_b]])
        status, merged = r.scatter_stats("/v3/stats/quantiles", body)
        assert status == 200, merged
        assert merged == {**expect, "shards": 2}

        # a GENUINE client contract error still passes through as 400 —
        # the retry triggers only on the families-specific message
        status, resp = r.scatter_stats("/v3/stats/quantiles", {"nope": 1})
        assert status == 400 and "unknown arguments" in resp["message"]
        assert not _is_families_skew((status, resp))

        # the detector's exact-match scope
        assert _is_families_skew(
            (400, {"message": "unknown arguments: ['families']"})
        )
        assert _is_families_skew(
            (502, {"message": "shard failed: shard answered 400 while "
                   "others answered 200 (per-shard config skew?): "
                   "unknown arguments: ['families']"})
        )
        assert not _is_families_skew(
            (400, {"message": "unknown arguments: ['nope']"})
        )
        assert not _is_families_skew((502, {"message": "shard failed: down"}))
    finally:
        for srv in (old_a, old_b, srv_a, srv_b, srv_u):
            srv.shutdown()
            srv.server_close()
