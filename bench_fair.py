"""A/B: per-route FAIR scheduler pools vs one shared pool (VERDICT r11 #6).

The r11 saturation soak showed heavy subtree extractions queueing point
lookups behind them on one scheduler. session.get_spark runs FAIR mode,
but FAIR is FIFO *inside* a pool — isolation needs each route family in
its own pool (api/server._route_pool). This bench serves one synthetic
store and measures light-route latency (node_info point lookups, mrca)
while heavy clients hammer subtree extractions, three times in the same
process (A/B/A): the A phases route every request family into one
"shared" pool — the pre-r12 behavior, switched on here by patching
api/server._route_pool for the phase — both FIRST and LAST so JVM/JIT
warm-order bias runs against the per-family pools, whose single B phase
must still beat the better A phase. The per-family pools
should cut the light routes' p50/p95 under identical heavy load.

Run: python bench_fair.py [n_tips] [light_reqs] [n_heavy] [n_light]
Prints one JSON line.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import time

from bench_http import _post, build_synth_store, _pctl


def _phase(base: str, tips, internals, light_reqs: int, n_heavy: int,
           n_light: int) -> dict:
    """Heavy subtree load + measured light traffic until every light
    client lands its quota; returns per-route latency stats."""
    rng = random.Random(7)
    stop = threading.Event()
    heavy_lat: list[float] = []
    light_lat: dict[str, list[float]] = {"node_info": [], "mrca": []}
    lock = threading.Lock()
    errors = []

    def heavy(cid: int) -> None:
        crng = random.Random(100 + cid)
        while not stop.is_set():
            status, dt = _post(base, "/v3/tree_of_life/subtree",
                               {"node_id": crng.choice(internals),
                                "height_limit": 2})
            with lock:
                (heavy_lat if status == 200 else errors).append(dt)

    def light(cid: int) -> None:
        crng = random.Random(200 + cid)
        for i in range(light_reqs):
            if i % 2 == 0:
                path, body = "/v3/tree_of_life/node_info", {
                    "node_id": crng.choice(tips)}
                kind = "node_info"
            else:
                path, body = "/v3/tree_of_life/mrca", {
                    "node_ids": crng.sample(tips, 160)}
                kind = "mrca"
            status, dt = _post(base, path, body)
            with lock:
                (light_lat[kind] if status == 200 else errors).append(dt)

    hs = [threading.Thread(target=heavy, args=(c,)) for c in range(n_heavy)]
    ls = [threading.Thread(target=light, args=(c,)) for c in range(n_light)]
    t0 = time.time()
    for t in hs + ls:
        t.start()
    for t in ls:
        t.join()
    stop.set()
    for t in hs:
        t.join()
    out = {
        "wall_sec": round(time.time() - t0, 1),
        "errors": len(errors),
        "heavy_subtree": {
            "n": len(heavy_lat),
            "p50": _pctl(heavy_lat, 0.5),
            "p95": _pctl(heavy_lat, 0.95),
        },
    }
    for kind, lats in light_lat.items():
        out[kind] = {"n": len(lats), "p50": _pctl(lats, 0.5),
                     "p95": _pctl(lats, 0.95), "max": _pctl(lats, 1.0)}
    return out


def main() -> None:
    n_tips = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    light_reqs = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    n_heavy = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    n_light = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from treemachine_spark.api import server
    from treemachine_spark.session import get_spark

    spark = get_spark("bench-fair")
    store, tips, n_edges, build_sec = build_synth_store(spark, n_tips)
    internals = [f"n{i}" for i in range(1, 40)]  # depth-1/2 heavy roots
    # cache off: every request must hit the engine, or the light routes
    # would measure dict lookups instead of scheduler behavior
    srv = server.make_server(store, host="127.0.0.1", port=0, cache_size=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    # warm every route shape once (JVM/codegen warmup out of the compare)
    for path, body in (
        ("/v3/tree_of_life/node_info", {"node_id": tips[0]}),
        ("/v3/tree_of_life/mrca", {"node_ids": tips[:160]}),
        ("/v3/tree_of_life/subtree", {"node_id": internals[0],
                                      "height_limit": 2}),
    ):
        status, _ = _post(base, path, body)
        if status != 200:
            raise RuntimeError(f"warmup {path} -> HTTP {status}")

    out = {"n_tips": n_tips, "n_edges": n_edges, "build_sec": build_sec,
           "heavy_clients": n_heavy, "light_clients": n_light,
           "light_reqs_each": light_reqs}

    def run_phase() -> dict:
        return _phase(base, tips, internals, light_reqs, n_heavy, n_light)

    def run_single_pool_phase() -> dict:
        # ServerCore._in_pool looks _route_pool up per request, so the
        # patch collapses every route family into one pool for this phase
        route_pool = server._route_pool
        server._route_pool = lambda path: "shared"
        try:
            return run_phase()
        finally:
            server._route_pool = route_pool

    # A/B/A: phase order warms the JVM in favor of whatever runs later,
    # so the single-pool baseline runs BOTH first and last and the
    # comparison uses its better (warmer) phase — any remaining bias
    # runs AGAINST the per-route pools (r12 review)
    out["single_pool"] = run_single_pool_phase()
    out["per_route_pools"] = run_phase()
    out["single_pool_again"] = run_single_pool_phase()

    for kind in ("node_info", "mrca"):
        a = min(out["single_pool"][kind]["p50"],
                out["single_pool_again"][kind]["p50"])
        b = out["per_route_pools"][kind]["p50"]
        out[f"{kind}_p50_speedup"] = round(a / b, 2) if b else None
    out["fair_ok"] = (
        out["single_pool"]["errors"] == 0
        and out["single_pool_again"]["errors"] == 0
        and out["per_route_pools"]["errors"] == 0
        and out["per_route_pools"]["node_info"]["p50"]
        <= min(out["single_pool"]["node_info"]["p50"],
               out["single_pool_again"]["node_info"]["p50"])
    )
    srv.shutdown()
    srv.server_close()
    print(json.dumps({"metric": "fair_pools_ab", **out}))


if __name__ == "__main__":
    main()
