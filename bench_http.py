"""HTTP serving facade under concurrent load (VERDICT r3 #9).

Builds a synthetic balanced tree (default 2.42M tips — the size the
reference's HTTP 400 cap rejects outright), serves it through the real
stdlib server (api/server.py, one shared SparkSession, threaded handler,
Spark FIFO scheduling), then drives mrca / node_info / subtree from 12 and
32 concurrent clients and reports per-endpoint p50/p95/max latency.

Run: python bench_http.py [n_tips] — prints one JSON line.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import time
import urllib.request

from pyspark.sql import functions as F


def _post(base: str, path: str, body: dict) -> tuple[int, float]:
    req = urllib.request.Request(
        base + path,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    t0 = time.time()
    try:
        with urllib.request.urlopen(req) as r:
            r.read()
            status = r.status
    except urllib.error.HTTPError as e:
        e.read()
        status = e.code
    return status, time.time() - t0


def _post_json(base: str, path: str, body: dict) -> tuple[int, dict]:
    """Like _post but returns the decoded JSON body (for benches that
    check answers, e.g. bench_ann's recall phase / bench_dedup's
    sharded-vs-unsharded equality)."""
    req = urllib.request.Request(
        base + path,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _pctl(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return round(xs[min(len(xs) - 1, int(q * len(xs)))], 3)


def _request_factory(tips):
    rng = random.Random(7)
    internals = [f"n{i}" for i in range(1, 200)]  # upper levels of the tree

    def request_for(kind: str) -> tuple[str, dict]:
        if kind == "mrca":
            return "/v3/tree_of_life/mrca", {"node_ids": rng.sample(tips, 160)}
        if kind == "node_info":
            return "/v3/tree_of_life/node_info", {"node_id": rng.choice(tips)}
        return "/v3/tree_of_life/subtree", {
            "node_id": rng.choice(internals),
            "height_limit": 2,
        }

    return request_for


def _drive(base: str, tips, client_counts, request_for=None) -> dict:
    """The unique-traffic load rounds (6 requests per client, mixed kinds).
    Pass an existing ``request_for`` to keep one RNG stream across this and
    later rounds (bodies never repeat -> every request is a cache miss)."""
    if request_for is None:
        request_for = _request_factory(tips)
    results: dict = {}
    for n_clients in client_counts:
        lat: dict[str, list[float]] = {"mrca": [], "node_info": [], "subtree": []}
        errs = [0]
        lock = threading.Lock()

        def client(cid: int):
            kinds = ["mrca", "node_info", "subtree"]
            for i in range(6):
                kind = kinds[(cid + i) % 3]
                path, body = request_for(kind)
                status, dt = _post(base, path, body)
                with lock:
                    lat[kind].append(dt)
                    if status != 200:
                        errs[0] += 1

        t0 = time.time()
        threads = [threading.Thread(target=client, args=(c,)) for c in range(n_clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        results[f"clients_{n_clients}"] = {
            "wall_sec": round(time.time() - t0, 2),
            "n_requests": sum(len(v) for v in lat.values()),
            "errors": errs[0],
            **{
                k: {"p50": _pctl(v, 0.5), "p95": _pctl(v, 0.95), "max": _pctl(v, 1.0)}
                for k, v in lat.items()
            },
        }
    return results


def _tip_names(n_tips: int, fanout: int = 10) -> list[str]:
    """The tip ids synthetic_tree_edges produces, without building edges —
    the sharded parent needs request ids but never builds the store.
    Delegates to bench_tree.synthetic_tip_names (the generator's own
    tips-only path) so the two can never drift (ADVICE r5)."""
    from bench_tree import synthetic_tip_names

    return synthetic_tip_names(n_tips, fanout)


def build_synth_store(spark, n_tips: int):
    """The bench's synthetic GraphStore (cached). Returns
    (store, tips, n_edges, build_sec) — extracted so worker processes in
    the sharded mode build the identical store."""
    from bench_tree import synthetic_tree_edges
    from treemachine_spark.graph.closure import build_closure
    from treemachine_spark.ingest import GraphStore

    t0 = time.time()
    edges_cp, tips = synthetic_tree_edges(spark, n_tips)
    edges_raw = edges_cp.cache()
    n_edges = edges_raw.count()
    edges = edges_raw.select(
        F.lit("synth").alias("tree_id"),
        "child_id",
        "parent_id",
        F.lit(1.0).alias("branch_length"),
        F.lit(0).alias("child_index"),
        F.lit(1).alias("tip_descendants"),
    )
    parents = edges_raw.select(F.col("parent_id").alias("node_id")).distinct()
    nodes = (
        edges_raw.select(F.col("child_id").alias("node_id"))
        .unionByName(spark.createDataFrame([("n0",)], "node_id string"))
        .join(parents.withColumn("_p", F.lit(True)), "node_id", "left")
        .select(
            F.lit("synth").alias("tree_id"),
            "node_id",
            # unnamed nodes: in a real store name != NULL implies an ott_id
            # (taxonomy join), and _blob_from_dict relies on that invariant
            F.lit(None).cast("long").alias("ott_id"),
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("string").alias("unique_name"),
            F.lit(None).cast("string").alias("rank"),
            F.lit(None).cast("array<string>").alias("tax_sources"),
            F.col("_p").isNull().alias("is_leaf"),
        )
    )
    paths = build_closure(edges_raw.select("child_id", "parent_id"))
    ann = spark.createDataFrame(
        [],
        "node_id string, supported_by map<string,string>, "
        "conflicts_with map<string,array<string>>, resolves map<string,string>, "
        "resolved_by map<string,array<string>>, partial_path_of map<string,string>, "
        "terminal map<string,string>",
    )
    smap = spark.createDataFrame(
        [("s1", "study1", "tree1", "sha1")],
        "source_id string, study_id string, tree_id string, git_sha string",
    )
    store = GraphStore(
        tree_id="synth",
        root_id="n0",
        nodes=nodes,
        edges=edges,
        paths=paths,
        node_annotations=ann,
        source_map=smap,
        tree_meta={"tree_id": "synth", "synth_id": "synth"},
    ).cache()
    for df in (store.nodes, store.edges, store.paths):
        df.count()
    return store, tips, n_edges, round(time.time() - t0, 2)


def main() -> None:
    n_tips = int(sys.argv[1]) if len(sys.argv) > 1 else 2_420_000
    from treemachine_spark.api.server import make_server
    from treemachine_spark.session import get_spark

    spark = get_spark("treemachine-http-bench")
    spark.sparkContext.setLogLevel("ERROR")
    store, tips, n_edges, build_sec = build_synth_store(spark, n_tips)

    srv = make_server(store, host="127.0.0.1", port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    client_counts = (
        tuple(int(x) for x in sys.argv[2].split(","))
        if len(sys.argv) > 2
        else (1, 12, 32)
    )
    request_for = _request_factory(tips)
    results = _drive(base, tips, client_counts, request_for=request_for)

    # repeat-traffic round: every client draws from a small fixed request
    # pool, so most requests are byte-identical to one in flight or already
    # answered — the ResponseCache LRU + single-flight path (api/server.py).
    # Unique-traffic rounds above never repeat a body, so they measure the
    # cache-miss engine; this round measures the serving layer's memoization
    # under the same concurrency.
    n_rep = 12
    pool = {
        k: [request_for(k) for _ in range(2)]
        for k in ("mrca", "node_info", "subtree")
    }
    lat = {"mrca": [], "node_info": [], "subtree": []}
    errs = [0]
    lock = threading.Lock()

    def repeat_client(cid: int):
        kinds = ["mrca", "node_info", "subtree"]
        for i in range(6):
            kind = kinds[(cid + i) % 3]
            path, body = pool[kind][i % 2]
            status, dt = _post(base, path, body)
            with lock:
                lat[kind].append(dt)
                if status != 200:
                    errs[0] += 1

    t0 = time.time()
    threads = [
        threading.Thread(target=repeat_client, args=(c,)) for c in range(n_rep)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    results[f"clients_{n_rep}_repeat_pool"] = {
        "wall_sec": round(time.time() - t0, 2),
        "n_requests": sum(len(v) for v in lat.values()),
        "errors": errs[0],
        **{
            k: {"p50": _pctl(v, 0.5), "p95": _pctl(v, 0.95), "max": _pctl(v, 1.0)}
            for k, v in lat.items()
        },
    }

    srv.shutdown()
    srv.server_close()
    print(
        json.dumps(
            {
                "n_tips": n_tips,
                "n_edges": n_edges,
                "store_build_sec": build_sec,
                **results,
            }
        )
    )


def worker_main(n_tips: int, port: int) -> None:
    """One serving shard: its own SparkSession (cores via SPARK_GRAFT_CPUS,
    set by the sharded parent) + its own copy of the synthetic store."""
    from treemachine_spark.api.server import make_server
    from treemachine_spark.session import get_spark

    spark = get_spark(f"treemachine-http-worker-{port}")
    spark.sparkContext.setLogLevel("ERROR")
    store, _tips, _n_edges, build_sec = build_synth_store(spark, n_tips)
    srv = make_server(store, host="127.0.0.1", port=port)
    print(f"WORKER_READY {port} build={build_sec}", flush=True)
    srv.serve_forever()


def sharded_main(n_tips: int, n_workers: int, counts_str: str) -> None:
    """VERDICT r4 #4 / r7 #6: the sharded deployment shape, measured. N
    worker processes (each its own SparkSession with 32/N cores + its own
    store replica) behind the stdlib ShardRouter, driven by the same client
    mix as the single-process rows. Total cores are held constant, so the
    comparison isolates what sharding buys: separate schedulers, separate
    GC heaps, no cross-request queueing on one driver.

    Multi-MACHINE interim evidence (r7 #6 — no second box exists in this
    environment): each worker is pinned to a DISJOINT CPU set via taskset,
    so no JVM thread of worker i can ever run on worker j's cores — the
    closest single-box approximation of disjoint hardware. After the load
    rounds, worker 0 is SIGKILLed and one more round runs through the
    router: the replica-failover path must answer every request from the
    surviving workers (errors == 0), which is the cross-machine failure
    story a second box would demonstrate."""
    import os
    import shutil
    import subprocess

    from treemachine_spark.api.router import ShardRouter, make_router_server

    total_cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cores = max(1, total_cores // n_workers)
    ports = [19100 + i for i in range(n_workers)]
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM", "12g"),
    }
    pin = shutil.which("taskset")
    cpu_sets = [f"{i * cores}-{(i + 1) * cores - 1}" for i in range(n_workers)]
    t0 = time.time()
    procs = [
        subprocess.Popen(
            ((["taskset", "-c", cpu_sets[i]] if pin else [])
             + [sys.executable, __file__, "worker", str(n_tips), str(p)]),
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        for i, p in enumerate(ports)
    ]
    urls = [f"http://127.0.0.1:{p}" for p in ports]
    try:
        deadline = time.time() + 900
        ready: set = set()
        while len(ready) < n_workers:
            if time.time() > deadline:
                raise TimeoutError(f"workers ready: {sorted(ready)} of {ports}")
            for u in urls:
                if u in ready:
                    continue
                try:
                    status, _ = _post(u, "/v3/tree_of_life/about", {})
                    if status == 200:
                        ready.add(u)
                except Exception:
                    pass
            time.sleep(2)
        workers_ready_sec = round(time.time() - t0, 2)

        router = ShardRouter({"synth": urls}, urls)
        rsrv = make_router_server(router)
        threading.Thread(target=rsrv.serve_forever, daemon=True).start()
        base = f"http://127.0.0.1:{rsrv.server_address[1]}"

        tips = _tip_names(n_tips)
        # belt-and-braces (ADVICE r5): a sampled tip MUST resolve on the
        # workers before driving load — otherwise every request 400s and
        # the latency numbers would print as if valid
        status, _ = _post(
            base, "/v3/tree_of_life/node_info", {"node_id": tips[0]}
        )
        if status != 200:
            raise RuntimeError(
                f"sampled tip {tips[0]!r} does not resolve on the workers "
                f"(HTTP {status}) — tip list / store generator mismatch"
            )
        counts = tuple(int(x) for x in counts_str.split(","))
        results = _drive(base, tips, counts)

        # replica failover across REAL process boundaries: SIGKILL worker 0
        # (no graceful shutdown — the hard-failure case a dead machine
        # presents), then one more unique-traffic round through the router.
        # forward() retries the surviving replicas, so errors must be 0.
        procs[0].kill()
        procs[0].wait(timeout=30)
        kill_round = _drive(base, tips, (counts[0],))
        failover = kill_round[f"clients_{counts[0]}"]
        rsrv.shutdown()
        rsrv.server_close()
        print(
            json.dumps(
                {
                    "mode": "sharded",
                    "n_tips": n_tips,
                    "n_workers": n_workers,
                    "cores_per_worker": cores,
                    "cpu_pinning": cpu_sets if pin else None,
                    "workers_ready_sec": workers_ready_sec,
                    **results,
                    "after_sigkill_worker0": failover,
                    "failover_ok": failover["errors"] == 0,
                }
            )
        )
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            try:
                p.wait(timeout=30)
            except Exception:
                p.kill()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        worker_main(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "shards":
        sharded_main(
            int(sys.argv[2]),
            int(sys.argv[3]) if len(sys.argv) > 3 else 4,
            sys.argv[4] if len(sys.argv) > 4 else "32,64",
        )
    else:
        main()
