"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload tree_read --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the run's details (host
fingerprint, release shape, window halves, per-kind medians). Everything
the run writes stays under ``.perfbench_work/`` in the current directory;
spans of a traced run are written there at exit. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_DIR = ".perfbench_work"  # every file a run writes goes under here

# one release size for both workloads: big enough that the extract mix
# reaches the joined tier (more than DRIVER_PATH_MAX_TIPS=5000 tips asked)
DEFAULT_TIPS = 10_000
STORE_TABLES = ("nodes", "edges", "paths", "node_annotations", "source_map")


def pin_host(work: str) -> None:
    """Size Spark to this host and keep its scratch files in ``work``.

    The session defaults to local[32] and a 16g heap; on a small host that
    oversubscribes the cores and overcommits memory.
    """
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            # no hsperfdata file: the JVM would put it in /tmp whatever tmpdir says
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )


def kill_leftover_jvms() -> None:
    """Stop Spark JVMs an earlier benchmark run in this directory left
    behind. Only JVMs whose temp dir ``pin_host`` put under this
    directory's ``.perfbench_work/`` match; other Spark sessions started
    here (a test run, a shell) are left alone."""
    marker = f"-Djava.io.tmpdir={os.path.join(ROOT, WORK_DIR)}{os.sep}".encode()
    me = os.getpid()
    killed = False
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                args = fh.read().split(b"\0")
        except OSError:
            continue
        if (int(pid) != me and b"org.apache.spark.deploy.SparkSubmit" in args
                and any(a.startswith(marker) for a in args)):
            try:
                os.kill(int(pid), signal.SIGKILL)
                killed = True
            except OSError:
                pass
    if killed:
        time.sleep(1.0)


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cache_mb(sc) -> float:
    return sum(r.memSize() for r in sc._jsc.sc().getRDDStorageInfo()) / 1e6


def median_of(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def span_ms(tracer, name: str) -> float:
    """Median over ops of the time spent in spans called ``name``."""
    per_op: dict[int, float] = {}
    for s in tracer.spans:
        if s.name == name:
            per_op[s.op] = per_op.get(s.op, 0.0) + s.ms
    return median_of(per_op.values())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tree_read", "tree_extract"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tips", type=int, default=DEFAULT_TIPS,
                    help="release size (smaller for smoke tests)")
    args = ap.parse_args(argv)

    cpu0 = cpu_times()
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_host(work)
    kill_leftover_jvms()

    import bench  # the repository's host fingerprint, recorded as found

    host = bench._host_fingerprint()

    import release
    import spans as tr
    import workloads as wl
    from treemachine_spark import ingest
    from treemachine_spark.graph.traversal import DRIVER_PATH_MAX_TIPS
    from treemachine_spark.session import get_spark

    marks = {"fingerprint": time.time()}
    spark = get_spark("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    marks["session"] = time.time()
    try:
        rng = random.Random(args.seed)
        rel = release.draw(args.tips, args.seed)
        files = rel.write(os.path.join(work, "release"), rng)
        marks["release"] = time.time()

        tracer = None
        if args.trace:
            tracer = tr.Tracer(sc)
            tr.install(tracer)
            tracer.active = True

        def load_and_count(out):
            store = ingest.load_store(spark, out)
            return store, {t: getattr(store, t).count() for t in STORE_TABLES}

        if tracer is not None:
            load_and_count = tracer.wrap(load_and_count, "ingest.load")
        out = os.path.join(work, "store")
        built = ingest.ingest_synthesis_data(spark, files["newick"], files["annotations"], files["taxonomy"])
        marks["ingest"] = time.time()
        ingest.write_store(built, out)
        marks["write"] = time.time()
        spark.catalog.clearCache()  # serve the persisted layout, not the build
        store, counts = load_and_count(out)
        marks["load"] = time.time()
        if tracer is not None:
            tracer.active = False
            closure_spans = [s for s in tracer.spans if s.name in ("closure.build", "closure.round")]
            closure_jobs = tr.spark_cost(sc, [s.group for s in closure_spans]).jobs
        want = {
            "nodes": rel.n_nodes,
            "edges": rel.n_nodes - 1,
            "paths": rel.closure_rows,
            "node_annotations": rel.n_nodes,
            "source_map": release.N_SOURCES,
        }
        setup_failed = int(counts != want)
        store_bytes, store_files = dir_bytes(out)

        mix = wl.MIXES[args.workload](rel, rng)
        traced_ops: list[dict] = []

        def on_traced_cycle(samples):
            by_req = {s.attrs.get("req"): s for s in tracer.spans if s.name == "server.handle"}
            for smp in samples:
                root = by_req[smp.req]
                cost = tr.spark_cost(sc, [s.group for s in tracer.op_spans(root.op)])
                traced_ops.append({"client_ms": smp.ms, "handle_ms": root.ms, "cost": cost})

        held = {}
        run = wl.serve_and_drive(
            store, mix, args.seconds, tracer,
            on_traced_cycle if tracer is not None else None,
            on_warm=lambda: held.setdefault("cache_mb", cache_mb(sc)),
        )
        marks["window_end"] = time.time()
    finally:
        stop_spark(spark)
        for sub in ("release", "store", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        if not args.trace:
            os.rmdir(work)
    marks["stopped"] = time.time()
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]

    samples = run.samples
    busy = sum(s.ms for s in samples) / 1000.0
    failed = sum(not s.ok for s in samples) + run.warm_failed + setup_failed
    n_cycles = max(s.cycle for s in samples) + 1
    # warm-up check: each request's latency over its kind's median, so the
    # two halves compare alike even when they hold different kinds
    kind_p50 = {k: median_of(s.ms for s in samples if s.kind == k) for k in {s.kind for s in samples}}
    rel_ms = [s.ms / kind_p50[s.kind] for s in samples]
    first = median_of(rel_ms[: len(rel_ms) // 2])
    second = median_of(rel_ms[len(rel_ms) - len(rel_ms) // 2 :])
    lookups = run.cache_hits + run.cache_misses
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        # CPU time the hypervisor gave to other guests during this run: the
        # largest run-to-run noise source seen on shared hosts
        "cpu_steal_share": round(cpu[7] / max(1, sum(cpu)), 4),
        "release": {
            "tips": rel.n_tips,
            "nodes": rel.n_nodes,
            "closure_rows": rel.closure_rows,
            "mean_tip_depth": round(rel.mean_tip_depth, 2),
            "max_depth": max(rel.depth),
        },
        "store_counts": counts,
        "marks_s": {k: round(v - T_START, 2) for k, v in marks.items()},
        "warm_s": round(run.warm_s, 3),
        "window_s": round(busy, 3),
        "ops": len(samples),
        "cycles": n_cycles,
        "halves_rel_p50": [round(first, 3), round(second, 3)],
        "p50_ms_by_cycle": [
            round(median_of(s.ms for s in samples if s.cycle == c), 2) for c in range(n_cycles)
        ],
        "cache_hit_share": round(run.cache_hits / lookups, 4) if lookups else None,
        "p50_ms_by_kind": {k: round(kind_p50[k], 2) for k in sorted(kind_p50)},
        # kind, tips in the answer and latency of every request
        "warm_samples": [[s.kind, s.tips, round(s.ms, 1)] for s in run.warm],
        "samples": [[s.kind, s.tips, round(s.ms, 1)] for s in samples],
        "failed_by_kind": {
            k: sum(1 for s in samples if s.kind == k and not s.ok)
            for k in sorted({s.kind for s in samples})
        },
        "warm_failed": run.warm_failed,
        "setup_failed": setup_failed,
    }

    if not args.trace:
        metrics = {
            "setup_s": (run.first_timed - T_START, "s"),
            "latency_p50_ms": (median_of(s.ms for s in samples), "ms"),
            "throughput_ops": (len(samples) / busy, "1/s"),
            "tips_per_s": (sum(s.tips for s in samples) / busy, "1/s"),
            "store_mb": (store_bytes / 1e6, "MB"),
            "cache_mb": (held["cache_mb"], "MB"),
        }
    else:
        traced = [s for s in samples if s.traced]
        plain = [s for s in samples if not s.traced]
        n_ops = max(1, len(traced_ops))

        def per_op(attr: str) -> float:
            return sum(getattr(o["cost"], attr) for o in traced_ops) / n_ops

        tier_calls = [
            s for s in tracer.spans
            if s.name in ("traversal.mrca", "traversal.induced_subtree") and "tips" in s.attrs
        ]
        metrics = {
            "server.handle_ms": (median_of(o["handle_ms"] for o in traced_ops), "ms"),
            "server.http_ms": (median_of(o["client_ms"] - o["handle_ms"] for o in traced_ops), "ms"),
            "server.cache_hit_ratio": (run.cache_hits / lookups if lookups else 0.0, "ratio"),
            "server.cache_lookups": (lookups, "count"),
            **{
                f"v3.{m}_ms": (span_ms(tracer, f"v3.{m}"), "ms")
                for m in ("node_info", "mrca", "induced_subtree", "subtree_newick",
                          "subtree_arguson", "about")
            },
            "spark.jobs_per_op": (per_op("jobs"), "count"),
            "spark.stages_per_op": (per_op("stages"), "count"),
            "spark.tasks_per_op": (per_op("tasks"), "count"),
            "spark.job_ms_per_op": (per_op("job_ms"), "ms"),
            "spark.driver_gap_ms": (
                sum(o["handle_ms"] - o["cost"].job_ms for o in traced_ops) / n_ops, "ms"),
            "spark.executor_run_ms": (per_op("executor_run_ms"), "ms"),
            "spark.executor_cpu_ms": (per_op("executor_cpu_ms"), "ms"),
            "spark.shuffle_read_mb": (per_op("shuffle_read_mb"), "MB"),
            "spark.shuffle_write_mb": (per_op("shuffle_write_mb"), "MB"),
            "spark.spill_mb": (per_op("spill_mb"), "MB"),
            "spark.gc_ms": (per_op("gc_ms"), "ms"),
            "traversal.mrca_ms": (span_ms(tracer, "traversal.mrca"), "ms"),
            "traversal.induced_subtree_ms": (span_ms(tracer, "traversal.induced_subtree"), "ms"),
            "traversal.path_to_root_ms": (span_ms(tracer, "traversal.path_to_root"), "ms"),
            "traversal.joined_share": (
                sum(s.attrs["tips"] > DRIVER_PATH_MAX_TIPS for s in tier_calls) / len(tier_calls)
                if tier_calls else 0.0, "ratio"),
            "newick.assemble_ms": (span_ms(tracer, "newick.assemble"), "ms"),
            "sources.parse_newick_ms": (span_ms(tracer, "sources.parse_newick"), "ms"),
            "sources.annotations_ms": (span_ms(tracer, "sources.annotations"), "ms"),
            "sources.taxonomy_ms": (span_ms(tracer, "sources.taxonomy"), "ms"),
            "closure.build_ms": (span_ms(tracer, "closure.build"), "ms"),
            "closure.rounds": (sum(s.name == "closure.round" for s in tracer.spans), "count"),
            "closure.jobs": (closure_jobs, "count"),
            "closure.rows": (counts["paths"], "count"),
            "ingest.write_ms": (span_ms(tracer, "ingest.write"), "ms"),
            "ingest.load_ms": (span_ms(tracer, "ingest.load"), "ms"),
            "ingest.store_files": (store_files, "count"),
            "trace.overhead_ms": (median_of(s.ms for s in traced) - median_of(s.ms for s in plain), "ms"),
            "window.halves_drift": (second / first - 1.0 if first else 0.0, "ratio"),
        }
        with open(os.path.join(work, "spans.json"), "w") as fh:
            json.dump(tracer.dump(), fh)

    print(json.dumps(details))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
