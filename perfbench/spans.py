"""Outside-in layer tracing for the benchmark.

Spans are recorded around calls into each module's public functions, wrapped
where their callers look them up (``api.v3.assemble_newick`` is wrapped in
``api.v3``, not in ``exporters.newick_sink``), so no library code changes.

Every span sets its own Spark job group while it is open and restores its
parent's on exit, so a job is charged to the innermost span whose action ran
it. A span around a call that only builds a lazy DataFrame therefore records
plan-build time, and the execution shows up under the span that collected.
Per-job and per-stage figures come from Spark's own status store, which is
populated with the UI disabled.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"


class Tracer:
    """Span recorder; spans are kept in memory and written out at exit.

    ``active`` switches recording on and off, so traced and untraced cycles
    can be interleaved in one process with the wrappers left in place.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str, attrs_of=None):
        """``fn`` wrapped in a span named ``name``; ``attrs_of(args, kwargs)``
        may add attributes (an answer size, a tier) to the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            stack = self._stack()
            parent = stack[-1] if stack else None
            with self._lock:
                sid = len(self.spans)
                span = Span(sid, parent.sid if parent else None,
                            parent.op if parent else sid, name, 0.0)
                self.spans.append(span)
            if attrs_of is not None:
                span.attrs.update(attrs_of(args, kwargs))
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", span.group)
            stack.append(span)
            span.t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span.t1 = time.perf_counter()
                stack.pop()
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

        return traced

    def patch(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` (a module or class attribute) by its
        traced wrapper."""
        setattr(owner, attr, self.wrap(getattr(owner, attr), name, attrs_of))

    def innermost(self) -> Span | None:
        """The open span of the calling thread, if any."""
        stack = self._stack()
        return stack[-1] if stack else None

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "parent": s.parent, "op": s.op, "name": s.name,
             "t0": s.t0, "t1": s.t1, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def _tip_count(args, kwargs) -> dict:
    tips = kwargs.get("tips", args[1] if len(args) > 1 else None)
    return {"tips": len(tips)} if isinstance(tips, (list, tuple)) else {}


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every traced layer."""
    from pyspark.sql import SparkSession
    from treemachine_spark import ingest
    from treemachine_spark.api import v3
    from treemachine_spark.graph import traversal

    cls = v3.TreeOfLifeV3
    for meth in ("node_info", "mrca", "induced_subtree", "about"):
        tracer.patch(cls, meth, f"v3.{meth}")
    # one subtree method serves both formats; name its span by format
    subtree = cls.subtree
    by_format = {
        fmt: tracer.wrap(subtree, f"v3.subtree_{fmt}") for fmt in ("newick", "arguson")
    }

    @functools.wraps(subtree)
    def subtree_by_format(self, *args, **kwargs):
        return by_format[kwargs.get("tree_format") or "newick"](self, *args, **kwargs)

    cls.subtree = subtree_by_format

    # api.v3 looks these up through the traversal module object (``T.mrca``)
    for fn in ("mrca", "induced_subtree"):
        tracer.patch(traversal, fn, f"traversal.{fn}", _tip_count)
    tracer.patch(traversal, "path_to_root", "traversal.path_to_root")
    tracer.patch(v3, "assemble_newick", "newick.assemble")

    # ingest imports its sources and the closure builder by name
    for fn, name in (
        ("newick_to_dataframes", "sources.parse_newick"),
        ("read_annotations", "sources.annotations"),
        ("with_taxonomy_support", "sources.annotations"),
        ("read_taxonomy_tsv", "sources.taxonomy"),
        ("filter_to_tree", "sources.taxonomy"),
        ("build_closure", "closure.build"),
        ("ingest_synthesis_data", "ingest.ingest"),
        ("write_store", "ingest.write"),
    ):
        tracer.patch(ingest, fn, name)

    # build_closure checks each doubling round's extension for emptiness:
    # count rounds as the isEmpty calls made directly inside closure.build.
    # Patch the class the session's frames have: pyspark.sql.DataFrame is
    # an abstract parent whose subclasses override isEmpty
    frame_cls = type(SparkSession.active().range(0))
    is_empty = frame_cls.isEmpty
    round_span = tracer.wrap(is_empty, "closure.round")

    @functools.wraps(is_empty)
    def is_empty_by_caller(self):
        inner = tracer.innermost()
        in_closure = inner is not None and inner.name == "closure.build"
        return (round_span if in_closure else is_empty)(self)

    frame_cls.isEmpty = is_empty_by_caller


# -- Spark status store -------------------------------------------------


@dataclass
class SparkCost:
    """Spark work charged to one set of job groups."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ms: float = 0.0  # wall time covered by at least one job
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_ms: float = 0.0


# the status store is fed by an asynchronous listener, so a job that has
# just returned may not be marked complete yet: wait this long for it
SETTLE_S = 5.0


def spark_cost(sc, groups: list[str]) -> SparkCost:
    """Sum the status-store figures of every job in ``groups``."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    deadline = time.time() + SETTLE_S
    cost = SparkCost(jobs=len(job_ids))
    intervals = []
    for jid in job_ids:
        jd = store.job(jid)
        while not jd.completionTime().isDefined() and time.time() < deadline:
            time.sleep(0.02)
            jd = store.job(jid)
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            intervals.append(
                (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
            )
        stage_ids = jd.stageIds()
        for i in range(stage_ids.size()):
            sd = store.lastStageAttempt(stage_ids.apply(i))
            if sd.status().toString() == "SKIPPED":
                continue
            cost.stages += 1
            cost.tasks += sd.numCompleteTasks()
            cost.executor_run_ms += sd.executorRunTime()
            cost.executor_cpu_ms += sd.executorCpuTime() / 1e6
            cost.shuffle_read_mb += sd.shuffleReadBytes() / 1e6
            cost.shuffle_write_mb += sd.shuffleWriteBytes() / 1e6
            cost.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            cost.gc_ms += sd.jvmGcTime()
    cost.job_ms = _union_ms(intervals)
    return cost


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
