"""In-memory spans, self-time arithmetic and Spark stage metrics.

A span is (name, start, end, parent, trace id).  Spans are recorded by
the benchmark around calls into the program's layers; nothing inside the
program is instrumented.  Self time is a span's duration minus the part
of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``write`` dumps them once at the end."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent,
                  trace_id=self.trace_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def index(self, sp: Span) -> int:
        return next(i for i, s in enumerate(self.spans) if s is sp)

    def self_time(self, index: int) -> float:
        return self_times(self.spans)[index]

    def total(self, name: str, self_only: bool = False) -> float:
        """Summed duration (or self time) of every span called ``name``."""
        own = self_times(self.spans) if self_only else None
        return sum(own[i] if self_only else s.duration
                   for i, s in enumerate(self.spans) if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """For every span, its duration minus the union of its children's
    intervals, each clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, p in enumerate(spans):
        covered = union_length(
            (max(c.start, p.start), min(c.end, p.end))
            for c in children.get(i, ()) if c.end > p.start and c.start < p.end)
        out.append(p.duration - covered)
    return out


# ---------------------------------------------------------------------------
# Spark status store: per-stage task metrics for the jobs inside a span
# ---------------------------------------------------------------------------

def _stage_list(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(None, False, False,
                          sc._gateway.new_array(sc._jvm.double, 0), None)
    return [seq.apply(i) for i in range(seq.size())]


def max_stage_id(spark) -> int:
    """Highest stage id the session has created so far (-1 if none)."""
    return max((s.stageId() for s in _stage_list(spark)), default=-1)


def _ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def stage_summary(spark, after_stage_id: int) -> dict:
    """Task metrics summed over the stages created after
    ``after_stage_id``.  The benchmark is a single closed-loop client, so
    every such stage belongs to the span that just ended.  ``busy_s`` is
    the union of the stages' [submission, completion] intervals."""
    out = {"stages": 0, "executor_cpu_s": 0.0,
           "shuffle_write_bytes": 0, "input_bytes": 0, "tasks_failed": 0,
           "scan_s": 0.0}
    busy = []
    for s in _stage_list(spark):
        if s.stageId() <= after_stage_id:
            continue
        out["tasks_failed"] += s.numFailedTasks()
        sub, done = _ms(s.submissionTime()), _ms(s.completionTime())
        if sub is None:  # skipped: its output was reused
            continue
        out["stages"] += 1
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["input_bytes"] += s.inputBytes()
        if done is not None:
            busy.append((sub / 1e3, done / 1e3))
            if s.inputBytes() > 0:  # reads files: a scan stage
                out["scan_s"] += (done - sub) / 1e3
    out["busy_s"] = union_length(busy)
    return out


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector in the JVM.  In local
    mode the driver and the executors share it; the tasks' own
    ``jvmGcTime`` misses collections that run between tasks."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


@contextlib.contextmanager
def spark_span(tracer: Tracer, spark, name: str):
    """A span whose attrs gain the stage metrics of the jobs it ran, the
    JVM's garbage-collection time ``gc_s``, and ``driver_s``: span
    length minus the time stages were busy."""
    mark, gc0 = max_stage_id(spark), jvm_gc_s(spark)
    with tracer.span(name) as sp:
        yield sp
    stats = stage_summary(spark, mark)
    stats["gc_s"] = jvm_gc_s(spark) - gc0
    stats["driver_s"] = max(0.0, sp.duration - stats["busy_s"])
    sp.attrs.update(stats)
