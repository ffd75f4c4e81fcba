"""In-memory spans and Spark-side counters for the traced benchmark run.

A span is one timed call into a layer of the program, recorded from the
benchmark's own code: name, start, end, parent span and the request or
registry entry it belongs to. Spark work done inside a span is counted
through a job group named after the span and read back from Spark's status
store.

An untraced run creates its ``Tracer`` with ``on=False``: nothing is
wrapped and every ``span()`` is a no-op. A traced run (``on=True``) turns
``enabled`` on for the phases it traces, and adds up in ``overhead_s`` the
time the tracer itself spends around the calls it wraps.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = (
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    key: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans per thread-local parent chain. ``span()`` is a no-op
    context manager while ``enabled`` is false."""

    def __init__(self, spark=None, on: bool = False):
        self.spark = spark
        self.on = on
        self.enabled = False
        self.overhead_s = 0.0
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, key: str = "", jobs: bool = False):
        """Time the body as span ``name``. With ``jobs=True`` the Spark jobs
        the body starts on this thread are tagged with a job group and their
        job/stage counters land in ``span.counters``."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        sp = Span(
            next(self._ids),
            name,
            t0,
            parent=stack[-1].span_id if stack else None,
            key=key or (stack[-1].key if stack else ""),
        )
        group = f"perfbench-{sp.span_id}"
        sc = self.spark.sparkContext if jobs else None
        if sc is not None:
            outer_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", outer_group)
                sp.counters.update(job_counters(self.spark, group))
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += (sp.start - t0) + (time.perf_counter() - sp.end)

    def timed(self, fn, *args):
        """``fn(*args)``, its time added to the tracer's own overhead."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def wrap(self, obj, method: str, name: str, key_arg: bool = False) -> None:
        """Replace ``obj.method`` by a traced call of the original (an
        instance attribute, so the object's own internal calls go through
        it as well). Does nothing on an untraced run."""
        if not self.on:
            return
        original = getattr(obj, method)

        def traced(*args, **kwargs):
            key = str(args[0]) if key_arg and args else ""
            with self.span(name, key=key, jobs=True):
                return original(*args, **kwargs)

        setattr(obj, method, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(sp)) + "\n")

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def job_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks and stage metrics of every job in ``group``,
    read from the status store (times in seconds, sizes in bytes)."""
    sc = spark.sparkContext
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = len(job_ids)
    store = sc._jsc.sc().statusStore()
    for job_id in job_ids:
        try:
            stage_ids = list(_iter(store.job(job_id).stageIds()))
        except Exception:  # evicted from the store: counted as a job only
            continue
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def plan_ms(df) -> float:
    """Catalyst phase time (analysis + optimization + planning) recorded on
    ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    return float(sum(kv._2().durationMs() for kv in _iter(phases)))


def overlap_seconds(start: float, end: float, others: list[Span]) -> float:
    """How much of the interval [start, end] the union of ``others`` covers."""
    total, cursor = 0.0, start
    for o in sorted(others, key=lambda o: o.start):
        lo, hi = max(o.start, cursor), min(o.end, end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part covered by its child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.span_id: s.seconds - overlap_seconds(s.start, s.end, children.get(s.span_id, []))
        for s in spans
    }
