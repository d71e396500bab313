"""In-memory tracing for the benchmark's traced runs.

Spans are recorded from outside the engine: :meth:`Tracer.wrap`
replaces a public function (in every engine module that bound it) with
a wrapper that times the call. Spans stay in memory; :meth:`layers`
folds them into per-layer counts and times when the run ends.

Spark-side work is attributed per top-level span: the outermost wrapped
call on a thread runs under its own job group, and its job, stage and
task counts come from ``statusTracker``; job submission and completion
times come from Spark's status store, so the part of a span's wall time
that no job covers is its driver gap. Nested wrapped calls inherit the
outer call's job group, so jobs count once, against the outer layer.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder. Disabled tracers wrap nothing and cost nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._seq = itertools.count()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def muted(self):
        """Record no spans inside the block (the benchmark's own checks
        call engine functions that must not count as workload work)."""
        prev = getattr(self._local, "muted", False)
        self._local.muted = True
        try:
            yield
        finally:
            self._local.muted = prev

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` under a span named ``name``. A call directly inside
        a span of the same name (the benchmark's op span around the
        wrapped function it calls) is folded into that span."""
        if not self.enabled or getattr(self._local, "muted", False):
            return fn(*args, **kwargs)
        stack = self._stack()
        if stack and self.spans[stack[-1]].name == name:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        span = Span(name, time.time(), stack[-1] if stack else None)
        prev_group = None
        if not stack:
            span.group = f"perfbench-{next(self._seq)}"
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(span.group, name)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span.end = time.time()
            if span.group is not None:
                span.jobs = list(sc.statusTracker().getJobIdsForGroup(span.group))
                sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Trace every call of ``owner.attr``. Module-level functions are
        also replaced in each engine module that imported them by name."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        setattr(owner, attr, traced)
        if not isinstance(owner, type):
            pkg = owner.__name__.split(".")[0]
            for mod in list(sys.modules.values()):
                if mod is not None and mod.__name__.startswith(pkg) and getattr(
                    mod, attr, None
                ) is original:
                    setattr(mod, attr, traced)

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    # ------------------------------------------------------- job timing
    def _job_intervals(self, job_ids: list[int]) -> tuple[list, int, int]:
        """(submission, completion) seconds of each job, plus stage and
        task counts."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        intervals, stages, tasks = [], 0, 0
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stages += len(info.stageIds)
                for sid in info.stageIds:
                    st = sc.statusTracker().getStageInfo(sid)
                    tasks += st.numTasks if st is not None else 0
            try:
                jd = store.job(jid)
            except Exception:  # noqa: BLE001 — job evicted from the store
                continue
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        return intervals, stages, tasks

    # ---------------------------------------------------------- summary
    def layers(self) -> dict[str, float]:
        """Per-layer metrics: ``<name>.calls``, ``.s`` (self time),
        ``.jobs``, ``.stages``, ``.tasks``, ``.job_s``, ``.gap_s`` (top-level
        spans only), plus every counter."""
        out: dict[str, float] = dict(self.counters)
        child_time: dict[int, float] = {}
        for span in self.spans:
            if span.parent is not None:
                child_time[span.parent] = child_time.get(span.parent, 0.0) + span.wall
        def bump(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v

        for i, span in enumerate(self.spans):
            bump(f"{span.name}.calls", 1)
            bump(f"{span.name}.s", span.wall - child_time.get(i, 0.0))
            if span.group is None:
                continue
            intervals, stages, tasks = self._job_intervals(span.jobs)
            lo, hi = span.start, span.end
            clipped = [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
            covered = _union_length(clipped)
            bump(f"{span.name}.jobs", len(span.jobs))
            bump(f"{span.name}.stages", stages)
            bump(f"{span.name}.tasks", tasks)
            bump(f"{span.name}.job_s", covered)
            bump(f"{span.name}.gap_s", span.wall - covered)
        return out


def stream_listener(tracer: Tracer):
    """A StreamingQueryListener that adds each micro-batch's durations
    to the tracer's counters (``stream.trigger_s``, ``stream.add_batch_s``,
    ``stream.get_batch_s``, ``stream.query_planning_s``,
    ``stream.wal_commit_s``, ``stream.batches``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    keys = {
        "triggerExecution": "stream.trigger_s",
        "addBatch": "stream.add_batch_s",
        "getBatch": "stream.get_batch_s",
        "queryPlanning": "stream.query_planning_s",
        "walCommit": "stream.wal_commit_s",
    }

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = event.progress.durationMs or {}
            for src, dst in keys.items():
                tracer.add(dst, d.get(src, 0) / 1e3)
            tracer.add("stream.batches", 1)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
