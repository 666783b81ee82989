"""Spans around the benchmark's calls into the engine, with Spark
status-store counters per span.

A span has a name, start, end and parent. Spans are kept in memory and
written out once, at the end of the run. A top-level span also owns
the Spark jobs its call ran; the counters are summed over the stages
those jobs ran. Jobs are attributed in one of two ways:

* batch calls run under a job group the tracer sets on the calling
  thread; pool threads that the engine starts with
  ``inheritable_thread_target`` carry it too;
* a streaming query's jobs run on the query's own thread. Each carries
  the query's ``runId`` in its job description (and job group), so
  ``bind_stream`` attaches that id to the open span.

Any other job that appears while tracing is counted as unattributed.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Job group of Spark work the benchmark runs itself (output checks,
#: probes of state size). Never counted against a layer.
OWN_GROUP = "perfbench"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "driver_idle_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    run_ids: list[str] = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


def _opt(value):
    """A Scala Option as a Python value (None when empty)."""
    return value.get() if value.isDefined() else None


class Tracer:
    """Records spans once ``start`` has been called; before that every
    span is a no-op, so untraced work pays nothing."""

    def __init__(self, spark):
        self.enabled = False
        self.spark = spark
        self.spans: list[Span] = []
        self.unattributed: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()
        self._seen_stages: set[int] = set()  # a reused shuffle stage counts once
        self._owner: Span | None = None

    def start(self) -> None:
        """Trace from here on; earlier jobs are nobody's."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._last_job = self._max_job_id()
        self.spark.sparkContext.setJobGroup(OWN_GROUP, "benchmark")
        self.enabled = True

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, own_jobs: bool | None = None, **attrs):
        """A timed span. By default the outermost span on the main
        thread owns the Spark jobs run inside it and gets their
        counters; pass ``own_jobs=False`` for a span that only groups
        owning children."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # a pool thread's first span hangs under the open owning span
        parent = stack[-1] if stack else self._owner
        sp = Span(next(self._ids), name, parent.id if parent else None, 0.0,
                  attrs=dict(attrs))
        if own_jobs is None:
            own_jobs = threading.current_thread() is threading.main_thread() and not any(
                s.group for s in stack
            )
        sc = self.spark.sparkContext
        if own_jobs:
            self.drain()  # jobs before the span belong elsewhere
            sp.group = f"perfbench.span.{sp.id}"
            sc.setJobGroup(sp.group, name)
            self._owner = sp
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if own_jobs:
                self._owner = None
                sc.setJobGroup(OWN_GROUP, "benchmark")
                self._collect(sp)
            with self._lock:
                self.spans.append(sp)

    def bind_stream(self, span: Span | None, query) -> None:
        """Attribute the jobs of a started streaming query to ``span``."""
        if span is not None:
            span.run_ids.append(str(query.runId))

    # ------------------------------------------------------- counters
    def _max_job_id(self) -> int:
        jobs = self._jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.length() else -1

    def drain(self) -> None:
        """Wait until the status store has seen every finished job, then
        sweep jobs outside any span into the unattributed list."""
        self._jsc.listenerBus().waitUntilEmpty()
        for job in self._new_jobs():
            self._attribute_stray(job)

    def _new_jobs(self) -> list:
        jobs = self._jsc.statusStore().jobsList(None)  # newest first
        out = []
        for i in range(jobs.length()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            out.append(job)
        if out:
            self._last_job = out[0].jobId()
        return out[::-1]

    def _attribute_stray(self, job) -> None:
        group = _opt(job.jobGroup()) or ""
        if group != OWN_GROUP and not group.startswith("perfbench."):
            self.unattributed.append(
                {"job": job.jobId(), "group": group,
                 "description": _opt(job.description())}
            )

    def _collect(self, sp: Span) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        mine, intervals = [], []
        c = dict.fromkeys(COUNTERS, 0)
        for job in self._new_jobs():
            group = _opt(job.jobGroup()) or ""
            desc = _opt(job.description()) or ""
            if group == sp.group or any(r in group or r in desc for r in sp.run_ids):
                mine.append(job)
            else:
                self._attribute_stray(job)
        seen = self._seen_stages
        for job in mine:
            c["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.length()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for a in range(attempts.length()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED" or st.numCompleteTasks() == 0:
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["exec_run_s"] += st.executorRunTime() / 1e3
                    c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["input_bytes"] += st.inputBytes()
                    t0, t1 = _opt(st.submissionTime()), _opt(st.completionTime())
                    if t0 is not None and t1 is not None:
                        intervals.append((t0.getTime() / 1e3, t1.getTime() / 1e3))
        c["driver_idle_s"] = sp.s - _covered(intervals, sp.start, sp.end)
        sp.counters = c

    # ---------------------------------------------------------- output
    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in sorted(self.spans, key=lambda s: s.id)],
                    "unattributed": self.unattributed,
                },
                fh,
                indent=1,
                default=str,
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
