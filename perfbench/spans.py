"""Spans around the benchmark's calls into each engine layer, plus the
Spark counters of the jobs each span ran.

A span is (name, start, end, parent, trace id). The benchmark opens one
root span per request or tick and nested spans around each layer call
it makes; spans stay in memory and are written as JSON when the run
ends. Spark work is attributed through job groups: every root span sets
its own job group on the calling thread, and at the end of the span the
group's jobs are read back from the status store (job ids from
``statusTracker``, stage metrics from ``statusStore().lastStageAttempt``),
which works with the Spark UI disabled.

With ``enabled=False`` (the untraced runs that give the end-to-end
metrics) the ``Tracer`` still times each root and sets its job group,
so both kinds of run do the same Spark-side work, but it records no
spans and reads no counters.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

# stage counters summed per job group (StageData getter -> output key)
_STAGE_COUNTERS = (
    ("numTasks", "tasks"),
    ("executorRunTime", "exec_run_ms"),
    ("executorCpuTime", "exec_cpu_ns"),
    ("inputBytes", "input_bytes"),
    ("inputRecords", "input_records"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
)


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_group_counters(spark, group: str) -> dict:
    """Counters of every job run under ``group``: job and task counts,
    executor run and CPU time, input and shuffle bytes, and the wall
    intervals during which a job of the group was running."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {k: 0 for _, k in _STAGE_COUNTERS}
    out["jobs"] = 0
    intervals = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        try:
            job = store.job(int(jid))
        except Exception:  # evicted from the store: count the job only
            continue
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None and end is not None:
            intervals.append((start, end))
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # skipped stage: never attempted
                continue
            for getter, key in _STAGE_COUNTERS:
                out[key] += int(getattr(st, getter)())
    out["job_intervals"] = intervals
    return out


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jvm_gc_seconds(spark) -> float:
    """Total GC time of every executor (the driver in local mode)."""
    it = spark.sparkContext._jsc.sc().statusStore().executorList(True).iterator()
    ms = 0
    while it.hasNext():
        ms += int(it.next().totalGCTime())
    return ms / 1000.0


class Tracer:
    """In-memory span recorder. ``root`` opens a request/tick span and
    its Spark job group; ``span`` nests a layer call under the current
    root of the calling thread."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        # seconds each traced root spent reading its Spark counters
        self.overhead_s: list[float] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _next_id(self) -> int:
        with self._lock:
            return next(self._ids)

    @contextmanager
    def root(self, name: str, kind: str):
        """One request or tick. Yields a dict that receives ``wall_s``
        and, when tracing, the group's Spark counters under ``spark``."""
        rid = self._next_id()
        group = f"perfbench-{kind}-{rid}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name, interruptOnCancel=False)
        rec: dict = {"name": name, "kind": kind, "trace": rid}
        self._local.stack = [rid]
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            t1 = time.time()
            self._local.stack = []
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                c = spark_group_counters(self.spark, group)
                busy = covered_seconds(c.pop("job_intervals"), t0, t1)
                c["jobs_s"] = busy
                c["driver_s"] = max(0.0, rec["wall_s"] - busy)
                rec["spark"] = c
                self._record(name, rid, None, rid, t0, t1, kind=kind, spark=c)
                with self._lock:
                    self.overhead_s.append(time.perf_counter() - p0 - rec["wall_s"])

    @contextmanager
    def span(self, name: str):
        """A layer call inside the current root; no-op when disabled."""
        if not self.enabled or not getattr(self._local, "stack", None):
            yield
            return
        stack = self._local.stack
        sid, parent = self._next_id(), stack[-1]
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            stack.pop()
            self._record(name, sid, parent, stack[0], t0, time.time())

    def _record(self, name, sid, parent, trace, t0, t1, **extra):
        s = {"name": name, "id": sid, "parent": parent, "trace": trace,
             "start": t0, "end": t1, **extra}
        with self._lock:
            self.spans.append(s)

    def self_seconds(self) -> dict[str, float]:
        """Per layer span name (per kind for root spans): total duration
        minus the part of it covered by the span's direct children."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - covered_seconds(
                kids.get(s["id"], []), s["start"], s["end"]
            )
            key = s["name"] if s["parent"] is not None else f"root.{s['kind']}"
            out[key] = out.get(key, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
