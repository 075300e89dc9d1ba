"""Spans around the benchmark's calls into the program, and Spark counters
per request.

With tracing off a span is only a stopwatch: two ``perf_counter`` reads.
With tracing on it also records its name, parent, request id and the Spark
job ids it started, and after each request the tracer reads that request's
jobs, stages and SQL executions from Spark's status stores
(``AppStatusStore`` and ``SQLAppStatusStore``; both are kept with
``spark.ui.enabled=false``). Reading them happens after the request's clock
has stopped.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

SCAN_METRICS = {  # scan node metric name -> per-layer key
    "number of files read": "lake.files_read",
    "size of files read": "lake.bytes_read",
    "metadata time": "lake.metadata_ms",
}
_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_sql_metric(text: str, kind: str) -> float:
    """Value of one formatted SQL metric ('1,000', '3.1 KiB', '15 ms', or a
    'total (min, med, max ...)' block whose second line starts with the
    total)."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    num, _, unit = text.split(" (")[0].strip().partition(" ")
    value = float(num.replace(",", ""))
    if kind == "size":
        return value * _SIZE[unit]
    if kind == "timing":
        return value * _MS[unit]
    return value


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] covered by the union of intervals."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Span:
    __slots__ = ("id", "parent", "request", "name", "t0", "t1", "wall0",
                 "job0", "job1", "action", "gap")

    @property
    def s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.enabled = False
        self.spans: list[Span] = []
        self.requests: list[dict] = []
        self._stack: list[Span] = []
        self._next_span = 0
        self._request: int | None = None
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec0 = 0

    def jobs_started(self) -> int:
        """Jobs submitted in this application so far (job ids are dense)."""
        return self._jsc.dagScheduler().numTotalJobs()

    @contextmanager
    def span(self, name: str, action: bool = False):
        """A call into the program. An action span (``action=True``, or a
        name in the ``action`` layer) is a call that runs the work it is
        given, not one that only builds a plan."""
        sp = Span()
        sp.name, sp.gap = name, None
        sp.action = action or name.startswith("action.")
        if self.enabled:
            sp.id = self._next_span
            self._next_span += 1
            sp.parent = self._stack[-1].id if self._stack else None
            sp.request = self._request
            sp.wall0 = time.time()
            sp.job0 = self.jobs_started()
            self._stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            if self.enabled:
                sp.job1 = self.jobs_started()
                self._stack.pop()
                self.spans.append(sp)

    @contextmanager
    def request(self, kind: str, traced: bool):
        """One closed-loop request: a root span, and when traced, a job
        group named after it and its Spark counters read afterwards."""
        rid = len(self.requests)
        self.enabled = traced
        if traced:
            self._request = rid
            self._jsc.listenerBus().waitUntilEmpty(10_000)
            self._exec0 = self._sql.executionsCount()
            self._sc.setJobGroup(f"perfbench-{rid}", kind)
        try:
            with self.span(f"request.{kind}") as sp:
                yield sp
        finally:
            rec = {"id": rid, "kind": kind, "s": sp.s, "traced": traced}
            if traced:
                self.enabled = False
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._request = None
                rec.update(self._counters(sp))
            self.requests.append(rec)

    # -- Spark counters ---------------------------------------------------

    def _counters(self, root: Span) -> dict:
        """The request's Spark counters. Each stage counts once, in the
        first of the request's jobs that lists it; a stage a later job lists
        again (AQE re-plans, reused shuffles) is skipped there and not
        counted twice. ``spark.driver_gap_s`` is summed over the request's
        action spans: each one's wall time minus the union of the run
        intervals of the stages its jobs ran. Plan-building calls are left
        out, also when they start a job (a listing or schema read), since
        their call times are reported on their own; ``action_jobs`` counts
        the jobs the gap covers."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        c = {"spark.jobs": root.job1 - root.job0, "spark.tasks": 0,
             "spark.executor_run_s": 0.0, "spark.shuffle_read_bytes": 0,
             "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0,
             "tasks_by_job": 0}
        seen: set[int] = set()
        job_iv: dict[int, list[tuple[float, float]]] = {}
        for job in range(root.job0, root.job1):
            jd = store.job(job)
            c["tasks_by_job"] += jd.numCompletedTasks()
            iv = job_iv[job] = []
            for sid in jd.stageIds().mkString(",").split(","):
                if not sid or int(sid) in seen:
                    continue
                seen.add(int(sid))
                sd = store.lastStageAttempt(int(sid))
                if sd.status().toString() == "SKIPPED":
                    continue
                c["spark.tasks"] += sd.numCompleteTasks()
                c["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spark.spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
                if sd.submissionTime().isDefined() and \
                        sd.completionTime().isDefined():
                    iv.append((sd.submissionTime().get().getTime() / 1e3,
                               sd.completionTime().get().getTime() / 1e3))
        c["spark.driver_gap_s"], c["action_jobs"] = 0.0, 0
        for sp in self.spans:
            if sp.parent != root.id or not sp.action:
                continue
            iv = [x for j in range(sp.job0, sp.job1) for x in job_iv[j]]
            sp.gap = sp.s - covered(iv, sp.wall0, sp.wall0 + sp.s)
            c["spark.driver_gap_s"] += sp.gap
            c["action_jobs"] += sp.job1 - sp.job0
        c.update({k: 0.0 for k in SCAN_METRICS.values()})
        n_exec = self._sql.executionsCount()
        execs = self._sql.executionsList(self._exec0, n_exec - self._exec0)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith("Scan"):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    key = SCAN_METRICS.get(pm.name())
                    v = values.get(pm.accumulatorId())
                    if key and v.isDefined():
                        c[key] += parse_sql_metric(v.get(), pm.metricType())
        return c

    # -- reporting ----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds per layer that no child span covers, summed over the
        traced requests. A span's layer is the part of its name before
        the first dot."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            kids = [(k.t0, k.t1) for k in children.get(sp.id, [])]
            own = sp.s - covered(kids, sp.t0, sp.t1)
            layer = sp.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + own
        return out

    def span_stats(self) -> dict[str, float]:
        """Median seconds per call for each span name."""
        by: dict[str, list[float]] = {}
        for sp in self.spans:
            by.setdefault(sp.name, []).append(sp.s)
        return {k: quantile(v, 0.5) for k, v in by.items()}

    def dump(self, path: str, floor_s: float, extra: dict) -> None:
        """Write every span and request record as JSON. Each span and
        traced request carries its floor-class seconds (jobs x the per-job
        floor) beside its measured time, and each action span its driver
        gap; a traced request's floor-class seconds count the jobs
        of its action spans, the jobs its driver gap covers."""
        spans = [{"id": s.id, "parent": s.parent, "request": s.request,
                  "name": s.name, "start": s.t0, "end": s.t1,
                  "jobs": s.job1 - s.job0, "action": s.action,
                  "floor_class_s": (s.job1 - s.job0) * floor_s,
                  "driver_gap_s": s.gap}
                 for s in self.spans]
        for r in self.requests:
            if r["traced"]:
                r["spark.floor_class_s"] = r["action_jobs"] * floor_s
        with open(path, "w") as f:
            json.dump({"spans": spans, "requests": self.requests, **extra}, f)

