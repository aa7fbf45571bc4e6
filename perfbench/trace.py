"""Spans around the benchmark's calls into the engine, and the Spark
counters attributed to them.

Spans are kept in memory and written out when the run ends. Spark
counters come from the application status store, which Spark keeps
with the UI disabled. A stage is attributed to the innermost span whose
interval holds its submission time: the benchmark runs one operation
at a time, and the engine submits some jobs from its own thread pools,
which a job group would not follow."""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

# SQL metrics of the Python exec nodes (PythonSQLMetrics) -> counter.
# The status store keeps them per SQL execution, not per stage, and only
# as display strings ("total (min, med, max ...)\n1.2 s (...)").
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
PYTHON_COUNTERS = ("python_s", "python_boot_s", "python_bytes_sent",
                   "python_bytes_received")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}

COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "scan_bytes", "python_s", "python_boot_s", "python_bytes_sent",
    "python_bytes_received", "driver_gap_s", "core_utilisation",
    "python_share",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    op_id: int
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class StageRecord:
    job_id: int
    stage_id: int
    submitted: float  # epoch seconds
    completed: float
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    scan_bytes: int = 0


@dataclass
class SqlRecord:
    """Python exec-node totals of one SQL execution."""
    execution_id: int
    submitted: float
    python: dict = field(default_factory=dict)


def parse_sql_metric(text: str) -> float:
    """Total of a timing or size SQL metric display string, in seconds
    or bytes: the first value after the header line, e.g.
    "total (min, med, max (stageId: taskId))\n12.6 s (3.1 s, ...)" ->
    12.6, or "0 ms" -> 0.0."""
    value, unit = text.splitlines()[-1].split()[:2]
    return float(value) * _UNITS[unit]


class Tracer:
    """Records spans while `enabled`; a disabled tracer records nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.time(), 0.0,
                  self._open[-1] if self._open else None, op_id)
        self._open.append(len(self.spans))
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._open.pop()

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       **(extra or {})}, f)


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _each(seq):
    """Iterate a Scala Seq returned through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def drain_listener_bus(spark, timeout_s: float = 60.0) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the last jobs' completion times and metrics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
        int(timeout_s * 1000))


def read_sql(spark) -> list[SqlRecord]:
    """Python exec-node metrics of every SQL execution in the SQL
    status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: list[SqlRecord] = []
    for ex in _each(store.executionsList()):
        exec_id = ex.executionId()
        rec = SqlRecord(exec_id, ex.submissionTime() / 1000.0,
                        {c: 0.0 for c in PYTHON_COUNTERS})
        metrics = ex.metrics()
        wanted = {}
        for i in range(metrics.size()):
            m = metrics.apply(i)
            counter = PYTHON_SQL_METRICS.get(m.name())
            if counter:
                wanted[m.accumulatorId()] = counter
        if wanted:
            values = store.executionMetrics(exec_id)
            for acc_id, counter in wanted.items():
                shown = values.get(acc_id)
                if shown.isDefined():
                    rec.python[counter] += parse_sql_metric(shown.get())
        out.append(rec)
    return out


def read_status(spark, first_job: int = 0
                ) -> tuple[list[tuple[int, float]], list[StageRecord]]:
    """(job id, submission time) of every job numbered from `first_job`
    on, and every stage attempt those jobs ran, read from the status
    store. Skipped stages (shuffle output reused from an earlier job)
    carry no submission time and are left out; each stage attempt is
    reported once."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark.sparkContext._jvm
    no_tasks = jvm.java.util.ArrayList()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs: list[tuple[int, float]] = []
    stages: list[StageRecord] = []
    seen: set[tuple[int, int]] = set()
    for job in _each(store.jobsList(None)):
        job_id = job.jobId()
        if job_id < first_job:
            continue
        job_submitted = _opt_time(job.submissionTime())
        if job_submitted is not None:
            jobs.append((job_id, job_submitted))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(stage_ids.apply(i), False, no_tasks,
                                       False, no_quantiles)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                key = (sd.stageId(), sd.attemptId())
                submitted = _opt_time(sd.submissionTime())
                if key in seen or submitted is None:
                    continue
                seen.add(key)
                rec = StageRecord(
                    job_id=job_id, stage_id=sd.stageId(),
                    submitted=submitted,
                    completed=_opt_time(sd.completionTime()) or submitted,
                    tasks=sd.numCompleteTasks(),
                    executor_run_s=sd.executorRunTime() / 1e3,
                    executor_cpu_s=sd.executorCpuTime() / 1e9,
                    shuffle_write_bytes=sd.shuffleWriteBytes(),
                    shuffle_read_bytes=sd.shuffleReadBytes(),
                    spill_bytes=sd.diskBytesSpilled(),
                    scan_bytes=sd.inputBytes(),
                )
                stages.append(rec)
    jobs.sort()
    return jobs, stages


def _innermost(spans: list[Span], t: float) -> int | None:
    best = None
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


def covered(intervals: list[tuple[float, float]]) -> float:
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


def attribute(spans: list[Span], jobs: list[tuple[int, float]],
              stages: list[StageRecord], sql: list[SqlRecord],
              cores: int) -> None:
    """Fill each span's `counters` from the jobs, stages and SQL
    executions submitted inside it (innermost span wins)."""
    for s in spans:
        s.counters = {c: 0 for c in COUNTERS}
    for _, t in jobs:
        i = _innermost(spans, t)
        if i is not None:
            spans[i].counters["jobs"] += 1
    busy: dict[int, list[tuple[float, float]]] = {}
    for st in stages:
        i = _innermost(spans, st.submitted)
        if i is None:
            continue
        c = spans[i].counters
        c["tasks"] += st.tasks
        for name in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                     "shuffle_read_bytes", "spill_bytes", "scan_bytes"):
            c[name] += getattr(st, name)
        sp = spans[i]
        busy.setdefault(i, []).append(
            (max(st.submitted, sp.start), min(st.completed, sp.end)))
    for rec in sql:
        i = _innermost(spans, rec.submitted)
        if i is not None:
            for name, v in rec.python.items():
                spans[i].counters[name] += v
    for i, s in enumerate(spans):
        wall = s.wall_s
        s.counters["driver_gap_s"] = max(0.0, wall - covered(busy.get(i, [])))
        s.counters["core_utilisation"] = (
            s.counters["executor_run_s"] / (wall * cores) if wall > 0 else 0.0)
        # the share of the box's core time the call spent in Python
        # workers, where the engine's kernels run
        s.counters["python_share"] = (
            s.counters["python_s"] / (wall * cores) if wall > 0 else 0.0)
