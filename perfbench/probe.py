"""Read what Spark did for one call, from outside the engine.

Each call the benchmark makes is wrapped in a Spark job tag, so its
jobs are found with ``statusTracker().getJobIdsForTag`` instead of a
scan of every job. Job and stage figures come from the core status
store (``jobsList`` / ``lastStageAttempt``), which Spark keeps with the
UI disabled. The Python-worker SQL metrics come from the SQL status
store: the executions a call started are those past the execution
count taken before it.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0, "TiB": MB * MB}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
_TOTAL = re.compile(r"([-0-9.]+)\s*([A-Za-z]+)")

STAGE_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.input_mb", "spark.input_rows", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb",
)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _metric_value(text: str, name: str) -> float:
    """Total of one SQL metric from the status store's display text:
    either ``"<total>"`` or ``"total (min, med, max ...)\\n<total> (...)"``."""
    line = text.split("\n")[-1]
    m = _TOTAL.match(line.strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric {name!r}: {text!r}")
    num, unit = float(m.group(1)), m.group(2)
    if name.endswith("_mb"):
        return num * _SIZE[unit] / MB
    return num * _TIME[unit]


def _merged_wall(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class Probe:
    """Job-tagging and status-store reads for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    @contextmanager
    def tagged(self):
        """Tag every job started inside the block; yields the tag."""
        self._n += 1
        tag = f"perfbench-{self._n}"
        self.sc.addJobTag(tag)
        try:
            yield tag
        finally:
            self.sc.removeJobTag(tag)

    def settle(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.jsc.listenerBus().waitUntilEmpty()

    def executions(self) -> int:
        return int(self.sql.executionsCount())

    def work(self, tags: list[str]) -> dict:
        """Job and stage totals of every job carrying one of ``tags``.
        Stages shared by several jobs count once, and only stages that
        ran: a skipped stage reused output that an earlier job wrote."""
        jobs: list = []
        for tag in tags:
            jobs += [self.store.job(int(j)) for j in self.jsc.statusTracker().getJobIdsForTag(tag)]
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        out["spark.jobs"] = float(len(jobs))
        out["spark.skipped_stages"] = 0.0
        stage_ids: set[int] = set()
        spans = []
        for jd in jobs:
            stage_ids.update(int(s) for s in _seq(jd.stageIds()))
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append((
                    jd.submissionTime().get().getTime(), jd.completionTime().get().getTime()
                ))
        out["spark.job_wall_s"] = _merged_wall(spans)
        for sid in stage_ids:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                out["spark.skipped_stages"] += 1
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.input_mb"] += sd.inputBytes() / MB
            out["spark.input_rows"] += sd.inputRecords()
            out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out

    def python_metrics(self, since: int) -> dict:
        """Python-worker SQL metrics summed over executions after ``since``."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        n = self.executions() - since
        if n <= 0:
            return out
        for ex in _seq(self.sql.executionsList(since, n)):
            names = {
                m.accumulatorId(): _PY_METRICS[m.name()]
                for m in _seq(ex.metrics())
                if m.name() in _PY_METRICS
            }
            if not names:
                continue
            it = self.sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                key = names.get(kv._1())
                if key is not None:
                    out[key] += _metric_value(kv._2(), key)
        return out


class Spans:
    """In-memory spans (name, start, end, parent) written once at exit."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.rows)
        row = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter() - self.t0, **attrs}
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.perf_counter() - self.t0

    def self_times(self) -> None:
        """Set each span's ``self_s``: its duration minus its children's."""
        child = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        for r, c in zip(self.rows, child):
            r["self_s"] = (r["end"] - r["start"]) - c
