"""Repository benchmark: fresh-session workloads against the engine in the
configuration users get, with a separate traced run per layer.

    python3 perfbench/run.py --workload survey_read --seed 1 --seconds 5 --trace 0

Run it from the repository root. Workloads (``--workload``):

- ``survey_read``: LSD's spatial ops, a region query, text curation ops
  and a streaming window, each once per pass, every pass in a fresh
  session.
- ``nightly_ingest``: seeded nights of ``events`` loaded into a fresh
  table-log table per pass, with merges, deletes, compaction and a
  verified read after every write.

After ``WARMUP_PASSES`` warm-up passes, a run measures passes until
``--seconds`` have passed and at least ``MIN_PASSES`` passes ran.

The session comes from ``lsd_spark.session.get_spark`` on
``local[<cores>]``; the benchmark sets no Spark conf and no ``LSD_*``
variable and persists nothing. One client drives a closed loop: each op
starts when the previous one returns. Inputs, reference digests and
scratch files live under ``.perfbench/`` in the repository root.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it is a report with every metric's
median, tail and sample count, the host context and the checks. See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

READ_OPS = [
    # LSD's spatial traffic
    "join_xmatch_sphere", "cluster_fof_2d", "agg_lightcurve_stats",
    "filter_region_poly",
    # text curation: near-duplicates, similarity search, text statistics
    "llm_dedup_cluster", "llm_simsearch_knn", "llm_text_stats",
    # streaming
    "stream_tumbling",
]
PROBE_OP = "agg_lightcurve_stats"
# warm-up passes, then the median of at least three timed passes. The
# second pass of a JVM is still 10-40% slower than the third, so
# nightly_ingest (4 s passes) warms up twice; on survey_read (10 s passes)
# a second warm-up would push the benchmark's 48 runs past their time
# budget, and the median of three leaves its slower first timed pass out
WARMUP_PASSES = {"survey_read": 1, "nightly_ingest": 2}
MIN_PASSES = 3
WORKLOADS = ("survey_read", "nightly_ingest")
STATS_COLS = ["event_id", "user_id", "value"]
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

# end-to-end metrics gated by BENCHMARK.json; the report line also carries
# op_geomean_s, op_tail_s, peak_rss_mb, visible_lag_s, fail_frac and
# stale_read_frac
E2E_METRICS = ("setup_s", "pass_s")
# per-layer metrics every workload reports; the op-owning module, Python
# worker and table-log metrics, which are zero on one of the workloads, are
# in the report line and the trace file
LAYER_METRICS = (
    "op.build_s", "op.plan_s", "op.execute_s", "op.build_jobs",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.core_util",
    "spark.input_mb", "spark.input_rows", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "result.transfer_s", "result.rows", "trace.overhead_s",
)
RATIOS = {
    "fail_frac", "stale_read_frac", "spark.core_util", "table_log.prune_ratio",
    "table_log.write_amp", "table_log.space_amp",
}


def unit(name: str) -> str:
    if name in RATIOS:
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


# --- small helpers -----------------------------------------------------------

def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def summary(xs: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (the maximum when the sample is too small for any)."""
    n = len(xs)
    if n == 0:
        return {"median": None, "tail": None, "tail_pct": None, "n": 0}
    ok = [p for p in PERCENTILES if n * (1.0 - p / 100.0) >= 10]
    p = ok[-1] if ok else 100.0
    return {"median": statistics.median(xs), "tail": percentile(xs, p), "tail_pct": p, "n": n}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def hwm_mb(pids: list[int]) -> float:
    total = 0.0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            continue  # a worker that exited meanwhile
    return total


# --- one benchmark run ---------------------------------------------------------

class Bench:
    """State of one run: the Spark session, the seeded inputs, the probe
    and, when tracing, the spans. Each pass returns its call records."""

    def __init__(self, spark, inputs_dir: str, meta: dict, work: str):
        from lsd_spark import registry
        from lsd_spark.sources import table_log

        from perfbench.probe import Probe, Spans

        self.spark = spark
        self.registry = registry
        self.tl = table_log
        self.data = os.path.join(inputs_dir, "data")
        self.ingest_dir = os.path.join(inputs_dir, "ingest")
        self.meta = meta
        self.work = work
        self.probe = Probe(spark)
        self.spans = Spans(T_START)
        self.trace_on = False
        self.freshness: list[bool] = []
        self._db = None

    def read_pass(self, ops: list[str]) -> list[dict]:
        from perfbench.inputs import digest

        t0 = time.perf_counter()
        s = self.spark.newSession()
        recs = [{"op": "new_session", "latency_s": time.perf_counter() - t0, "ok": True,
                 "timed_only": True}]
        for op in ops:
            rec = {"op": op, "module": self.registry.QUERIES_RAW[op].__module__}
            with _Call(self, rec, op) as c:
                df = c.phase("build", lambda: self.registry.QUERIES[op](s, self.data))
                c.phase("plan", lambda: df._jdf.queryExecution().executedPlan())
                pdf = c.phase("execute", df.toPandas)
            rec["collects"] = True
            if "error" not in rec:
                got, want = digest(pdf), self.meta["digests"][op]
                rec["result.rows"] = got["rows"]
                rec["ok"] = got == want
                if not rec["ok"]:
                    rec["error"] = f"digest mismatch: {got['rows']} rows, oracle {want['rows']}"
            recs.append(rec)
        return recs

    def _read_check(self, s, table: str, version: int, expect: list[int],
                    window: tuple[int, int] | None, kind: str, night: int) -> dict:
        from pyspark.sql import functions as F

        rec = {"op": kind, "night": night}
        prune = ("event_id", window[0], window[1]) if window else None

        def build():
            df = self.tl.read_version(s, table, version, prune=prune)
            if window:
                df = df.filter(F.col("event_id").between(*window))
            cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
            return df.agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))

        with _Call(self, rec, kind) as c:
            df = c.phase("build", build)
            c.phase("plan", lambda: df._jdf.queryExecution().executedPlan())
            pdf = c.phase("execute", df.toPandas)
        rec["collects"] = True
        if "error" not in rec:
            row = pdf.iloc[0]
            got = [int(row["n"]), 0 if row["c"] is None else int(row["c"])]
            rec["ok"] = got == expect
            rec["result.rows"] = len(pdf)
            if not rec["ok"]:
                rec["error"] = f"totals {got}, expected {expect}"
        files, total = (
            self.tl.manifest_pruned(table, version, "event_id", *window)
            if window else (self.tl.manifest(table, version), None)
        )
        rec["table_log.files_visible"] = float(total if window else len(files))
        rec["table_log.files_opened"] = float(len(files))
        return rec

    def _tl_call(self, kind: str, night: int, fn) -> tuple[dict, object]:
        rec = {"op": kind, "night": night}
        out = None
        with _Call(self, rec, kind) as c:
            out = c.phase("execute", fn)
        rec.setdefault("ok", "error" not in rec)
        return rec, out

    def ingest_pass(self) -> list[dict]:
        script = self.meta["ingest"]
        t0 = time.perf_counter()
        s = self.spark.newSession()
        recs = [{"op": "new_session", "latency_s": time.perf_counter() - t0, "ok": True,
                 "timed_only": True}]
        table = os.path.join(tempfile.mkdtemp(prefix="table-", dir=self.work), "events")
        self.tl.init_table(table)
        user_bytes = 0
        for i, night in enumerate(script["nights"]):
            src = os.path.join(self.ingest_dir, night["file"])
            user_bytes += os.path.getsize(src)
            t_night = time.perf_counter()
            rec, files = self._tl_call(
                "write", i,
                lambda: self.tl.write_data_files(s.read.parquet(src), table, f"night-{i:02d}"),
            )
            recs.append(rec)
            rec, stats = self._tl_call(
                "stats", i, lambda: self.tl.parquet_file_stats(files, STATS_COLS))
            recs.append(rec)
            rec, v = self._tl_call(
                "commit", i, lambda: self.tl.commit(table, files, "loader", stats=stats))
            recs.append(rec)
            rec = self._read_check(s, table, v, night["night_totals"],
                                   (night["lo"], night["hi"]), "read_pruned", i)
            recs.append(rec)
            if rec["ok"]:
                recs.append({"op": "visible_lag", "night": i, "ok": True, "timed_only": True,
                             "latency_s": time.perf_counter() - t_night})
            recs.append(self._read_check(s, table, v, night["totals"], None, "read", i))
            for step in [st for st in script["steps"] if st["after"] == i]:
                kind = step["kind"]
                if kind == "merge":
                    mf = os.path.join(self.ingest_dir, step["file"])
                    user_bytes += os.path.getsize(mf)
                    fn = lambda: self.tl.merge_into(  # noqa: E731
                        s, table, s.read.parquet(mf), ["event_id"], prune_col="event_id")
                elif kind == "delete":
                    lo, hi = step["lo"], step["hi"]
                    fn = lambda: self.tl.delete_where(  # noqa: E731
                        s, table, f"event_id BETWEEN {lo} AND {hi}", prune=("event_id", lo, hi))
                else:
                    fn = lambda: self.tl.compact(s, table)  # noqa: E731
                rec, _ = self._tl_call(kind, i, fn)
                recs.append(rec)
                v = self.tl.latest_version(table)
                recs.append(self._read_check(s, table, v, step["totals"], None, "read", i))
            self.freshness.append(self._probe_fresh(night["probe"]))
        data_bytes = _tree_bytes(os.path.join(table, "data"))
        live = self.tl.manifest(table, self.tl.latest_version(table))
        live_bytes = sum(os.path.getsize(f) for f in live)
        recs.append({"op": "space", "ok": True, "timed_only": True, "latency_s": 0.0,
                     "table_log.write_amp": data_bytes / user_bytes,
                     "table_log.space_amp": data_bytes / live_bytes})
        shutil.rmtree(os.path.dirname(table), ignore_errors=True)
        return recs

    def _probe_fresh(self, expect: dict) -> bool:
        """Untimed freshness probe: replace the probe directory's
        ``events.parquet`` as an external loader would, then query it
        through one long-lived ``DB`` in the run's root session."""
        from lsd_spark.api import DB

        from perfbench.inputs import digest

        probe_dir = os.path.join(self.work, "probe")
        if self._db is None:
            os.makedirs(probe_dir)
            self._db = DB(self.spark, probe_dir)
        tmp = os.path.join(probe_dir, ".events.parquet.tmp")
        shutil.copyfile(os.path.join(self.ingest_dir, expect["file"]), tmp)
        os.replace(tmp, os.path.join(probe_dir, "events.parquet"))
        try:
            got = digest(self._db.op(PROBE_OP).toPandas())
        except Exception:  # noqa: BLE001 - a raising read counts as stale
            traceback.print_exc(file=sys.stderr)
            return False
        return got == {"rows": expect["rows"], "sha256": expect["sha256"]}


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class _Call:
    """Times one op or table-log call, phase by phase, and records its
    Spark work after the timer stops. In a traced pass each phase is a
    span with its own job tag; otherwise one tag covers the call and no
    span is kept. An exception is recorded as the call's failure and not
    re-raised."""

    def __init__(self, bench: Bench, rec: dict, name: str):
        self.b, self.rec, self.name = bench, rec, name
        self.tags: dict[str, str] = {}

    def __enter__(self):
        b = self.b
        self.n_exec = b.probe.executions() if b.trace_on else 0
        if b.trace_on:
            self._ctx = b.spans.span("op", op=self.name, night=self.rec.get("night"))
        else:
            self._ctx = b.probe.tagged()
        self.op_tag = self._ctx.__enter__()
        self.t0 = time.perf_counter()
        return self

    def phase(self, name: str, fn):
        b = self.b
        t = time.perf_counter()
        if b.trace_on:
            with b.probe.tagged() as tag, b.spans.span(name):
                self.tags[name] = tag
                out = fn()
        else:
            out = fn()
        self.rec[f"{name}_s"] = time.perf_counter() - t
        return out

    def __exit__(self, et, ev, tb):
        b = self.b
        self.rec["latency_s"] = time.perf_counter() - self.t0
        self._ctx.__exit__(None, None, None)
        if ev is not None:
            self.rec["error"] = f"{et.__name__}: {ev}"[:500]
            self.rec["ok"] = False
            traceback.print_exception(et, ev, tb, file=sys.stderr)
        b.probe.settle()
        tags = list(self.tags.values()) if b.trace_on else [self.op_tag]
        self.rec["work"] = b.probe.work(tags)
        if b.trace_on:
            self.rec["build_jobs"] = b.probe.work([self.tags["build"]])["spark.jobs"] \
                if "build" in self.tags else 0.0
            self.rec["execute_work"] = b.probe.work([self.tags["execute"]]) \
                if "execute" in self.tags else None
            self.rec["python"] = b.probe.python_metrics(self.n_exec)
        return True  # the failure is recorded; the pass goes on


# --- aggregation ---------------------------------------------------------------

def timed_calls(passes: list[list[dict]]) -> list[dict]:
    return [r for p in passes for r in p if not r.get("timed_only")]


def pass_seconds(recs: list[dict]) -> float:
    return sum(r["latency_s"] for r in recs if r["op"] not in ("visible_lag", "space"))


def end_to_end(passes: list[list[dict]], traced: list[list[dict]], setup_s: float,
               rss: float, freshness: list[bool]) -> dict:
    """End-to-end figures from the untraced passes; failures count over
    every timed pass, traced ones too."""
    calls = [r for r in timed_calls(passes) if r.get("ok")]
    per_op: dict[str, list[float]] = {}
    for r in calls:
        per_op.setdefault(r["op"], []).append(r["latency_s"])
    attempted = len(timed_calls(passes + traced))
    failed = sum(1 for r in timed_calls(passes + traced) if not r.get("ok"))
    lags = [r["latency_s"] for p in passes for r in p if r["op"] == "visible_lag"]
    out = {
        "setup_s": summary([setup_s]),
        "pass_s": {**summary([pass_seconds(p) for p in passes]),
                   "each": [pass_seconds(p) for p in passes]},
        "op_geomean_s": {"value": geomean([statistics.median(v) for v in per_op.values()]),
                         "ops": len(per_op)},
        "op_tail_s": summary([r["latency_s"] for r in calls]),
        "fail_frac": {"value": failed / attempted, "failed": failed, "attempted": attempted},
        "peak_rss_mb": {"value": rss},
        "per_op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
    }
    if lags:
        out["visible_lag_s"] = summary(lags)
    if freshness:
        out["stale_read_frac"] = {"value": freshness.count(False) / len(freshness),
                                  "probes": len(freshness)}
    for k, v in out.items():
        if k != "per_op_median_s":
            v["unit"] = unit(k)
    return out


def layer_totals(recs: list[dict], cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of one traced pass: (sums over its calls, per-call
    rows for the trace file)."""
    tot: dict[str, float] = {}
    rows = []

    def add(key, val):
        tot[key] = tot.get(key, 0.0) + val

    for r in recs:
        if r.get("timed_only"):
            for k, v in r.items():
                if k.startswith("table_log."):
                    add(k, v)
            continue
        row = {"op": r["op"], "night": r.get("night"), "ok": r.get("ok"),
               "latency_s": r["latency_s"]}
        for ph in ("build", "plan", "execute"):
            row[f"op.{ph}_s"] = r.get(f"{ph}_s", 0.0)
        row.update(r["work"])
        row["op.build_jobs"] = r.get("build_jobs", 0.0)
        ex = r.get("execute_work")
        if ex is not None and r.get("collects"):
            # toPandas wall minus the Spark job wall inside it
            row["result.transfer_s"] = max(0.0, row["op.execute_s"] - ex["spark.job_wall_s"])
        row["result.rows"] = float(r.get("result.rows", 0))
        row.update(r.get("python", {}))
        if "module" in r:
            row[f"{r['module'].removeprefix('lsd_spark.')}.op_s"] = r["latency_s"]
        else:
            kind = "read" if r["op"].startswith("read") else r["op"]
            row[f"table_log.{kind}_s"] = r["latency_s"]
            for k in ("table_log.files_visible", "table_log.files_opened"):
                if k in r:
                    row[k] = r[k]
        rows.append(row)
        for k, v in row.items():
            if k not in ("op", "night", "ok", "latency_s") and isinstance(v, (int, float)):
                add(k, float(v))
    if tot.get("spark.job_wall_s"):
        tot["spark.core_util"] = tot["spark.executor_run_s"] / (tot["spark.job_wall_s"] * cores)
    pruned = [r for r in recs if r["op"] == "read_pruned"]
    if pruned:
        tot["table_log.prune_ratio"] = (
            sum(r["table_log.files_opened"] for r in pruned)
            / sum(r["table_log.files_visible"] for r in pruned)
        )
    return tot, rows


def guard(base: list[dict], passes: list[list[dict]]) -> list[str]:
    """Full-work guard: every timed call must do at least the Spark work
    (completed tasks, input bytes) its warm-up twin did; less means an
    earlier call's result or shuffle was served."""
    twins = {(r["op"], r.get("night"), k): r for k, r in enumerate(base) if "work" in r}
    fired = []
    for p in passes:
        for k, r in enumerate(p):
            b = twins.get((r["op"], r.get("night"), k))
            if b is None or "error" in r or "error" in b:
                continue
            for key in ("spark.tasks", "spark.input_mb"):
                if r["work"][key] < b["work"][key] - 1e-9:
                    fired.append(f"{r['op']}#{k}: {key} {r['work'][key]:.4g} < "
                                 f"warm-up {b['work'][key]:.4g}")
    return fired


# --- entry point -----------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lsd_spark", "registry.py")):
        print(f"perfbench: no engine source (lsd_spark/) under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=WORK)
    # keep every file the engine, Spark and the JVM write inside the checkout
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={scratch}"
    ).strip()
    sys.path.insert(0, ROOT)
    try:
        return run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, scratch: str) -> int:
    import duckdb
    import pyspark

    from lsd_spark import registry
    from lsd_spark.session import get_spark

    from perfbench import inputs

    cpu0 = cpu_times()
    registry.load_all()
    t = time.perf_counter()
    inputs_dir, meta = inputs.prepare(
        os.path.join(WORK, "cache"), args.seed, registry.ORACLES, READ_OPS, PROBE_OP
    )
    gen_s = time.perf_counter() - t

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    bench = Bench(spark, inputs_dir, meta, scratch)
    if args.workload == "nightly_ingest":
        one_pass = bench.ingest_pass
    else:
        one_pass = lambda: bench.read_pass(READ_OPS)  # noqa: E731
    try:
        # warm-up: the first pass's Spark work is the guard's baseline
        warm = [one_pass() for _ in range(WARMUP_PASSES[args.workload])]
        base = warm[0]
        setup_s = time.perf_counter() - T_START - gen_s
        bench.freshness.clear()

        passes, traced = [], []
        t_meas = time.perf_counter()
        while True:
            # traced runs alternate untraced and traced passes and end on an
            # untraced one, so each traced pass sits between two untraced
            bench.trace_on = bool(args.trace) and len(passes) > len(traced)
            recs = one_pass()
            (traced if bench.trace_on else passes).append(recs)
            done = time.perf_counter() - t_meas >= args.seconds and len(passes) >= MIN_PASSES
            if done and (not args.trace or len(passes) > len(traced)):
                break
        rss = hwm_mb(descendants(jvm.pid))
    finally:
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
    cpu1 = cpu_times()

    fired = guard(base, passes + traced)
    e2e = end_to_end(passes, traced, setup_s, rss, bench.freshness)
    d = [b - a for a, b in zip(cpu0, cpu1)]
    busy = sum(d[:8])  # user..steal; guest time is already inside user
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "traced_passes": len(traced),
        "warmup_pass_s": [pass_seconds(p) for p in warm],
        "host": {
            "nproc": cores,
            "steal_frac": d[7] / busy if busy else 0.0,
            "steal_per_user": d[7] / d[0] if d[0] else 0.0,
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        },
        "inputs": {"dir": os.path.relpath(inputs_dir, ROOT), "gen_s": gen_s,
                   "tables": meta["tables"]},
        "guard": {"fired": fired},
        "end_to_end": e2e,
    }
    attempted = e2e["fail_frac"]["attempted"]
    failed = e2e["fail_frac"]["failed"]
    failures = [r for r in timed_calls(passes + traced) if not r.get("ok")]
    if failures:
        report["failures"] = [
            {"op": r["op"], "night": r.get("night"), "error": r.get("error", "wrong result")}
            for r in failures[:20]
        ]
    if args.trace:
        sums, rows = [], []
        for recs in traced:
            tot, per_call = layer_totals(recs, cores)
            sums.append(tot)
            rows.append(per_call)
        keys = sorted({k for s in sums for k in s})
        layers = {k: statistics.median(s.get(k, 0.0) for s in sums) for k in keys}
        layers["trace.overhead_s"] = (
            statistics.median(pass_seconds(p) for p in traced) - e2e["pass_s"]["median"]
        )
        report["per_layer"] = {k: {"value": v, "unit": unit(k)} for k, v in layers.items()}
        bench.spans.self_times()
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_file = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(trace_file, "w") as fh:
            json.dump({"report": report, "spans": bench.spans.rows, "calls": rows}, fh)
        report["trace_file"] = os.path.relpath(trace_file, ROOT)
        metrics = {k: report["per_layer"].get(k, {"value": 0.0, "unit": unit(k)})
                   for k in LAYER_METRICS}
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": e2e["pass_s"]["median"],
        }
        metrics = {k: {"value": values[k], "unit": unit(k)} for k in E2E_METRICS}
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": failed == 0 and not fired,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
