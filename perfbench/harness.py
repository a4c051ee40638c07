"""Shared pieces of the benchmark: metric declarations, session set-up,
run context, tracing and statistics.

Tracing records spans only around calls the benchmark makes into the
package's layers. A span has a name, start, end, parent and request id.
Spans opened with ``spark=True`` also run their call under a job group of
their own and, when the call ends, read the Spark job, stage and task
counts through ``statusTracker`` and the shuffle, spill and Python-worker
figures from the SQL status store, deduplicated by accumulator id (AQE
lists plan nodes more than once). With tracing off a span costs one
``perf_counter`` pair and nothing is kept.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


@dataclass
class WorkloadResult:
    """What a workload's ``run(args)`` returns to the worker."""

    attempted: int
    failed: int
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    context: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    failures: list = field(default_factory=list)


@dataclass
class Measured:
    """One pass over a workload's timed part. ``end_to_end`` holds the
    figures every workload reports (cpu_ms_per_op, latency_p50_ms,
    latency_p95_ms, ops_per_s); BENCHMARK.json decides which of them are
    end-to-end metrics and which per-layer ones. ``failed`` counts the
    attempted operations whose output was wrong or missing."""

    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    attempted: int
    failed: int
    failures: list[str]
    context: dict = field(default_factory=dict)


# -- statistics ---------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100); 0.0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else 0.0


def slope(xs, ys) -> float:
    """Least-squares slope of ys against xs."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


# -- run context --------------------------------------------------------------


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


class RunContext:
    """Box state across the run: loadavg at both ends and the CPU mix
    (steal % above all) from /proc/stat deltas."""

    def __init__(self):
        self._jiffies0 = _cpu_jiffies()
        self._load0 = os.getloadavg()

    def finish(self, spark, **extra) -> dict:
        import pyarrow
        import pyspark

        delta = [b - a for a, b in zip(self._jiffies0, _cpu_jiffies())]
        total = sum(delta) or 1
        names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
        return {
            "master": spark.sparkContext.master,
            "nproc": len(os.sched_getaffinity(0)),
            "git_commit": _git_commit(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "loadavg_start": [round(x, 2) for x in self._load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_pct": {n: round(100.0 * d / total, 2) for n, d in zip(names, delta)},
            **extra,
        }


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this session: this
    process, its JVM and the PySpark daemon and workers (reaped children
    included). Stolen time is not in it, so it is steadier than wall time
    on a shared host."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM (VmHWM)."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


# -- session set-up -----------------------------------------------------------


def timed_setup(app: str, warm_up):
    """Launch the JVM, start the engine's session and run ``warm_up(spark)``.
    Returns the session and the (start_s, warm_s) pair."""
    from redpanda_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, (t1 - t0, time.perf_counter() - t1)


# -- tracing ------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """A SQL UI metric string -> seconds, bytes or a count. Multi-task
    metrics render as 'total (min, med, max ...)\\n<total> (...)'."""
    lines = text.split("\n")
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# SQL metric name -> the span stat it adds to
_SQL_STATS = {
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "time to start Python workers": "python_s",
    "time to initialize Python workers": "python_s",
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, request=None, spark: bool = False):
        """Time the enclosed call. The yielded dict gets ``dur`` (seconds)
        on exit, and Spark counters when tracing with ``spark=True``."""
        rec = {"name": name, "request": request}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t0
            return
        rec["id"] = len(self.spans)
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        probe = self._spark_begin() if spark else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if probe is not None:
                rec.update(self._spark_end(probe))

    # Spark counters for one call: a job group of its own plus the SQL
    # executions started while it ran
    def _spark_begin(self):
        sc = self.spark.sparkContext
        self._groups += 1
        gid = f"perfbench-{os.getpid()}-{self._groups}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", gid)
        store = self.spark._jsparkSession.sharedState().statusStore()
        return gid, prev, store, store.executionsCount()

    def _spark_end(self, probe) -> dict:
        gid, prev, store, n0 = probe
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(gid))
        stats = {"shuffle_bytes": 0.0, "spill_bytes": 0.0, "python_s": 0.0,
                 "python_bytes": 0.0}
        seen: set[int] = set()
        n1 = store.executionsCount()
        execs = store.executionsList(int(n0), int(n1 - n0)) if n1 > n0 else None
        for i in range(execs.size() if execs is not None else 0):
            ex = execs.apply(i)
            eid = ex.executionId()
            it = ex.jobs().keySet().iterator()
            while it.hasNext():
                jobs.add(int(it.next()))
            names = {}
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                ms = nodes.apply(j).metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() in _SQL_STATS:
                        names[m.accumulatorId()] = _SQL_STATS[m.name()]
            it = store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                acc = kv._1()
                if acc in names and acc not in seen:
                    seen.add(acc)
                    stats[names[acc]] += parse_sql_metric(kv._2())
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numCompletedTasks
        stats.update(jobs=len(jobs), stages=stages, tasks=tasks)
        return stats

    def wrap(self, obj, method: str, name: str, spark: bool = False) -> None:
        """When tracing, replace ``obj.method`` on that instance only by a
        call that runs inside a span, so calls one layer makes into
        another are timed at the boundary."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name, spark=spark):
                return inner(*a, **kw)

        setattr(obj, method, traced)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: span time minus the time its
        child spans cover (children never overlap: the loops are serial)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["dur"] - child.get(s["id"], 0.0)
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            d = dict(s)
            d["start"] = round(d["start"] - t0, 6)
            d["end"] = round(d["end"] - t0, 6)
            out.append(d)
        return out


# -- the run ------------------------------------------------------------------


def run_workload(args, warm_up, measure) -> WorkloadResult:
    """Set up, run ``measure(spark, args, tracer, check) -> Measured`` and add the
    metrics every workload shares. A traced run measures once traced and
    then once untraced, and reports the difference as the tracing
    overhead; the untraced pass runs second, on a warmer JVM, so the
    difference errs high, and skips the correctness checks."""
    ctx = RunContext()
    spark, (start_s, warm_s) = timed_setup(f"perfbench-{args.workload}", warm_up)
    tracer = Tracer(spark, bool(args.trace))
    m = measure(spark, args, tracer)
    base = measure(spark, args, Tracer(spark, False), check=False) if args.trace else None
    e2e_names, _ = declared_metrics()
    figures = {"setup_s": start_s + warm_s, **m.end_to_end}
    e2e = {k: v for k, v in figures.items() if k in e2e_names}
    layer = {
        **{k: v for k, v in figures.items() if k not in e2e_names},
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "error_rate": m.failed / max(1, m.attempted),
        "peak_rss_mb": peak_rss_mb(spark),
        **m.per_layer,
    }
    if base is not None:
        for k, v in m.end_to_end.items():
            layer[f"tracing.{k}_delta"] = v - base.end_to_end[k]
    context = ctx.finish(
        spark, seed=args.seed, seconds=args.seconds, smoke=args.smoke, **m.context,
    )
    if tracer.enabled:
        context["self_s"] = tracer.self_times()
    spark.stop()
    return WorkloadResult(
        attempted=m.attempted, failed=m.failed, end_to_end=e2e, per_layer=layer,
        context=context, spans=tracer.dump() if tracer.enabled else [],
        failures=m.failures,
    )
