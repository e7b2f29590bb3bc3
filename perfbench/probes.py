"""Measurement from outside the program: host ledger, process CPU and
memory, and the per-layer tracer.

Nothing here edits the engine.  The tracer wraps the public functions
of the catalog and SQL layers (by rebinding module attributes) and reads
Spark's own counters: the query tracker's Catalyst phases, the status
tracker's jobs and stages, the status store's stage data, the executed
plan's SQL metrics and the block manager's storage info.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- host

def stat_ticks() -> tuple[int, int]:
    """(all, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[1] - before[1]) / max(1, after[0] - before[0])


def host_ledger() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": load}


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


# ----------------------------------------------------------- processes

def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime seconds) for every process."""
    out: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in rest[11:15])
        out[int(name)] = (int(rest[1]), ticks / _CLK_TCK)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of `root` and all its live descendants, including
    children they already reaped (so exited Python workers count)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            total += table[pid][1]
            todo.extend(kids.get(pid, ()))
    return total


def own_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver JVM, Python driver) peak resident set sizes."""
    return vm_hwm_mb(jvm_pid(spark)), vm_hwm_mb(os.getpid())


class CpuWindow:
    """User+sys CPU of the driver JVM (with its Python workers) and of
    this Python driver, plus the host steal share, over one window."""

    def __init__(self, spark):
        self.pid = jvm_pid(spark)
        self.t0 = stat_ticks()
        self.cpu0 = tree_cpu_s(self.pid) + own_cpu_s()

    def close(self) -> tuple[float, float]:
        cpu = tree_cpu_s(self.pid) + own_cpu_s() - self.cpu0
        return cpu, steal_share(self.t0, stat_ticks())


# -------------------------------------------------------------- metrics

def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it): the highest whole
    percentile that still has `beyond` samples above it; with too few
    samples for that, the median."""
    best = 50.0
    for p in range(50, 100):
        if sum(1 for x in xs if x > percentile(xs, p)) >= beyond:
            best = float(p)
    v = percentile(xs, best)
    return best, v, sum(1 for x in xs if x > v)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------- tracer

@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans plus per-layer counters, kept in memory and dumped as JSON
    when the run ends.  Calls into the catalog and SQL layers are timed
    through wrappers installed by `install()` and removed by `remove()`."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name, start, end, parent=None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, parent, name, start, end, attrs))
        return sid

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def execute_sql_s(self) -> float:
        """Mean seconds per TableEnvironment.execute_sql call."""
        calls = self.counts.get("sqlenv.execute_sql_calls", 0.0)
        return self.counts.get("sqlenv.execute_sql_s", 0.0) / max(1.0, calls)

    def _timed(self, fn, calls_key: str, secs_key: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.add(calls_key, 1)
                self.add(secs_key, time.perf_counter() - t0)

        return wrapper

    def install(self) -> None:
        from flink_1_20_spark import catalog, sql_ddl

        read_table = catalog.read_table
        wrapped = self._timed(read_table, "catalog.read_table_calls", "catalog.read_table_s")
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("flink_1_20_spark") and getattr(mod, "read_table", None) is read_table:
                self._patched.append((mod, "read_table", read_table))
                mod.read_table = wrapped
        cls = sql_ddl.TableEnvironment
        orig = cls.execute_sql
        self._patched.append((cls, "execute_sql", orig))
        cls.execute_sql = self._timed(orig, "sqlenv.execute_sql_calls", "sqlenv.execute_sql_s")

    def remove(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


# ------------------------------------------------------- spark counters

def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _scala_items(m):
    for kv in _scala_iter(m):
        yield kv._1(), kv._2()


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """phase -> (start, end) epoch seconds from the QueryExecution tracker."""
    ph = df._jdf.queryExecution().tracker().phases()
    return {k: (v.startTimeMs() / 1e3, v.endTimeMs() / 1e3) for k, v in _scala_items(ph)}


PYTHON_METRICS = (
    "pythonDataSent",
    "pythonDataReceived",
    "pythonNumRowsReceived",
    "pythonTotalTime",
    "pythonBootTime",
    "pythonInitTime",
)


def python_metrics(df) -> dict[str, int]:
    """Sum of the Python-boundary SQL metrics over the executed plan
    (through adaptive stages and subqueries)."""
    out = dict.fromkeys(PYTHON_METRICS, 0)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        for k, v in _scala_items(p.metrics()):
            if k in out:
                out[k] += v.value()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            for seq in (p.children(), p.subqueries()):
                todo.extend(_scala_iter(seq))
    return out


STAGE_FIELDS = {
    "exec.executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "exec.executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "exec.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "exec.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "exec.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "exec.gc_s": lambda s: s.jvmGcTime() / 1e3,
    "exec.tasks": lambda s: s.numCompleteTasks(),
}


class SparkCounters:
    """Job/stage/task counts, stage data and storage for one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        gw = self.sc._gateway
        self.store = self.sc._jsc.sc().statusStore()
        self._empty_list = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def group_stats(self, group: str) -> dict:
        """jobs, distinct stages, the stages that ran, and job spans of a
        job group."""
        st = self.sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(group))
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = []
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                ran.append(s)
        spans = []
        for j in jobs:
            jd = self.store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((j, sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return {"jobs": len(jobs), "stages": len(stages), "ran_stages": ran,
                "job_spans": spans}

    def stage_totals(self, stage_ids) -> dict[str, float]:
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in stage_ids:
            seq = self.store.stageData(sid, False, self._empty_list, False, self._no_quantiles)
            for s in _scala_iter(seq):
                for k, f in STAGE_FIELDS.items():
                    out[k] += f(s)
        return out

    def stage_ids(self) -> list[int]:
        """Every stage id the status store holds."""
        seq = self.store.stageList(None, False, False, self._no_quantiles, self._empty_list)
        return [s.stageId() for s in _scala_iter(seq)]

    def job_ids(self) -> list[int]:
        """Every job id the status store holds."""
        return [j.jobId() for j in _scala_iter(self.store.jobsList(None))]

    def stored_rdds(self) -> dict[int, int]:
        """rdd id -> bytes held in memory and on disk (localCheckpoint
        blocks included)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return {i.id(): i.memSize() + i.diskSize() for i in infos}

    def job_floor_s(self, spark, reps: int = 7) -> float:
        """Median wall time of the smallest Spark job."""
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            spark.range(1).collect()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)
