"""Open-loop streaming workload: one generator thread drops seeded event
files into a monitored JSON directory at a fixed rate, and three Flink
SQL statements read it through `TableEnvironment.execute_sql`:

1. a 1-minute TUMBLE aggregate INSERT INTO a parquet filesystem sink;
2. a GROUP BY user_id INSERT INTO a PRIMARY KEY upsert sink;
3. a ROW_NUMBER() = 1 first-event-per-user dedup into a complete-mode
   memory sink.

One op is one file.  Its latency runs from the file's due time to the
end of the last micro-batch, over the three queries, that committed its
rows.  The file source reads files in arrival order, so the cumulative
committed row count of each query locates every file.  At the end each
sink is compared with the batch `execute_sql` of the same text over the
same files.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from datetime import datetime, timezone

import probes

# 12.5k events/s: about half the highest rate at which latency stayed
# bounded in a sweep on a 4-core host (25k/s; at 50k/s the generator fell
# behind and latency grew through the window).
ROWS_PER_FILE = 2500
RATE_FILES_PER_S = 5.0
# Seconds of feed before the timed files, which follow without a pause,
# so that the timed window starts with the engine in steady state.
WARMUP_S = 2.0
USERS = 200
DELAY_S = 5
EVENT_STEP_MS = 20
DISORDER_MS = 4000  # < DELAY_S, so no event is ever late
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
SETUPS = 3

COLS = "event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT, event_type STRING, `value` DOUBLE"
TUMBLE = (
    "SELECT window_start, window_end, count(*) AS cnt, sum(`value`) AS total "
    "FROM TABLE(TUMBLE(TABLE {T}, DESCRIPTOR(ts), INTERVAL '1' MINUTE)) "
    "GROUP BY window_start, window_end"
)
PER_USER = "SELECT user_id, count(*) AS cnt, sum(`value`) AS total FROM {T} GROUP BY user_id"
FIRST = (
    "SELECT event_id, ts, user_id, event_type, `value` FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC) AS rn "
    "FROM {T}) WHERE rn = 1"
)


def _fmt(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}"


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class Source:
    """Seeded event files, written in order.  Tracks each file's due
    time and the cumulative row count at its end."""

    def __init__(self, path: str, seed: int, rows_per_file: int):
        self.path = path
        self.rng = random.Random(seed)
        self.rows_per_file = rows_per_file
        self.next_id = 0
        self.files: list[tuple[float, int]] = []  # (due, cumulative rows)
        self.rows = 0
        self.max_late = 0.0
        os.makedirs(path)

    def write(self, due: float, n: int | None = None, ts_ms: int | None = None) -> None:
        n = self.rows_per_file if n is None else n
        lines = []
        for _ in range(n):
            eid = self.next_id
            self.next_id += 1
            ms = ts_ms if ts_ms is not None else (
                BASE_MS + eid * EVENT_STEP_MS - self.rng.randrange(DISORDER_MS)
            )
            lines.append(json.dumps({
                "event_id": eid,
                "ts": _fmt(ms),
                "user_id": self.rng.randrange(USERS),
                "event_type": self.rng.choice(EVENT_TYPES),
                "value": round(self.rng.expovariate(1 / 50), 2),
            }))
        i = len(self.files)
        tmp = os.path.join(self.path, f".f{i:06d}.json")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.path, f"f{i:06d}.json"))
        self.rows += n
        self.files.append((due, self.rows))

    def feed(self, warm: float, seconds: float, rate: float, on_start=None):
        """Open loop: file k is due at start + k / rate, whatever the
        engine does.  The first `warm` seconds of files are warm-up; the
        timed files follow without a pause, so the engine is in steady
        state when they start, and `on_start` is called at the first
        one's due time.  Returns (first timed file, end file, timed
        start)."""
        start = time.time()
        first = t_start = None
        k = 0
        while k / rate < warm + seconds:
            due = start + k / rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            if first is None and k / rate >= warm:
                first, t_start = len(self.files), due
                if on_start is not None:
                    on_start()
            if first is not None:
                self.max_late = max(self.max_late, time.time() - due)
            self.write(due)
            k += 1
        return first, len(self.files), t_start


class Pipeline:
    """The three streaming statements over one source directory."""

    def __init__(self, spark, root: str, seed: int, rows_per_file: int):
        from flink_1_20_spark.sql_ddl import TableEnvironment

        self.spark, self.root = spark, root
        self.source = Source(f"{root}/src", seed, rows_per_file)
        for d in ("tumble", "users"):
            os.makedirs(f"{root}/{d}")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        env = self.env = TableEnvironment(spark)
        env.execute_sql(
            f"CREATE TABLE ev ({COLS}, WATERMARK FOR ts AS ts - INTERVAL '{DELAY_S}' SECOND) "
            f"WITH ('connector'='filesystem','path'='{root}/src','format'='json',"
            "'scan.streaming'='true')"
        )
        env.execute_sql(
            "CREATE TABLE tumble_sink (window_start TIMESTAMP(3), window_end TIMESTAMP(3), "
            f"cnt BIGINT, total DOUBLE) WITH ('connector'='filesystem','path'='{root}/tumble',"
            f"'format'='parquet','checkpoint'='{root}/ck_tumble')"
        )
        env.execute_sql(
            "CREATE TABLE user_sink (user_id BIGINT, cnt BIGINT, total DOUBLE, "
            "PRIMARY KEY (user_id) NOT ENFORCED) WITH ('connector'='filesystem',"
            f"'path'='{root}/users','format'='parquet')"
        )
        self.queries = [
            env.execute_sql("INSERT INTO tumble_sink " + TUMBLE.format(T="ev")),
            env.execute_sql("INSERT INTO user_sink " + PER_USER.format(T="ev")),
            env.execute_sql(FIRST.format(T="ev"))
            .writeStream.format("memory").queryName("first_per_user")
            .outputMode("complete").option("checkpointLocation", f"{root}/ck_first")
            .start(),
        ]

    def drain(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def progress(self) -> list[list[dict]]:
        return [list(q.recentProgress) for q in self.queries]

    def flush(self) -> None:
        """One event ten minutes past the last, so the watermark closes
        every window; no later event may follow it."""
        self.flush_ms = BASE_MS + self.source.next_id * EVENT_STEP_MS + 600_000
        self.source.write(time.time(), n=1, ts_ms=self.flush_ms)

    def check(self) -> bool:
        """After the flush has drained: stop, and compare each sink with
        the batch statement of the same text over the same files."""
        from verify_local import compare

        flush_ms = self.flush_ms
        self.stop()
        env = self.env
        env.execute_sql(
            f"CREATE TABLE ev_batch ({COLS}) WITH ('connector'='filesystem',"
            f"'path'='{self.root}/src','format'='json','scan.streaming'='false')"
        )
        cut = _fmt(flush_ms - DELAY_S * 1000).replace("T", " ")
        pairs = [
            (self.spark.read.parquet(f"{self.root}/tumble"),
             env.execute_sql(TUMBLE.format(T="ev_batch") + f" HAVING window_end <= TIMESTAMP '{cut}'")),
            (env.execute_sql("SELECT * FROM user_sink"), env.execute_sql(PER_USER.format(T="ev_batch"))),
            (self.spark.table("first_per_user"), env.execute_sql(FIRST.format(T="ev_batch"))),
        ]
        ok = True
        for got, want in pairs:
            good, _ = compare(got.collect(), got.columns, want.collect(), want.columns)
            ok = ok and good
        return ok


def _batches(progress: list[dict]) -> list[dict]:
    """Per micro-batch: end time, cumulative input rows and durations."""
    out, cum = [], 0
    for p in progress:
        d = p["durationMs"]
        start = _epoch(p["timestamp"])
        cum += p["numInputRows"]
        out.append({
            "id": p["batchId"], "start": start,
            "end": start + d.get("triggerExecution", 0) / 1e3,
            "rows": p["numInputRows"], "cum": cum, "d": d,
            "state": p["stateOperators"],
        })
    return out


def commit_times(source: Source, progress) -> list[tuple[float, list[tuple[int, int]]]]:
    """Per file: (time its last query committed it, [(query, batch index)])."""
    per_query = [_batches(p) for p in progress]
    out = []
    for _, cum_rows in source.files:
        when, who = 0.0, []
        for qi, bs in enumerate(per_query):
            b = next(i for i, b in enumerate(bs) if b["cum"] >= cum_rows)
            when = max(when, bs[b]["end"])
            who.append((qi, b))
        out.append((when, who))
    return out


def _setup(get_spark, root: str, seed: int, rows_per_file: int):
    """Session, DDL, query start and the first file's drain.  Returns
    (spark, pipeline, seconds in get_spark)."""
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    pipe = Pipeline(spark, root, seed, rows_per_file)
    pipe.source.write(time.time())
    pipe.drain()
    return spark, pipe, session_s


def _window(src: Source, pipe: Pipeline, seconds: float, rate: float, on_start=None,
            last=False):
    """One open-loop window behind WARMUP_S seconds of the same feed,
    drained; the last window of a run ends with the flush, so that one
    drain serves both.  Returns (first timed file, end file, timed
    start)."""
    first, end, t_start = src.feed(WARMUP_S, seconds, rate, on_start)
    if last:
        pipe.flush()
    pipe.drain()
    return first, end, t_start


def _latencies(src: Source, commits, first: int, end: int) -> list[float]:
    return [commits[i][0] - src.files[i][0] for i in range(first, end)]


def run(seed: int, seconds: float, trace: bool, work: str, rate=None, rows=None) -> dict:
    from flink_1_20_spark import get_spark

    rate = RATE_FILES_PER_S if rate is None else rate
    rows = ROWS_PER_FILE if rows is None else rows
    setups, session_start, spark, pipe = [], None, None, None
    tracer = probes.Tracer() if trace else None
    for k in range(SETUPS):
        if pipe is not None:
            pipe.stop()
            spark.stop()
        if tracer is not None and k == SETUPS - 1:
            tracer.install()
        t0 = time.perf_counter()
        spark, pipe, session_s = _setup(get_spark, f"{work}/stream{k}", seed, rows)
        setups.append(time.perf_counter() - t0)
        if session_start is None:
            session_start = session_s
    if tracer is not None:
        tracer.remove()

    src = pipe.source
    cpu = []
    first, end, t_start = _window(src, pipe, seconds, rate,
                                  lambda: cpu.append(probes.CpuWindow(spark)), last=not trace)
    cpu_s, steal = cpu[0].close()
    peak_rss = probes.peak_rss_mb(spark)
    commits = commit_times(src, pipe.progress())
    lat = _latencies(src, commits, first, end)
    wall = max(commits[i][0] for i in range(first, end)) - t_start

    result = {
        "latencies": lat, "wall": wall, "cpu_s": cpu_s, "steal": steal,
        "setups": setups, "peak_rss_mb": peak_rss, "generator_late_max_s": src.max_late,
        "rate_files_per_s": rate, "rows_per_file": rows,
    }
    if trace:
        # A second window of the same length, with the tracer installed
        # and Spark's counters read from its first stage on.
        counters = probes.SparkCounters(spark)
        stage0 = max(counters.stage_ids(), default=-1)
        job0 = max(counters.job_ids(), default=-1)
        tracer.install()
        try:
            t_first, t_end, t_start = _window(src, pipe, seconds, rate, last=True)
        finally:
            tracer.remove()
        progress = pipe.progress()
        commits = commit_times(src, progress)
        stages = [s for s in counters.stage_ids() if s > stage0]
        result["trace"] = _layers(
            src, progress, commits, t_first, t_end, t_start, tracer, session_start,
            counters.job_floor_s(spark), counters.stage_totals(stages),
            sum(1 for j in counters.job_ids() if j > job0), len(stages),
            statistics.median(lat),
        )
    result["correct_sinks"] = pipe.check()
    spark.stop()
    return result


def _layers(src, progress, commits, first, end, t_start, tracer, session_start,
            floor, exec_tot, jobs, n_stages, plain_p50) -> dict:
    n_files = end - first
    per_query = [_batches(p) for p in progress]
    window_end = max(w for w, _ in commits[first:end])
    in_window = [[b for b in bs if b["end"] >= t_start and b["start"] <= window_end]
                 for bs in per_query]
    data_batches = [[b for b in bs if b["rows"] > 0] for bs in in_window]
    all_b = [b for bs in in_window for b in bs]

    def dur(b, *keys):
        return sum(b["d"].get(k, 0) for k in keys) / 1e3

    def state(b, key):
        return sum(s.get(key, 0) for s in b["state"])

    backlog = 0
    for i in range(first, end):
        when = commits[i][0]
        written = sum(1 for due, _ in src.files[:end] if due <= when)
        backlog = max(backlog, written - (i + 1))
    last = [bs[-1] for bs in in_window if bs]
    m = {
        "session.start_s": session_start,
        "exec.jobs": jobs / n_files, "exec.stages": n_stages / n_files,
        "exec.job_floor_s": floor,
        **{k: v / n_files for k, v in exec_tot.items()},
        "sqlenv.execute_sql_s": tracer.execute_sql_s(),
        "stream.batches": float(sum(len(bs) for bs in data_batches)),
        "stream.files_per_batch": probes.mean(
            n_files / len(bs) for bs in data_batches if bs),
        "stream.backlog_files_max": float(backlog),
        "stream.trigger_s": probes.mean(dur(b, "triggerExecution") for b in all_b),
        "stream.add_batch_s": probes.mean(dur(b, "addBatch") for b in all_b),
        "stream.query_planning_s": probes.mean(dur(b, "queryPlanning") for b in all_b),
        "stream.source_s": probes.mean(dur(b, "latestOffset", "getBatch") for b in all_b),
        "stream.commit_s": probes.mean(dur(b, "walCommit", "commitOffsets") for b in all_b),
        "state.rows_total": float(sum(state(b, "numRowsTotal") for b in last)),
        "state.memory_bytes": float(sum(state(b, "memoryUsedBytes") for b in last)),
        "state.rows_updated": probes.mean(state(b, "numRowsUpdated") for b in all_b),
        "state.commit_s": probes.mean(state(b, "commitTimeMs") / 1e3 for b in all_b),
    }
    for i in range(first, end):
        when, who = commits[i]
        root = tracer.span("file", src.files[i][0], when, file=i)
        for qi, bi in who:
            b = per_query[qi][bi]
            tracer.span("batch", b["start"], b["end"], root, query=qi, batch=b["id"])
    traced_p50 = statistics.median(_latencies(src, commits, first, end))
    return {"metrics": m, "spans": tracer.dump(),
            "overhead": {"op_p50_s_traced": traced_p50, "op_p50_s_untraced": plain_p50,
                         "op_p50_s_delta": traced_p50 - plain_p50}}
