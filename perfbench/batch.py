"""Closed-loop batch workloads: one client runs registered queries back
to back.  One op = build the query's DataFrame plus `collect()`.

Every op's rows are checked against the query's DuckDB oracle, computed
once per run while the untimed warm-up pass runs.
"""

from __future__ import annotations

import random
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb

import data
import probes

TPCH = (
    "tpch_q1_pricing_summary", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q9_product_profit", "tpch_q10_returned_items",
    "tpch_q11_important_stock", "tpch_q12_priority_by_status",
    "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q16_parts_suppliers",
    "tpch_q17_small_quantity", "tpch_q18_large_volume",
    "tpch_q19_discounted_revenue", "tpch_q20_part_promotion",
    "tpch_q21_waiting_suppliers", "tpch_q22_sales_opportunity",
)

# Two of the dedup family are left out to fit the benchmark's run-time
# budget: pipeline_corpus_curation chains exact dedup and the operators of
# dedup_minhash_lsh and dedup_connected_clusters, and
# simsearch_ivfpq_adc_topk repeats their pattern (driver loop of small
# jobs); together they took 40% of a pass.
DEDUP = (
    "udx_pandas_scalar", "dedup_minhash_lsh", "dedup_connected_clusters",
    "dedup_semantic_cells", "cep_funnel_strict", "cogroup_custkey", "text_lm_score",
)

# name -> (queries, scale factor, shuffle the order each pass, nominal
# seconds of one warm pass on a 4-core host).  The first query is also
# the op that ends each set-up.  A run times round(--seconds / nominal)
# passes, at least one: a fixed count, so that a slow host times the
# same ops rather than fewer.
WORKLOADS = {
    "olap_tpch": (TPCH, 0.01, True, 4.0),
    "dedup_curation": (DEDUP, 0.01, False, 10.0),
}

SETUPS = 3


class Op:
    __slots__ = ("name", "latency", "cols", "rows", "error")

    def __init__(self, name):
        self.name, self.latency = name, 0.0
        self.cols = self.rows = self.error = None


def _oracles(sf_dir: str, names) -> dict[str, tuple[list, list]]:
    from flink_1_20_spark.catalog import TABLE_NAMES
    from flink_1_20_spark.registry import get_oracles

    sql = get_oracles()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            rel = con.sql(sql[n])
            out[n] = (rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def _run_op(queries, spark, sf_dir, name, trace=None) -> Op:
    op = Op(name)
    t0 = time.perf_counter()
    try:
        if trace is None:
            df = queries[name](spark, sf_dir)
            op.cols, op.rows = df.columns, df.collect()
        else:
            trace(op, df_fn=lambda: queries[name](spark, sf_dir))
    except Exception:
        op.error = traceback.format_exc(limit=3)
    op.latency = time.perf_counter() - t0
    return op


def _check(op: Op, oracles) -> bool:
    from verify_local import compare

    if op.error is not None:
        return False
    want_cols, want_rows = oracles[op.name]
    ok, _ = compare(op.rows, op.cols, want_rows, want_cols)
    return ok


def _passes(queries, spark, sf_dir, names, n_passes, rng, shuffle, trace=None):
    """`n_passes` whole passes over `names`.  Returns (ops, wall seconds)."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    for _ in range(n_passes):
        order = list(names)
        if shuffle:
            rng.shuffle(order)
        for name in order:
            ops.append(_run_op(queries, spark, sf_dir, name, trace))
    return ops, time.perf_counter() - t0


class _OpTracer:
    """Per-op layer probe for the traced window."""

    def __init__(self, spark, tracer: probes.Tracer):
        self.spark, self.tracer = spark, tracer
        self.counters = probes.SparkCounters(spark)
        self.per_op: list[dict] = []
        self.n = 0

    def __call__(self, op: Op, df_fn):
        sc = self.spark.sparkContext
        group = f"perfbench-{self.n}"
        self.n += 1
        before_rdds = self.counters.stored_rdds()
        before = dict(self.tracer.counts)
        sc.setJobGroup(group, op.name)
        try:
            t0 = time.time()
            df = df_fn()
            t1 = time.time()
            op.cols, op.rows = df.columns, df.collect()
            t2 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        root = self.tracer.span("op", t0, t2, query=op.name)
        self.tracer.span("build", t0, t1, root)
        collect = self.tracer.span("collect", t1, t2, root)
        phases = probes.catalyst_phases(df)
        for ph, (a, b) in phases.items():
            self.tracer.span(f"catalyst.{ph}", a, b, collect)
        g = self.counters.group_stats(group)
        for jid, a, b in g["job_spans"]:
            self.tracer.span("exec.job", a, b, collect, job=jid)
        row = {
            "name": op.name,
            "latency_s": t2 - t0,
            "queries.build_s": t1 - t0,
            "exec.jobs": g["jobs"],
            "exec.stages": g["stages"],
        }
        for ph in ("analysis", "optimization", "planning"):
            a, b = phases.get(ph, (0.0, 0.0))
            row[f"catalyst.{ph}_s"] = b - a
        row.update(self.counters.stage_totals(g["ran_stages"]))
        py = probes.python_metrics(df)
        row["python.data_sent_bytes"] = py["pythonDataSent"]
        row["python.data_received_bytes"] = py["pythonDataReceived"]
        row["python.rows_received"] = py["pythonNumRowsReceived"]
        row["python.exec_s"] = py["pythonTotalTime"] / 1e3
        row["python.worker_init_s"] = (py["pythonBootTime"] + py["pythonInitTime"]) / 1e3
        after_rdds = self.counters.stored_rdds()
        row["materialize.bytes"] = sum(
            b for rid, b in after_rdds.items() if rid not in before_rdds
        )
        for k in ("catalog.read_table_calls", "catalog.read_table_s"):
            row[k] = self.tracer.counts.get(k, 0.0) - before.get(k, 0.0)
        self.per_op.append(row)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sf=None, only=None) -> dict:
    from flink_1_20_spark import get_spark
    from flink_1_20_spark.registry import get_queries

    names, default_sf, shuffle, pass_s = WORKLOADS[workload]
    n_passes = max(1, round(seconds / pass_s))
    if only:
        names = tuple(n for n in names if n in only)
    sf = default_sf if sf is None else sf
    sf_dir = f"{work}/data"
    data.write(sf_dir, sf, seed)
    queries = get_queries()
    rng = random.Random(seed)

    # Set-up: the first session starts the JVM; each later one stops the
    # previous session and starts a fresh one in the same JVM.
    setups, session_start, setup_ops = [], None, []
    spark = None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        if session_start is None:
            session_start = time.perf_counter() - t0
        setup_ops.append(_run_op(queries, spark, sf_dir, names[0]))
        setups.append(time.perf_counter() - t0)

    # Warm-up pass, outside the timed window; the oracles are computed
    # meanwhile.
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(_oracles, sf_dir, names)
        warm, _ = _passes(queries, spark, sf_dir, names, 1, rng, False)
        oracles = pending.result()
    failed_checks = sum(not _check(op, oracles) for op in setup_ops + warm)

    cpu = probes.CpuWindow(spark)
    ops, wall = _passes(queries, spark, sf_dir, names, n_passes, rng, shuffle)
    cpu_s, steal = cpu.close()
    peak_rss = probes.peak_rss_mb(spark)

    result = {
        "ops": ops,
        "wall": wall,
        "cpu_s": cpu_s,
        "steal": steal,
        "setups": setups,
        "peak_rss_mb": peak_rss,
        "passes": n_passes,
        "extra_failed": failed_checks,
    }
    if trace:
        tracer = probes.Tracer()
        tracer.install()
        try:
            probe = _OpTracer(spark, tracer)
            floor = probe.counters.job_floor_s(spark)
            tops, _ = _passes(queries, spark, sf_dir, names, n_passes, rng, shuffle, trace=probe)
        finally:
            tracer.remove()
        result["extra_failed"] += sum(not _check(op, oracles) for op in tops)
        result["trace"] = _layers(probe.per_op, tracer, session_start, floor, tops, ops)
    spark.stop()
    result["failed"] = sum(not _check(op, oracles) for op in ops)
    for op in ops:
        op.rows = None
    return result


def _layers(per_op, tracer, session_start, floor, traced_ops, plain_ops) -> dict:
    if not per_op:
        raise RuntimeError("every traced op failed")
    keys = [k for k in per_op[0] if k not in ("name", "latency_s")]
    metrics = {k: probes.mean(r[k] for r in per_op) for k in keys}
    metrics["session.start_s"] = session_start
    metrics["exec.job_floor_s"] = floor
    metrics["sqlenv.execute_sql_s"] = tracer.execute_sql_s()
    by_name: dict[str, list[dict]] = {}
    for r in per_op:
        by_name.setdefault(r["name"], []).append(r)
    table = {
        n: {
            k: statistics.median(r[k] for r in rows)
            for k in ("latency_s", "exec.jobs", "exec.stages", "exec.tasks",
                      "queries.build_s", "catalyst.analysis_s",
                      "catalyst.optimization_s", "catalyst.planning_s")
        }
        for n, rows in by_name.items()
    }
    traced_p50 = statistics.median(op.latency for op in traced_ops)
    plain_p50 = statistics.median(op.latency for op in plain_ops)
    return {
        "metrics": metrics,
        "per_query": table,
        "spans": tracer.dump(),
        "overhead": {"op_p50_s_traced": traced_p50, "op_p50_s_untraced": plain_p50,
                     "op_p50_s_delta": traced_p50 - plain_p50},
    }
