"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "steal": {...}, "host": "quiet"|"loaded", "sf": ...}

`value` = total wall-clock over the headline set (each query executed to
completion via collect(); results are small aggregates by construction).

Steal discipline (r13/r14): this host shows hypervisor CPU-steal gusts
that exceed user time, and a bench number taken inside one records host
weather, not engine cost (r12: the driver's 6.309 s sample vs the
3.0-3.9 s quiet band needed README prose to adjudicate). The artifact
adjudicates itself: host steal (scripts/measure.py: stolen jiffies over
all jiffies, the benchmark ledger's definition; 0 where the kernel does
not count it) is sampled around the warmup and around EVERY timed run,
the reported min carries the steal ratio it ran under, and a top-level
"host" verdict says whether the winning runs were all quiet. A bounded
(60 s) quiet-window wait runs before the timed section (bounded because
the driver runs bench under a timeout: it dodges a gust rather than
insisting on a quiet host); the ratio it achieved is recorded, never
assumed.

r14 (per the r13 verdict): the single blind third run on a loaded
sample is replaced by bounded quiet-retry. Each query runs twice; if no
run was quiet (steal <= 10%), the harness waits for a quiet window
(short bounded wait) and retries, up to 5 runs per query and a global
extra-time budget of 120 s shared across the set. The reported value
prefers the fastest QUIET run; only when every attempt was loaded does
the overall min stand (and the host verdict says "loaded"). A "runs"
ledger records how many attempts each query took so a loaded verdict is
auditable. The timed region, query set, collect() action and min
aggregation are unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_1_20_spark import get_spark
from flink_1_20_spark.registry import get_queries
from scripts.measure import steal_since, ticks, timed, wait_quiet

# Headline set: the operator mix the reference validates with TPC-H
# (SURVEY.md §6) plus this engine's beyond-reference pipeline operators.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
]

# A run is "quiet" below this steal fraction; a query with no quiet run
# earns bounded retries and the artifact's host verdict degrades.
STEAL_QUIET = 0.10

# Quiet-retry bounds: at most this many timed runs per query, and at
# most this much TOTAL extra wall-clock (retry runs + inter-retry quiet
# waits) across the whole headline set beyond the baseline 2 runs.
MAX_RUNS_PER_QUERY = 5
RETRY_BUDGET_SEC = 120.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    queries = get_queries()
    names = [n for n in HEADLINE if n in queries]

    # Warm the session outside the timing: parquet footers, then two
    # NON-headline queries (q12 join+agg, q4 exists+agg) to JIT the
    # shared execution infrastructure (janino codegen, vectorized
    # parquet reader, hash-agg/broadcast-join runtime). The measured
    # set's own plans/results are never touched — this measures the
    # steady-state engine cost a long-lived session (or any real
    # cluster deployment) runs at, not first-query JIT compilation.
    warm_t = ticks()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for warm in ("tpch_q12_priority_by_status", "tpch_q4_order_priority"):
        if warm in queries:
            queries[warm](spark, sf_dir).collect()
    warm_steal = steal_since(warm_t)
    pre_wait_steal = wait_quiet(STEAL_QUIET)

    # Min of 2 timed executions per query (the second run hits the same
    # plan with codegen compiled and page cache warm, so min measures
    # the engine's steady-state cost rather than the host's
    # scheduler/GC noise of one sample; JMH-style — single-run totals
    # swung 5.3-10.0 s on an otherwise-idle 32-core box), extended by
    # bounded quiet-retry: while a query has NO quiet run, wait for a
    # quiet window and re-run, within MAX_RUNS_PER_QUERY and the shared
    # RETRY_BUDGET_SEC. The fastest quiet run wins; overall min only
    # stands when every attempt was loaded.
    timings: dict[str, float] = {}
    steal: dict[str, float] = {}
    runs_taken: dict[str, int] = {}
    retry_spent = 0.0
    for name in names:
        best_any, best_any_steal = float("inf"), 1.0
        best_quiet, best_quiet_steal = float("inf"), 0.0
        run = 0
        while run < MAX_RUNS_PER_QUERY:
            if run >= 2:  # retry beyond the baseline pair: budgeted
                if retry_spent >= RETRY_BUDGET_SEC:
                    break
                w0 = time.time()
                wait_quiet(STEAL_QUIET, max_wait=20.0)
                retry_spent += time.time() - w0
            dt, _, r, _ = timed(lambda: queries[name](spark, sf_dir).collect(), 1)
            if run >= 2:
                retry_spent += dt
            if r <= STEAL_QUIET and dt < best_quiet:
                best_quiet, best_quiet_steal = dt, r
            if dt < best_any:
                best_any, best_any_steal = dt, r
            run += 1
            if run >= 2 and best_quiet < float("inf"):
                break  # have a quiet sample and the baseline pair
        if best_quiet < float("inf"):
            # Report the fastest QUIET run even when a gusty run was
            # faster by clock luck: like-for-like host state beats min.
            timings[name] = round(best_quiet, 3)
            steal[name] = round(best_quiet_steal, 3)
        else:
            timings[name] = round(best_any, 3)
            steal[name] = round(best_any_steal, 3)
        runs_taken[name] = run

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    worst = max(steal.values(), default=0.0)
    print(
        json.dumps(
            {
                "metric": "headline_total_wall_clock",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "runs_per_query": "min2 + quiet-retry<=5 (budget 120s)",
                "agg": "min(quiet) else min",
                "steal": steal,
                "runs": runs_taken,
                "retry_spent_sec": round(retry_spent, 1),
                "steal_warmup": round(warm_steal, 3),
                "steal_prewait": round(pre_wait_steal, 3),
                "host": "quiet" if worst <= STEAL_QUIET else "loaded",
            }
        )
    )


if __name__ == "__main__":
    main()
