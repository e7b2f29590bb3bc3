"""Self-test of the benchmark at sf0.001, a low stream rate and a few ops
per workload.

    python3 perfbench/selftest.py

For every workload (the ones in BENCHMARK.json and olap_tpch) it runs
perfbench/run.py untraced and traced, and asserts that the last line
holds every metric BENCHMARK.json names with its unit, that every op was
correct (failed_frac 0) and that the trace file was written.  On the
traced runs it asserts that each layer reads what the workload makes it
do (EXPECT, and the q5 / q6 job and stage counts).  It then checks that
the benchmark exits nonzero, without a result, in a directory that holds
only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import suite

SMOKE = ["--seconds", "2", "--sf", "0.001", "--rate", "1"]
QUERIES = {
    "olap_tpch": "tpch_q1_pricing_summary,tpch_q5_local_supplier_volume,tpch_q6_forecast_revenue",
    "dedup_curation": "udx_pandas_scalar,dedup_minhash_lsh,dedup_connected_clusters",
}
SEED = 7

# Traced run: metric-name prefix -> whether it must read > 0 (True) or
# exactly 0 (False), per workload.
EXPECT = {
    "olap_tpch": {"exec.jobs": True, "python.": False, "state.": False},
    "dedup_curation": {"exec.jobs": True, "python.": True, "state.": False},
    "stream_events": {"exec.jobs": True, "state.": True},
}
# (jobs, stages) per TPC-H query, from the traced per-query table.
PER_QUERY = {"tpch_q5_local_supplier_volume": (8, 12), "tpch_q6_forecast_revenue": (2, 3)}


def layer_problems(wl: str, metrics: dict, trace_file: str) -> list[str]:
    out = []
    for prefix, positive in EXPECT[wl].items():
        for name, m in metrics.items():
            if name.startswith(prefix) and (m["value"] > 0) != positive:
                out.append(f"{wl}: {name} = {m['value']}, expected {'> 0' if positive else '0'}")
    if wl == "olap_tpch":
        with open(trace_file) as f:
            table = json.load(f)["per_query"]
        for q, want in PER_QUERY.items():
            got = (table[q]["exec.jobs"], table[q]["exec.stages"])
            if got != want:
                out.append(f"{wl}: {q} (jobs, stages) = {got}, expected {want}")
    return out


def main() -> int:
    spec = suite.spec()
    wanted = {0: spec["end_to_end"], 1: spec["per_layer"]}
    problems = []
    for wl in suite.workloads():
        for trace in (0, 1):
            extra = SMOKE + (["--queries", QUERIES[wl]] if wl in QUERIES else [])
            code, ledger, res = suite.run_one(wl, SEED, trace, extra)
            if res is None:
                problems.append(f"{wl} trace={trace}: exit {code}, no result")
                continue
            got = res["metrics"]
            for m in wanted[trace]:
                if got.get(m["name"], {}).get("unit") != m["unit"]:
                    problems.append(f"{wl} trace={trace}: {m['name']} missing or wrong unit")
            if set(got) != {m["name"] for m in wanted[trace]}:
                problems.append(f"{wl} trace={trace}: unexpected metric set")
            if not res["correct"] or res["failed"] != 0 or ledger["failed_frac"] != 0:
                problems.append(f"{wl} trace={trace}: failed {res['failed']}/{res['attempted']}")
            trace_file = os.path.join(suite.HERE, "traces", f"{wl}-{SEED}.json")
            if trace and not os.path.isfile(trace_file):
                problems.append(f"{wl}: no trace file")
            elif trace:
                problems += layer_problems(wl, got, trace_file)
            print(f"{wl} trace={trace}: {res['attempted']} ops, failed {res['failed']}", flush=True)

    bare = os.path.join(suite.HERE, "work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(suite.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("work", "traces", "__pycache__"))
    shutil.copy(os.path.join(suite.ROOT, "BENCHMARK.json"), bare)
    try:
        code, _, res = suite.run_one(spec["workloads"][0]["name"], SEED, 0, SMOKE, cwd=bare)
        if code == 0 or res is not None:
            problems.append(f"bare directory: exit {code}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
