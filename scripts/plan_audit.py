"""Plan audit: build (don't execute) every registered query and flag
physical-plan anti-patterns (guide §1/§2/§3/§4).

For each query the formatted plan is scanned for:
  - CartesianProduct / BroadcastNestedLoopJoin   (accidental cross joins)
  - SortMergeJoin                                 (sort both sides; the
    engine prefers hash — flag for review, not automatically wrong)
  - BatchEvalPython                               (row-at-a-time Python)
  - ArrowEvalPython / MapInPandas / FlatMap(Co)GroupsIn{Pandas,Arrow}
    (Python boundary — allowed for the custom operators, counted for
    review)
  - Exchange count                                (shuffle count)
  - Scan parquet without PushedFilters while the query filters

Usage:
    python scripts/plan_audit.py [--sf /root/testdata/sf0.01] [--csv out.csv]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_1_20_spark import get_spark
from flink_1_20_spark.plan_allowlist import bnlj_allowed
from flink_1_20_spark.registry import get_queries

MARKERS = [
    ("cartesian", r"CartesianProduct"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("smj", r"SortMergeJoin"),
    ("batch_py", r"BatchEvalPython"),
    ("arrow_py", r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)"),
    ("window", r"\bWindow\b|WindowExec|WindowGroupLimit"),
    ("sort", r"\bSort \(|\bSort\b"),
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--csv", default=None)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    spark = get_spark("plan-audit")
    queries = get_queries()
    names = args.only or list(queries)

    rows = []
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df.queryExecution() if hasattr(df, "queryExecution") else df._jdf.queryExecution(),
                "formatted",
            )
        except Exception:
            rows.append((name, {"error": 1}, 0, time.time() - t0))
            print(f"ERROR {name}\n{traceback.format_exc()}")
            continue
        flags = {}
        for key, pat in MARKERS:
            n = len(re.findall(pat, plan))
            if n:
                flags[key] = n
        flags["exchanges"] = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        rows.append((name, flags, len(plan), time.time() - t0))

    print(f"{'query':<50} {'exch':>4}  flags")
    for name, flags, _, dt in sorted(rows, key=lambda r: -r[1].get("exchanges", 0)):
        extras = {k: v for k, v in flags.items() if k != "exchanges"}
        print(f"{name:<50} {flags.get('exchanges', '?'):>4}  {extras if extras else ''}")
    if args.csv:
        import csv

        with open(args.csv, "w", newline="") as f:
            w = csv.writer(f)
            keys = [k for k, _ in MARKERS] + ["exchanges", "plan_bytes", "build_sec"]
            w.writerow(["query"] + keys)
            for name, flags, nbytes, dt in rows:
                w.writerow(
                    [name]
                    + [flags.get(k, 0) for k, _ in MARKERS]
                    + [flags.get("exchanges", 0), nbytes, round(dt, 2)]
                )
    # nonzero exit on a cartesian, an error, or a BNLJ outside the
    # audited allowlist (the same one tests/test_plans.py reads), so a
    # clean tree exits 0 and only a new regression fails automation
    bad = [
        n for n, f, _, _ in rows
        if f.get("cartesian") or f.get("error") or (f.get("bnlj") and not bnlj_allowed(n))
    ]
    if bad:
        print("cartesian/bnlj/error:", " ".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
