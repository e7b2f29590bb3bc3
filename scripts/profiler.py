"""Per-query profiling over the registry: wall clock, plan files and a
physical-plan audit, from one session and one query loop.

    time   Run each query with `df.write.format("noop")`, so the
           computation, not a collect or sink, is measured; min of
           --runs, with the host steal share of the fastest run
           (scripts/measure.py).  --json writes {name: {sec, steal}}
           ({err: true} for a query that raised).
    plans  Write `.explain("formatted")` of each query to
           <--out>/<name><--suffix>.txt; with no names, the bench.py
           headline set.  The files are the evidence for plan claims
           in OPTIMIZATION_r13.md.
    audit  Build (don't execute) each query and count physical-plan
           anti-patterns (guide §1/§2/§3/§4):
             - CartesianProduct / BroadcastNestedLoopJoin (accidental
               cross joins)
             - SortMergeJoin (sorts both sides; the engine prefers
               hash: flag for review, not automatically wrong)
             - BatchEvalPython (row-at-a-time Python)
             - ArrowEvalPython / MapIn{Pandas,Arrow} /
               FlatMap(Co)GroupsIn{Pandas,Arrow} (Python boundary:
               allowed for the custom operators, counted for review)
             - Exchange count (shuffle count)
           Exits nonzero on a cartesian, a build error, or a BNLJ
           outside flink_1_20_spark/plan_allowlist.py.

Usage:
    python scripts/profiler.py time [--sf DIR] [--runs 2] [--only n1 n2 ...] [--json out.json]
    python scripts/profiler.py plans [--sf DIR] --out plans/r13 --suffix _before [names...]
    python scripts/profiler.py audit [--sf /root/testdata/sf0.01] [--csv out.csv]

Every subcommand takes --sf, --only and --prefix.  (Not named
profile.py: with scripts/ on sys.path that name shadows the standard
library's `profile`, which pyspark loads through cProfile.)
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_1_20_spark import get_spark  # noqa: E402
from flink_1_20_spark.plan_allowlist import bnlj_allowed  # noqa: E402
from flink_1_20_spark.registry import get_queries  # noqa: E402
from scripts.measure import timed  # noqa: E402

MARKERS = [
    ("cartesian", r"CartesianProduct"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("smj", r"SortMergeJoin"),
    ("batch_py", r"BatchEvalPython"),
    ("arrow_py", r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)"),
    ("window", r"\bWindow\b|WindowExec|WindowGroupLimit"),
    ("sort", r"\bSort \(|\bSort\b"),
]


def explain(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_bytes(plan: str) -> int:
    """Size of a plan with its expression ids (`#123`) and `plan_id=123`
    suffixes removed: those count up with every plan the JVM has built,
    so the raw length drifts with history, not with the plan."""
    return len(re.sub(r"#\d+|plan_id=\d+", "", plan))


def each_query(args, default=None):
    """Yield (name, build) for the selected queries, build() -> DataFrame
    at --sf: --only (or `default`, else the whole registry), then
    --prefix."""
    spark = get_spark(f"profiler-{args.cmd}")
    queries = get_queries()
    names = args.only or default or list(queries)
    if args.prefix:
        names = [n for n in names if n.startswith(args.prefix)]
    for name in names:
        spark.sparkContext.setJobDescription(f"{args.cmd}:{name}")
        yield name, lambda q=queries[name]: q(spark, args.sf)


def cmd_time(args) -> int:
    def once(build):
        build().write.format("noop").mode("overwrite").save()

    out = {}
    for name, build in each_query(args):
        best, best_steal = float("inf"), 1.0
        try:
            for _ in range(args.runs):
                dt, _, steal, _ = timed(lambda: once(build), 1)
                if dt < best:
                    best, best_steal = dt, steal
        except Exception:
            print(f"ERROR {name}\n{traceback.format_exc(limit=3)}")
            out[name] = {"err": True}
            continue
        out[name] = {"sec": round(best, 3), "steal": round(best_steal, 3)}
        print(f"{best:8.3f}s  steal={best_steal:.2f}  {name}", flush=True)

    ranked = sorted(((v.get("sec", -1), k) for k, v in out.items()), reverse=True)
    print("\n=== slowest 25 ===")
    for sec, k in ranked[:25]:
        print(f"{sec:8.3f}s  {k}")
    print(f"total={sum(v.get('sec', 0) for v in out.values()):.1f}s over {len(out)} queries")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    return 0


def cmd_plans(args) -> int:
    from bench import HEADLINE

    os.makedirs(args.out, exist_ok=True)
    for name, build in each_query(args, args.names or HEADLINE):
        plan = explain(build())
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


def cmd_audit(args) -> int:
    rows = []
    for name, build in each_query(args):
        t0 = time.time()
        try:
            plan = explain(build())
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
        rows.append((name, flags, plan_bytes(plan), time.time() - t0))

    print(f"{'query':<50} {'exch':>4}  flags")
    for name, flags, _, dt in sorted(rows, key=lambda r: -r[1].get("exchanges", 0)):
        extras = {k: v for k, v in flags.items() if k != "exchanges"}
        print(f"{name:<50} {flags.get('exchanges', '?'):>4}  {extras if extras else ''}")
    if args.csv:
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


def main(argv=None) -> int:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--only", nargs="*", default=None)
    common.add_argument("--prefix", default=None)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("time", parents=[common], help="noop-sink wall clock per query")
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--json", default=None)
    p.set_defaults(fn=cmd_time)

    p = sub.add_parser("plans", parents=[common], help="formatted plan files")
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--out", default="plans/r13")
    p.add_argument("--suffix", default="_before")
    p.add_argument("names", nargs="*", default=None)
    p.set_defaults(fn=cmd_plans)

    p = sub.add_parser("audit", parents=[common], help="physical-plan anti-pattern audit")
    p.add_argument("--sf", default="/root/testdata/sf0.01")
    p.add_argument("--csv", default=None)
    p.set_defaults(fn=cmd_audit)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
