"""Run every workload once and print its metrics by name and unit.

    python3 perfbench/suite.py [--seed 1] [--trace 0|1] [run.py options]

Runs perfbench/run.py for olap_tpch and for every workload in
BENCHMARK.json, at BENCHMARK.json's run_seconds unless --seconds is
given, and prints one line per metric: workload, name, value, unit.
Every run checks its own outputs; the exit code is nonzero if any run
failed or reported an incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workloads() -> list[str]:
    names = [w["name"] for w in spec()["workloads"]]
    return names + [n for n in ("olap_tpch",) if n not in names]


def run_one(workload: str, seed: int, trace: int, extra: list[str], cwd: str = ROOT):
    """(exit code, ledger dict or None, result dict or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return p.returncode, None, None
    return p.returncode, json.loads(lines[-2])["ledger"], json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args, extra = ap.parse_known_args()
    if "--seconds" not in extra:
        extra += ["--seconds", str(spec()["run_seconds"])]
    bad = 0
    for wl in workloads():
        code, ledger, res = run_one(wl, args.seed, args.trace, extra)
        if res is None:
            print(f"{wl} exit {code}, no result")
            bad += 1
            continue
        ok = res["correct"] and res["failed"] == 0
        bad += not ok
        print(f"{wl} correct={ok} attempted={res['attempted']} failed={res['failed']} "
              f"steal={ledger['steal_share_window']:.3f} tail={ledger['op_tail']}")
        for name, m in res["metrics"].items():
            print(f"  {wl:15s} {name:28s} {m['value']:.6g} {m['unit']}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
