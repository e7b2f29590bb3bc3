"""scripts/profiler.py: the audit's exit status follows the BNLJ
allowlist, `time --json` records {sec, steal} per query, and steal
reads 0 where the host does not count it."""

from __future__ import annotations

import json

from scripts import measure, profiler

# one allowlisted BNLJ user and two plain headliners
QUERIES = ["join_cross", "tpch_q1_pricing_summary", "tpch_q6_forecast_revenue"]


def test_profiler_audit_and_time(spark, sf_dir, tmp_path, monkeypatch, capsys):
    csv_path = tmp_path / "audit.csv"
    argv = ["audit", "--sf", sf_dir, "--csv", str(csv_path), "--only", *QUERIES]
    assert profiler.main(argv) == 0
    rows = csv_path.read_text().splitlines()
    assert rows[0].split(",") == [
        "query", "cartesian", "bnlj", "smj", "batch_py", "arrow_py",
        "window", "sort", "exchanges", "plan_bytes", "build_sec",
    ]
    bnlj = {r.split(",")[0]: int(r.split(",")[2]) for r in rows[1:]}
    assert bnlj["join_cross"] > 0, "premise: join_cross plans a BNLJ"

    # the same plans fail once their BNLJ user leaves the allowlist
    allowed = profiler.bnlj_allowed
    monkeypatch.setattr(profiler, "bnlj_allowed", lambda n: n != "join_cross" and allowed(n))
    assert profiler.main(argv) != 0
    assert "cartesian/bnlj/error: join_cross" in capsys.readouterr().out

    out = tmp_path / "sweep.json"
    argv = ["time", "--sf", sf_dir, "--runs", "1", "--json", str(out), "--only", *QUERIES[1:]]
    assert profiler.main(argv) == 0
    sweep = json.loads(out.read_text())
    assert sorted(sweep) == QUERIES[1:]
    for entry in sweep.values():
        assert set(entry) == {"sec", "steal"}
        assert entry["sec"] > 0 and 0 <= entry["steal"] <= 1


def test_steal_reads_zero_without_counters(monkeypatch):
    def absent():
        raise OSError("no kernel CPU counters")

    monkeypatch.setattr(measure, "stat_ticks", absent)
    assert measure.ticks() == (0, 0)
    assert measure.timed(lambda: 7, 2)[2:] == (0.0, 7)
    assert measure.wait_quiet(sample_s=0.0) == 0.0
