"""scripts/profiler.py: the audit's exit status follows the BNLJ
allowlist, its plan_bytes do not drift with JVM history, `time --json`
records {sec, steal} per query, and steal reads 0 where the host does
not count it."""

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


def test_plan_bytes_ignores_jvm_history(spark, sf_dir, tmp_path):
    """A query's plan_bytes is the same audited alone and again after
    other plans, even once every expression id has gained a digit."""

    def audited(*names):
        csv_path = tmp_path / "audit.csv"
        argv = ["audit", "--sf", sf_dir, "--csv", str(csv_path), "--only", *names]
        assert profiler.main(argv) == 0
        rows = [r.split(",") for r in csv_path.read_text().splitlines()]
        col = rows[0].index("plan_bytes")
        return {r[0]: int(r[col]) for r in rows[1:]}

    alone = audited(QUERIES[2])[QUERIES[2]]
    # stand in for a long JVM history: move Catalyst's expression-id
    # counter to the next power of ten, so every later id is one digit
    # longer than any id the first audit printed
    expr = spark._jvm.org.apache.spark.sql.catalyst.expressions.NamedExpression
    _set_expr_id_counter(spark, 10 ** len(str(expr.newExprId().id())))
    assert audited(*QUERIES)[QUERIES[2]] == alone


def _set_expr_id_counter(spark, value: int) -> None:
    """Set the private static AtomicLong `NamedExpression.curId`. Py4J
    returns any java.lang.Number as a Python int, so the counter is
    read and set by one composed method handle inside the JVM."""
    jvm = spark._jvm
    mh = jvm.java.lang.invoke.MethodHandles
    owner = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.NamedExpression$"
    )
    atomic = jvm.java.lang.Class.forName("java.util.concurrent.atomic.AtomicLong")
    read = mh.privateLookupIn(owner, mh.lookup()).findStaticGetter(owner, "curId", atomic)
    set_type = jvm.java.lang.invoke.MethodType.methodType(
        jvm.java.lang.Void.TYPE, jvm.java.lang.Long.TYPE
    )
    write = mh.publicLookup().findVirtual(atomic, "set", set_type)
    args = spark.sparkContext._gateway.new_array(jvm.java.lang.Object, 1)
    args[0] = value
    mh.collectArguments(write, 0, read).invokeWithArguments(args)


def test_steal_reads_zero_without_counters(monkeypatch):
    def absent():
        raise OSError("no kernel CPU counters")

    monkeypatch.setattr(measure, "stat_ticks", absent)
    assert measure.ticks() == (0, 0)
    assert measure.timed(lambda: 7, 2)[2:] == (0.0, 7)
    assert measure.wait_quiet(sample_s=0.0) == 0.0
