"""Connected components on constructed graphs."""

from __future__ import annotations

from flink_1_20_spark.operators.components import connected_components, dedup_assignment


def test_chain_clique_isolated(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple rounds), clique 10-11-12,
    # pair 20-21; docs 30, 31 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    cc = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 30, 31]], "doc_id bigint"
    )
    out = {r["doc"]: (r["cluster"], r["is_duplicate"]) for r in
           dedup_assignment(docs, pairs, "doc_id").collect()}
    assert out[30] == (30, False) and out[31] == (31, False)  # singletons
    assert out[4] == (1, True)
    assert sum(1 for c, d in out.values() if not d) == 5  # 3 components + 2 singletons


def test_long_chain_converges(spark, monkeypatch):
    from flink_1_20_spark.operators import components

    n = 24  # diameter 23: multi-round convergence + checkpoint, past 20 rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint")
    for cap in (0, components.CAP):  # the round loop, then the driver path
        monkeypatch.setattr(components, "CAP", cap)
        cc = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
        assert set(cc.values()) == {0}
        assert len(cc) == n + 1


def _labels(df) -> dict:
    return {r["node"]: r["component"] for r in df.collect()}


def _both_paths(spark, monkeypatch, pairs: list[tuple], cap: int):
    """(labels on the path `cap` selects, labels on the round loop)."""
    from flink_1_20_spark.operators import components

    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    monkeypatch.setattr(components, "CAP", cap)
    got = _labels(connected_components(df))
    monkeypatch.setattr(components, "CAP", 0)
    return got, _labels(connected_components(df))


def _driver_calls(monkeypatch) -> list[int]:
    """Edge counts the driver union-find is called with, from now on."""
    from flink_1_20_spark.operators import components

    calls: list[int] = []
    real = components._driver_components

    def spy(edges):
        calls.append(len(edges))
        return real(edges)

    monkeypatch.setattr(components, "_driver_components", spy)
    return calls


def test_driver_path_cap_boundary(spark, monkeypatch):
    """CAP counts directed edges (both directions of each pair): 3
    pairs over two components are 6 edges. At CAP - 1 and CAP the
    driver labels them; at CAP + 1 (CAP = 5 < 6) the round loop runs.
    Both paths give the same min-id labels."""
    from flink_1_20_spark.operators import components

    pairs = [(7, 3), (3, 9), (20, 21)]
    want = {3: 3, 7: 3, 9: 3, 20: 20, 21: 20}
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    calls = _driver_calls(monkeypatch)
    for cap, driver in ((7, True), (6, True), (5, False)):
        monkeypatch.setattr(components, "CAP", cap)
        calls.clear()
        assert _labels(connected_components(df)) == want, cap
        assert calls == ([6] if driver else []), cap


def test_driver_path_long_chain_and_single_edge(spark, monkeypatch):
    """A chain of diameter 30 gets one label on the driver path; a
    single edge labels both ends the same on both paths."""
    from flink_1_20_spark.operators import components

    n = 30
    monkeypatch.setattr(components, "CAP", 1000)
    calls = _driver_calls(monkeypatch)
    chain = spark.createDataFrame([(i + 1, i) for i in range(n)], "id_a bigint, id_b bigint")
    assert _labels(connected_components(chain)) == {i: 0 for i in range(n + 1)}
    assert calls == [2 * n]
    got, rounds = _both_paths(spark, monkeypatch, [(5, 2)], cap=2)
    assert got == rounds == {2: 2, 5: 2}


def test_driver_path_equals_round_loop(spark, monkeypatch):
    """Cliques, stars and short chains: identical labels both ways."""
    pairs = [(1, 2), (2, 3), (10, 12), (11, 12), (10, 11), (40, 41), (40, 42), (40, 43),
             (100, 7), (7, 50)]
    got, rounds = _both_paths(spark, monkeypatch, pairs, cap=1000)
    assert got == rounds
    assert got[100] == got[50] == 7


def test_driver_path_is_a_local_relation(spark):
    """The driver path's labels are a LocalTableScan, not an RDD scan of
    pickled rows (which starts a Python worker per partition); an empty
    pair set comes back as an empty frame of the same schema."""
    pairs = spark.createDataFrame([(4, 1), (1, 9)], "id_a bigint, id_b bigint")
    cc = connected_components(pairs)
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert _labels(cc) == {1: 1, 4: 1, 9: 1}
    empty = connected_components(pairs.filter("id_a < 0"))
    assert empty.collect() == [] and empty.schema.simpleString() == (
        "struct<node:bigint,component:bigint>"
    )
