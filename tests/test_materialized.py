"""Materialized tables (FLIP-435): CREATE/ALTER/DROP MATERIALIZED TABLE
through executeSql.

Reference parity: flink-sql-parser/.../ddl/SqlCreateMaterializedTable.java:47,
SqlAlterMaterializedTable{Suspend,Resume,Refresh,Freshness,RefreshMode,
AsQuery}.java, SqlDropMaterializedTable.java, and the catalog object
CatalogMaterializedTable.java with IntervalFreshness.java. CONTINUOUS
mode = a Structured Streaming job at the freshness cadence; FULL mode =
scheduled batch INSERT OVERWRITE snapshots (versioned directories so
concurrent readers never see a half-deleted overwrite)."""

from __future__ import annotations

import os
import time

import pytest

from flink_1_20_spark.sql_ddl import TableEnvironment


def _poll(fn, want, timeout=40.0):
    """Poll fn() until it equals want; returns the last value."""
    last = None
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            last = fn()
        except Exception:
            last = None
        if last == want:
            return last
        time.sleep(0.5)
    return last


def _count(env, table):
    return env.execute_sql(f"SELECT count(*) AS n FROM {table}").collect()[0]["n"]


@pytest.fixture()
def env(spark):
    return TableEnvironment(spark)


def test_mt_continuous_lifecycle(env, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n")
    env.execute_sql(f"""
        CREATE TABLE src_stream (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}',
            'format' = 'csv', 'scan.streaming' = 'true')
    """)
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mt
        WITH ('path' = '{tmp_path}/mt')
        FRESHNESS = INTERVAL '1' SECOND
        AS SELECT k, v * 2 AS v2 FROM src_stream
    """)
    entry = env._materialized["mt"]
    assert entry["mode"] == "CONTINUOUS" and entry["status"] == "RUNNING"
    # the monitored-dir stream ingests the pre-existing file
    assert _poll(lambda: _count(env, "mt"), 2) == 2
    # auto-refresh: a NEW source file lands without any statement
    (src / "b.csv").write_text("k,v\n3,30\n4,40\n")
    assert _poll(lambda: _count(env, "mt"), 4) == 4
    # SUSPEND halts ingestion
    env.execute_sql("ALTER MATERIALIZED TABLE mt SUSPEND")
    assert entry["status"] == "SUSPENDED" and not entry["query"].isActive
    (src / "c.csv").write_text("k,v\n5,50\n")
    time.sleep(3)
    assert _count(env, "mt") == 4
    # RESUME restarts from the checkpoint: the suspended-period file is
    # ingested exactly once
    env.execute_sql("ALTER MATERIALIZED TABLE mt RESUME")
    assert _poll(lambda: _count(env, "mt"), 5) == 5
    rows = sorted(
        tuple(r) for r in env.execute_sql("SELECT k, v2 FROM mt").collect()
    )
    assert rows == [(1, 20), (2, 40), (3, 60), (4, 80), (5, 100)]
    # direct DML and plain DROP TABLE are rejected (Flink validates the
    # same way — MT content is refresh-managed)
    with pytest.raises(ValueError, match="materialized"):
        env.execute_sql("INSERT INTO mt SELECT k, v FROM src_stream")
    with pytest.raises(ValueError, match="DROP MATERIALIZED"):
        env.execute_sql("DROP TABLE mt")
    # manual REFRESH while RUNNING is rejected (overwrite would race the
    # streaming appends)
    with pytest.raises(ValueError, match="SUSPEND"):
        env.execute_sql("ALTER MATERIALIZED TABLE mt REFRESH")
    env.execute_sql("DROP MATERIALIZED TABLE mt")
    assert not os.path.exists(f"{tmp_path}/mt")
    assert not os.path.exists(f"{tmp_path}/mt_checkpoint")
    names = [r["table_name"] for r in env.execute_sql("SHOW TABLES").collect()]
    assert "mt" not in names


def test_mt_full_manual_refresh_and_as_query(env, tmp_path):
    src = tmp_path / "srcb"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n")
    env.execute_sql(f"""
        CREATE TABLE src_b (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}', 'format' = 'csv')
    """)
    # freshness over the 30-min threshold + bounded source → FULL derived
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mtf
        COMMENT 'bounded source''s daily copy'
        WITH ('path' = '{tmp_path}/mtf')
        FRESHNESS = INTERVAL '1' DAY
        AS SELECT k, v + 1 AS v1 FROM src_b
    """)
    assert env._materialized["mtf"]["mode"] == "FULL"
    got = sorted(tuple(r) for r in env.execute_sql("SELECT * FROM mtf").collect())
    assert got == [(1, 11), (2, 21)]
    # new source data is NOT visible until a refresh (day-long cadence)
    (src / "b.csv").write_text("k,v\n3,30\n")
    assert _count(env, "mtf") == 2
    env.execute_sql("ALTER MATERIALIZED TABLE mtf REFRESH")
    got = sorted(tuple(r) for r in env.execute_sql("SELECT * FROM mtf").collect())
    assert got == [(1, 11), (2, 21), (3, 31)]
    # ALTER ... AS swaps the definition and rebuilds under the new query
    env.execute_sql(
        "ALTER MATERIALIZED TABLE mtf AS SELECT k, v * 100 AS big FROM src_b"
    )
    got = sorted(tuple(r) for r in env.execute_sql("SELECT k, big FROM mtf").collect())
    assert got == [(1, 1000), (2, 2000), (3, 3000)]
    env.execute_sql("ALTER MATERIALIZED TABLE mtf SET FRESHNESS = INTERVAL '2' HOUR")
    assert env._materialized["mtf"]["freshness_sec"] == 7200
    env.execute_sql("DROP MATERIALIZED TABLE mtf")
    assert not os.path.exists(f"{tmp_path}/mtf")


def test_mt_full_auto_timer(env, tmp_path):
    src = tmp_path / "srct"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n")
    env.execute_sql(f"""
        CREATE TABLE src_t (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}', 'format' = 'csv')
    """)
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mta
        WITH ('path' = '{tmp_path}/mta')
        FRESHNESS = INTERVAL '1' SECOND
        REFRESH_MODE = FULL
        AS SELECT count(*) AS n FROM src_t
    """)

    def n():
        return env.execute_sql("SELECT n FROM mta").collect()[0]["n"]

    assert n() == 2
    # the embedded-scheduler analog re-runs the snapshot at the cadence;
    # versioned snapshot swap keeps concurrent reads consistent
    (src / "b.csv").write_text("k,v\n3,30\n")
    assert _poll(n, 3) == 3
    env.execute_sql("ALTER MATERIALIZED TABLE mta SUSPEND")
    (src / "c.csv").write_text("k,v\n4,40\n")
    time.sleep(3)
    assert n() == 3
    env.execute_sql("ALTER MATERIALIZED TABLE mta RESUME")
    assert _poll(n, 4) == 4
    env.execute_sql("DROP MATERIALIZED TABLE mta")


def test_mt_partitioned_refresh_scoped(env, tmp_path):
    src = tmp_path / "srcp"
    src.mkdir()
    (src / "a.csv").write_text("g,k,v\nx,1,10\nx,2,20\ny,3,30\n")
    env.execute_sql(f"""
        CREATE TABLE src_p (g STRING, k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}', 'format' = 'csv')
    """)
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mtp
        PARTITIONED BY (g)
        WITH ('path' = '{tmp_path}/mtp')
        FRESHNESS = INTERVAL '1' DAY
        AS SELECT g, k, v FROM src_p
    """)
    assert _count(env, "mtp") == 3
    # new rows in both partitions; refresh ONLY partition g='x'
    (src / "b.csv").write_text("g,k,v\nx,4,40\ny,5,50\n")
    env.execute_sql("ALTER MATERIALIZED TABLE mtp REFRESH PARTITION (g = 'x')")
    got = sorted(
        tuple(r) for r in env.execute_sql("SELECT g, k FROM mtp").collect()
    )
    # x backfilled (1,2,4); y untouched (3 only — 5 not yet refreshed)
    assert got == [("x", 1), ("x", 2), ("x", 4), ("y", 3)]
    with pytest.raises(ValueError, match="not partition keys"):
        env.execute_sql("ALTER MATERIALIZED TABLE mtp REFRESH PARTITION (k = '1')")
    env.execute_sql("DROP MATERIALIZED TABLE mtp")


def test_mt_validation_and_mode_derivation(env, tmp_path):
    src = tmp_path / "srcv"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n")
    env.execute_sql(f"""
        CREATE TABLE src_v (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}', 'format' = 'csv')
    """)
    # FRESHNESS is mandatory (SqlCreateMaterializedTable validation)
    with pytest.raises(ValueError, match="FRESHNESS"):
        env.execute_sql(
            f"CREATE MATERIALIZED TABLE nope WITH ('path' = '{tmp_path}/nope') "
            "AS SELECT * FROM src_v"
        )
    # CONTINUOUS over a bounded-only source is rejected with guidance
    with pytest.raises(ValueError, match="FULL"):
        env.execute_sql(f"""
            CREATE MATERIALIZED TABLE bad
            WITH ('path' = '{tmp_path}/bad')
            FRESHNESS = INTERVAL '5' SECOND
            REFRESH_MODE = CONTINUOUS
            AS SELECT * FROM src_v
        """)
    # derivation: freshness over the 30-min threshold → FULL
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mtd
        WITH ('path' = '{tmp_path}/mtd')
        FRESHNESS = INTERVAL '1' HOUR
        AS SELECT * FROM src_v
    """)
    assert env._materialized["mtd"]["mode"] == "FULL"
    # duplicate create rejected; IF NOT EXISTS tolerated
    with pytest.raises(ValueError, match="already exists"):
        env.execute_sql(f"""
            CREATE MATERIALIZED TABLE mtd
            WITH ('path' = '{tmp_path}/mtd2')
            FRESHNESS = INTERVAL '1' HOUR AS SELECT * FROM src_v
        """)
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE IF NOT EXISTS mtd
        WITH ('path' = '{tmp_path}/mtd2')
        FRESHNESS = INTERVAL '1' HOUR AS SELECT * FROM src_v
    """)
    # DESCRIBE resolves through the backing table meta
    cols = [r["name"] for r in env.execute_sql("DESCRIBE mtd").collect()]
    assert cols == ["k", "v"]
    # SET/RESET options (SqlAlterMaterializedTableOptions/Reset): plain
    # options round-trip; the managed identity is protected
    env.execute_sql("ALTER MATERIALIZED TABLE mtd SET ('custom.opt' = 'x')")
    assert env._materialized["mtd"]["meta"].options["custom.opt"] == "x"
    env.execute_sql("ALTER MATERIALIZED TABLE mtd RESET ('custom.opt')")
    assert "custom.opt" not in env._materialized["mtd"]["meta"].options
    with pytest.raises(ValueError, match="managed"):
        env.execute_sql("ALTER MATERIALIZED TABLE mtd SET ('path' = '/x')")
    with pytest.raises(ValueError, match="managed"):
        env.execute_sql("ALTER MATERIALIZED TABLE mtd RESET ('connector')")
    with pytest.raises(ValueError, match="at least one key"):
        env.execute_sql("ALTER MATERIALIZED TABLE mtd RESET ()")
    env.execute_sql("DROP MATERIALIZED TABLE mtd")
    with pytest.raises(ValueError, match="not found"):
        env.execute_sql("DROP MATERIALIZED TABLE mtd")
    env.execute_sql("DROP MATERIALIZED TABLE IF EXISTS mtd")


def test_mt_mode_switch_full_to_continuous_no_duplicates(env, tmp_path):
    """Review fix: switching a FULL-mode MT to CONTINUOUS rebuilds from
    empty — the fresh stream re-ingests every source file, so keeping
    the full snapshot would double every row."""
    src = tmp_path / "srcm"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n")
    env.execute_sql(f"""
        CREATE TABLE src_m (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}',
            'format' = 'csv', 'scan.streaming' = 'true')
    """)
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mtsw
        WITH ('path' = '{tmp_path}/mtsw')
        FRESHNESS = INTERVAL '1' SECOND
        REFRESH_MODE = FULL
        AS SELECT k, v FROM src_m
    """)
    assert _count(env, "mtsw") == 2
    env.execute_sql("ALTER MATERIALIZED TABLE mtsw SET REFRESH_MODE = CONTINUOUS")
    assert env._materialized["mtsw"]["mode"] == "CONTINUOUS"
    # stream re-ingests the file exactly once — still 2 rows, never 4
    assert _poll(lambda: _count(env, "mtsw"), 2) == 2
    import time as _t

    _t.sleep(2.5)
    assert _count(env, "mtsw") == 2
    env.execute_sql("DROP MATERIALIZED TABLE mtsw")


def test_mt_failed_continuous_create_leaves_no_state(env, tmp_path):
    """Review fix: CONTINUOUS over bounded sources is rejected BEFORE
    any state mutation, so the retry with FULL succeeds."""
    src = tmp_path / "srcf"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n")
    env.execute_sql(f"""
        CREATE TABLE src_f (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}', 'format' = 'csv')
    """)
    with pytest.raises(ValueError, match="FULL"):
        env.execute_sql(f"""
            CREATE MATERIALIZED TABLE mtr
            WITH ('path' = '{tmp_path}/mtr')
            FRESHNESS = INTERVAL '5' SECOND
            REFRESH_MODE = CONTINUOUS
            AS SELECT * FROM src_f
        """)
    assert "mtr" not in env._materialized and "mtr" not in env.tables
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mtr
        WITH ('path' = '{tmp_path}/mtr')
        FRESHNESS = INTERVAL '5' SECOND
        REFRESH_MODE = FULL
        AS SELECT * FROM src_f
    """)
    assert _count(env, "mtr") == 1
    env.execute_sql("DROP MATERIALIZED TABLE mtr")


def test_mt_stale_timer_tick_discarded_after_drop(env, tmp_path):
    """A FULL-mode timer tick that fired but blocked on the DDL lock
    while DROP MATERIALIZED TABLE held it must NOT run its refresh
    after the drop completes — that would re-create the deleted
    snapshot directory and re-register the dropped table's views.
    Simulated deterministically: grab the live entry and its timer's
    stop event, drop the table, then deliver the tick by hand."""
    src = tmp_path / "srcs"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n")
    env.execute_sql(f"""
        CREATE TABLE src_s (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}', 'format' = 'csv')
    """)
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mts
        WITH ('path' = '{tmp_path}/mts')
        FRESHNESS = INTERVAL '1' DAY
        REFRESH_MODE = FULL
        AS SELECT count(*) AS n FROM src_s
    """)
    entry = env._materialized["mts"]
    ev = entry.get("stop_event")
    if ev is None:  # cadence too long for an auto-timer: fabricate one
        import threading

        ev = threading.Event()
        entry["stop_event"] = ev
    root = entry["root"]
    env.execute_sql("DROP MATERIALIZED TABLE mts")
    assert not os.path.exists(root)
    # the stale tick arrives now (it was blocked on the lock)
    assert env._materialized_refresh(entry, from_timer=ev) is None
    assert not os.path.exists(root), "stale tick resurrected the snapshot dir"
    assert "mts" not in env._materialized
    with pytest.raises(Exception):
        env.execute_sql("SELECT * FROM mts").collect()


def test_mt_stale_tick_discarded_after_recadence(env, tmp_path):
    """Same race against SET FRESHNESS: the re-cadence replaces the
    timer (new stop event); a tick holding the OLD event must be
    discarded, while the new timer's own ticks still refresh."""
    src = tmp_path / "srcr2"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n")
    env.execute_sql(f"""
        CREATE TABLE src_r2 (k BIGINT, v BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{src}', 'format' = 'csv')
    """)
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mtr2
        WITH ('path' = '{tmp_path}/mtr2')
        FRESHNESS = INTERVAL '1' SECOND
        REFRESH_MODE = FULL
        AS SELECT count(*) AS n FROM src_r2
    """)
    entry = env._materialized["mtr2"]
    old_ev = entry["stop_event"]
    assert old_ev is not None
    v_before = entry["version"]
    env.execute_sql("ALTER MATERIALIZED TABLE mtr2 SET FRESHNESS = INTERVAL '1' DAY")
    v_after_recadence = entry["version"]
    # stale tick with the pre-recadence event: discarded (no new version)
    assert env._materialized_refresh(entry, from_timer=old_ev) is None
    assert entry["version"] == v_after_recadence
    # the CURRENT timer's tick still refreshes
    env._materialized_refresh(entry, from_timer=entry["stop_event"])
    assert entry["version"] == v_after_recadence + 1
    assert v_before <= v_after_recadence
    env.execute_sql("DROP MATERIALIZED TABLE mtr2")
