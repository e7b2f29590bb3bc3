"""Flink Table API facade: fluent methods + Flink expression strings
execute as DataFrame plans (Table.java parity, SURVEY §3.2)."""

from __future__ import annotations

from flink_1_20_spark.table_api import Table, _translate, from_data_frame


def test_expression_translation():
    assert _translate("price.sum AS total") == "sum(price) AS total"
    assert _translate("name.upperCase()") == "upper(name)"
    assert _translate("a.sum + b.max") == "sum(a) + max(b)"
    # plain SQL untouched
    assert _translate("substring(name, 1, 3)") == "substring(name, 1, 3)"


def test_select_takes_flink_builtins(spark):
    """Table API expression strings take the Flink built-in names Spark
    lacks, through the same rewrite table as execute_sql."""
    t = from_data_frame(spark.createDataFrame([("a.b.c",)], "s string"))
    rows = t.select("SPLIT_INDEX(s, '.', 1) AS x").execute().collect()
    assert [r.x for r in rows] == ["b"]


def test_filter_group_select_pipeline(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 20.0), ("c", 5.0)],
        "k string, v double",
    )
    t = from_data_frame(df)
    rows = (
        t.filter("v > 1")
        .group_by("k")
        .select("k", "v.sum AS total", "v.count AS n")
        .order_by("total.desc")
        .execute()
        .collect()
    )
    assert [(r.k, r.total, r.n) for r in rows] == [("b", 30.0, 2), ("c", 5.0, 1), ("a", 3.0, 1)]


def test_join_union_fetch(spark):
    l = from_data_frame(
        spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "id bigint, s string")
    )
    r = from_data_frame(
        spark.createDataFrame([(1, 10.0), (3, 30.0)], "rid bigint, amt double")
    )
    rows = (
        l.left_outer_join(r, "id = rid")
        .select("id", "s.upperCase() AS u", "amt")
        .order_by("id")
        .execute()
        .collect()
    )
    assert [(x.id, x.u, x.amt) for x in rows] == [
        (1, "X", 10.0), (2, "Y", None), (3, "Z", 30.0),
    ]

    u = l.select("id").union_all(l.select("id")).distinct().order_by("id").fetch(2)
    assert [x.id for x in u.execute().collect()] == [1, 2]


def test_add_rename_drop_columns(spark):
    t = from_data_frame(spark.createDataFrame([(2, 3)], "a bigint, b bigint"))
    out = (
        t.add_columns("a + b AS c")
        .rename_columns("a AS x")
        .drop_columns("b")
        .execute()
        .collect()
    )
    assert out[0].asDict() == {"x": 2, "c": 5}


# ------------------------------------------------------- group windows
# Tumble/Slide/Session builders (Tumble.java:42, Table.window:731):
# results must match the oracle-verified wtvf_* library queries.


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumble_group_window(spark, sf_dir):
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.queries.window_tvf import wtvf_tumble
    from flink_1_20_spark.table_api import Tumble

    e = from_data_frame(read_table(spark, sf_dir, "events"))
    got = (
        e.window(Tumble.over("1.hour").on("ts").alias("w"))
        .group_by("w", "event_type")
        .select(
            "w.start AS window_start",
            "w.end AS window_end",
            "event_type",
            "count(*) AS n_events",
            "round(sum(`value`), 4) AS total_value",
        )
        .to_data_frame()
    )
    want = wtvf_tumble(spark, sf_dir)
    cols = ["window_start", "window_end", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_slide_group_window(spark, sf_dir):
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.queries.window_tvf import wtvf_hop
    from flink_1_20_spark.table_api import Slide

    e = from_data_frame(read_table(spark, sf_dir, "events"))
    got = (
        e.window(Slide.over("1.hour").every("15.minutes").on("ts").alias("w"))
        .group_by("w")
        .select(
            "w.start AS window_start",
            "w.end AS window_end",
            "count(*) AS n_events",
            "round(sum(`value`), 4) AS total_value",
        )
        .to_data_frame()
    )
    want = wtvf_hop(spark, sf_dir)
    cols = ["window_start", "window_end", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_group_window(spark, sf_dir):
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.queries.window_tvf import wtvf_session
    from flink_1_20_spark.table_api import Session

    e = from_data_frame(read_table(spark, sf_dir, "events"))
    got = (
        e.window(Session.with_gap("10.minutes").on("ts").alias("w"))
        .group_by("w", "user_id")
        .select(
            "user_id",
            "w.start AS session_start",
            "w.end AS session_end",
            "count(*) AS n_events",
            "round(sum(`value`), 4) AS total_value",
        )
        .to_data_frame()
    )
    want = wtvf_session(spark, sf_dir)
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_window_rowtime_attribute(spark, sf_dir):
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.table_api import Tumble

    e = from_data_frame(read_table(spark, sf_dir, "events"))
    rows = (
        e.window(Tumble.over("1.hour").on("ts").alias("w"))
        .group_by("w")
        .select("w.end AS window_end", "w.rowtime AS rt", "count(*) AS n")
        .to_data_frame()
        .limit(5)
        .collect()
    )
    assert rows
    for r in rows:  # rowtime = window_end - 1ms (Flink convention)
        assert (r.window_end - r.rt).total_seconds() == 0.001


# -------------------------------------------------------- over windows


def test_over_window_rows(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from flink_1_20_spark.table_api import Over

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 5.0), (2, 2, 15.0)],
        "k bigint, seq bigint, v double",
    )
    got = (
        from_data_frame(df)
        .over_window(
            Over.partition_by("k").order_by("seq").preceding("1.rows").alias("w")
        )
        .select("k", "seq", "sum(v) OVER w AS s2", "count(*) OVER w AS c2")
        .to_data_frame()
    )
    spec = W.partitionBy("k").orderBy("seq").rowsBetween(-1, 0)
    want = df.select(
        "k", "seq",
        F.sum("v").over(spec).alias("s2"),
        F.count(F.lit(1)).over(spec).alias("c2"),
    )
    cols = ["k", "seq", "s2", "c2"]
    assert _rows(got, cols) == _rows(want, cols)


def test_over_window_unbounded_and_time_range(spark, sf_dir):
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.queries.over_windows import over_range_time
    from flink_1_20_spark.table_api import Over

    e = from_data_frame(read_table(spark, sf_dir, "events"))
    got = (
        e.over_window(
            Over.partition_by("user_id").order_by("ts").preceding("1.hours").alias("w")
        )
        .select(
            "event_id", "user_id", "ts",
            "count(*) OVER w AS n_1h",
            "round(sum(`value`) OVER w, 4) AS sum_1h",
        )
        .to_data_frame()
    )
    want = over_range_time(spark, sf_dir).select(
        "event_id", "user_id", "ts", "n_1h", "sum_1h"
    )
    cols = ["event_id", "user_id", "ts", "n_1h", "sum_1h"]
    assert _rows(got, cols) == _rows(want, cols)


def test_flat_aggregate_top2(spark):
    """Table.flatAggregate parity: emit top-2 rows per group (the
    canonical TableAggregateFunction example)."""

    def top2(pdf):
        return pdf.nlargest(2, "v")

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("a", 3.0), ("b", 7.0)], "k string, v double"
    )
    rows = (
        from_data_frame(df)
        .group_by("k")
        .flat_aggregate(top2, "k string, v double")
        .order_by("k", "v.desc")
        .execute()
        .collect()
    )
    assert [(r.k, r.v) for r in rows] == [("a", 5.0), ("a", 3.0), ("b", 7.0)]


def test_windowed_select_aliasless_aggregate(spark):
    """Alias-less aggregates in a windowed select get Flink's positional
    default name EXPR$0 instead of crashing (Table API idiom:
    select('w.start', 'value.sum'))."""
    from datetime import datetime

    from flink_1_20_spark.table_api import Tumble, from_data_frame

    df = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 10, 5), 1.0),
            ("a", datetime(2024, 1, 1, 10, 20), 2.0),
            ("a", datetime(2024, 1, 1, 11, 5), 4.0),
        ],
        "k string, ts timestamp, value double",
    )
    t = (
        from_data_frame(df)
        .window(Tumble.over("1.hour").on("ts").alias("w"))
        .group_by("w", "k")
        .select("w.start", "k", "value.sum")
        .to_data_frame()
    )
    assert "EXPR$0" in t.columns
    got = sorted((r["window_start"].hour, r["EXPR$0"]) for r in t.collect())
    assert got == [(10, 3.0), (11, 4.0)]


def test_map_flat_map_aggregate(spark):
    import pandas as pd

    from flink_1_20_spark.table_api import from_data_frame

    df = spark.createDataFrame(
        [("a", 2.0), ("a", 4.0), ("b", 6.0)], "k string, v double"
    )

    def double_v(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["v"] = pdf["v"] * 2
            yield pdf

    rows = (
        from_data_frame(df).map(double_v, "k string, v double").execute().collect()
    )
    assert sorted((r.k, r.v) for r in rows) == [("a", 4.0), ("a", 8.0), ("b", 12.0)]

    def explode_twice(batches):
        for pdf in batches:
            yield pd.concat([pdf, pdf])

    rows = (
        from_data_frame(df)
        .flat_map(explode_twice, "k string, v double")
        .execute()
        .collect()
    )
    assert len(rows) == 6

    def mean_row(pdf):
        return pd.DataFrame([{"k": pdf["k"].iloc[0], "mean_v": pdf["v"].mean()}])

    rows = (
        from_data_frame(df)
        .group_by("k")
        .aggregate(mean_row, "k string, mean_v double")
        .execute()
        .collect()
    )
    assert sorted((r.k, r.mean_v) for r in rows) == [("a", 3.0), ("b", 6.0)]


def test_join_lateral_udtf(spark):
    from pyspark.sql.functions import udtf

    from flink_1_20_spark.table_api import from_data_frame

    @udtf(returnType="word string, idx int")
    class Words:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    spark.udtf.register("tbl_words", Words)
    df = spark.createDataFrame(
        [(1, "a b"), (2, "c"), (3, "")], "id long, text string"
    )
    rows = (
        from_data_frame(df).join_lateral("tbl_words(text)").execute().collect()
    )
    assert sorted((r.id, r.word, r.idx) for r in rows) == [
        (1, "a", 0), (1, "b", 1), (2, "c", 0),
    ]
    rows = (
        from_data_frame(df)
        .left_outer_join_lateral("tbl_words(text)")
        .execute()
        .collect()
    )
    assert sorted([(r.id, r.word) for r in rows], key=str) == sorted(
        [(1, "a"), (1, "b"), (2, "c"), (3, None)], key=str
    )
