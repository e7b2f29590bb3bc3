"""Flink built-ins for the Python (DataFrame) API (SURVEY.md §2.8).

Every Flink built-in that Spark lacks is defined once, as a SQL text
rewrite in sql_flink._BUILTIN_REWRITES (BuiltInFunctionDefinitions.java
= BFD); `call_sql` is the Python entry point to that table. What stays
here has no SQL-name twin: SUM0 and the TIME(p) emulation. Everything
compiles to built-in Catalyst expressions (JVM-side, codegen'd) — no
Python UDFs — so the shims cost nothing at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from flink_1_20_spark.sql_flink import rewrite_flink_builtins


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def call_sql(expr: str) -> Column:
    """A SQL expression string, Flink built-in names included, as a
    Column (Flink's Expressions.callSql / PyFlink call_sql):
    `call_sql("SPLIT_INDEX(text, ' ', 2)")`."""
    return F.expr(rewrite_flink_builtins(expr))


def sum0(col: Column | str) -> Column:
    """SUM0 (BFD:778): like SUM but 0 (not NULL) on empty/all-null input."""
    return F.coalesce(F.sum(_c(col)), F.lit(0.0))


# --- TIME(p) emulation (SURVEY.md §1.2: Spark has no TimeType) ---------
# Flink TIME(p) = time-of-day; represented here as BIGINT nanos-of-day
# (µs resolution — Spark timestamps are µs; the ns digits are zero).


def time_of_day_nanos(ts: Column | str) -> Column:
    """TIME value of a timestamp as nanos since midnight (DataTypes.TIME;
    LocalTimeConverter uses the same nano-of-day long internally)."""
    # Defensive cast: unix_micros rejects TIMESTAMP_NTZ (how parquet
    # timestamp[us] columns read); exact under the pinned UTC session.
    t = _c(ts).cast("timestamp")
    return (F.unix_micros(t) - F.unix_micros(F.date_trunc("day", t))) * F.lit(1000)


def time_hour(nanos: Column | str) -> Column:
    """EXTRACT(HOUR FROM time) over the nanos-of-day encoding."""
    return F.floor(_c(nanos) / F.lit(3_600_000_000_000)).cast("int")


def time_minute(nanos: Column | str) -> Column:
    return (F.floor(_c(nanos) / F.lit(60_000_000_000)) % 60).cast("int")


def time_second(nanos: Column | str) -> Column:
    return (F.floor(_c(nanos) / F.lit(1_000_000_000)) % 60).cast("int")
