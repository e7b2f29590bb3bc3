"""Temporal/as-of join, lookup join, and CEP queries (SURVEY.md §7 M3).

Reference parity:
- event-time temporal join  TemporalRowTimeJoinOperator.java:78
- lookup join               CommonExecLookupJoin.java:141
- CEP / MATCH_RECOGNIZE     CepOperator.java:82, NFA.java:85,
                            CommonExecMatch.java:170
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_20_spark.operators import Pattern, asof_join, lookup_join, match_recognize
from flink_1_20_spark.registry import register

from ._util import T


def _purchases_views(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    e = T(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("vval")
    )
    return purchases, views


@register(
    "asof_join_backward",
    oracle="""
    WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts AS vts, value AS vval FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.ts, round(p.value, 4) AS value,
           v.vts AS vts_matched, round(v.vval, 4) AS vval
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.vts
    """,
)
def asof_join_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the user's latest view at-or-before it —
    event-time temporal join (TemporalRowTimeJoinOperator.java:78).
    Physical plan: one shuffle on user_id + window scan, no row blowup."""
    purchases, views = _purchases_views(spark, sf_dir)
    out = asof_join(purchases, views, on=["user_id"], left_ts="ts", right_ts="vts")
    return out.select(
        "user_id",
        "ts",
        F.round("value", 4).alias("value"),
        F.col("vts_matched"),
        F.round("vval", 4).alias("vval"),
    )


@register(
    "asof_join_tolerance",
    oracle="""
    WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts AS vts, value AS vval FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.ts,
           CASE WHEN p.ts - v.vts <= INTERVAL '2 hours' THEN v.vts END  AS vts_matched,
           round(CASE WHEN p.ts - v.vts <= INTERVAL '2 hours' THEN v.vval END, 4) AS vval
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.vts
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of with staleness bound: matches older than 2h are nulled —
    Flink's temporal-join state retention (cleanup timer in
    TemporalRowTimeJoinOperator.java:78)."""
    purchases, views = _purchases_views(spark, sf_dir)
    out = asof_join(
        purchases, views, on=["user_id"], left_ts="ts", right_ts="vts", tolerance="2 hours"
    )
    return out.select(
        "user_id", "ts", F.col("vts_matched"), F.round("vval", 4).alias("vval")
    )


@register(
    "lookup_join_dims",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, n_name, r_name
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= DATE '1997-01-01'
    """,
)
def lookup_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact→dim enrichment chain with broadcast dims
    (CommonExecLookupJoin.java:141). At 100 TB the fact side streams
    through executors while each dim ships once — zero shuffle of the
    fact table (check: BroadcastHashJoin in the plan, no Exchange on
    orders)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1997-01-01")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = T(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = lookup_join(o, c, on=F.col("o_custkey") == F.col("c_custkey"))
    out = lookup_join(out, n, on=F.col("c_nationkey") == F.col("n_nationkey"))
    out = lookup_join(out, r, on=F.col("n_regionkey") == F.col("r_regionkey"))
    return out.select("o_orderkey", "o_totalprice", "c_name", "n_name", "r_name")


@register(
    "cep_funnel_strict",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_type,
               lead(event_type, 1) OVER w AS et1,
               lead(event_type, 2) OVER w AS et2,
               lead(ts, 2)         OVER w AS end_ts,
               lead(value, 2)      OVER w AS purchase_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts AS start_ts, end_ts, round(purchase_value, 4) AS purchase_value
    FROM seq
    WHERE event_type = 'click' AND et1 = 'view' AND et2 = 'purchase'
    """,
)
def cep_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE: click NEXT view NEXT purchase (strict contiguity,
    AFTER MATCH SKIP TO NEXT ROW) per user — CepOperator.java:82 running
    the NFA of Pattern.begin().next().next(). The SQL oracle is the
    lead()-rewrite valid exactly for strict patterns.

    SQL predicates and MEASURES expressions make this chain lowerable:
    match_recognize runs it as that same lead() window plan in Catalyst
    (one shuffle on user_id, no Python worker); the NFA stays for the
    patterns a window cannot answer."""
    e = T(spark, sf_dir, "events")
    pat = (
        Pattern.begin("a", "a.event_type = 'click'")
        .next("b", "b.event_type = 'view'")
        .next("c", "c.event_type = 'purchase'")
        .after_match_skip("TO_NEXT_ROW")
    )
    return match_recognize(
        e,
        keys=["user_id"],
        ts="ts",
        pattern=pat,
        measures={
            "start_ts": "FIRST(a.ts)",
            "end_ts": "LAST(c.ts)",
            "purchase_value": "LAST(c.value)",
        },
        output_schema="start_ts timestamp, end_ts timestamp, purchase_value double, user_id bigint",
        order_tiebreak=["event_id"],
    ).select(
        "user_id", "start_ts", "end_ts", F.round("purchase_value", 4).alias("purchase_value")
    )


_ERROR_BURST_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
errs AS (
  SELECT user_id, ts, rn,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS isl
  FROM ordered WHERE event_type = 'error'),
island AS (
  SELECT user_id, isl, ts,
         row_number() OVER (PARTITION BY user_id, isl ORDER BY rn) AS k
  FROM errs),
sizes AS (SELECT user_id, isl, max(k) AS n FROM island GROUP BY user_id, isl),
-- NFA anchor scan: from anchor p, m = greedy prefix within 30min of
-- t(p); success (m>=2) advances PAST the match (skip-past-last-event),
-- failure advances one row — exactly the greedy-within-split loop.
scan AS (
  SELECT user_id, isl, 1 AS p FROM sizes
  UNION ALL
  SELECT sc.user_id, sc.isl,
         CASE WHEN mm.m >= 2 THEN sc.p + mm.m ELSE sc.p + 1 END AS p
  FROM scan sc
  JOIN sizes z ON z.user_id = sc.user_id AND z.isl = sc.isl,
  LATERAL (SELECT count(*) AS m
           FROM island i, island a
           WHERE a.user_id = sc.user_id AND a.isl = sc.isl AND a.k = sc.p
             AND i.user_id = sc.user_id AND i.isl = sc.isl AND i.k >= sc.p
             AND epoch(i.ts) <= epoch(a.ts) + 1800) mm
  WHERE (CASE WHEN mm.m >= 2 THEN sc.p + mm.m ELSE sc.p + 1 END) <= z.n),
matches AS (
  SELECT sc.user_id, sc.isl, sc.p, mm.m
  FROM scan sc,
  LATERAL (SELECT count(*) AS m
           FROM island i, island a
           WHERE a.user_id = sc.user_id AND a.isl = sc.isl AND a.k = sc.p
             AND i.user_id = sc.user_id AND i.isl = sc.isl AND i.k >= sc.p
             AND epoch(i.ts) <= epoch(a.ts) + 1800) mm
  WHERE mm.m >= 2)
SELECT m.user_id, a.ts AS burst_start, b.ts AS burst_end,
       CAST(m.m AS BIGINT) AS n_errors
FROM matches m
JOIN island a ON a.user_id = m.user_id AND a.isl = m.isl AND a.k = m.p
JOIN island b ON b.user_id = m.user_id AND b.isl = m.isl AND b.k = m.p + m.m - 1
"""


@register("cep_error_burst", oracle=_ERROR_BURST_ORACLE)
def cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bursts of >= 2 strictly-consecutive errors within 30 minutes per
    user (Pattern.oneOrMore:415 + within:272, AFTER MATCH SKIP PAST LAST
    EVENT — AfterMatchSkipStrategy.java:44). Non-overlapping greedy
    matches.

    Long rows-only (greedy within-split "isn't ANSI-expressible"), now
    oracle-checked: the DuckDB recursive CTE above replays the NFA's
    anchor loop itself — islands of consecutive errors, greedy
    within-window prefix per anchor, skip-past-last advance — so every
    registered query is value-verified cross-engine.

    Boundary trim (guide §4): neither `props` nor `value` is touched
    by this pattern — only the 4 needed columns cross into Python."""
    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    pat = (
        Pattern.begin("e", lambda r: r["event_type"] == "error")
        .times_or_more(2)
        .strict_repeat()
        .within(1800)
        .after_match_skip("PAST_LAST_EVENT")
    )

    def measures(g: dict[str, pd.DataFrame]) -> dict:
        errs = g["e"]
        return {
            "burst_start": errs["ts"].iloc[0],
            "burst_end": errs["ts"].iloc[-1],
            "n_errors": int(len(errs)),
        }

    return match_recognize(
        e,
        keys=["user_id"],
        ts="ts",
        pattern=pat,
        measures=measures,
        output_schema="burst_start timestamp, burst_end timestamp, n_errors bigint, user_id bigint",
        order_tiebreak=["event_id"],
    ).select("user_id", "burst_start", "burst_end", "n_errors")


@register(
    "cep_followed_by_any",
    oracle="""
    SELECT s.user_id, s.event_id AS signup_event, p.event_id AS purchase_event,
           round(p.value, 4) AS purchase_value
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND (p.ts > s.ts OR (p.ts = s.ts AND p.event_id > s.event_id))
     AND epoch_us(p.ts) - epoch_us(s.ts) <= 3600000000
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
)
def cep_followed_by_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup followedByAny purchase within 1h, NO_SKIP
    (Pattern.followedByAny:387 + AfterMatchSkipStrategy.noSkip): every
    (signup, later purchase) pair is its own NFA branch — which is
    exactly a time-bounded self-join, so the oracle is the join. The
    scalable declarative plan for THIS shape is indeed the join (one
    user_id shuffle); the NFA run proves branch enumeration matches it
    pair-for-pair.

    Boundary trim (guide §4): only the NFA-touched columns cross the
    Arrow boundary (`props` pruned from the scan)."""
    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    pat = (
        Pattern.begin("s", lambda r: r["event_type"] == "signup")
        .followed_by_any("p", lambda r: r["event_type"] == "purchase")
        .within(3600)
        .after_match_skip("NO_SKIP")
    )

    def measures(g: dict[str, pd.DataFrame]) -> dict:
        return {
            "signup_event": int(g["s"]["event_id"].iloc[0]),
            "purchase_event": int(g["p"]["event_id"].iloc[-1]),
            "purchase_value": round(float(g["p"]["value"].iloc[-1]), 4),
        }

    return match_recognize(
        e,
        keys=["user_id"],
        ts="ts",
        pattern=pat,
        measures=measures,
        output_schema="signup_event bigint, purchase_event bigint,"
        " purchase_value double, user_id bigint",
        order_tiebreak=["event_id"],
    ).select("user_id", "signup_event", "purchase_event", "purchase_value")


@register(
    "cep_vshape_iterative",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               lead(value, 1) OVER w AS v1,
               lead(value, 2) OVER w AS v2,
               lead(ts, 2)    OVER w AS end_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts AS start_ts, end_ts,
           round(value, 4) AS anchor_value,
           round(v1, 4) AS dip_value,
           round(v2, 4) AS rebound_value
    FROM seq
    WHERE event_type = 'click' AND v1 < value AND v2 > v1
    """,
)
def cep_vshape_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-shape with ITERATIVE conditions (Flink IterativeCondition /
    ctx.getEventsForPattern — flink-cep Pattern.where(IterativeCondition),
    SQL DEFINE with LAST(...) refs): B dips below the row bound to A,
    C rebounds above the row bound to B. Two-argument predicates see
    the partial match; the NFA evaluates them lazily per candidate
    (simple one-argument conditions stay vectorized). Strict 3-step +
    SKIP TO NEXT ROW makes the lead() rewrite an exact oracle.

    Boundary trim (guide §4): only the NFA-touched columns cross the
    Arrow boundary (`props` pruned from the scan)."""
    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    pat = (
        Pattern.begin("a", lambda r: r["event_type"] == "click")
        .next("b", lambda r, g: r["value"] < g["a"]["value"].iloc[-1])
        .next("c", lambda r, g: r["value"] > g["b"]["value"].iloc[-1])
        .after_match_skip("TO_NEXT_ROW")
    )

    def measures(g: dict[str, pd.DataFrame]) -> dict:
        return {
            "start_ts": g["a"]["ts"].iloc[0],
            "end_ts": g["c"]["ts"].iloc[-1],
            "anchor_value": round(float(g["a"]["value"].iloc[0]), 4),
            "dip_value": round(float(g["b"]["value"].iloc[-1]), 4),
            "rebound_value": round(float(g["c"]["value"].iloc[-1]), 4),
        }

    return match_recognize(
        e,
        keys=["user_id"],
        ts="ts",
        pattern=pat,
        measures=measures,
        output_schema=(
            "start_ts timestamp, end_ts timestamp, anchor_value double, "
            "dip_value double, rebound_value double, user_id bigint"
        ),
        order_tiebreak=["event_id"],
    ).select(
        "user_id", "start_ts", "end_ts", "anchor_value", "dip_value",
        "rebound_value",
    )
