"""Join operator coverage (SURVEY.md §2.3).

Reference parity (file:line into /root/reference):
- hash join            exec/batch/BatchExecHashJoin.java:58 → RT/join/HashJoinOperator.java:67
- sort-merge join      exec/batch/BatchExecSortMergeJoin.java:55 → RT/join/SortMergeJoinFunction.java:56
- nested-loop join     exec/batch/BatchExecNestedLoopJoin.java:47 (theta / non-equi)
- semi/anti join       RT/join/stream/StreamingSemiAntiJoinOperator.java:34 (IN / EXISTS)
- interval join        exec/stream/StreamExecIntervalJoin.java:82 → RT/join/interval/TimeIntervalJoin.java:52
- window join          exec/stream/StreamExecWindowJoin.java:69 → RT/join/window/WindowJoinOperator.java:66

Spark-first: every equi join is a plain `df.join` — Catalyst + AQE pick
broadcast / shuffled-hash / sort-merge (the same strategy menu Flink's
batch planner has) and handle skew. Non-equi conditions plan as
BroadcastNestedLoopJoin. The interval join is an equi join on the key
plus a range predicate — at scale the range never dominates because the
equi key shuffles both sides; no custom operator needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_20_spark.queries._util import T, money, money_sum
from flink_1_20_spark.registry import register


@register(
    "join_inner_equi",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_items,
           ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT)) / 1e4, 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size >= 20
    GROUP BY p_brand
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_size") >= 20)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, ROUND(o_totalprice, 2) AS totalprice
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 400000
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with a join-side predicate (nulls preserved on miss)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000)
    return c.join(o, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", money("o_totalprice").alias("totalprice")
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM nation
    RIGHT JOIN supplier ON s_nationkey = n_nationkey AND n_regionkey <= 2
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = T(spark, sf_dir, "nation")
    s = T(spark, sf_dir, "supplier")
    cond = (s.s_nationkey == n.n_nationkey) & (n.n_regionkey <= 2)
    return n.join(s, cond, "right").select("s_suppkey", "s_name", "n_name")


@register(
    "join_full_outer",
    oracle="""
    SELECT n_nationkey, n_name, s_suppkey, s_name
    FROM nation
    FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = T(spark, sf_dir, "nation")
    s = T(spark, sf_dir, "supplier")
    return n.join(s, s.s_nationkey == n.n_nationkey, "full").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name"
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi (Flink rewrites IN/EXISTS the same way,
    FlinkSubQueryRemoveRule, FlinkStreamRuleSets.scala:37)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey <> b.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = T(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("a_key"), F.col("r_name").alias("from_region")
    )
    b = T(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("b_key"), F.col("r_name").alias("to_region")
    )
    return a.crossJoin(b).filter(F.col("a_key") != F.col("b_key")).select(
        "from_region", "to_region"
    )


@register(
    "join_nonequi_range",
    oracle="""
    SELECT b.bucket, COUNT(*) AS n_parts, ROUND(AVG(p_retailprice), 4) AS avg_price
    FROM part p
    JOIN (VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1200.0), ('high', 1200.0, 100000.0))
         b(bucket, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.bucket
    """,
)
def join_nonequi_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure theta join (banding) → BroadcastNestedLoopJoin, the Spark
    analog of Flink's BatchExecNestedLoopJoin with the small side
    broadcast. At 100 TB the bounds table is tiny, so broadcast is the
    right physical plan at any fact-side scale."""
    p = T(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [("low", 0.0, 500.0), ("mid", 500.0, 1200.0), ("high", 1200.0, 100000.0)],
        "bucket string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(buckets),
            (p.p_retailprice >= buckets.lo) & (p.p_retailprice < buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_parts"),
            money(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


@register(
    "join_interval",
    oracle="""
    SELECT v.user_id, COUNT(*) AS n_pairs
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 5 MINUTE
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND v.event_id <> c.event_id
    GROUP BY v.user_id
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (StreamExecIntervalJoin.java:82 / TimeIntervalJoin.java:52):
    view→click pairs within 5 minutes per user. Batch form: equi join on
    the key + time-range predicate; the streaming form (watermark-bounded
    state) is in flink_1_20_spark/streaming/. The equi key carries the
    shuffle, so this scales as an ordinary hash join."""
    e = T(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("ts").alias("v_ts"), F.col("event_id").alias("v_id")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    return (
        v.join(
            c,
            (v.user_id == c.c_user)
            & (c.c_ts >= v.v_ts)
            & (c.c_ts <= v.v_ts + F.expr("INTERVAL 5 MINUTES"))
            & (v.v_id != c.c_id),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "join_window",
    oracle="""
    SELECT v.w_start, v.user_id, COUNT(*) AS n_pairs
    FROM (SELECT user_id, event_id, date_trunc('hour', ts) AS w_start
          FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, event_id, date_trunc('hour', ts) AS w_start
          FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id AND v.w_start = p.w_start
    GROUP BY v.w_start, v.user_id
    """,
)
def join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window join (StreamExecWindowJoin.java:69): rows pair only within
    the same tumbling window — expressed as an equi join on the window
    start, which co-partitions both sides on (key, window)."""
    e = T(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", F.date_trunc("hour", "ts").alias("w_start")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.date_trunc("hour", "ts").alias("p_w"),
    )
    return (
        v.join(p, (v.user_id == p.p_user) & (v.w_start == p.p_w))
        .groupBy("w_start", "user_id")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "cogroup_custkey",
    oracle="""
    WITH c AS (SELECT c_custkey AS custkey, round(max(c_acctbal), 2) AS acctbal,
                      count(*) AS n_cust
               FROM customer GROUP BY c_custkey),
         o AS (SELECT o_custkey AS custkey, count(*) AS n_orders,
                      round(sum(o_totalprice), 2) AS total_price
               FROM orders GROUP BY o_custkey)
    SELECT COALESCE(c.custkey, o.custkey) AS custkey,
           COALESCE(n_cust, 0) AS n_cust,
           acctbal,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(total_price, 0.0) AS total_price
    FROM c FULL OUTER JOIN o ON c.custkey = o.custkey
    """,
)
def cogroup_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoGroup (DataStream.coGroup:748 / DataSet.coGroup:1041): both
    inputs' rows for a key delivered to ONE user function — keys present
    on either side included. Direct Spark mapping:
    groupby().cogroup().applyInArrow (Arrow-batched both sides). The
    oracle reformulates as full-outer-joined per-side aggregates — the
    declarative plan you'd prefer when the logic IS expressible; cogroup
    earns its keep when it isn't (custom pairing, ordered merges).

    Cost: cogroup runs ONE Python call per key, so the per-key work at
    the Python boundary is the operator's price.  The function takes
    and returns Arrow tables (applyInArrow): measured on 4 cores, one
    run over 1,500 keys at sf0.01 takes 0.7-1.05 s, where building
    pandas frames per key (applyInPandas, the same rows) took
    1.8-2.4 s.  The declarative full-outer-agg plan is cheaper still;
    budget group counts before reaching for cogroup (Flink, too,
    pushes users toward joins/aggs when expressible)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    def fn(key, cust: pa.Table, orders: pa.Table) -> pa.Table:
        # a side with no rows for the key: max -> NULL acctbal, and the
        # order total sums to 0.0 (numpy's sum: bit-equal to pandas')
        acctbal = pc.max(cust["c_acctbal"]).as_py()
        total = orders["o_totalprice"].to_numpy().sum()
        return pa.table(
            {
                "custkey": [key[0].as_py()],
                "n_cust": [cust.num_rows],
                # typed: a lone NULL would otherwise infer the null type
                "acctbal": pa.array(
                    [None if acctbal is None else round(acctbal, 2)], pa.float64()
                ),
                "n_orders": [orders.num_rows],
                "total_price": [round(float(total), 2)],
            }
        )

    # Pin both sides' key partitioning: the shuffled bytes are tiny, so
    # AQE would coalesce the cogroup exchanges to a couple of partitions
    # and starve the per-key Python stage (measured 21.8 s on 2 tasks vs
    # 3.6 s on 32 at sf0.1). Explicit repartition is AQE-coalesce-exempt
    # and the cogroup reuses the distribution.
    parts = spark.sparkContext.defaultParallelism
    return (
        c.repartition(parts, "c_custkey")
        .groupby("c_custkey")
        .cogroup(o.repartition(parts, "o_custkey").groupby("o_custkey"))
        .applyInArrow(
            fn,
            "custkey bigint, n_cust bigint, acctbal double, n_orders bigint, total_price double",
        )
    )
