"""TPC-DS residual ports: the 23 queries the 80-shape battery covered
only by plan-family mapping (round-4 verdict item 2) — now ported as
real shapes, completing 103/103 family coverage of the reference gate
(flink-end-to-end-tests/flink-tpcds-test/tpcds-tool/query/, comparator
TpcdsResultComparator.java:35).

Each entry keeps the ORIGINAL query's operator shape — join graph,
subquery structure, window/rollup pattern, union topology — re-authored
against the fixture schema (lineitem/orders/customer/part/supplier/
nation/events; store_sales→lineitem⋈orders, item→part, store/warehouse/
call_center→supplier⋈nation, date_dim→functions of o_orderdate or
l_shipdate, returns→l_returnflag='R' slices, inventory→quantity bands).

Same contract as tpcds_shapes*.py: ONE dialect-neutral SQL string per
query, run verbatim on Spark and DuckDB. Output-dtype discipline per
tests/test_oracle_dtypes.py: integer sums CAST to BIGINT, money through
ROUND→DOUBLE — never a bare SUM(int) (HUGEINT drift) or widened DECIMAL.

Scale notes (the 100 TB bar): every correlated subquery here
decorrelates in Catalyst (scalar-agg → aggregate+join, IN/EXISTS →
semi join — all inside the tests/test_plans.py no-NLJ sweep); reused
CTEs (q30/q81/q24b/q23b ctr/ssales spines) are computed once per
consumer with partial aggs before their shuffles; the q12/q20/q86
windows partition by their grouping keys, never globally; channel
unions (q56/q60/q83/q14b) are independent scans unioned AFTER per-slice
aggregation, so each slice's shuffle carries only its aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_1_20_spark.registry import register

from ._util import V

_SHAPES: list[tuple[str, list[str], str]] = [
    (
        # q6: state-level count where item price beats 1.2x its category
        # average — one uncorrelated scalar subquery (DISTINCT month
        # pick) + one correlated scalar average, HAVING floor.
        "tpcds_q6_state_over_avg_price",
        ["customer", "orders", "lineitem", "part", "nation"],
        """
        SELECT n.n_name AS state, count(*) AS cnt
        FROM nation n
        JOIN customer c ON n.n_nationkey = c.c_nationkey
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        WHERE year(o.o_orderdate) = (SELECT DISTINCT year(o2.o_orderdate)
                                     FROM orders o2
                                     WHERE year(o2.o_orderdate) = 1995)
          AND p.p_retailprice > 1.02 * (SELECT avg(p2.p_retailprice)
                                       FROM part p2
                                       WHERE p2.p_type = p.p_type)
        GROUP BY n.n_name
        HAVING count(*) >= 10
        """,
    ),
    (
        # q12: item revenue with share-of-class window over the
        # aggregate (sum()*100/sum(sum()) over (partition by class)).
        "tpcds_q12_revenue_share_by_class",
        ["lineitem", "part"],
        """
        SELECT p.p_brand, p.p_type, p.p_size,
               ROUND(SUM(l.l_extendedprice), 2) AS itemrevenue,
               ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) * 1e2 /
                     SUM(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)))
                       OVER (PARTITION BY p.p_type),
                     6) AS revenueratio
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type LIKE 'STANDARD%'
          AND CAST(l.l_shipdate AS DATE) >= DATE '1996-02-22'
          AND CAST(l.l_shipdate AS DATE) <= DATE '1996-02-22' + 30
        GROUP BY p.p_brand, p.p_type, p.p_size
        """,
    ),
    (
        # q20: same window-over-aggregate family, catalog channel —
        # discounted revenue, different window and filter.
        "tpcds_q20_discounted_share_by_type",
        ["lineitem", "part"],
        """
        SELECT p.p_brand, p.p_type,
               ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                              AS BIGINT)) / 1e4, 2)
                 AS itemrevenue,
               ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                              AS BIGINT)) * 1e2 /
                     SUM(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                                  AS BIGINT)))
                       OVER (PARTITION BY p.p_type), 6) AS revenueratio
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
          AND CAST(l.l_shipdate AS DATE) >= DATE '1997-05-01'
          AND CAST(l.l_shipdate AS DATE) <= DATE '1997-05-01' + 30
        GROUP BY p.p_brand, p.p_type
        """,
    ),
    (
        # q29: sale → return → repurchase chain across three time
        # anchors (d1/d2/d3), three quantity sums per item/nation.
        "tpcds_q29_sale_return_repurchase",
        ["lineitem", "orders", "part", "supplier", "nation"],
        """
        SELECT p.p_brand, n.n_name,
               ROUND(SUM(l1.l_quantity), 2) AS sold_qty,
               ROUND(SUM(r.l_quantity), 2) AS returned_qty,
               ROUND(SUM(l2.l_quantity), 2) AS repurchase_qty
        FROM lineitem l1
        JOIN orders o1   ON l1.l_orderkey = o1.o_orderkey
        JOIN lineitem r  ON r.l_orderkey = l1.l_orderkey
                        AND r.l_partkey = l1.l_partkey
                        AND r.l_returnflag = 'R'
        JOIN orders o2   ON o2.o_custkey = o1.o_custkey
        JOIN lineitem l2 ON l2.l_orderkey = o2.o_orderkey
                        AND l2.l_partkey = l1.l_partkey
        JOIN part p      ON l1.l_partkey = p.p_partkey
        JOIN supplier s  ON l1.l_suppkey = s.s_suppkey
        JOIN nation n    ON s.s_nationkey = n.n_nationkey
        WHERE year(o1.o_orderdate) = 1995
          AND month(o1.o_orderdate) BETWEEN 9 AND 12
          AND year(o2.o_orderdate) IN (1995, 1996, 1997)
          AND o2.o_orderkey <> o1.o_orderkey
        GROUP BY p.p_brand, n.n_name
        """,
    ),
    (
        # q52: the plain dim-join brand report (year pinned by filter
        # and repeated in the grouping, as the original does).
        "tpcds_q52_brand_ext_price",
        ["lineitem", "orders", "part"],
        """
        SELECT year(o.o_orderdate) AS d_year, p.p_brand,
               ROUND(SUM(l.l_extendedprice), 2) AS ext_price
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        WHERE p.p_size = 1
          AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1995
        GROUP BY year(o.o_orderdate), p.p_brand
        """,
    ),
    (
        # q55: q52 minus the year column — the minimal brand rollup.
        "tpcds_q55_brand_simple",
        ["lineitem", "orders", "part"],
        """
        SELECT p.p_brand,
               ROUND(SUM(l.l_extendedprice), 2) AS ext_price
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        WHERE p.p_size = 3
          AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1996
        GROUP BY p.p_brand
        """,
    ),
    (
        # q56/q60 family: three channel CTEs, each gated by an
        # uncorrelated IN-subquery on an item attribute, UNION ALL
        # re-aggregated. q56 = color-list gate.
        "tpcds_q56_channel_union_color_gate",
        ["lineitem", "orders", "part"],
        """
        WITH sel AS (SELECT p_partkey FROM part
                     WHERE p_name LIKE '%green%' OR p_name LIKE '%blue%'
                        OR p_name LIKE '%ivory%'),
        ss AS (
          SELECT l.l_partkey AS item, ROUND(SUM(l.l_extendedprice), 4) AS total_sales
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_partkey IN (SELECT p_partkey FROM sel)
            AND l.l_linestatus = 'F' AND year(o.o_orderdate) = 1995
          GROUP BY l.l_partkey),
        cs AS (
          SELECT l.l_partkey AS item, ROUND(SUM(l.l_extendedprice), 4) AS total_sales
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_partkey IN (SELECT p_partkey FROM sel)
            AND l.l_linestatus = 'O' AND l.l_returnflag = 'N'
            AND year(o.o_orderdate) = 1995
          GROUP BY l.l_partkey),
        ws AS (
          SELECT l.l_partkey AS item, ROUND(SUM(l.l_extendedprice), 4) AS total_sales
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_partkey IN (SELECT p_partkey FROM sel)
            AND l.l_returnflag = 'R' AND year(o.o_orderdate) = 1995
          GROUP BY l.l_partkey)
        SELECT item, ROUND(SUM(total_sales), 4) AS total_sales
        FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
              UNION ALL SELECT * FROM ws) x
        GROUP BY item
        """,
    ),
    (
        # q60: same union topology, category-prefix gate + month pin.
        "tpcds_q60_channel_union_type_gate",
        ["lineitem", "orders", "part"],
        """
        WITH sel AS (SELECT p_partkey FROM part WHERE p_type LIKE 'ECONOMY%'),
        ss AS (
          SELECT l.l_partkey AS item, ROUND(SUM(l.l_extendedprice), 4) AS total_sales
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_partkey IN (SELECT p_partkey FROM sel)
            AND l.l_linestatus = 'F'
            AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 9
          GROUP BY l.l_partkey),
        cs AS (
          SELECT l.l_partkey AS item, ROUND(SUM(l.l_extendedprice), 4) AS total_sales
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_partkey IN (SELECT p_partkey FROM sel)
            AND l.l_linestatus = 'O' AND l.l_returnflag = 'N'
            AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 9
          GROUP BY l.l_partkey),
        ws AS (
          SELECT l.l_partkey AS item, ROUND(SUM(l.l_extendedprice), 4) AS total_sales
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_partkey IN (SELECT p_partkey FROM sel)
            AND l.l_returnflag = 'R'
            AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 9
          GROUP BY l.l_partkey)
        SELECT item, ROUND(SUM(total_sales), 4) AS total_sales
        FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
              UNION ALL SELECT * FROM ws) x
        GROUP BY item
        """,
    ),
    (
        # q57: monthly series per (brand, nation) with avg-over-year
        # window + rank, self-joined to its own lag and lead rows
        # (rn±1), deviation gate — the explicit-self-join variant of
        # the q47 family.
        "tpcds_q57_lag_lead_self_join",
        ["lineitem", "orders", "part", "supplier", "nation"],
        """
        WITH v1 AS (
          SELECT p.p_brand, n.n_name,
                 year(o.o_orderdate) AS yr, month(o.o_orderdate) AS mo,
                 ROUND(SUM(CAST(ROUND(l.l_extendedprice * 1e2) AS BIGINT))
                       / 1e2, 4) AS sum_sales,
                 AVG(SUM(CAST(ROUND(l.l_extendedprice * 1e2) AS BIGINT))) OVER
                   (PARTITION BY p.p_brand, n.n_name, year(o.o_orderdate))
                   AS avg_monthly_c,
                 RANK() OVER (PARTITION BY p.p_brand, n.n_name
                              ORDER BY year(o.o_orderdate), month(o.o_orderdate))
                   AS rn
          FROM lineitem l
          JOIN orders o   ON l.l_orderkey = o.o_orderkey
          JOIN part p     ON l.l_partkey = p.p_partkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n   ON s.s_nationkey = n.n_nationkey
          WHERE year(o.o_orderdate) IN (1995, 1996)
            AND p.p_size <= 5
          GROUP BY p.p_brand, n.n_name,
                   year(o.o_orderdate), month(o.o_orderdate))
        SELECT v1.p_brand, v1.n_name, v1.yr, v1.mo,
               ROUND(v1.avg_monthly_c / 1e2, 4) AS avg_monthly_sales,
               v1.sum_sales,
               v1_lag.sum_sales AS psum, v1_lead.sum_sales AS nsum
        FROM v1
        JOIN v1 v1_lag  ON v1.p_brand = v1_lag.p_brand
                       AND v1.n_name = v1_lag.n_name
                       AND v1.rn = v1_lag.rn + 1
        JOIN v1 v1_lead ON v1.p_brand = v1_lead.p_brand
                       AND v1.n_name = v1_lead.n_name
                       AND v1.rn = v1_lead.rn - 1
        WHERE v1.yr = 1996
          AND v1.avg_monthly_c > 0
          AND abs(v1.sum_sales - v1.avg_monthly_c / 1e2)
              / (v1.avg_monthly_c / 1e2) > 0.1
        """,
    ),
    (
        # q62: the shipping-latency bucket grid over a three-dim
        # (warehouse, ship mode, site) grouping — nation × linestatus ×
        # priority here, buckets by ship-vs-order date distance.
        "tpcds_q62_latency_grid_three_dims",
        ["lineitem", "orders", "supplier", "nation"],
        """
        SELECT n.n_name, l.l_linestatus, o.o_orderpriority,
               CAST(SUM(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  <= CAST(o.o_orderdate AS DATE) + 30
                             THEN 1 ELSE 0 END) AS BIGINT) AS d30,
               CAST(SUM(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  > CAST(o.o_orderdate AS DATE) + 30
                              AND CAST(l.l_shipdate AS DATE)
                                  <= CAST(o.o_orderdate AS DATE) + 60
                             THEN 1 ELSE 0 END) AS BIGINT) AS d60,
               CAST(SUM(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  > CAST(o.o_orderdate AS DATE) + 60
                              AND CAST(l.l_shipdate AS DATE)
                                  <= CAST(o.o_orderdate AS DATE) + 90
                             THEN 1 ELSE 0 END) AS BIGINT) AS d90,
               CAST(SUM(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  > CAST(o.o_orderdate AS DATE) + 90
                             THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE year(o.o_orderdate) = 1995
        GROUP BY n.n_name, l.l_linestatus, o.o_orderpriority
        """,
    ),
    (
        # q63: monthly manager sales vs the window average, with the
        # OR-of-ANDs two-family item filter, deviation > 0.1 gate.
        "tpcds_q63_monthly_deviation_or_of_ands",
        ["lineitem", "orders", "part"],
        """
        SELECT * FROM (
          SELECT p.p_size AS manager, month(o.o_orderdate) AS mo,
                 ROUND(SUM(CAST(ROUND(l.l_extendedprice * 1e2) AS BIGINT))
                       / 1e2, 4) AS sum_sales,
                 ROUND(AVG(SUM(CAST(ROUND(l.l_extendedprice * 1e2) AS BIGINT)))
                       OVER (PARTITION BY p.p_size) / 1e2, 4)
                   AS avg_monthly_sales
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN part p   ON l.l_partkey = p.p_partkey
          WHERE year(o.o_orderdate) = 1996
            AND ((p.p_type LIKE 'STANDARD%'
                  AND p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13'))
              OR (p.p_type LIKE 'ECONOMY%'
                  AND p.p_brand IN ('Brand#21', 'Brand#22', 'Brand#23')))
          GROUP BY p.p_size, month(o.o_orderdate)) tmp1
        WHERE avg_monthly_sales > 0
          AND abs(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
        """,
    ),
    (
        # q68: inner per-(order, customer, bought-nation) aggregate,
        # joined to the customer's CURRENT nation, keeping only rows
        # where the two differ.
        "tpcds_q68_bought_vs_current_nation",
        ["lineitem", "orders", "customer", "supplier", "nation"],
        """
        WITH dn AS (
          SELECT o.o_orderkey, o.o_custkey, n.n_name AS bought_nation,
                 ROUND(SUM(l.l_extendedprice), 4) AS extended_price,
                 ROUND(SUM(l.l_extendedprice * l.l_tax), 4) AS extended_tax,
                 ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
                   AS list_price
          FROM lineitem l
          JOIN orders o   ON l.l_orderkey = o.o_orderkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n   ON s.s_nationkey = n.n_nationkey
          WHERE day(o.o_orderdate) BETWEEN 1 AND 2
            AND year(o.o_orderdate) IN (1995, 1996, 1997)
            AND (o.o_orderpriority = '1-URGENT' OR l.l_linestatus = 'F')
          GROUP BY o.o_orderkey, o.o_custkey, n.n_name)
        SELECT c.c_name, cn.n_name AS current_nation, dn.bought_nation,
               dn.o_orderkey, dn.extended_price, dn.extended_tax,
               dn.list_price
        FROM dn
        JOIN customer c ON dn.o_custkey = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        WHERE cn.n_name <> dn.bought_nation
        """,
    ),
    (
        # q79: per-(order, customer) discount/profit aggregate under an
        # OR demographic filter + day-of-week pin, joined to customer.
        "tpcds_q79_coupon_profit_by_order",
        ["lineitem", "orders", "customer"],
        """
        WITH ms AS (
          SELECT o.o_orderkey, o.o_custkey,
                 ROUND(SUM(l.l_extendedprice * l.l_discount), 4) AS amt,
                 ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                           - l.l_quantity * 100), 4) AS profit
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE (o.o_orderpriority = '2-HIGH' OR l.l_quantity > 40)
            -- day-of-week pin; day(x) % 7 because dayofweek() numbers
            -- Sunday differently across engines (0- vs 1-based)
            AND day(o.o_orderdate) % 7 = 2
            AND year(o.o_orderdate) IN (1995, 1996, 1997)
          GROUP BY o.o_orderkey, o.o_custkey)
        SELECT c.c_name, ms.o_orderkey, ms.amt, ms.profit
        FROM ms JOIN customer c ON ms.o_custkey = c.c_custkey
        """,
    ),
    (
        # q82: banded item scan × banded availability window, semi
        # gated by sales existence (the inventory band scan).
        "tpcds_q82_banded_item_availability",
        ["lineitem", "part"],
        """
        SELECT p.p_partkey, p.p_name, ROUND(p.p_retailprice, 2) AS price
        FROM part p
        JOIN lineitem inv ON inv.l_partkey = p.p_partkey
        WHERE p.p_retailprice BETWEEN 950 AND 950 + 30
          AND p.p_size IN (5, 10, 15, 20)
          AND inv.l_quantity BETWEEN 10 AND 40
          AND CAST(inv.l_shipdate AS DATE) >= DATE '1996-05-25'
          AND CAST(inv.l_shipdate AS DATE) <= DATE '1996-05-25' + 60
          AND p.p_partkey IN (SELECT l2.l_partkey FROM lineitem l2
                              WHERE l2.l_returnflag = 'N')
        GROUP BY p.p_partkey, p.p_name, p.p_retailprice
        """,
    ),
    (
        # q83: three return slices each date-gated by a nested IN
        # (dates whose week matches one of three anchor dates),
        # three-way joined with per-channel share ratios.
        "tpcds_q83_return_share_three_way",
        ["lineitem", "part"],
        """
        WITH wk AS (
          SELECT DISTINCT month(l.l_shipdate) AS mnum, year(l.l_shipdate) AS yr
          FROM lineitem l
          WHERE CAST(l.l_shipdate AS DATE) IN
                (DATE '1995-06-30', DATE '1995-09-27', DATE '1995-11-17')),
        days AS (
          SELECT DISTINCT CAST(l.l_shipdate AS DATE) AS d
          FROM lineitem l
          WHERE month(l.l_shipdate) IN (SELECT mnum FROM wk)
            AND year(l.l_shipdate) IN (SELECT yr FROM wk)),
        sr AS (
          SELECT l.l_partkey AS item_id,
                 ROUND(SUM(l.l_quantity), 2) AS sr_qty
          FROM lineitem l
          WHERE l.l_returnflag = 'R'
            AND CAST(l.l_shipdate AS DATE) IN (SELECT d FROM days)
          GROUP BY l.l_partkey),
        cr AS (
          SELECT l.l_partkey AS item_id,
                 ROUND(SUM(l.l_quantity), 2) AS cr_qty
          FROM lineitem l
          WHERE l.l_returnflag = 'A'
            AND CAST(l.l_shipdate AS DATE) IN (SELECT d FROM days)
          GROUP BY l.l_partkey),
        wr AS (
          SELECT l.l_partkey AS item_id,
                 ROUND(SUM(l.l_quantity), 2) AS wr_qty
          FROM lineitem l
          WHERE l.l_returnflag = 'N' AND l.l_linestatus = 'F'
            AND CAST(l.l_shipdate AS DATE) IN (SELECT d FROM days)
          GROUP BY l.l_partkey)
        SELECT sr.item_id, sr.sr_qty,
               ROUND(sr.sr_qty / (sr.sr_qty + cr.cr_qty + wr.wr_qty) / 3.0
                     * 100, 4) AS sr_dev,
               cr.cr_qty,
               ROUND(cr.cr_qty / (sr.sr_qty + cr.cr_qty + wr.wr_qty) / 3.0
                     * 100, 4) AS cr_dev,
               wr.wr_qty,
               ROUND(wr.wr_qty / (sr.sr_qty + cr.cr_qty + wr.wr_qty) / 3.0
                     * 100, 4) AS wr_dev,
               ROUND((sr.sr_qty + cr.cr_qty + wr.wr_qty) / 3.0, 4) AS average
        FROM sr
        JOIN cr ON sr.item_id = cr.item_id
        JOIN wr ON sr.item_id = wr.item_id
        """,
    ),
    (
        # q86: ROLLUP with GROUPING()-derived hierarchy level and a
        # rank partitioned by (level, parent) — the grouping-aware
        # rank-within-parent report.
        "tpcds_q86_rollup_rank_within_parent",
        ["lineitem", "orders", "part"],
        """
        SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
                 AS total_sum,
               p.p_type, p.p_brand,
               CAST(GROUPING(p.p_type) + GROUPING(p.p_brand) AS BIGINT)
                 AS lochierarchy,
               CAST(RANK() OVER (
                 PARTITION BY GROUPING(p.p_type) + GROUPING(p.p_brand),
                              CASE WHEN GROUPING(p.p_brand) = 0
                                   THEN p.p_type END
                 ORDER BY SUM(l.l_extendedprice * (1 - l.l_discount)) DESC)
                 AS BIGINT) AS rank_within_parent
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p   ON l.l_partkey = p.p_partkey
        WHERE year(o.o_orderdate) = 1996
        GROUP BY ROLLUP(p.p_type, p.p_brand)
        """,
    ),
    (
        # q92: single-scalar excess-discount sum with a correlated
        # 1.3x-average gate per item inside a shared date window.
        "tpcds_q92_excess_discount_amount",
        ["lineitem", "part"],
        """
        SELECT ROUND(SUM(l.l_extendedprice * l.l_discount), 4)
                 AS excess_discount_amount
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size = 5
          AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-27'
          AND CAST(l.l_shipdate AS DATE) <= DATE '1996-01-27' + 90
          AND l.l_extendedprice * l.l_discount >
              (SELECT 1.3 * avg(l2.l_extendedprice * l2.l_discount)
               FROM lineitem l2
               WHERE l2.l_partkey = p.p_partkey
                 AND CAST(l2.l_shipdate AS DATE) >= DATE '1996-01-27'
                 AND CAST(l2.l_shipdate AS DATE) <= DATE '1996-01-27' + 90)
        """,
    ),
    (
        # q14b: cross-channel INTERSECT item set + scalar average gate
        # from a UNION ALL of the channels, final per-brand sums kept
        # only above the average.
        "tpcds_q14b_intersect_items_avg_gate",
        ["lineitem", "orders", "part"],
        """
        WITH cross_items AS (
          SELECT p.p_partkey
          FROM part p
          JOIN (SELECT p1.p_brand, p1.p_type
                FROM lineitem l1 JOIN part p1 ON l1.l_partkey = p1.p_partkey
                WHERE l1.l_linestatus = 'F'
                INTERSECT
                SELECT p2.p_brand, p2.p_type
                FROM lineitem l2 JOIN part p2 ON l2.l_partkey = p2.p_partkey
                WHERE l2.l_linestatus = 'O' AND l2.l_returnflag = 'N'
                INTERSECT
                SELECT p3.p_brand, p3.p_type
                FROM lineitem l3 JOIN part p3 ON l3.l_partkey = p3.p_partkey
                WHERE l3.l_returnflag = 'R') x
            ON p.p_brand = x.p_brand AND p.p_type = x.p_type),
        avg_sales AS (
          SELECT avg(quantity * price) AS average_sales
          FROM (SELECT l.l_quantity AS quantity, l.l_extendedprice AS price
                FROM lineitem l WHERE l.l_linestatus = 'F'
                UNION ALL
                SELECT l.l_quantity, l.l_extendedprice
                FROM lineitem l
                WHERE l.l_linestatus = 'O' AND l.l_returnflag = 'N'
                UNION ALL
                SELECT l.l_quantity, l.l_extendedprice
                FROM lineitem l WHERE l.l_returnflag = 'R') u)
        SELECT p.p_brand,
               ROUND(SUM(l.l_quantity * l.l_extendedprice), 2) AS sales,
               CAST(COUNT(*) AS BIGINT) AS number_sales
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p   ON l.l_partkey = p.p_partkey
        WHERE l.l_partkey IN (SELECT p_partkey FROM cross_items)
          AND year(o.o_orderdate) = 1997 AND month(o.o_orderdate) = 11
        GROUP BY p.p_brand
        HAVING SUM(l.l_quantity * l.l_extendedprice)
               > (SELECT average_sales FROM avg_sales)
        """,
    ),
    (
        # q23b: frequent items (HAVING count), best customers (HAVING
        # sum above a fraction of a scalar max), both applied as IN
        # gates to a two-channel UNION ALL grouped by customer.
        "tpcds_q23b_best_customer_frequent_items",
        ["lineitem", "orders", "customer"],
        """
        WITH frequent_items AS (
          SELECT l.l_partkey AS item_sk
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE year(o.o_orderdate) IN (1995, 1996, 1997)
          GROUP BY l.l_partkey, CAST(l.l_shipdate AS DATE)
          HAVING count(*) > 1),
        max_sales AS (
          SELECT max(csales) AS tpcds_cmax
          FROM (SELECT o.o_custkey,
                       ROUND(SUM(l.l_quantity * l.l_extendedprice), 4) AS csales
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE year(o.o_orderdate) IN (1995, 1996, 1997)
                GROUP BY o.o_custkey) t),
        best_customers AS (
          SELECT o.o_custkey AS c_sk
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_custkey
          HAVING SUM(l.l_quantity * l.l_extendedprice)
                 > 0.1 * (SELECT tpcds_cmax FROM max_sales))
        SELECT c.c_name, ROUND(SUM(sales), 4) AS sales
        FROM (
          SELECT o.o_custkey AS cust,
                 l.l_quantity * l.l_extendedprice AS sales
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
            AND l.l_linestatus = 'F'
            AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
            AND o.o_custkey IN (SELECT c_sk FROM best_customers)
          UNION ALL
          SELECT o.o_custkey, l.l_quantity * l.l_extendedprice
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
            AND l.l_linestatus = 'O'
            AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
            AND o.o_custkey IN (SELECT c_sk FROM best_customers)) u
        JOIN customer c ON u.cust = c.c_custkey
        GROUP BY c.c_name
        """,
    ),
    (
        # q39b: the consecutive-month coefficient-of-variation pair
        # with the extra cov > 1.5 gate on the first month (vs the
        # q39a shape already in the battery).
        "tpcds_q39b_cov_pair_gated",
        ["lineitem", "orders", "part", "supplier", "nation"],
        """
        WITH inv AS (
          SELECT foo.n_name, foo.s_suppkey, foo.mo, foo.mean,
                 CASE WHEN foo.mean = 0 THEN NULL
                      ELSE foo.stdev / foo.mean END AS cov
          FROM (SELECT n.n_name, s.s_suppkey,
                       month(o.o_orderdate) AS mo,
                       stddev_samp(l.l_quantity) AS stdev,
                       avg(l.l_quantity) AS mean
                FROM lineitem l
                JOIN orders o   ON l.l_orderkey = o.o_orderkey
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation n   ON s.s_nationkey = n.n_nationkey
                WHERE year(o.o_orderdate) = 1996
                GROUP BY n.n_name, s.s_suppkey, month(o.o_orderdate)) foo
          WHERE CASE WHEN foo.mean = 0 THEN 0
                     ELSE foo.stdev / foo.mean END > 0.5)
        SELECT inv1.n_name, inv1.s_suppkey, inv1.mo,
               ROUND(inv1.mean, 4) AS mean1, ROUND(inv1.cov, 4) AS cov1,
               inv2.mo AS mo2,
               ROUND(inv2.mean, 4) AS mean2, ROUND(inv2.cov, 4) AS cov2
        FROM inv inv1
        JOIN inv inv2 ON inv1.s_suppkey = inv2.s_suppkey
                     AND inv1.n_name = inv2.n_name
        WHERE inv1.mo = 1 AND inv2.mo = 2
          AND inv1.cov > 0.65
        """,
    ),
]


def _make(name: str, tables: list[str], sql: str) -> None:
    @register(name, oracle=sql)
    def q(spark: SparkSession, sf_dir: str, _tables=tables, _sql=sql) -> DataFrame:
        V(spark, sf_dir, *_tables)
        return spark.sql(_sql)

    q.__name__ = name
    q.__doc__ = (
        f"TPC-DS residual port (103/103 family coverage): dialect-shared "
        f"SQL, see _SHAPES['{name}']."
    )


for _name, _tables, _sql in _SHAPES:
    _make(_name, _tables, _sql)


# -- q30/q81: reused-CTE correlated-average gates with a SINGLE-PASS
# Spark plan. The SQL CTE form inlines `ctr` into both consumers
# (Catalyst duplicates the fact scan); Flink's CommonSubGraphBased-
# Optimizer reuses the shared subgraph instead. The Spark-first
# equivalent: compute the per-nation average as a WINDOW over the one
# materialized ctr aggregate — one lineitem scan, one shuffle, no
# correlated subquery to decorrelate. The oracle keeps the correlated
# formulation, proving the rewrite is value-identical.

_Q30_ORACLE = """
WITH ctr AS (
  SELECT o.o_custkey AS ctr_customer, c.c_nationkey AS ctr_nation,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
           AS ctr_total_return
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996
  GROUP BY o.o_custkey, c.c_nationkey)
SELECT c.c_name, c.c_mktsegment, ctr1.ctr_total_return
FROM ctr ctr1
JOIN customer c ON ctr1.ctr_customer = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE ctr1.ctr_total_return > (SELECT avg(ctr2.ctr_total_return) * 1.2
                               FROM ctr ctr2
                               WHERE ctr2.ctr_nation = ctr1.ctr_nation)
  AND n.n_name IN ('NATION_1', 'NATION_7', 'NATION_13')
"""

_Q81_ORACLE = """
WITH ctr AS (
  SELECT o.o_custkey AS ctr_customer, c.c_nationkey AS ctr_nation,
         ROUND(SUM(l.l_extendedprice * (1 + l.l_tax)), 4)
           AS ctr_total_return
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1997
  GROUP BY o.o_custkey, c.c_nationkey)
SELECT c.c_name, ROUND(c.c_acctbal, 2) AS c_acctbal,
       n.n_name, ctr1.ctr_total_return
FROM ctr ctr1
JOIN customer c ON ctr1.ctr_customer = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE ctr1.ctr_total_return > (SELECT avg(ctr2.ctr_total_return) * 1.2
                               FROM ctr ctr2
                               WHERE ctr2.ctr_nation = ctr1.ctr_nation)
  AND n.n_name IN ('NATION_2', 'NATION_8', 'NATION_14')
"""


def _ctr_above_nation_avg(
    spark: SparkSession,
    sf_dir: str,
    measure,
    year: int,
    nations: list[str],
):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ._util import T

    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    ctr = (
        l.filter(F.col("l_returnflag") == "R")
        .join(o.filter(F.year("o_orderdate") == year), l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("o_custkey").alias("ctr_customer"),
            F.col("c_nationkey").alias("ctr_nation"),
        )
        .agg(F.round(F.sum(measure), 4).alias("ctr_total_return"))
    )
    w = W.partitionBy("ctr_nation")
    gated = ctr.withColumn(
        "nation_avg", F.avg("ctr_total_return").over(w)
    ).filter(F.col("ctr_total_return") > 1.2 * F.col("nation_avg"))
    # fresh-id reference for the detail join — customer already appears
    # inside ctr's lineage and Spark's self-join check would see an
    # ambiguous attribute; fresh=True re-aliases the cached catalog
    # handle with new expression ids (r13 — T() serves one shared
    # handle per table, so a plain second T() is the SAME object)
    c2 = T(spark, sf_dir, "customer", fresh=True)
    return (
        gated.join(c2, gated.ctr_customer == c2.c_custkey)
        .join(n, c2.c_nationkey == n.n_nationkey)
        .filter(F.col("n_name").isin(nations))
    )


@register("tpcds_q30_returns_above_nation_avg", oracle=_Q30_ORACLE)
def tpcds_q30_returns_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q30 port, single-pass plan (see module comment above)."""
    from pyspark.sql import functions as F

    out = _ctr_above_nation_avg(
        spark,
        sf_dir,
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
        1996,
        ["NATION_1", "NATION_7", "NATION_13"],
    )
    return out.select("c_name", "c_mktsegment", "ctr_total_return")


@register("tpcds_q81_returns_incl_tax_above_avg", oracle=_Q81_ORACLE)
def tpcds_q81_returns_incl_tax_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q81 port, single-pass plan (see module comment above)."""
    from pyspark.sql import functions as F

    out = _ctr_above_nation_avg(
        spark,
        sf_dir,
        F.col("l_extendedprice") * (1 + F.col("l_tax")),
        1997,
        ["NATION_2", "NATION_8", "NATION_14"],
    )
    return out.select(
        "c_name",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "n_name",
        "ctr_total_return",
    )


# -- q24b: wide multi-join spine aggregated into a reused CTE, filtered
# on one attribute, HAVING above a scalar fraction of the CTE-wide
# average.  The SQL CTE form inlines `ssales` into BOTH consumers (the
# filtered re-aggregate and the scalar average) — Catalyst duplicates
# the whole 6-table join spine (measured at the 100x fixture: 24
# parquet scans, 20 joins, 85-92 s; plans/r14/..._100x_executed.txt).
# Spark-first single-pass form (the q30/q81 playbook): materialize
# ssales ONCE (lazy localCheckpoint — the first action stores the
# blocks, both consumers read them) and gate the HAVING with a scalar
# subquery over it (`DataFrame.scalar()`: Filter + ScalarSubquery, no
# join).  A 1-row frame attached on a constant key does NOT stay a
# hash join: Catalyst folds the `lit(1)` key away and plans a 1-row
# BroadcastNestedLoopJoin.
# The oracle keeps the CTE spec form, proving the rewrite
# value-identical at every SF on every gate run (DuckDB computes a
# WITH-CTE once by design, so the spec form IS the one-pass semantics).

_Q24B_ORACLE = """
WITH ssales AS (
  SELECT c.c_name, p.p_brand, n.n_name, p.p_size,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
           AS netpaid
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p     ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY c.c_name, p.p_brand, n.n_name, p.p_size)
SELECT c_name, n_name, ROUND(SUM(netpaid), 4) AS paid
FROM ssales
WHERE p_brand = 'Brand#21'
GROUP BY c_name, n_name
HAVING SUM(netpaid) > (SELECT 0.05 * avg(netpaid) FROM ssales)
"""


@register("tpcds_q24b_netpaid_above_cte_avg", oracle=_Q24B_ORACLE)
def tpcds_q24b_netpaid_above_cte_avg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q24b port, single-pass ssales (see comment above)."""
    from pyspark.sql import functions as F

    from ._util import T

    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    p = T(spark, sf_dir, "part")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    ssales = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy("c_name", "p_brand", "n_name", "p_size")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("netpaid")
        )
        # two consumers (scalar average + filtered re-aggregate):
        # materialize the 6-join spine once; lazy — no job at build
        .localCheckpoint(eager=False)
    )
    thr = ssales.select(0.05 * F.avg("netpaid")).scalar()
    return (
        ssales.filter(F.col("p_brand") == "Brand#21")
        .groupBy("c_name", "n_name")
        .agg(F.sum("netpaid").alias("__s"))
        .filter(F.col("__s") > thr)
        .select("c_name", "n_name", F.round("__s", 4).alias("paid"))
    )
