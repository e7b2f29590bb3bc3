"""Grammar-driven dialect fuzz harness (36 shapes): seeded random SQL over the
fixture tables, executed through BOTH executeSql→Spark (the hand-written
dialect surface in sql_ddl.py + sql_flink.py) and DuckDB, with
order-insensitive value comparison — the property-test upgrade of the
per-query oracle discipline (VERDICT r9 task 2).  The reference's own
layered suite is the precedent: its planner/runtime ITCases run
randomized inputs through Calcite and diff against expected relational
results (SURVEY.md §5, flink-table-planner ITCase batteries).

Design rules (all inherited from the oracle discipline that has kept
the driver gate green since r6):
- Generated queries are DETERMINISTIC: every LIMIT sits under a total
  ORDER BY (primary key), window functions order by the primary key,
  and no RAND()/now() ever appears.
- Floating-point aggregates use the integer-units idiom
  (SUM(CAST(ROUND(x * 10^d) AS BIGINT))) so partial-aggregation order
  can't flip a value; per-row double arithmetic is fine (same IEEE ops
  in both engines); MIN/MAX on doubles are order-independent.
- Aliases are identical on both sides (the comparator matches columns
  by name), lowercase, and every computed column is aliased.
- Decimal literals avoided (both engines would parse DECIMAL); integer
  and exponent forms only.

The generator emits (name, spark_sql, duck_sql) triples.  Most shapes
are dialect-shared text (spark_sql == duck_sql — exactly the registry's
oracle convention); divergent shapes (window TVFs, legacy group
windows, Flink-only builtin spellings) carry a hand-mapped DuckDB
equivalent, mirroring the per-query oracles.

Usage:
    python scripts/dialect_fuzz.py [--seed 20260815] [--n 120]
                                   [--sf /root/testdata/sf0.001] [-v]

Exit code 0 iff every generated query matches.  tests/test_dialect_fuzz.py
pins the seed; any mismatch found by a sweep gets its seed recorded
there as a regression.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ---------------------------------------------------------------- schema

# fixture columns by role; pk is a TOTAL order (unique key)
TABLES: dict[str, dict[str, list[str]]] = {
    # pk must be a TOTAL order: the FIXTURE's (l_orderkey, l_linenumber)
    # is NOT unique (soak seeds 1009/1010/1019 caught lead/lag flapping
    # on the ties), but the full column list is — full-row duplicates
    # are absent, so ordering by everything is total
    "lineitem": dict(
        pk=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"],
        ints=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        doubles=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        strs=["l_returnflag", "l_linestatus"],
        ts=["l_shipdate"],
    ),
    "orders": dict(
        pk=["o_orderkey"],
        ints=["o_orderkey", "o_custkey"],
        doubles=["o_totalprice"],
        strs=["o_orderstatus", "o_orderpriority"],
        ts=["o_orderdate"],
    ),
    "customer": dict(
        pk=["c_custkey"],
        ints=["c_custkey", "c_nationkey"],
        doubles=["c_acctbal"],
        strs=["c_name", "c_mktsegment"],
        ts=[],
    ),
    "part": dict(
        pk=["p_partkey"],
        ints=["p_partkey", "p_size"],
        doubles=["p_retailprice"],
        strs=["p_name", "p_brand", "p_type"],
        ts=[],
    ),
    "supplier": dict(
        pk=["s_suppkey"],
        ints=["s_suppkey", "s_nationkey"],
        doubles=["s_acctbal"],
        strs=["s_name"],
        ts=[],
    ),
    "nation": dict(
        pk=["n_nationkey"],
        ints=["n_nationkey", "n_regionkey"],
        doubles=[],
        strs=["n_name"],
        ts=[],
    ),
    "region": dict(
        pk=["r_regionkey"],
        ints=["r_regionkey"],
        doubles=[],
        strs=["r_name"],
        ts=[],
    ),
    "events": dict(
        pk=["event_id"],
        ints=["event_id", "user_id"],
        doubles=["value"],
        strs=["event_type"],
        ts=["ts"],
    ),
}

# fact JOIN dim equi-pairs (fk = pk)
JOINS: list[tuple[str, str, str]] = [
    ("lineitem", "orders", "l_orderkey = o_orderkey"),
    ("lineitem", "part", "l_partkey = p_partkey"),
    ("lineitem", "supplier", "l_suppkey = s_suppkey"),
    ("orders", "customer", "o_custkey = c_custkey"),
    ("customer", "nation", "c_nationkey = n_nationkey"),
    ("supplier", "nation", "s_nationkey = n_nationkey"),
]

# Flink-spelled scalar forms with their DuckDB equivalents — these
# exercise the sql_flink builtin rewrite table; args are filled with a
# string column (%s) of the chosen table. Everything else the scalar
# generator emits is dialect-shared text.
FLINK_SCALAR_PAIRS: list[tuple[str, str]] = [
    ("SPLIT_INDEX(%s, ' ', 0)", "split_part(%s, ' ', 1)"),
    ("CHAR_LENGTH(%s)", "length(%s)"),
    ("TO_BASE64(%s)", "to_base64(encode(%s))"),
    ("LOCATE('a', %s)", "CAST(strpos(%s, 'a') AS BIGINT)"),
    # Flink/Spark REGEXP_REPLACE replaces ALL matches; DuckDB's default
    # replaces only the FIRST — the oracle needs the 'g' flag
    ("REGEXP_REPLACE(%s, '[aeiou]', '#')",
     "regexp_replace(%s, '[aeiou]', '#', 'g')"),
]

# numeric Flink↔DuckDB spellings, filled with a double column
FLINK_NUMERIC_PAIRS: list[tuple[str, str]] = [
    ("TRUNCATE(%s, 0)", "trunc(%s)"),
    ("TRUNCATE(%s * 1e1, 0)", "trunc(%s * 1e1)"),
]


class Gen:
    """Seeded query generator. Every method consumes randomness from
    the one Random instance, so a seed pins the whole battery."""

    def __init__(self, seed: int, only: tuple[str, ...] = ()):
        self.rng = random.Random(seed)
        self.only = tuple(only)

    # ------------------------------------------------------ primitives

    def table(self) -> str:
        return self.rng.choice(list(TABLES))

    def int_col(self, t: str) -> str:
        return self.rng.choice(TABLES[t]["ints"])

    def str_col(self, t: str) -> str | None:
        cols = TABLES[t]["strs"]
        return self.rng.choice(cols) if cols else None

    def dbl_col(self, t: str) -> str | None:
        cols = TABLES[t]["doubles"]
        return self.rng.choice(cols) if cols else None

    def pk_order(self, t: str, prefix: str = "") -> str:
        return ", ".join(prefix + c for c in TABLES[t]["pk"])

    def pred(self, t: str, prefix: str = "") -> str:
        """Data-independent deterministic predicate, ~30-80% selective."""
        r = self.rng
        kind = r.randrange(6)
        if kind == 0:
            c = prefix + self.int_col(t)
            k = r.choice([2, 3, 5, 7])
            keep = r.sample(range(k), max(1, k // 2))
            return f"{c} % {k} IN ({', '.join(map(str, sorted(keep)))})"
        if kind == 1:
            c = prefix + self.int_col(t)
            k = r.choice([3, 4, 5])
            return f"{c} % {k} <> {r.randrange(k)}"
        if kind == 2:
            sc = self.str_col(t)
            if sc is None:
                return self.pred(t, prefix)
            return f"length({prefix}{sc}) % 2 = {r.randrange(2)}"
        if kind == 3:
            sc = self.str_col(t)
            if sc is None:
                return self.pred(t, prefix)
            letters = r.sample("abcdefghijklmnopqrstuvwxyz0123456789", 13)
            quoted = ", ".join(f"'{x}'" for x in sorted(letters))
            return f"substring(lower({prefix}{sc}), 1, 1) IN ({quoted})"
        if kind == 4:
            dc = self.dbl_col(t)
            if dc is None:
                return self.pred(t, prefix)
            # per-row double compare vs an exponent-form literal: the
            # same stored double compares identically in both engines
            return f"{prefix}{dc} {r.choice(['<', '>='])} {r.choice(['1e1', '5e2', '1e4'])}"
        # conjunction / disjunction
        a, b = self.pred(t, prefix), self.pred(t, prefix)
        return f"({a} {r.choice(['AND', 'OR'])} {b})"

    def group_expr(self, t: str, prefix: str = "") -> tuple[str, str]:
        """(expr, alias) for a GROUP BY key."""
        r = self.rng
        if TABLES[t]["strs"] and r.random() < 0.5:
            return prefix + self.str_col(t), "g_s"
        return f"{prefix}{self.int_col(t)} % {r.choice([3, 5, 7, 11])}", "g_i"

    def aggs(self, t: str, prefix: str = "") -> list[str]:
        """1-4 aggregate select items, all order-independent by
        construction (dtype-law: BIGINT or exact-unit DOUBLE)."""
        r = self.rng
        out = ["count(*) AS cnt"]
        pool = []
        ic = self.int_col(t)
        pool.append(f"count(DISTINCT {prefix}{ic}) AS ndv")
        pool.append(f"CAST(min({prefix}{ic}) AS BIGINT) AS mn_i")
        pool.append(f"CAST(max({prefix}{ic}) AS BIGINT) AS mx_i")
        pool.append(f"CAST(sum({prefix}{ic}) AS BIGINT) AS s_i")
        dc = self.dbl_col(t)
        if dc:
            # integer-units sum: exact regardless of accumulation order
            pool.append(
                f"CAST(sum(CAST(round({prefix}{dc} * 1e2) AS BIGINT)) "
                f"AS BIGINT) AS s_units"
            )
            pool.append(f"CAST(min({prefix}{dc}) AS DOUBLE) AS mn_d")
            pool.append(f"CAST(max({prefix}{dc}) AS DOUBLE) AS mx_d")
        for item in r.sample(pool, r.randint(1, min(3, len(pool)))):
            out.append(item)
        return out

    # ------------------------------------------------------ query shapes

    def q_filter_project(self) -> tuple[str, str]:
        """SELECT scalar exprs FROM t WHERE pred ORDER BY pk LIMIT k —
        the scalar battery; exercises expression rewriting + pushdown."""
        r = self.rng
        t = self.table()
        items = [f"{c} AS pk{i}" for i, c in enumerate(TABLES[t]["pk"])]
        sc, ic = self.str_col(t), self.int_col(t)
        dc = self.dbl_col(t)
        spark_items, duck_items = list(items), list(items)
        if sc:
            shared = r.sample(
                [
                    f"upper({sc}) AS u_s",
                    f"substring({sc}, 2, 3) AS sub_s",
                    f"concat({sc}, '_x') AS cat_s",
                    f"replace({sc}, 'a', '#') AS rep_s",
                    f"trim({sc}) AS trim_s",
                    f"coalesce(nullif({sc}, 'zz'), 'dflt') AS nn_s",
                    f"lpad({sc}, 12, '.') AS lp_s",
                    f"reverse({sc}) AS rv_s",
                    f"CAST(position('a' IN {sc}) AS BIGINT) AS pos_a",
                ],
                2,
            )
            spark_items += shared
            duck_items += shared
            if r.random() < 0.6:
                fl, du = r.choice(FLINK_SCALAR_PAIRS)
                spark_items.append((fl % sc) + " AS fx")
                duck_items.append((du % sc) + " AS fx")
        arith = r.choice(
            [
                f"{ic} % 97 AS m_i",
                f"({ic} + 7) * 3 AS a_i",
                f"CASE WHEN {ic} % 2 = 0 THEN 'even' ELSE 'odd' END AS par",
                f"abs({ic} - 50) AS ab_i",
            ]
        )
        spark_items.append(arith)
        duck_items.append(arith)
        if dc and r.random() < 0.5:
            # round ON the product's decimal grid (2-dec money × 2-dec
            # multiplier = 4 decimals): rounding to FEWER digits sits on
            # the half-step and flips between engines' rounding modes —
            # the exact class the registry's money() rule bans (soak
            # seed 5000 caught round(x*1.05, 2): 950.565 → .56 vs .57)
            d = f"round({dc} * (1e0 + {r.randrange(1, 9)}e-2), 4) AS d_x"
            spark_items.append(d)
            duck_items.append(d)
        if dc and r.random() < 0.4:
            fl, du = r.choice(FLINK_NUMERIC_PAIRS)
            spark_items.append((fl % dc) + " AS fnx")
            duck_items.append((du % dc) + " AS fnx")
        if TABLES[t]["ts"] and r.random() < 0.5:
            tc = TABLES[t]["ts"][0]
            # date_trunc dtype family diverges bare (DuckDB returns
            # DATE, Spark TIMESTAMP) — the oracle discipline's explicit
            # CAST pins both sides to DATE (driver-hash dtype law)
            shared = r.choice(
                [
                    f"EXTRACT(YEAR FROM {tc}) AS y",
                    f"EXTRACT(MONTH FROM {tc}) AS mo",
                    f"CAST(date_trunc('month', {tc}) AS DATE) AS mth",
                ]
            )
            spark_items.append(shared)
            duck_items.append(shared)
        where = self.pred(t)
        tail = f"FROM {t} WHERE {where} ORDER BY {self.pk_order(t)} LIMIT {r.choice([7, 20, 50])}"
        return (
            f"SELECT {', '.join(spark_items)} {tail}",
            f"SELECT {', '.join(duck_items)} {tail}",
        )

    def q_group_agg(self) -> tuple[str, str]:
        r = self.rng
        t = self.table()
        gexpr, galias = self.group_expr(t)
        aggs = self.aggs(t)
        having = ""
        if r.random() < 0.4:
            having = f" HAVING count(*) > {r.choice([1, 3, 10])}"
        sql = (
            f"SELECT {gexpr} AS {galias}, {', '.join(aggs)} "
            f"FROM {t} WHERE {self.pred(t)} "
            f"GROUP BY {gexpr}{having}"
        )
        return sql, sql

    def q_grouping_sets(self) -> tuple[str, str]:
        """FOUND BY THIS HARNESS (r10, seed 20260815 q 008/027): over an
        EMPTY filtered input, DuckDB follows ANSI and emits the
        grand-total grouping-set row (count=0), while BOTH Spark and the
        reference return no rows — Flink lowers grouping sets through
        DecomposeGroupingSetsRule into Expand + one aggregate over
        (keys, $e marker) (flink-table-planner .../logical/
        DecomposeGroupingSetsRule.scala:159), and an Expand over zero
        rows yields zero groups, exactly like Spark's Expand.  The
        engine is reference-correct; the DuckDB side carries a
        `HAVING count(*) > 0` equalizer (a no-op on every group that
        can exist in Flink/Spark semantics, since a group only forms
        from ≥1 input row)."""
        r = self.rng
        t = self.table()
        if not TABLES[t]["strs"]:
            t = "customer"
        a = self.str_col(t)
        b = f"{self.int_col(t)} % {r.choice([3, 5])}"
        form = r.choice(
            [
                f"GROUPING SETS (({a}), ({b}), ())",
                f"ROLLUP({a}, {b})",
                f"CUBE({a}, {b})",
            ]
        )
        body = (
            f"SELECT {a} AS g_s, {b} AS g_i, "
            f"CAST(GROUPING({a}) AS BIGINT) AS gf, count(*) AS cnt "
            f"FROM {t} WHERE {self.pred(t)} GROUP BY {form}"
        )
        return body, body + " HAVING count(*) > 0"

    def q_join_agg(self) -> tuple[str, str]:
        r = self.rng
        fact, dim, on = r.choice(JOINS)
        jt = r.choice(["JOIN", "LEFT JOIN", "JOIN", "JOIN"])
        gexpr, galias = self.group_expr(dim)
        aggs = self.aggs(fact)
        where = f" WHERE {self.pred(fact)}" if r.random() < 0.7 else ""
        sql = (
            f"SELECT {gexpr} AS {galias}, {', '.join(aggs)} "
            f"FROM {fact} {jt} {dim} ON {on}{where} "
            f"GROUP BY {gexpr}"
        )
        return sql, sql

    def q_setop(self) -> tuple[str, str]:
        r = self.rng
        op = r.choice(
            ["UNION", "UNION ALL", "INTERSECT", "EXCEPT",
             "INTERSECT ALL", "EXCEPT ALL"]
        )
        ta, tb = r.choice(
            [("customer", "supplier"), ("lineitem", "orders"),
             ("customer", "customer"), ("nation", "region")]
        )
        if tb == "region":
            ka, kb = "n_regionkey", "r_regionkey"
        else:
            ka, kb = self.int_col(ta), self.int_col(tb)
        k = r.choice([5, 7, 11])
        sql = (
            f"SELECT {ka} % {k} AS k FROM {ta} WHERE {self.pred(ta)} "
            f"{op} "
            f"SELECT {kb} % {k} AS k FROM {tb} WHERE {self.pred(tb)}"
        )
        return sql, sql

    def q_subquery(self) -> tuple[str, str]:
        r = self.rng
        fact, dim, on = r.choice(JOINS)
        fk, pk = (s.strip() for s in on.split("="))
        kind = r.randrange(3)
        if kind == 0:
            sql = (
                f"SELECT count(*) AS cnt FROM {fact} "
                f"WHERE {fk} IN (SELECT {pk} FROM {dim} WHERE {self.pred(dim)})"
            )
        elif kind == 1:
            sql = (
                f"SELECT count(*) AS cnt FROM {fact} "
                f"WHERE {fk} NOT IN (SELECT {pk} FROM {dim} WHERE {self.pred(dim)})"
            )
        else:
            sql = (
                f"SELECT count(*) AS cnt FROM {fact} f "
                f"WHERE EXISTS (SELECT 1 FROM {dim} d "
                f"WHERE d.{pk} = f.{fk} AND {self.pred(dim, 'd.')})"
            )
        return sql, sql

    def q_window(self) -> tuple[str, str]:
        """ROW_NUMBER topn / rank / running sum — totally ordered."""
        r = self.rng
        t = self.table()
        gexpr, _ = self.group_expr(t)
        order = self.pk_order(t)
        kind = r.randrange(3)
        if kind == 0:
            k = r.choice([2, 3, 5])
            sql = (
                f"SELECT * FROM (SELECT {gexpr} AS g, {self.pk_order(t)}, "
                f"row_number() OVER (PARTITION BY {gexpr} ORDER BY {order}) AS rn "
                f"FROM {t} WHERE {self.pred(t)}) x WHERE rn <= {k}"
            )
        elif kind == 1:
            ic = self.int_col(t)
            sql = (
                f"SELECT {gexpr} AS g, {ic} AS v, "
                f"CAST(rank() OVER (PARTITION BY {gexpr} ORDER BY {ic}) AS BIGINT) AS rk, "
                f"CAST(dense_rank() OVER (PARTITION BY {gexpr} ORDER BY {ic}) AS BIGINT) AS drk "
                f"FROM {t} WHERE {self.pred(t)}"
            )
        else:
            ic = self.int_col(t)
            sql = (
                f"SELECT {self.pk_order(t)}, "
                f"CAST(sum({ic}) OVER (PARTITION BY {gexpr} ORDER BY {order} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rs "
                f"FROM {t} WHERE {self.pred(t)}"
            )
        return sql, sql

    def q_cte(self) -> tuple[str, str]:
        """WITH wrapper around a generated agg — exercises the CTE
        handling the r9 self-review kept finding edge cases in.
        Sometimes chained (a second CTE reading the first) and sometimes
        with a comment between the CTEs."""
        r = self.rng
        inner_s, inner_d = self.q_group_agg()
        name = r.choice(["q", "base", "agg_src", "c"])
        if r.random() < 0.4:
            cmt = r.choice(["", " -- staged\n", " /* staged */ "])
            outer = (
                f", second AS (SELECT * FROM {name} "
                f"WHERE cnt > {r.choice([0, 2])})"
                f"{cmt}SELECT * FROM second"
            )
        else:
            outer = f" SELECT * FROM {name} WHERE cnt > {r.choice([0, 2, 5])}"
        return (
            f"WITH {name} AS ({inner_s}){outer}",
            f"WITH {name} AS ({inner_d}){outer}",
        )

    def q_having_hidden_agg(self) -> tuple[str, str]:
        """HAVING on an aggregate that is NOT in the SELECT list."""
        r = self.rng
        t = self.table()
        gexpr, galias = self.group_expr(t)
        ic = self.int_col(t)
        sql = (
            f"SELECT {gexpr} AS {galias}, count(*) AS cnt FROM {t} "
            f"WHERE {self.pred(t)} GROUP BY {gexpr} "
            f"HAVING CAST(sum({ic}) AS BIGINT) > {r.choice([100, 1000])} "
            f"AND min({ic}) >= 0"
        )
        return sql, sql

    def q_scalar_subquery(self) -> tuple[str, str]:
        """Correlated scalar subquery in the SELECT list."""
        r = self.rng
        fact, dim, on = r.choice(JOINS)
        fk, pk = (s.strip() for s in on.split("="))
        sql = (
            f"SELECT {pk} AS k, "
            f"(SELECT count(*) FROM {fact} f WHERE f.{fk} = d.{pk}) AS n "
            f"FROM {dim} d WHERE {self.pred(dim)} "
            f"ORDER BY {pk} LIMIT {r.choice([10, 25])}"
        )
        return sql, sql

    def q_derived_table(self) -> tuple[str, str]:
        """Aggregate over a derived table (subquery in FROM) that is
        itself a union of two filtered branches."""
        r = self.rng
        t = self.table()
        ic = self.int_col(t)
        k = r.choice([5, 7])
        sql = (
            f"SELECT k, count(*) AS cnt, CAST(sum(v) AS BIGINT) AS s FROM ("
            f"SELECT {ic} % {k} AS k, {ic} AS v FROM {t} WHERE {self.pred(t)} "
            f"UNION ALL "
            f"SELECT {ic} % {k} AS k, {ic} AS v FROM {t} WHERE {self.pred(t)}"
            f") u GROUP BY k"
        )
        return sql, sql

    def q_null_order_limit(self) -> tuple[str, str]:
        """Explicit NULLS FIRST/LAST under LIMIT over a rollup output —
        engine DEFAULTS differ (Spark: NULLS FIRST asc; DuckDB: NULLS
        LAST), so the dialect surface must carry the explicit form
        through; the grand-total NULL row makes the ordering observable.
        Tie-broken on every column so the LIMIT cut is total."""
        r = self.rng
        t = self.table()
        if not TABLES[t]["strs"]:
            t = "customer"
        a = self.str_col(t)
        dirn = r.choice(["ASC NULLS FIRST", "ASC NULLS LAST",
                         "DESC NULLS FIRST", "DESC NULLS LAST"])
        body = (
            f"SELECT {a} AS g, count(*) AS cnt FROM {t} "
            f"WHERE {self.pred(t)} GROUP BY ROLLUP({a})"
        )
        tail = f" ORDER BY g {dirn}, cnt LIMIT {r.choice([3, 5])}"
        # the q_grouping_sets empty-input equalizer (reference/Spark
        # emit no grand-total row over empty input; DuckDB does)
        return body + tail, body + " HAVING count(*) > 0" + tail

    def q_lead_lag(self) -> tuple[str, str]:
        """lead/lag with explicit defaults over a total order."""
        r = self.rng
        t = self.table()
        ic = self.int_col(t)
        order = self.pk_order(t)
        gexpr, _ = self.group_expr(t)
        sql = (
            f"SELECT {order}, "
            f"CAST(lag({ic}, 1, -1) OVER (PARTITION BY {gexpr} "
            f"ORDER BY {order}) AS BIGINT) AS prev_v, "
            f"CAST(lead({ic}, 2, 0) OVER (PARTITION BY {gexpr} "
            f"ORDER BY {order}) AS BIGINT) AS next_v "
            f"FROM {t} WHERE {self.pred(t)}"
        )
        return sql, sql

    def q_interval_json(self) -> tuple[str, str]:
        """Timestamp interval arithmetic (dialect-shared INTERVAL n UNIT
        form) + a JSON scalar probe with per-engine spellings."""
        r = self.rng
        n, unit = r.choice([(1, "HOUR"), (3, "DAY"), (30, "MINUTE")])
        sql_s = (
            f"SELECT event_id AS pk0, ts + INTERVAL '{n}' {unit} AS ts2, "
            f"EXTRACT(HOUR FROM ts) AS h, "
            f"CAST(JSON_VALUE(props, '$.k') AS BIGINT) AS jk "
            f"FROM events WHERE {self.pred('events')} "
            f"ORDER BY event_id LIMIT 25"
        )
        sql_d = sql_s.replace(
            "CAST(JSON_VALUE(props, '$.k') AS BIGINT)",
            "CAST(json_extract_string(props, '$.k') AS BIGINT)",
        )
        return sql_s, sql_d

    def q_hop_tvf(self) -> tuple[str, str]:
        """Flink HOP window TVF vs a generate_series time_bucket oracle
        (the wtvf_hop registry-oracle pattern)."""
        r = self.rng
        slide_n, slide_u, size_n, size_u, duck_slide, shifts = r.choice(
            [("15", "MINUTES", "1", "HOUR", "15 minutes", 4),
             ("30", "MINUTES", "1", "HOUR", "30 minutes", 2),
             ("1", "HOUR", "2", "HOURS", "1 hour", 2)]
        )
        spark_sql = (
            f"SELECT window_start, count(*) AS cnt "
            f"FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), "
            f"INTERVAL '{slide_n}' {slide_u}, INTERVAL '{size_n}' {size_u})) "
            f"GROUP BY window_start, window_end"
        )
        duck_sql = (
            f"SELECT time_bucket(INTERVAL '{duck_slide}', ts) "
            f"- k.k * INTERVAL '{duck_slide}' AS window_start, "
            f"count(*) AS cnt "
            f"FROM events, generate_series(0, {shifts - 1}) k(k) "
            f"GROUP BY 1"
        )
        return spark_sql, duck_sql

    def q_window_tvf(self) -> tuple[str, str]:
        """Flink window TVFs / legacy group windows vs a hand-mapped
        time_bucket oracle — the dialect-divergent shape."""
        r = self.rng
        size_n, size_u, duck_iv = r.choice(
            [("1", "HOUR", "1 hour"), ("30", "MINUTES", "30 minutes"),
             ("2", "HOURS", "2 hours"), ("1", "DAY", "1 day")]
        )
        legacy = r.random() < 0.4
        gcol = r.choice(["event_type", "user_id % 5"])
        galias = "g"
        if legacy:
            spark_sql = (
                f"SELECT TUMBLE_START(ts, INTERVAL '{size_n}' {size_u}) AS window_start, "
                f"{gcol} AS {galias}, count(*) AS cnt "
                f"FROM events "
                f"GROUP BY TUMBLE(ts, INTERVAL '{size_n}' {size_u}), {gcol}"
            )
        else:
            spark_sql = (
                f"SELECT window_start, {gcol} AS {galias}, count(*) AS cnt "
                f"FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), "
                f"INTERVAL '{size_n}' {size_u})) "
                f"GROUP BY window_start, window_end, {gcol}"
            )
        duck_sql = (
            f"SELECT time_bucket(INTERVAL '{duck_iv}', ts) AS window_start, "
            f"{gcol} AS {galias}, count(*) AS cnt "
            f"FROM events GROUP BY 1, 2"
        )
        return spark_sql, duck_sql

    def q_cumulate_tvf(self) -> tuple[str, str]:
        """Flink CUMULATE window TVF vs a generate_series expanding-
        window oracle (the wtvf_cumulate registry-oracle pattern)."""
        r = self.rng
        step_n, step_u, max_n, max_u, duck_step, duck_max, k = r.choice(
            [("15", "MINUTES", "1", "HOUR", "15 minutes", "1 hour", 4),
             ("30", "MINUTES", "2", "HOURS", "30 minutes", "2 hours", 4),
             ("1", "HOUR", "2", "HOURS", "1 hour", "2 hours", 2)]
        )
        spark_sql = (
            f"SELECT window_start, window_end, count(*) AS cnt "
            f"FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), "
            f"INTERVAL '{step_n}' {step_u}, INTERVAL '{max_n}' {max_u})) "
            f"GROUP BY window_start, window_end"
        )
        duck_sql = (
            f"SELECT time_bucket(INTERVAL '{duck_max}', ts) AS window_start, "
            f"time_bucket(INTERVAL '{duck_max}', ts) "
            f"+ k.k * INTERVAL '{duck_step}' AS window_end, "
            f"count(*) AS cnt "
            f"FROM events, generate_series(1, {k}) k(k) "
            f"WHERE ts < time_bucket(INTERVAL '{duck_max}', ts) "
            f"+ k.k * INTERVAL '{duck_step}' "
            f"GROUP BY 1, 2"
        )
        return spark_sql, duck_sql

    def q_session_tvf(self) -> tuple[str, str]:
        """Flink SESSION window TVF (keyed, dynamic gap) vs a
        gaps-and-islands oracle (the wtvf_session pattern).  Both OVER
        clauses carry the event_id tiebreak (review finding: ts alone
        is not a total order by the module's own rule — today's fixture
        has unique ts per key, but relying on that is the exact
        assumption class the lineitem soak flap came from; the engine's
        own SESSION lowering pins tie order with a same-window
        row_number for the same reason)."""
        r = self.rng
        gap = r.choice(["5", "10", "20"])
        key = r.choice(["user_id", "event_type"])
        spark_sql = (
            f"SELECT {key} AS g, window_start, count(*) AS cnt "
            f"FROM TABLE(SESSION(TABLE events PARTITION BY {key}, "
            f"DESCRIPTOR(ts), INTERVAL '{gap}' MINUTES)) "
            f"GROUP BY {key}, window_start, window_end"
        )
        duck_sql = (
            f"WITH flagged AS ("
            f"SELECT {key} AS g, ts, event_id, "
            f"CASE WHEN lag(ts) OVER w IS NULL "
            f"OR ts - lag(ts) OVER w > INTERVAL '{gap} minutes' "
            f"THEN 1 ELSE 0 END AS new_s "
            f"FROM events WINDOW w AS "
            f"(PARTITION BY {key} ORDER BY ts, event_id)"
            f"), sess AS ("
            f"SELECT *, sum(new_s) OVER (PARTITION BY g ORDER BY ts, "
            f"event_id ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) "
            f"SELECT g, min(ts) AS window_start, count(*) AS cnt "
            f"FROM sess GROUP BY g, sid"
        )
        return spark_sql, duck_sql

    # ---------------------------------------------- r11 grammar growth

    def q_unnest_lateral(self) -> tuple[str, str]:
        """Flink CROSS JOIN UNNEST over an inline ARRAY[...] (lowered
        onto LATERAL VIEW explode) vs DuckDB's SELECT-list unnest
        (VERDICT r10 task 4).  The aggregated variant groups by the
        exploded value so fanout bugs change values, not just counts."""
        r = self.rng
        t = self.table()
        ic = self.int_col(t)
        id_col = TABLES[t]["ints"][0]
        k1, k2 = r.choice([3, 5, 7]), r.choice([11, 13])
        arr = f"ARRAY[{ic} % {k1}, {ic} % {k2}, {ic} % {k1} + {ic} % {k2}]"
        pred = self.pred(t)
        if r.random() < 0.5:
            spark_sql = (
                f"SELECT {id_col} AS id, ux FROM {t} "
                f"CROSS JOIN UNNEST({arr}) AS u(ux) WHERE {pred}"
            )
            duck_sql = (
                f"SELECT {id_col} AS id, unnest({arr}) AS ux "
                f"FROM {t} WHERE {pred}"
            )
        else:
            spark_sql = (
                f"SELECT ux, count(*) AS cnt, "
                f"SUM(CAST({ic} % 97 AS BIGINT)) AS s FROM {t} "
                f"CROSS JOIN UNNEST({arr}) AS u(ux) WHERE {pred} "
                f"GROUP BY ux"
            )
            duck_sql = (
                f"WITH e AS (SELECT {ic} AS i, unnest({arr}) AS ux "
                f"FROM {t} WHERE {pred}) "
                f"SELECT ux, count(*) AS cnt, "
                f"SUM(CAST(i % 97 AS BIGINT)) AS s FROM e GROUP BY ux"
            )
        return spark_sql, duck_sql

    def q_stringagg(self) -> tuple[str, str]:
        """LISTAGG / JSON_OBJECTAGG through executeSql vs DuckDB string
        aggregation.  Both Flink aggregates are input-order-defined (no
        ORDER BY clause exists), so the comparison projects ORDER-
        INVARIANT functions — CHAR_LENGTH of the aggregate (same element
        multiset => same total length) plus the group count.  The
        JSON_OBJECTAGG branch keys by a per-table UNIQUE id (single-col-
        pk tables only): duplicate keys would go through the session's
        LAST_WIN map policy, which IS order-dependent."""
        r = self.rng
        if r.random() < 0.5:
            t = self.table()
            sc = self.str_col(t)
            if sc is None:
                t, sc = "customer", "c_mktsegment"
            g = self.int_col(t)
            sep = r.choice([",", "|", ";"])
            mod = r.choice([4, 6, 8])
            pred = self.pred(t)
            spark_sql = (
                f"SELECT {g} % {mod} AS g, "
                f"CHAR_LENGTH(LISTAGG({sc}, '{sep}')) AS agg_len, "
                f"count(*) AS cnt FROM {t} WHERE {pred} GROUP BY {g} % {mod}"
            )
            duck_sql = (
                f"SELECT {g} % {mod} AS g, "
                f"CAST(length(string_agg({sc}, '{sep}')) AS BIGINT) "
                f"AS agg_len, "
                f"count(*) AS cnt FROM {t} WHERE {pred} GROUP BY {g} % {mod}"
            )
            return spark_sql, duck_sql
        t = r.choice(["orders", "customer", "part", "supplier", "events"])
        pk = TABLES[t]["pk"][0]
        g = self.int_col(t)
        mod = r.choice([4, 6])
        pred = self.pred(t)
        spark_sql = (
            f"SELECT {g} % {mod} AS g, "
            f"CHAR_LENGTH(JSON_OBJECTAGG(KEY CAST({pk} AS STRING) "
            f"VALUE {pk} % 1000)) AS obj_len, "
            f"count(*) AS cnt FROM {t} WHERE {pred} GROUP BY {g} % {mod}"
        )
        duck_sql = (
            f"SELECT {g} % {mod} AS g, "
            f"CAST(length('{{' || string_agg('\"' || CAST({pk} AS VARCHAR) "
            f"|| '\":' || CAST({pk} % 1000 AS VARCHAR), ',') || '}}') "
            f"AS BIGINT) AS obj_len, "
            f"count(*) AS cnt FROM {t} WHERE {pred} GROUP BY {g} % {mod}"
        )
        return spark_sql, duck_sql

    def q_asof_join(self) -> tuple[str, str]:
        """`JOIN dim FOR SYSTEM_TIME AS OF fact.ts` (the batch
        temporal/as-of join lowering) vs DuckDB's NATIVE ASOF JOIN —
        both backward-INCLUSIVE (greatest version ts <= fact ts).  The
        versioned side is orders_v, the deduped snapshot run_battery
        materializes: the raw fixture has colliding
        (o_custkey, o_orderdate) pairs, and a tie at the matched
        version would make the attached payload engine-arbitrary."""
        r = self.rng
        k = r.choice([2, 3, 5])
        j = r.randrange(k)
        left = r.random() < 0.4
        jk = "LEFT JOIN" if left else "JOIN"
        dk = "ASOF LEFT JOIN" if left else "ASOF JOIN"
        spark_sql = (
            f"SELECT e.event_id AS eid, o.o_orderkey AS okey "
            f"FROM events e {jk} orders_v "
            f"FOR SYSTEM_TIME AS OF e.ts AS o "
            f"ON e.user_id = o.o_custkey WHERE e.event_id % {k} = {j}"
        )
        duck_sql = (
            f"SELECT e.event_id AS eid, o.o_orderkey AS okey "
            f"FROM events e {dk} orders_v o "
            f"ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate "
            f"WHERE e.event_id % {k} = {j}"
        )
        return spark_sql, duck_sql

    def q_match_recognize(self) -> tuple[str, str]:
        """A fixed-length MATCH_RECOGNIZE (PATTERN (A B C), AFTER MATCH
        SKIP TO NEXT ROW) vs a triple-lag DuckDB oracle — with SKIP TO
        NEXT ROW every position where the three consecutive rows satisfy
        the DEFINEs is a match, which is exactly the lag rewrite (the
        cep_vshape_iterative convention).  ORDER BY ts, event_id is a
        total order (event_id is the pk)."""
        r = self.rng
        t1 = r.choice(["click", "view", "signup"])
        t2 = r.choice(["error", "purchase"])
        x = r.choice([50, 100, 200])
        spark_sql = (
            f"SELECT user_id, a_id, b_id, c_id "
            f"FROM events MATCH_RECOGNIZE ("
            f"  PARTITION BY user_id ORDER BY ts, event_id"
            f"  MEASURES A.event_id AS a_id, B.event_id AS b_id, "
            f"C.event_id AS c_id"
            f"  ONE ROW PER MATCH"
            f"  AFTER MATCH SKIP TO NEXT ROW"
            f"  PATTERN (A B C)"
            f"  DEFINE A AS A.event_type = '{t1}', "
            f"B AS B.`value` > {x}, C AS C.event_type <> '{t2}'"
            f") AS m"
        )
        duck_sql = (
            f"WITH w AS (SELECT user_id, event_id, event_type, value, "
            f"lag(event_id, 2) OVER win AS a_id, "
            f"lag(event_type, 2) OVER win AS a_type, "
            f"lag(event_id, 1) OVER win AS b_id, "
            f"lag(value, 1) OVER win AS b_val "
            f"FROM events WINDOW win AS "
            f"(PARTITION BY user_id ORDER BY ts, event_id)) "
            f"SELECT user_id, a_id, b_id, event_id AS c_id FROM w "
            f"WHERE a_type = '{t1}' AND b_val > {x} "
            f"AND event_type <> '{t2}'"
        )
        return spark_sql, duck_sql

    def q_agg_filter(self) -> tuple[str, str]:
        """Aggregates with the ANSI FILTER (WHERE ...) clause — the
        form Flink documents for split-distinct workloads
        (FlinkLogicalAggregate supports per-agg filters); dialect-shared
        text (Spark and DuckDB both speak it)."""
        r = self.rng
        t = self.table()
        gexpr, galias = self.group_expr(t)
        ic = self.int_col(t)
        p1, p2 = self.pred(t), self.pred(t)
        items = [
            "count(*) AS cnt",
            f"count(*) FILTER (WHERE {p1}) AS cf",
            f"CAST(sum({ic}) FILTER (WHERE {p2}) AS BIGINT) AS sf",
            f"CAST(min({ic}) FILTER (WHERE {p1}) AS BIGINT) AS mf",
        ]
        if r.random() < 0.5:
            items.append(
                f"count(DISTINCT {ic}) FILTER (WHERE {p2}) AS df"
            )
        sql = (
            f"SELECT {gexpr} AS {galias}, {', '.join(items)} "
            f"FROM {t} GROUP BY {gexpr}"
        )
        return sql, sql

    def q_outer_join_full(self) -> tuple[str, str]:
        """FULL (or RIGHT) OUTER join over independently filtered
        derived sides — each side's predicate manufactures unmatched
        rows, so BOTH null-extension directions actually fire; grouped
        on COALESCE'd keys so the null-extended groups are stable.
        (The join_agg shape only reaches inner/left.)"""
        r = self.rng
        fact, dim, on = r.choice(JOINS)
        fk, pk = (x.strip() for x in on.split("="))
        jt = r.choice(["FULL JOIN", "FULL JOIN", "RIGHT JOIN"])
        gk = f"coalesce(f.{fk}, -1) % {r.choice([5, 7, 11])}"
        sql = (
            f"SELECT {gk} AS gk, "
            f"count(*) AS cnt, count(f.{fk}) AS n_f, "
            f"count(d.{pk}) AS n_d "
            f"FROM (SELECT * FROM {fact} WHERE {self.pred(fact)}) f "
            f"{jt} (SELECT * FROM {dim} WHERE {self.pred(dim)}) d "
            f"ON f.{fk} = d.{pk} "
            f"GROUP BY {gk}"
        )
        return sql, sql

    def q_distinct_agg_mix(self) -> tuple[str, str]:
        """Several DISTINCT aggregates beside plain ones in one SELECT —
        Spark plans this through Expand (one projection per distinct
        group), the same decomposition Flink's SplitAggregateRule
        targets; values are exact (BIGINT domain) so order never
        matters."""
        r = self.rng
        t = self.table()
        gexpr, galias = self.group_expr(t)
        i1, i2 = self.int_col(t), self.int_col(t)
        items = [
            "count(*) AS cnt",
            f"count(DISTINCT {i1}) AS nd1",
            f"CAST(sum(DISTINCT {i2}) AS BIGINT) AS sd2",
            f"CAST(sum({i1}) AS BIGINT) AS s1",
        ]
        if r.random() < 0.5:
            items.append(f"count(DISTINCT {i2} % 7) AS nd3")
        sql = (
            f"SELECT {gexpr} AS {galias}, {', '.join(items)} "
            f"FROM {t} WHERE {self.pred(t)} GROUP BY {gexpr}"
        )
        return sql, sql

    def q_temporal_diff(self) -> tuple[str, str]:
        """TIMESTAMPDIFF / temporal arithmetic battery over a ts table.
        TIMESTAMPDIFF counts COMPLETE units (ChronoUnit semantics —
        Flink's BuiltInFunctionDefinitions.TIMESTAMP_DIFF, and Spark's
        native timestampdiff), while DuckDB's date_diff counts boundary
        CROSSINGS — so the oracle is the epoch floor, not date_diff.
        The anchor predates every fixture timestamp, keeping diffs
        positive (floor == complete-unit truncation only for
        non-negative spans)."""
        r = self.rng
        t = r.choice([tt for tt in TABLES if TABLES[tt]["ts"]])
        tc = TABLES[t]["ts"][0]
        unit, secs = r.choice([("DAY", 86400), ("HOUR", 3600),
                               ("MINUTE", 60)])
        anchor = "TIMESTAMP '1990-01-06 03:04:05'"
        items_s = [
            f"TIMESTAMPDIFF({unit}, {anchor}, {tc}) AS td",
            f"CAST({tc} + INTERVAL '3' DAY AS TIMESTAMP) AS plus3",
            f"EXTRACT(DAY FROM {tc}) AS dd",
        ]
        items_d = [
            f"CAST(floor((epoch({tc}) - epoch({anchor})) / {secs}) "
            f"AS BIGINT) AS td",
            f"CAST({tc} + INTERVAL '3' DAY AS TIMESTAMP) AS plus3",
            f"EXTRACT(DAY FROM {tc}) AS dd",
        ]
        pk = self.pk_order(t)
        tail = (
            f"FROM {t} WHERE {self.pred(t)} ORDER BY {pk} "
            f"LIMIT {r.choice([10, 30])}"
        )
        return (
            f"SELECT {pk}, {', '.join(items_s)} {tail}",
            f"SELECT {pk}, {', '.join(items_d)} {tail}",
        )

    def q_nested_setop(self) -> tuple[str, str]:
        """Parenthesized nested set operations — (A op B) op C —
        exercising set-op precedence/associativity in both parsers;
        dialect-shared text."""
        r = self.rng
        inner = r.choice(["UNION ALL", "UNION", "EXCEPT"])
        outer = r.choice(["INTERSECT", "EXCEPT", "UNION"])
        k = r.choice([5, 7])
        parts = []
        for t in (r.choice(["customer", "supplier"]),
                  r.choice(["orders", "customer"]), "nation"):
            kc = self.int_col(t)
            parts.append(
                f"SELECT {kc} % {k} AS k FROM {t} WHERE {self.pred(t)}"
            )
        sql = (
            f"({parts[0]} {inner} {parts[1]}) {outer} {parts[2]}"
        )
        return sql, sql

    def q_case_nest(self) -> tuple[str, str]:
        """Nested CASE / COALESCE / NULLIF expression battery —
        expression-tree depth the flat scalar shape never reaches;
        dialect-shared text."""
        r = self.rng
        t = self.table()
        ic1, ic2 = self.int_col(t), self.int_col(t)
        k1, k2 = r.choice([3, 5]), r.choice([4, 7])
        expr = (
            f"CASE WHEN {ic1} % {k1} = 0 THEN "
            f"  CASE WHEN {ic2} % {k2} = 1 THEN 'a' "
            f"       WHEN {ic2} % {k2} = 2 THEN 'b' ELSE 'c' END "
            f"WHEN NULLIF({ic1} % {k1}, 1) IS NULL THEN 'n' "
            f"ELSE coalesce(NULLIF('z', 'z'), 'dflt') END"
        )
        num = (
            f"coalesce(NULLIF({ic1} % {k1}, 0), "
            f"CASE WHEN {ic2} % 2 = 0 THEN -1 ELSE -2 END)"
        )
        pk = self.pk_order(t)
        sql = (
            f"SELECT {pk}, {expr} AS c_s, CAST({num} AS BIGINT) AS c_i "
            f"FROM {t} WHERE {self.pred(t)} ORDER BY {pk} "
            f"LIMIT {r.choice([15, 40])}"
        )
        return sql, sql

    def q_having_subquery(self) -> tuple[str, str]:
        """HAVING compared against an uncorrelated scalar subquery —
        the aggregate-vs-global-aggregate shape (groups above the
        table-wide average); dialect-shared text."""
        r = self.rng
        t = r.choice(["lineitem", "orders", "customer", "part"])
        gexpr, galias = self.group_expr(t)
        ic = self.int_col(t)
        cmp_ = r.choice([">", ">=", "<"])
        sql = (
            f"SELECT {gexpr} AS {galias}, count(*) AS cnt, "
            f"CAST(sum({ic}) AS BIGINT) AS s "
            f"FROM {t} GROUP BY {gexpr} "
            f"HAVING count(*) {cmp_} "
            f"(SELECT count(*) / {r.choice([4, 8, 16])} FROM {t})"
        )
        return sql, sql

    def q_in_join(self) -> tuple[str, str]:
        """IN-subquery whose inner query is itself a JOIN — the
        decorrelation-over-join path; dialect-shared text."""
        r = self.rng
        fact, dim, on = r.choice(JOINS)
        fk = on.split("=")[0].strip()
        outer = r.choice([tt for tt in (fact, dim)])
        oc = self.int_col(outer)
        neg = "NOT " if r.random() < 0.3 else ""
        sql = (
            f"SELECT {self.pk_order(outer)} FROM {outer} "
            f"WHERE {oc} % 2 = 0 AND {self.int_col(outer)} {neg}IN ("
            f"  SELECT {fk} FROM {fact} JOIN {dim} ON {on} "
            f"  WHERE {self.pred(fact)}) "
            f"ORDER BY {self.pk_order(outer)} LIMIT {r.choice([20, 50])}"
        )
        return sql, sql

    def q_match_varlen(self) -> tuple[str, str]:
        """Variable-length MATCH_RECOGNIZE (PATTERN (A B+ C), greedy or
        reluctant, AFTER MATCH SKIP TO NEXT ROW) vs a run-length oracle:
        with strict contiguity, the B-run length starting after each
        A-anchor is (next non-B position) - (anchor + 1); greedy binds C
        at the FURTHEST in-run-or-adjacent position satisfying C
        (regex backtracking — max c_rn), reluctant at the NEAREST (min
        c_rn).  Every anchor reports independently under TO_NEXT_ROW,
        so no recursive chain replay is needed (contrast
        cep_error_burst's skip-past-last oracle)."""
        r = self.rng
        t1 = r.choice(["click", "view", "signup"])
        x = r.choice([50, 100, 200])
        t2 = r.choice(["error", "purchase"])
        greedy = r.random() < 0.5
        quant = "B+" if greedy else "B+?"
        pick = "max" if greedy else "min"
        spark_sql = (
            f"SELECT user_id, a_id, b_last, c_id "
            f"FROM events MATCH_RECOGNIZE ("
            f"  PARTITION BY user_id ORDER BY ts, event_id"
            f"  MEASURES A.event_id AS a_id, LAST(B.event_id) AS b_last, "
            f"C.event_id AS c_id"
            f"  ONE ROW PER MATCH"
            f"  AFTER MATCH SKIP TO NEXT ROW"
            f"  PATTERN (A {quant} C)"
            f"  DEFINE A AS A.event_type = '{t1}', "
            f"B AS B.`value` > {x}, C AS C.event_type = '{t2}'"
            f") AS m"
        )
        duck_sql = (
            f"WITH ordered AS ("
            f"  SELECT user_id, event_id, event_type, value,"
            f"    row_number() OVER (PARTITION BY user_id "
            f"ORDER BY ts, event_id) AS rn FROM events),\n"
            f"nb AS (SELECT user_id, rn,"
            f"  min(CASE WHEN NOT (value > {x}) THEN rn END) OVER ("
            f"    PARTITION BY user_id ORDER BY rn "
            f"ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_nb,"
            f"  max(rn) OVER (PARTITION BY user_id) AS nmax "
            f"FROM ordered),\n"
            f"anchors AS ("
            f"  SELECT o.user_id, o.rn AS p, o.event_id AS a_id,"
            f"    coalesce(n.next_nb, n.nmax + 1) - (o.rn + 1) AS brun "
            f"  FROM ordered o JOIN nb n "
            f"    ON n.user_id = o.user_id AND n.rn = o.rn + 1 "
            f"  WHERE o.event_type = '{t1}'),\n"
            f"cands AS ("
            f"  SELECT a.user_id, a.p, a.a_id, c.rn AS c_rn "
            f"  FROM anchors a JOIN ordered c ON c.user_id = a.user_id "
            f"   AND c.rn BETWEEN a.p + 2 AND a.p + 1 + a.brun "
            f"   AND c.event_type = '{t2}' "
            f"  WHERE a.brun >= 1),\n"
            f"pick AS (SELECT user_id, p, a_id, {pick}(c_rn) AS c_rn "
            f"FROM cands GROUP BY user_id, p, a_id)\n"
            f"SELECT k.user_id, k.a_id, b.event_id AS b_last, "
            f"c.event_id AS c_id FROM pick k "
            f"JOIN ordered b ON b.user_id = k.user_id "
            f"AND b.rn = k.c_rn - 1 "
            f"JOIN ordered c ON c.user_id = k.user_id AND c.rn = k.c_rn"
        )
        return spark_sql, duck_sql

    def q_over_range_interval(self) -> tuple[str, str]:
        """Event-time RANGE INTERVAL frame over-aggregation (Flink's
        RANGE BETWEEN INTERVAL ... PRECEDING over a rowtime —
        over-agg.md): value-based frames include ALL ts-peers, so the
        result is deterministic without a pk tiebreak.  Same frame in
        DuckDB, dialect-differing interval spelling."""
        r = self.rng
        secs = r.choice([300, 900, 3600])
        both = (
            "SELECT event_id, user_id, "
            "CAST(count(*) OVER w AS BIGINT) AS wcnt, "
            "round(sum(`value`) OVER w, 4) AS wsum "
            "FROM events WHERE {pred} "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts "
            "RANGE BETWEEN {iv} PRECEDING AND CURRENT ROW)"
        )
        pred = self.pred("events")
        spark_sql = both.format(
            pred=pred, iv=f"INTERVAL '{secs}' SECOND"
        ).replace("`value`", "`value`")
        duck_sql = both.format(
            pred=pred, iv=f"INTERVAL {secs} SECONDS"
        ).replace("`value`", "value")
        return spark_sql, duck_sql

    def q_exists_setop(self) -> tuple[str, str]:
        """Correlated [NOT] EXISTS whose subquery wraps a SET OPERATION
        — the decorrelation path has to pull the correlation above the
        set op; dialect-shared text."""
        r = self.rng
        op = r.choice(["UNION", "INTERSECT", "EXCEPT"])
        neg = "NOT " if r.random() < 0.4 else ""
        x = r.choice([1000, 5000, 20000])
        bal = r.choice([0, 1000, 5000])
        sql = (
            f"SELECT c_custkey, c_nationkey FROM customer c "
            f"WHERE {neg}EXISTS ("
            f"  SELECT 1 FROM ("
            f"    SELECT o_custkey AS k FROM orders "
            f"WHERE o_totalprice > {x} "
            f"    {op} "
            f"    SELECT c2.c_custkey AS k FROM customer c2 "
            f"WHERE c2.c_acctbal < {bal}"
            f"  ) u WHERE u.k = c.c_custkey) "
            f"ORDER BY c_custkey LIMIT {r.choice([25, 50])}"
        )
        return sql, sql

    def q_match_bounded(self) -> tuple[str, str]:
        """Bounded-quantifier MATCH_RECOGNIZE (PATTERN (A B{m,n} C),
        greedy or reluctant, AFTER MATCH SKIP TO NEXT ROW) — the
        q_match_varlen run-length oracle with the B-count k restricted
        to [m, n]: greedy binds the LARGEST k with all k rows in the
        B-run and C satisfied at position p+1+k (backtracking from n),
        reluctant the smallest."""
        r = self.rng
        t1 = r.choice(["click", "view", "signup"])
        x = r.choice([50, 100, 200])
        t2 = r.choice(["error", "purchase"])
        m = r.choice([1, 2])
        n = m + r.choice([1, 2])
        greedy = r.random() < 0.5
        quant = f"B{{{m},{n}}}" + ("" if greedy else "?")
        pick = "max" if greedy else "min"
        ks = ", ".join(f"({k})" for k in range(m, n + 1))
        spark_sql = (
            f"SELECT user_id, a_id, b_last, c_id "
            f"FROM events MATCH_RECOGNIZE ("
            f"  PARTITION BY user_id ORDER BY ts, event_id"
            f"  MEASURES A.event_id AS a_id, LAST(B.event_id) AS b_last, "
            f"C.event_id AS c_id"
            f"  ONE ROW PER MATCH"
            f"  AFTER MATCH SKIP TO NEXT ROW"
            f"  PATTERN (A {quant} C)"
            f"  DEFINE A AS A.event_type = '{t1}', "
            f"B AS B.`value` > {x}, C AS C.event_type = '{t2}'"
            f") AS m"
        )
        duck_sql = (
            f"WITH ordered AS ("
            f"  SELECT user_id, event_id, event_type, value,"
            f"    row_number() OVER (PARTITION BY user_id "
            f"ORDER BY ts, event_id) AS rn FROM events),\n"
            f"nb AS (SELECT user_id, rn,"
            f"  min(CASE WHEN NOT (value > {x}) THEN rn END) OVER ("
            f"    PARTITION BY user_id ORDER BY rn "
            f"ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_nb,"
            f"  max(rn) OVER (PARTITION BY user_id) AS nmax "
            f"FROM ordered),\n"
            f"anchors AS ("
            f"  SELECT o.user_id, o.rn AS p, o.event_id AS a_id,"
            f"    coalesce(n.next_nb, n.nmax + 1) - (o.rn + 1) AS brun "
            f"  FROM ordered o JOIN nb n "
            f"    ON n.user_id = o.user_id AND n.rn = o.rn + 1 "
            f"  WHERE o.event_type = '{t1}'),\n"
            f"cands AS ("
            f"  SELECT a.user_id, a.p, a.a_id, a.p + 1 + ks.k AS c_rn "
            f"  FROM anchors a JOIN (VALUES {ks}) ks(k) "
            f"    ON ks.k <= a.brun "
            f"  JOIN ordered c ON c.user_id = a.user_id "
            f"   AND c.rn = a.p + 1 + ks.k "
            f"   AND c.event_type = '{t2}'),\n"
            f"pick AS (SELECT user_id, p, a_id, {pick}(c_rn) AS c_rn "
            f"FROM cands GROUP BY user_id, p, a_id)\n"
            f"SELECT k.user_id, k.a_id, b.event_id AS b_last, "
            f"c.event_id AS c_id FROM pick k "
            f"JOIN ordered b ON b.user_id = k.user_id "
            f"AND b.rn = k.c_rn - 1 "
            f"JOIN ordered c ON c.user_id = k.user_id AND c.rn = k.c_rn"
        )
        return spark_sql, duck_sql

    def q_unnest_ordinality(self) -> tuple[str, str]:
        """UNNEST WITH ORDINALITY (1-based position column) vs DuckDB's
        zipped unnest + generate_subscripts; the aggregated variant
        weights values BY ordinality so position bugs change sums, not
        just counts."""
        r = self.rng
        t = self.table()
        ic = self.int_col(t)
        id_col = TABLES[t]["ints"][0]
        k1, k2 = r.choice([3, 5, 7]), r.choice([11, 13])
        arr = f"ARRAY[{ic} % {k1}, {ic} % {k2}, {ic} % {k1} + {ic} % {k2}]"
        pred = self.pred(t)
        if r.random() < 0.5:
            spark_sql = (
                f"SELECT {id_col} AS id, ux, CAST(po AS BIGINT) AS po "
                f"FROM {t} CROSS JOIN UNNEST({arr}) WITH ORDINALITY "
                f"AS u(ux, po) WHERE {pred}"
            )
            duck_sql = (
                f"SELECT {id_col} AS id, unnest({arr}) AS ux, "
                f"CAST(generate_subscripts({arr}, 1) AS BIGINT) AS po "
                f"FROM {t} WHERE {pred}"
            )
        else:
            spark_sql = (
                f"SELECT CAST(po AS BIGINT) AS po, count(*) AS cnt, "
                f"SUM(CAST(ux * po AS BIGINT)) AS s FROM {t} "
                f"CROSS JOIN UNNEST({arr}) WITH ORDINALITY AS u(ux, po) "
                f"WHERE {pred} GROUP BY po"
            )
            duck_sql = (
                f"WITH e AS (SELECT unnest({arr}) AS ux, "
                f"CAST(generate_subscripts({arr}, 1) AS BIGINT) AS po "
                f"FROM {t} WHERE {pred}) "
                f"SELECT po, count(*) AS cnt, "
                f"SUM(CAST(ux * po AS BIGINT)) AS s FROM e GROUP BY po"
            )
        return spark_sql, duck_sql

    def q_lexer_noise(self) -> tuple[str, str]:
        """Comments holding `(`, `,`, WHERE and a built-in name — one
        inside a built-in call's argument list — plus a backticked
        alias, inside otherwise shared SQL: the built-in rewrite and
        every other structural scan of the dialect layer must read them
        as the one lexer does.  DuckDB spells the quoted alias with
        double quotes and TRUNCATE(x, 0) as trunc(x)."""
        r = self.rng
        t = r.choice([x for x in TABLES if TABLES[x]["doubles"]])
        ic, dc = self.int_col(t), self.dbl_col(t)
        k = r.choice([3, 5, 7])
        notes = [
            "-- TRUNCATE(x, ( WHERE a, b\n",
            "/* SPLIT_INDEX(y, ',', 0) WHERE ( */ ",
            "-- it's ) EXCEPT SELECT 1\n",
            "/* ) , TO_BASE64( */ ",
        ]
        n1, n2, n3, n4, n5 = (r.choice(notes) for _ in range(5))
        alias = r.choice(["g,1", "we)ird", "k (x)", "a WHERE b"])
        body = (
            f"SELECT {ic} % {k} AS @alias, {n1}count(*) AS cnt, "
            f"CAST(sum(CAST(@trunc AS BIGINT)) AS BIGINT) AS s_t "
            f"FROM {t} {n2}WHERE {self.pred(t)} {n3}GROUP BY {ic} % {k} {n4}"
        )
        return (
            body.replace("@alias", f"`{alias}`").replace(
                "@trunc", f"TRUNCATE({dc} {n5}, 0)"
            ),
            body.replace("@alias", f'"{alias}"').replace(
                "@trunc", f"trunc({dc} {n5})"
            ),
        )

    # ------------------------------------------------------ battery

    SHAPES = (
        ("filter_project", "q_filter_project", 4),
        ("group_agg", "q_group_agg", 4),
        ("grouping_sets", "q_grouping_sets", 2),
        ("join_agg", "q_join_agg", 4),
        ("setop", "q_setop", 3),
        ("subquery", "q_subquery", 3),
        ("window", "q_window", 3),
        ("cte", "q_cte", 2),
        ("window_tvf", "q_window_tvf", 2),
        # r10 grammar growth
        ("having_hidden", "q_having_hidden_agg", 2),
        ("scalar_subq", "q_scalar_subquery", 2),
        ("derived", "q_derived_table", 2),
        ("null_order", "q_null_order_limit", 2),
        ("lead_lag", "q_lead_lag", 2),
        ("interval_json", "q_interval_json", 2),
        ("hop_tvf", "q_hop_tvf", 2),
        ("cumulate_tvf", "q_cumulate_tvf", 1),
        ("session_tvf", "q_session_tvf", 1),
        # r11 grammar growth (VERDICT r10 task 4)
        ("unnest", "q_unnest_lateral", 2),
        ("stringagg", "q_stringagg", 2),
        ("asof", "q_asof_join", 2),
        ("match_recognize", "q_match_recognize", 1),
        # r11 second-half grammar growth
        ("agg_filter", "q_agg_filter", 2),
        ("outer_join", "q_outer_join_full", 2),
        ("distinct_mix", "q_distinct_agg_mix", 2),
        ("temporal_diff", "q_temporal_diff", 2),
        # r11 second-half growth, part 2
        ("nested_setop", "q_nested_setop", 2),
        ("case_nest", "q_case_nest", 2),
        ("having_subq", "q_having_subquery", 2),
        ("in_join", "q_in_join", 2),
        # r12 grammar growth (VERDICT r11 task 4)
        ("match_varlen", "q_match_varlen", 1),
        ("over_range_iv", "q_over_range_interval", 2),
        ("exists_setop", "q_exists_setop", 2),
        # r12 second-half growth
        ("match_bounded", "q_match_bounded", 1),
        ("unnest_ord", "q_unnest_ordinality", 2),
        # comments and quoted identifiers through the one SQL lexer
        ("lexer_noise", "q_lexer_noise", 2),
    )

    def battery(self, n: int) -> list[tuple[str, str, str]]:
        """n (name, spark_sql, duck_sql) triples.  The schedule is
        weight-proportional AND interleaved — one of every shape per
        pass, heavier shapes joining extra passes — so every family
        appears even at small n (review finding: the earlier grouped
        list gave a small --n run only the first few families)."""
        shapes = self.SHAPES
        if self.only:
            shapes = tuple(s for s in shapes if s[0] in self.only)
            if not shapes:
                raise ValueError(f"--only matched no shapes: {self.only}")
        max_w = max(w for _, _, w in shapes)
        sched = [
            (label, meth)
            for k in range(max_w)
            for label, meth, w in shapes
            if k < w
        ]
        out = []
        for i in range(n):
            label, meth = sched[i] if i < len(sched) \
                else self.rng.choice(sched)
            s, d = getattr(self, meth)()
            out.append((f"fuzz_{i:03d}_{label}", s, d))
        return out


# ---------------------------------------------------------------- runner


def run_battery(
    seed: int, n: int, sf_dir: str, verbose: bool = False, spark=None,
    only: tuple[str, ...] = (),
) -> list[tuple[str, str, str, str]]:
    """Generate and run the battery; returns a list of failures
    (name, spark_sql, duck_sql, message). Empty list == all green."""
    import duckdb

    from flink_1_20_spark.catalog import TABLE_NAMES, register_views
    from flink_1_20_spark.sql_ddl import TableEnvironment
    from scripts.verify_local import compare

    if spark is None:
        from flink_1_20_spark import get_spark

        spark = get_spark("dialect-fuzz")
    register_views(spark, sf_dir)
    env = TableEnvironment(spark)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    # r11 (asof shape): materialize the deduped versioned orders
    # snapshot — one version per (o_custkey, o_orderdate); the raw
    # fixture has colliding pairs, and a tie at the matched version
    # would make the attached o_orderkey engine-arbitrary. Registered
    # in BOTH engines over the same parquet; the Spark side declares
    # the WATERMARK the temporal-join lowering requires of a
    # versioned table.
    import tempfile

    asof_dir = tempfile.mkdtemp(prefix="fuzz_asof_")
    spark.sql(
        "SELECT MIN(o_orderkey) AS o_orderkey, o_custkey, o_orderdate "
        "FROM orders GROUP BY o_custkey, o_orderdate"
    ).coalesce(1).write.mode("overwrite").parquet(asof_dir)
    env.execute_sql("DROP TABLE IF EXISTS orders_v")
    env.execute_sql(
        "CREATE TABLE orders_v (o_orderkey BIGINT, o_custkey BIGINT, "
        "o_orderdate TIMESTAMP(3), "
        "WATERMARK FOR o_orderdate AS o_orderdate) WITH ("
        f"'connector'='filesystem','path'='{asof_dir}',"
        "'format'='parquet')"
    )
    con.execute(
        f"CREATE VIEW orders_v AS SELECT * FROM '{asof_dir}/*.parquet'"
    )

    failures = []
    try:
        _run_queries(Gen(seed, only).battery(n), env, con, failures,
                     verbose)
    finally:
        env.execute_sql("DROP TABLE IF EXISTS orders_v")
        shutil.rmtree(asof_dir, ignore_errors=True)
    return failures


def _run_queries(battery, env, con, failures, verbose):
    from scripts.verify_local import compare

    for name, s_sql, d_sql in battery:
        try:
            sdf = env.execute_sql(s_sql)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = [c.lower() for c in sdf.columns]
        except Exception as ex:  # noqa: BLE001 — report, don't abort the battery
            failures.append((name, s_sql, d_sql, f"spark error: {ex}"))
            continue
        try:
            cur = con.execute(d_sql)
            d_rows = cur.fetchall()
            d_cols = [c[0].lower() for c in cur.description]
        except Exception as ex:  # noqa: BLE001
            failures.append((name, s_sql, d_sql, f"duckdb error: {ex}"))
            continue
        ok, msg = compare(s_rows, s_cols, d_rows, d_cols)
        if not ok:
            failures.append((name, s_sql, d_sql, msg))
        if verbose:
            print(("PASS " if ok else "FAIL ") + f"{name}: {msg}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=20260815)
    ap.add_argument("--n", type=int, default=120)
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--only", nargs="*", default=[],
                    help="restrict GENERATION to these shape labels "
                         "(per-shape soak mode — all n queries come "
                         "from the selected shapes).  NOTE: this "
                         "changes the shared rng consumption order, so "
                         "it does NOT reproduce a specific query from "
                         "a full-battery run of the same seed; for "
                         "that, use the failing SQL pair the full run "
                         "prints verbatim")
    args = ap.parse_args()
    fails = run_battery(args.seed, args.n, args.sf, verbose=args.verbose,
                        only=tuple(args.only))
    for name, s_sql, d_sql, msg in fails:
        print(f"\nFAIL {name}: {msg}\n  spark: {s_sql}\n  duck:  {d_sql}")
    print(f"\n{args.n - len(fails)} pass, {len(fails)} fail "
          f"(seed={args.seed}, n={args.n}, sf={args.sf})")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
