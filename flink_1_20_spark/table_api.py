"""Flink Table API surface: fluent `table.filter(...).group_by(...)
.select(...)` with Flink's method names and string expressions.

Reference parity: Table.java (flink-table/flink-table-api-java/.../api/
Table.java — select:129, filter:199, groupBy:234, join:262, orderBy:622)
and the Expression DSL. Spark's DataFrame API *is* this layer
(SURVEY.md §3.2); this wrapper lets Flink Table-API code run with its
own spelling — `group_by` before `select` (aggregates resolved in the
select, as Flink does), Flink expression strings (`a.sum AS total`,
`f0.upperCase`), `left_outer_join`, `fetch/offset`, `execute().collect()`.

Expression strings accept plain SQL (passed to Catalyst) plus the
Flink-isms worth translating mechanically: the postfix aggregate/
function call (`price.sum`, `name.upperCase()`), `AS` aliasing, and the
Flink built-in names Spark lacks (`SPLIT_INDEX`, `JSON_VALUE`, ...,
rewritten by the SQL dialect's sql_flink.rewrite_flink_builtins).
Anything else is already valid Spark SQL — Catalyst parses it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from flink_1_20_spark.sql_flink import rewrite_flink_builtins

# Flink postfix-call → SQL function (the common Table API vocabulary)
_POSTFIX_FNS = {
    "sum": "sum", "sum0": "sum", "min": "min", "max": "max", "avg": "avg",
    "mean": "avg", "count": "count", "upperCase": "upper",
    "lowerCase": "lower", "trim": "trim", "abs": "abs", "floor": "floor",
    "ceil": "ceil", "distinct": "distinct", "charLength": "char_length",
    "sqrt": "sqrt", "ln": "ln", "exp": "exp",
}

_POSTFIX_RE = re.compile(
    r"\b(\w+)\.(" + "|".join(_POSTFIX_FNS) + r")(\(\))?(?!\w)"
)


def _translate(expr: str) -> str:
    """Rewrite Flink postfix calls (`a.sum`, `s.upperCase()`) into SQL
    calls (`sum(a)`, `upper(s)`), then Flink built-in names Spark lacks
    (`SPLIT_INDEX`, `JSON_VALUE`, ...) through the SQL dialect's rewrite
    table; leave everything else to Catalyst."""
    out = expr
    while True:
        new = _POSTFIX_RE.sub(lambda m: f"{_POSTFIX_FNS[m.group(2)]}({m.group(1)})", out)
        if new == out:
            return rewrite_flink_builtins(new)
        out = new


class Table:
    """Fluent Flink-Table facade over a DataFrame (QueryOperation tree ≙
    the lazily-built DataFrame plan)."""

    def __init__(self, df: DataFrame, group_cols: list[str] | None = None):
        self._df = df
        self._group_cols = group_cols  # set between group_by() and select()

    # -- projection / filter --------------------------------------------
    def select(self, *exprs: str) -> "Table":
        cols = [_translate(e) for e in exprs]
        if self._group_cols is not None:
            # Flink resolves aggregates inside the post-groupBy select
            return Table(_grouped_select(self._df, self._group_cols, cols))
        return Table(self._df.selectExpr(*cols))

    def filter(self, predicate: str) -> "Table":
        return Table(self._df.where(_translate(predicate)), self._group_cols)

    where = filter

    def add_columns(self, *exprs: str) -> "Table":
        return Table(self._df.selectExpr("*", *[_translate(e) for e in exprs]))

    def rename_columns(self, *renames: str) -> "Table":
        df = self._df
        for r in renames:
            m = re.match(r"\s*(\w+)\s+AS\s+(\w+)\s*$", r, re.I)
            df = df.withColumnRenamed(m.group(1), m.group(2))
        return Table(df)

    def drop_columns(self, *cols: str) -> "Table":
        return Table(self._df.drop(*cols))

    # -- grouping --------------------------------------------------------
    def group_by(self, *cols: str) -> "Table":
        return Table(self._df, [_translate(c) for c in cols])

    def distinct(self) -> "Table":
        return Table(self._df.distinct())

    def flat_aggregate(self, fn, output_schema: str) -> "Table":
        """Table.flatAggregate:903 (TableAggregateFunction — emits any
        number of rows per group, e.g. top-2). `fn(pdf) -> pdf` runs per
        group, Arrow-batched; group key columns must be produced by fn
        (the applyInPandas contract)."""
        if self._group_cols is None:
            raise ValueError("flat_aggregate requires a preceding group_by")
        # UDTAF stages are Python-bound: pin the key partitioning so AQE
        # doesn't coalesce the (usually tiny) shuffle under the
        # per-group Python work (see operators/cep.py for the measured
        # rationale).
        parts = self._df.sparkSession.sparkContext.defaultParallelism
        keys = [F_expr(g) for g in self._group_cols]
        return Table(
            self._df.repartition(parts, *keys)
            .groupBy(*keys)
            .applyInPandas(fn, output_schema)
        )

    def aggregate(self, fn, output_schema: str) -> "Table":
        """Table.aggregate:880 (AggregateFunction — ONE row per group):
        `fn(pdf) -> pdf` per group, Arrow-batched, must emit exactly one
        row including the group key columns. Same contract as
        flat_aggregate restricted to a single output row; same key
        partitioning pin for the Python-bound stage."""
        if self._group_cols is None:
            raise ValueError("aggregate requires a preceding group_by")

        # single-parameter closure: applyInPandas passes (key, pdf) to
        # TWO-parameter functions, so a defaulted second arg would
        # swallow the pdf
        def one_row(pdf):
            out = fn(pdf)
            if len(out) != 1:
                raise ValueError(
                    f"aggregate fn must emit exactly one row, got {len(out)}"
                )
            return out

        parts = self._df.sparkSession.sparkContext.defaultParallelism
        keys = [F_expr(g) for g in self._group_cols]
        return Table(
            self._df.repartition(parts, *keys)
            .groupBy(*keys)
            .applyInPandas(one_row, output_schema)
        )

    def map(self, fn, output_schema: str) -> "Table":
        """Table.map:822 (row-based map with a ScalarFunction producing
        a row): `fn(pdf) -> pdf` over Arrow batches (mapInPandas) — the
        vectorized form of Flink's per-row call."""
        return Table(self._df.mapInPandas(fn, output_schema))

    def flat_map(self, fn, output_schema: str) -> "Table":
        """Table.flatMap:846 (TableFunction — 0..N rows per input row).
        Identical engine path to map (mapInPandas); the contract
        difference is that fn may change the row count."""
        return Table(self._df.mapInPandas(fn, output_schema))

    # -- joins / set ops -------------------------------------------------
    def join_lateral(self, udtf_call: str, on: str | None = None) -> "Table":
        """Table.joinLateral:262 — correlate each row with a registered
        table function (CommonExecCorrelate): INNER semantics, rows with
        no UDTF output dropped. `udtf_call` is SQL text, e.g.
        ``"split_words(text)"`` for a function registered via
        spark.udtf.register / CREATE FUNCTION."""
        return self._lateral(udtf_call, on, outer=False)

    def left_outer_join_lateral(
        self, udtf_call: str, on: str | None = None
    ) -> "Table":
        """Table.leftOuterJoinLateral:287 — rows with no UDTF output are
        kept with NULL-padded function columns."""
        return self._lateral(udtf_call, on, outer=True)

    def _lateral(self, udtf_call: str, on: str | None, outer: bool) -> "Table":
        spark = self._df.sparkSession
        view = f"__lateral_src_{id(self._df) & 0xFFFFFF:x}"
        self._df.createOrReplaceTempView(view)
        join_kw = "LEFT JOIN LATERAL" if outer else "JOIN LATERAL"
        on_sql = f" ON {_translate(on)}" if on else (" ON TRUE" if outer else "")
        out = spark.sql(
            f"SELECT * FROM {view} {join_kw} {udtf_call} __l{on_sql}"
        )
        return Table(out)

    def join(self, other: "Table", on: str | None = None) -> "Table":
        if on is None:
            return Table(self._df.crossJoin(other._df))
        return Table(self._df.join(other._df, F_expr(_translate(on)), "inner"))

    def left_outer_join(self, other: "Table", on: str) -> "Table":
        return Table(self._df.join(other._df, F_expr(_translate(on)), "left"))

    def right_outer_join(self, other: "Table", on: str) -> "Table":
        return Table(self._df.join(other._df, F_expr(_translate(on)), "right"))

    def full_outer_join(self, other: "Table", on: str) -> "Table":
        return Table(self._df.join(other._df, F_expr(_translate(on)), "full"))

    def union_all(self, other: "Table") -> "Table":
        return Table(self._df.unionByName(other._df))

    def union(self, other: "Table") -> "Table":
        return Table(self._df.unionByName(other._df).distinct())

    def intersect(self, other: "Table") -> "Table":
        return Table(self._df.intersect(other._df))

    def minus(self, other: "Table") -> "Table":
        return Table(self._df.exceptAll(other._df).distinct())

    # -- ordering / limits ----------------------------------------------
    def order_by(self, *exprs: str) -> "Table":
        cols = []
        for e in exprs:
            m = re.match(r"\s*(.+?)\.(asc|desc)\s*$", e) or re.match(
                r"\s*(.+?)\s+(asc|desc)\s*$", e, re.I
            )
            if m:
                c = F_expr(_translate(m.group(1)))
                cols.append(c.desc() if m.group(2).lower() == "desc" else c.asc())
            else:
                cols.append(F_expr(_translate(e)))
        return Table(self._df.orderBy(*cols))

    def fetch(self, n: int) -> "Table":
        return Table(self._df.limit(n))

    def offset(self, n: int) -> "Table":
        return Table(self._df.offset(n))

    limit = fetch

    def as_(self, *new_names: str) -> "Table":
        return Table(self._df.toDF(*new_names))

    # -- windows ---------------------------------------------------------
    def window(self, w: "GroupWindow") -> "GroupWindowedTable":
        """Declare a group window (Table.window:731; Tumble.java:42,
        Slide.java, Session.java builders). Continue with
        `.group_by(w_alias, keys...).select(...)`."""
        return GroupWindowedTable(self._df, w)

    def over_window(self, w: "OverWindow") -> "OverWindowedTable":
        """Declare an over window (Table.window(OverWindow...) /
        Over.java builder). Continue with `.select("value.sum OVER w AS
        total", ...)`."""
        return OverWindowedTable(self._df, w)

    # -- execution -------------------------------------------------------
    def execute(self) -> "TableResult":
        return TableResult(self._df)

    def to_data_frame(self) -> DataFrame:
        return self._df

    @property
    def columns(self) -> list[str]:
        return self._df.columns


class TableResult:
    """executeQueryOperation's TableResult: iterable rows + print()."""

    def __init__(self, df: DataFrame):
        self._df = df

    def collect(self):
        return self._df.collect()

    def print(self) -> None:
        self._df.show(truncate=False)


def _is_group_ref(c: str, group_cols: list[str]) -> bool:
    return c in group_cols


def F_expr(e: str):
    from pyspark.sql import functions as F

    return F.expr(e)


def _grouped_select(df: DataFrame, group_cols: list[str], cols: list[str]):
    aggs = [F_expr(c) for c in cols if not _is_group_ref(c, group_cols)]
    out = df.groupBy(*[F_expr(g) for g in group_cols]).agg(*aggs)
    # Flink's select controls output order: re-project in the asked order
    names = [re.search(r"(?:AS\s+)?(\w+)\s*$", c, re.I).group(1) for c in cols]
    return out.select(*names)


def from_data_frame(df: DataFrame) -> Table:
    """StreamTableEnvironment.fromDataStream analogue."""
    return Table(df)


# ------------------------------------------------------- group windows
# Tumble/Slide/Session builder classes (Tumble.java:42, Slide.java,
# Session.java; Table.window:731). Durations accept Flink's string DSL
# ("10.minutes") or plain SQL ("10 minutes").


def _duration(s: str) -> str:
    m = re.match(r"\s*(\d+)[.\s](\w+)\s*$", s)
    if not m:
        raise ValueError(f"cannot parse duration: {s!r}")
    n, unit = m.group(1), m.group(2).lower().rstrip("s")
    if unit == "milli":
        return f"{n} milliseconds"
    return f"{n} {unit}{'' if n == '1' else 's'}"


class GroupWindow:
    """Resolved group-window spec: kind + size/slide/gap + ts + alias."""

    def __init__(self, kind: str, ts: str, alias: str, size: str | None = None,
                 slide: str | None = None, gap: str | None = None):
        self.kind, self.ts, self.alias_ = kind, ts, alias
        self.size, self.slide, self.gap = size, slide, gap

    def to_spark(self):
        from pyspark.sql import functions as F

        if self.kind == "tumble":
            return F.window(self.ts, self.size)
        if self.kind == "slide":
            return F.window(self.ts, self.size, self.slide)
        return F.session_window(self.ts, self.gap)


class _GW:
    """Shared fluent tail: .on(ts).alias(name)."""

    def __init__(self, kind: str, size: str | None = None,
                 slide: str | None = None, gap: str | None = None):
        self._kind, self._size, self._slide, self._gap = kind, size, slide, gap
        self._ts: str | None = None

    def on(self, ts: str) -> "_GW":
        self._ts = ts.strip("$()\"' ")
        return self

    def alias(self, name: str) -> GroupWindow:
        if self._ts is None:
            raise ValueError("call .on(time_col) before .alias()")
        return GroupWindow(self._kind, self._ts, name, self._size, self._slide, self._gap)

    as_ = alias


class Tumble:
    @staticmethod
    def over(size: str) -> _GW:
        return _GW("tumble", size=_duration(size))


class Slide:
    @staticmethod
    def over(size: str) -> "_SlideBuilder":
        return _SlideBuilder(_duration(size))


class _SlideBuilder:
    def __init__(self, size: str):
        self._size = size

    def every(self, slide: str) -> _GW:
        return _GW("slide", size=self._size, slide=_duration(slide))


class Session:
    @staticmethod
    def with_gap(gap: str) -> _GW:
        return _GW("session", gap=_duration(gap))


class GroupWindowedTable:
    def __init__(self, df: DataFrame, w: GroupWindow):
        self._df, self._w = df, w

    def group_by(self, *cols: str) -> "WindowGroupedTable":
        keys = [c for c in cols if c != self._w.alias_]
        if len(keys) == len(cols):
            raise ValueError(
                f"group_by must include the window alias {self._w.alias_!r}"
            )
        return WindowGroupedTable(self._df, self._w, keys)


class WindowGroupedTable:
    """Post-window group_by: select() resolves w.start / w.end /
    w.rowtime plus aggregates, exactly like Flink's windowed
    `groupBy(w, keys).select(...)` (Table.java:731 examples)."""

    def __init__(self, df: DataFrame, w: GroupWindow, keys: list[str]):
        self._df, self._w, self._keys = df, w, keys

    def select(self, *exprs: str) -> Table:
        from pyspark.sql import functions as F

        alias = self._w.alias_
        grouped = self._df.groupBy(
            self._w.to_spark().alias(alias), *[F_expr(k) for k in self._keys]
        )
        aggs, finals = [], []
        for e in exprs:
            t = _translate(e)
            nm = re.search(r"(?:AS\s+)?`?(\w+)`?\s*$", t, re.I)
            body = re.sub(r"\s+AS\s+`?\w+`?\s*$", "", t, flags=re.I).strip()
            ref = re.match(rf"{re.escape(alias)}\.(start|end|rowtime)$", body)
            if ref:
                part = ref.group(1)
                name = nm.group(1) if " AS " in t.upper() else f"window_{part}"
                src = (
                    f"`{alias}`.end - INTERVAL '0.001' SECOND"
                    if part == "rowtime"
                    else f"`{alias}`.{part}"
                )
                finals.append((src, name))
            elif body in self._keys:
                finals.append((f"`{body}`", body))
            else:
                # Alias-less aggregates ("value.sum" with no AS) are
                # idiomatic Flink — the nm regex can't match a trailing
                # ')', so fall back to Flink's positional default EXPR$n.
                if nm is not None and " AS " in t.upper():
                    name = nm.group(1)
                elif nm is not None and re.fullmatch(r"`?\w+`?", t.strip()):
                    name = nm.group(1)
                else:
                    name = f"EXPR${len(aggs)}"
                aggs.append(F_expr(body).alias(name))
                finals.append((f"`{name}`", name))
        if not aggs:
            raise ValueError("windowed select needs at least one aggregate")
        out = grouped.agg(*aggs)
        return Table(out.selectExpr(*[f"{b} AS `{n}`" for b, n in finals]))


# -------------------------------------------------------- over windows
# Over builder (Over.java; Table.java over-window select). Frames:
# N.rows / UNBOUNDED_ROW → ROWS, time durations / UNBOUNDED_RANGE →
# RANGE (time ranges order by epoch seconds — the Spark rangeBetween
# contract for intervals).


class OverWindow:
    def __init__(self, partition: list[str], order: str, preceding: str, alias: str):
        self.partition, self.order, self.preceding, self.alias_ = (
            partition, order, preceding, alias,
        )

    def to_sql(self) -> str:
        """Render as a SQL window specification — substituted for the
        alias in `... OVER w ...`, so frames compose with any enclosing
        expression (round(sum(x) OVER w, 4) etc.)."""
        part = (
            "PARTITION BY " + ", ".join(f"`{c}`" for c in self.partition) + " "
            if self.partition
            else ""
        )
        p = self.preceding.strip()
        if p.upper() == "UNBOUNDED_ROW":
            frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        elif p.upper() == "UNBOUNDED_RANGE":
            frame = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        else:
            m = re.match(r"(\d+)\.rows?$", p, re.I)
            if m:
                frame = f"ROWS BETWEEN {m.group(1)} PRECEDING AND CURRENT ROW"
            else:
                n, unit = _duration(p).split()
                frame = (
                    f"RANGE BETWEEN INTERVAL '{n}' {unit.rstrip('s').upper()} "
                    "PRECEDING AND CURRENT ROW"
                )
        return f"({part}ORDER BY `{self.order}` {frame})"


class Over:
    @staticmethod
    def partition_by(*cols: str) -> "_OverBuilder":
        return _OverBuilder(list(cols))

    @staticmethod
    def order_by(col: str) -> "_OverBuilder":
        return _OverBuilder([]).order_by(col)


class _OverBuilder:
    def __init__(self, partition: list[str]):
        self._partition = partition
        self._order: str | None = None
        self._preceding = "UNBOUNDED_ROW"

    def order_by(self, col: str) -> "_OverBuilder":
        self._order = col
        return self

    def preceding(self, spec: str) -> "_OverBuilder":
        self._preceding = spec
        return self

    def alias(self, name: str) -> OverWindow:
        if self._order is None:
            raise ValueError("Over window requires order_by")
        return OverWindow(self._partition, self._order, self._preceding, name)

    as_ = alias


class OverWindowedTable:
    def __init__(self, df: DataFrame, w: OverWindow):
        self._df, self._w = df, w

    def select(self, *exprs: str) -> Table:
        spec = self._w.to_sql()
        alias = self._w.alias_
        cols = [
            re.sub(rf"\bOVER\s+{re.escape(alias)}\b", f"OVER {spec}", _translate(e), flags=re.I)
            for e in exprs
        ]
        return Table(self._df.selectExpr(*cols))
