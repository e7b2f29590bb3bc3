"""Flink DataStream API facade (SURVEY.md §3.3).

Reference parity: StreamExecutionEnvironment / DataStream / KeyedStream
(flink-streaming-java/.../datastream/DataStream.java:140 map,
:321-512 keyBy/rebalance family, KeyedStream.java reduce/process,
WindowedStream.java aggregate). Flink executes the user topology as
written; Spark's answer is a declarative plan — so this facade maps
each fluent call onto the equivalent DataFrame (batch or streaming)
transformation and lets Catalyst own the physical topology:

    map/flat_map/filter  → selectExpr / explode / where  (codegen)
    map(python_fn)       → mapInPandas                   (Arrow batches)
    key_by               → hash repartition (operators/partitioning)
    keyed reduce         → groupBy().agg() (batch) — streaming running
                           aggregates live in streaming/process.py
    window(...)          → tumbling window agg (streaming/windows.py)
    keyed process        → applyInPandasWithState (streaming/process.py)

Works uniformly on bounded and unbounded DataFrames where the
underlying Spark op supports it.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StreamExecutionEnvironment:
    """getExecutionEnvironment analogue: the session wrapper."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def from_collection(self, data: list, schema: str) -> "DataStream":
        return DataStream(self.spark.createDataFrame(data, schema))

    def from_source(self, df: DataFrame) -> "DataStream":
        """Wrap any (batch or streaming) DataFrame as a stream."""
        return DataStream(df)


# -- window assigners (flink-streaming-java/.../windowing/assigners/) --


class WindowAssigner:
    """Base: carries the Spark window expression for a time column."""

    def expr(self, ts_col: str):
        raise NotImplementedError

    is_global = False


class TumblingEventTimeWindows(WindowAssigner):
    def __init__(self, size: str):
        self.size = size

    @staticmethod
    def of(size: str) -> "TumblingEventTimeWindows":
        return TumblingEventTimeWindows(size)

    def expr(self, ts_col: str):
        return F.window(ts_col, self.size)


class SlidingEventTimeWindows(WindowAssigner):
    def __init__(self, size: str, slide: str):
        self.size, self.slide = size, slide

    @staticmethod
    def of(size: str, slide: str) -> "SlidingEventTimeWindows":
        return SlidingEventTimeWindows(size, slide)

    def expr(self, ts_col: str):
        return F.window(ts_col, self.size, self.slide)


class EventTimeSessionWindows(WindowAssigner):
    def __init__(self, gap: str):
        self.gap = gap

    @staticmethod
    def with_gap(gap: str) -> "EventTimeSessionWindows":
        return EventTimeSessionWindows(gap)

    def expr(self, ts_col: str):
        return F.session_window(ts_col, self.gap)


class GlobalWindows(WindowAssigner):
    """One window per key (GlobalWindows.java — only meaningful with a
    trigger in Flink; the batch/declarative analog is a plain keyed
    aggregation over all rows)."""

    is_global = True

    @staticmethod
    def create() -> "GlobalWindows":
        return GlobalWindows()

    def expr(self, ts_col: str):  # pragma: no cover — never windowed
        raise ValueError("GlobalWindows has no window expression")


class DataStream:
    def __init__(self, df: DataFrame):
        self._df = df

    # -- row-level ops (Calc / StreamMap / StreamFlatMap) ---------------
    def map(self, expr: str | Callable, schema: str | None = None) -> "DataStream":
        """String expressions stay JVM-side; a Python callable runs as
        an Arrow-batched mapInPandas (fn: pdf -> pdf, `schema` required)."""
        if callable(expr):
            if schema is None:
                raise ValueError("map(python_fn) requires an output schema")
            fn = expr
            return DataStream(self._df.mapInPandas(lambda it: (fn(p) for p in it), schema))
        return DataStream(self._df.selectExpr("*", expr))

    def select(self, *exprs: str) -> "DataStream":
        return DataStream(self._df.selectExpr(*exprs))

    def filter(self, predicate: str) -> "DataStream":
        return DataStream(self._df.where(predicate))

    def flat_map(self, expr: str, alias: str) -> "DataStream":
        """Explode an array-producing expression (one input row → N)."""
        return DataStream(
            self._df.select("*", F.explode(F.expr(expr)).alias(alias))
        )

    def union(self, *others: "DataStream") -> "DataStream":
        df = self._df
        for o in others:
            df = df.unionByName(o._df)
        return DataStream(df)

    # -- two-stream ops (DataStream.join:756, coGroup:748) ---------------
    def join(self, other: "DataStream") -> "JoinedStreams":
        return JoinedStreams(self, other, cogroup=False)

    def co_group(self, other: "DataStream") -> "JoinedStreams":
        return JoinedStreams(self, other, cogroup=True)

    # -- partitioning family (DataStream.java:321-512) ------------------
    def key_by(self, *cols: str) -> "KeyedStream":
        from flink_1_20_spark.operators.partitioning import key_by

        return KeyedStream(key_by(self._df, *cols), list(cols))

    def rebalance(self, n: int | None = None) -> "DataStream":
        from flink_1_20_spark.operators.partitioning import rebalance

        return DataStream(rebalance(self._df, n))

    def assign_timestamps_and_watermarks(
        self, ts_col: str, delay: str
    ) -> "DataStream":
        """BoundedOutOfOrderness watermark strategy."""
        return DataStream(self._df.withWatermark(ts_col, delay))

    # -- execution -------------------------------------------------------
    def execute_and_collect(self):
        return self._df.collect()

    def to_data_frame(self) -> DataFrame:
        return self._df


class KeyedStream(DataStream):
    def __init__(self, df: DataFrame, keys: list[str]):
        super().__init__(df)
        self._keys = keys

    def reduce(self, *agg_exprs: str) -> "DataStream":
        """Keyed aggregation (KeyedStream.reduce generalized to
        aggregate expressions — Flink's reduce is a binary fold; the
        declarative form is the same associative aggregation)."""
        return DataStream(
            self._df.groupBy(*self._keys).agg(*[F.expr(e) for e in agg_exprs])
        )

    def window(
        self, assigner_or_ts: "WindowAssigner | str", size_or_ts: str | None = None
    ) -> "WindowedStream":
        """`window(TumblingEventTimeWindows.of('1 hour'), 'ts')` with any
        assigner (sliding/session/global — windowing/assigners/), or the
        legacy shorthand `window('ts', '1 hour')` for tumbling."""
        if isinstance(assigner_or_ts, WindowAssigner):
            if size_or_ts is None and not assigner_or_ts.is_global:
                raise ValueError("window(assigner, ts_col) needs the time column")
            return WindowedStream(self._df, self._keys, size_or_ts, assigner_or_ts)
        return WindowedStream(
            self._df,
            self._keys,
            assigner_or_ts,
            TumblingEventTimeWindows.of(size_or_ts),
        )

    def interval_join(self, other: "KeyedStream") -> "IntervalJoined":
        """KeyedStream.intervalJoin:440 — continue with
        `.between(lower, upper).on(left_ts, right_ts[, *select])`."""
        return IntervalJoined(self, other)

    def count_window(self, n: int, ts_col: str | None = None) -> "DataStream":
        """KeyedStream.countWindow:745 — delegated to the library count
        windows (queries/changelog_count.py documents the semantics)."""
        from pyspark.sql import Window as W

        order = ts_col or self._keys[0]
        w = W.partitionBy(*self._keys).orderBy(order)
        return DataStream(
            self._df.withColumn("__rn", F.row_number().over(w)).withColumn(
                "window_id", ((F.col("__rn") - 1) / n).cast("bigint")
            ).drop("__rn")
        )

    def process(
        self,
        fn,
        output_schema: str,
        state_schema: str,
        timeout: str = "NoTimeout",
    ) -> "DataStream":
        """KeyedProcessFunction (keyed state + timers):
        streaming/process.py keyed_process (applyInPandasWithState).
        `fn(key, pdf_iter, state) -> iter[pdf]` — the raw Spark contract,
        which IS Flink's processElement+state, batched."""
        from flink_1_20_spark.streaming.process import keyed_process

        return DataStream(
            keyed_process(
                self._df, self._keys, fn, output_schema, state_schema,
                timeout=timeout,
            )
        )


class WindowedStream:
    """WindowedStream.aggregate (WindowedStream.java:302) over any
    event-time assigner — tumbling, sliding, session, or global."""

    def __init__(
        self,
        df: DataFrame,
        keys: list[str],
        ts_col: str | None,
        assigner: WindowAssigner,
    ):
        self._df, self._keys, self._ts, self._assigner = df, keys, ts_col, assigner

    def aggregate(self, *agg_exprs: str) -> DataStream:
        aggs = [F.expr(e) for e in agg_exprs]
        if self._assigner.is_global:
            return DataStream(self._df.groupBy(*self._keys).agg(*aggs))
        g = self._df.groupBy(
            self._assigner.expr(self._ts).alias("w"), *self._keys
        ).agg(*aggs)
        return DataStream(
            g.select(
                F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                *[c for c in g.columns if c != "w"],
            )
        )

    reduce = aggregate  # WindowedStream.reduce:179 — associative fold


class IntervalJoined:
    """intervalJoin builder (KeyedStream.intervalJoin:440, between:505 —
    TimeIntervalJoin semantics: right_ts ∈ [left_ts + lower, left_ts +
    upper]). Lowered onto streaming/joins.interval_join — a plain
    time-range equi-join Catalyst executes with watermark-bounded state
    on streams."""

    def __init__(self, left: "KeyedStream", right: "KeyedStream"):
        if len(left._keys) != len(right._keys):
            raise ValueError("intervalJoin requires matching key arity")
        self._l, self._r = left, right
        self._lower: str | None = None
        self._upper: str | None = None

    def between(self, lower: str, upper: str) -> "IntervalJoined":
        """Bounds as interval strings; `lower` is the reach *backwards*
        (Flink's lowerBound is negative — here pass its magnitude)."""
        self._lower, self._upper = lower, upper
        return self

    def on(
        self, left_ts: str, right_ts: str, *select_exprs: str,
        watermark: str | None = None,
    ) -> DataStream:
        from flink_1_20_spark.streaming.joins import interval_join

        if self._lower is None:
            raise ValueError("call .between(lower, upper) before .on()")
        cond = None
        for a, b in zip(self._l._keys, self._r._keys):
            c = self._l._df[a] == self._r._df[b]
            cond = c if cond is None else (cond & c)
        out = interval_join(
            self._l._df, self._r._df, cond, left_ts, right_ts,
            self._lower, self._upper, watermark=watermark,
        )
        if select_exprs:
            out = out.selectExpr(*select_exprs)
        return DataStream(out)


class JoinedStreams:
    """DataStream.join(other).where(...).equal_to(...).window(assigner,
    lts, rts).apply(...) — the windowed join/coGroup builder
    (DataStream.java:756 join, :748 coGroup; JoinedStreams.java).

    join  → equi-join on (key, window): rows pair iff same key AND same
            window — exactly WindowJoinOperator semantics, expressed as
            a Catalyst equi-join on the window struct (one shuffle per
            side, bounded state under watermark on streams).
    coGroup → per (key, window) the full groups from both sides as
            arrays (left_rows / right_rows), via two window aggs and a
            full-outer equi-join — declarative, no Python in the path.
    """

    def __init__(self, left: DataStream, right: DataStream, cogroup: bool):
        self._l, self._r, self._cogroup = left._df, right._df, cogroup
        self._lkeys: list[str] = []
        self._rkeys: list[str] = []

    def where(self, *cols: str) -> "JoinedStreams":
        self._lkeys = list(cols)
        return self

    def equal_to(self, *cols: str) -> "JoinedStreams":
        self._rkeys = list(cols)
        return self

    def window(
        self, assigner: WindowAssigner, left_ts: str, right_ts: str | None = None
    ) -> "WindowedJoin":
        if not self._lkeys or not self._rkeys:
            raise ValueError("call .where(...).equal_to(...) before .window()")
        return WindowedJoin(
            self._l, self._r, self._lkeys, self._rkeys,
            assigner, left_ts, right_ts or left_ts, self._cogroup,
        )


class WindowedJoin:
    def __init__(self, l, r, lkeys, rkeys, assigner, lts, rts, cogroup):
        self._l, self._r = l, r
        self._lk, self._rk = lkeys, rkeys
        self._assigner, self._lts, self._rts = assigner, lts, rts
        self._cogroup = cogroup

    def _session_map(self) -> DataFrame:
        """Merged session windows over the UNION of both inputs per key.

        Flink's windowed join/coGroup runs the assigner over the tagged
        union of the two streams (CoGroupedStreams union semantics), so
        with a session assigner the sessions MERGE across sides — a left
        row and a right row within `gap` of each other share a session
        even if neither side alone would sustain it. Spark's
        `session_window` is groupBy-only and per-input, so the merged
        assignment is computed as gaps-and-islands over the distinct
        (key, ts) union: two window passes on one (key, ts) sort, then
        each side equi-joins its window back on (key, ts)."""
        from pyspark.sql.window import Window as W

        gap = f"INTERVAL {self._assigner.gap}"
        kcols = [f"__k{i}" for i in range(len(self._lk))]
        lu = self._l.select(
            *[F.col(a).alias(k) for a, k in zip(self._lk, kcols)],
            F.col(self._lts).alias("__ts"),
        )
        ru = self._r.select(
            *[F.col(b).alias(k) for b, k in zip(self._rk, kcols)],
            F.col(self._rts).alias("__ts"),
        )
        u = lu.unionByName(ru).dropDuplicates([*kcols, "__ts"])
        order = W.partitionBy(*kcols).orderBy("__ts")
        run = order.rowsBetween(W.unboundedPreceding, 0)
        prev = F.lag("__ts").over(order)
        new_s = F.when(
            # STRICT > (r11 fix): an event exactly `gap` after the
            # previous one MERGES — TimeWindow.intersects is inclusive
            # (`end >= other.start`, flink-table-runtime
            # .../window/TimeWindow.java:116), the same convention as
            # the SESSION TVF rewrite in sql_flink.py; the old >= split
            # boundary-adjacent events
            prev.isNull() | (F.col("__ts") > prev + F.expr(gap)), 1
        ).otherwise(0)
        sess = F.sum(new_s).over(run)
        per = W.partitionBy(*kcols, "__sid")
        return (
            u.withColumn("__sid", sess)
            .withColumn("__start", F.min("__ts").over(per))
            .withColumn("__end", F.max("__ts").over(per) + F.expr(gap))
            .select(
                *kcols,
                "__ts",
                F.struct(
                    F.col("__start").alias("start"), F.col("__end").alias("end")
                ).alias("__w"),
            )
        )

    def _with_session_window(self, df, keys, ts, smap, out_col) -> DataFrame:
        # smap derives from the UNION of both inputs, so this back-join
        # is a self-join — alias both sides and use qualified names so
        # the analyzer never sees a shared attribute id; the window
        # column is renamed per side for the same reason.
        kcols = smap.columns[:-2]
        d, m = df.alias("__side"), smap.alias("__smap")
        cond = [
            F.col(f"__side.`{a}`") == F.col(f"__smap.`{k}`")
            for a, k in zip(keys, kcols)
        ]
        cond.append(F.col(f"__side.`{ts}`") == F.col("__smap.`__ts`"))
        joined = d.join(m, functools.reduce(lambda x, y: x & y, cond), "left")
        return joined.select(
            *[F.col(f"__side.`{c}`") for c in df.columns],
            F.col("__smap.`__w`").alias(out_col),
        )

    def apply(self, *select_exprs: str, how: str = "inner") -> DataStream:
        w = self._assigner
        if isinstance(w, EventTimeSessionWindows):
            smap = self._session_map()
            l = self._with_session_window(self._l, self._lk, self._lts, smap, "__wl")
            r = self._with_session_window(self._r, self._rk, self._rts, smap, "__wr")
            if self._cogroup:
                lg = l.groupBy(F.col("__wl").alias("__w"), *self._lk).agg(
                    F.collect_list(
                        F.struct(*[c for c in self._l.columns])
                    ).alias("left_rows")
                )
                rg = r.groupBy(F.col("__wr").alias("__w"), *self._rk).agg(
                    F.collect_list(
                        F.struct(*[c for c in self._r.columns])
                    ).alias("right_rows")
                )
                lgx, rgx = lg.alias("__lg"), rg.alias("__rg")
                lw, rw = F.col("__lg.__w"), F.col("__rg.__w")
                cond = [lw == rw] + [
                    F.col(f"__lg.`{a}`") == F.col(f"__rg.`{b}`")
                    for a, b in zip(self._lk, self._rk)
                ]
                joined = lgx.join(
                    rgx, functools.reduce(lambda x, y: x & y, cond), "full_outer"
                )
                out = joined.select(
                    F.coalesce(
                        lw.getField("start"), rw.getField("start")
                    ).alias("window_start"),
                    F.coalesce(lw.getField("end"), rw.getField("end")).alias(
                        "window_end"
                    ),
                    *[
                        F.coalesce(
                            F.col(f"__lg.`{a}`"), F.col(f"__rg.`{b}`")
                        ).alias(a)
                        for a, b in zip(self._lk, self._rk)
                    ],
                    F.coalesce(F.col("__lg.left_rows"), F.array()).alias(
                        "left_rows"
                    ),
                    F.coalesce(F.col("__rg.right_rows"), F.array()).alias(
                        "right_rows"
                    ),
                )
            else:
                lx, rx = l.alias("__ljn"), r.alias("__rjn")
                lw, rw = F.col("__ljn.__wl"), F.col("__rjn.__wr")
                cond = [lw == rw] + [
                    F.col(f"__ljn.`{a}`") == F.col(f"__rjn.`{b}`")
                    for a, b in zip(self._lk, self._rk)
                ]
                wcol = F.coalesce(lw, rw)
                out = (
                    lx.join(rx, functools.reduce(lambda x, y: x & y, cond), how)
                    .withColumn("window_start", wcol.getField("start"))
                    .withColumn("window_end", wcol.getField("end"))
                    .drop("__wl", "__wr")
                )
            if select_exprs:
                out = out.selectExpr(*select_exprs)
            return DataStream(out)
        if self._cogroup:
            lg = (
                self._l.groupBy(w.expr(self._lts).alias("__w"), *self._lk)
                .agg(F.collect_list(F.struct(*self._l.columns)).alias("left_rows"))
            )
            rg = (
                self._r.groupBy(w.expr(self._rts).alias("__w"), *self._rk)
                .agg(F.collect_list(F.struct(*self._r.columns)).alias("right_rows"))
            )
            cond = [lg["__w"] == rg["__w"]] + [
                lg[a] == rg[b] for a, b in zip(self._lk, self._rk)
            ]
            joined = lg.join(rg, cond, "full_outer")
            out = joined.select(
                F.coalesce(lg["__w.start"], rg["__w.start"]).alias("window_start"),
                F.coalesce(lg["__w.end"], rg["__w.end"]).alias("window_end"),
                *[
                    F.coalesce(lg[a], rg[b]).alias(a)
                    for a, b in zip(self._lk, self._rk)
                ],
                F.coalesce(lg["left_rows"], F.array()).alias("left_rows"),
                F.coalesce(rg["right_rows"], F.array()).alias("right_rows"),
            )
        else:
            l = self._l.withColumn("__w", w.expr(self._lts))
            r = self._r.withColumn("__w", w.expr(self._rts))
            cond = [l["__w"] == r["__w"]] + [
                l[a] == r[b] for a, b in zip(self._lk, self._rk)
            ]
            wcol = F.coalesce(l["__w"], r["__w"])  # outer-join safe
            out = (
                l.join(r, cond, how)
                .withColumn("window_start", wcol.getField("start"))
                .withColumn("window_end", wcol.getField("end"))
                .drop(l["__w"])
                .drop(r["__w"])
            )
        if select_exprs:
            out = out.selectExpr(*select_exprs)
        return DataStream(out)
