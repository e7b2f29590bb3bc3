"""Streaming-query lowering family of the executeSql surface:
streaming OVER aggregation / deduplication, temporal (FOR SYSTEM_TIME
AS OF) and proc-time lookup joins, window-join upgrades, and streaming
INTERSECT/EXCEPT (incl. the CTE scope guard and the INSERT INTO
materialization).  Split out of sql_ddl.py in r10 (pure move)."""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame

# the moved method bodies reference the shared helpers by bare name
from flink_1_20_spark.sqlenv.text import (
    _from_comma_tables,
    _leading_cte_names,
    _scan_streaming_setops,
    _split_depth0,
    _split_top_all,
    _sql_mask,
    _sub_unquoted,
    _top_level,
)


class StreamingSqlMixin:
    """Methods host: composed into TableEnvironment."""

    # -- changelog (CDC) source aggregation -------------------------------

    # canonical retractable-agg shape: single changelog table, optional
    # WHERE, GROUP BY — the ChangelogSourceITCase query class
    _CHANGELOG_AGG = re.compile(
        r"^\s*SELECT\s+(?P<list>.*?)\s+FROM\s+`?(?P<tbl>\w+)`?"
        r"(?:\s+WHERE\s+(?P<where>.*?))?"
        r"\s+GROUP\s+BY\s+(?P<keys>[^;]+?)\s*;?\s*$",
        re.S | re.I,
    )
    _AGG_FN = re.compile(
        r"\b(count|sum|min|max|avg|stddev\w*|var\w*|listagg|collect|"
        r"first_value|last_value|approx_\w+|percentile\w*)\s*\(",
        re.I,
    )

    def _is_changelog_stream(self, tbl: str) -> bool:
        """True when `tbl` is a monitored-directory CDC table — its
        frame carries RowKind (+I/-U/+U/-D) rows as data."""
        meta = self._resolve_meta(tbl.strip("`"))
        return (
            meta is not None
            and meta.options.get("format") in self._CDC_FORMATS
            and meta.options.get("scan.streaming", "false") == "true"
        )

    def _guard_changelog_misuse(self, query: str) -> None:
        """A streaming aggregate over a CDC changelog source must apply
        retractions (-U/-D subtract — Flink's GroupAggFunction retract
        path); Spark's native streaming aggregation would count every
        changelog row as an insert and produce silently WRONG results.
        The canonical single-table shape is rewritten by
        _maybe_changelog_agg on the INSERT path; everything else —
        bare streaming SELECT ... GROUP BY, joins of changelog sources
        — rejects loudly here.  A query that references row_kind
        explicitly has opted into the rows-as-data view (RowKind is
        data in this engine's changelog model) and passes through."""
        if not re.search(r"\bGROUP\s+BY\b", query, re.I):
            return
        if re.search(r"\brow_kind\b", query, re.I):
            return
        blanked = _sql_mask(query)
        for tm in re.finditer(r"\b(?:FROM|JOIN)\s+`?(\w+)`?", blanked, re.I):
            if self._is_changelog_stream(tm.group(1)):
                raise ValueError(
                    f"aggregating the CDC changelog stream "
                    f"{tm.group(1)!r} requires retraction-aware "
                    "aggregation (-U/-D rows subtract — Flink's "
                    "GroupAggFunction retract path), which this engine "
                    "applies on `INSERT INTO <sink with PRIMARY KEY> "
                    "SELECT ... FROM <changelog> [WHERE ...] GROUP BY "
                    "...` with SUM/COUNT/AVG/STDDEV/VAR/MIN/MAX "
                    "aggregates; for other shapes "
                    "materialize the final image first "
                    "(operators/changelog.materialize_changelog) and "
                    "aggregate that, or reference row_kind explicitly "
                    "to aggregate the raw changelog rows as data"
                )

    def _maybe_changelog_agg(self, query: str) -> DataFrame | None:
        """Retract-aware streaming GROUP BY over a CDC changelog source
        (StreamExecGroupAggregate's retract path over a changelog-mode
        ScanTableSource — flink-table-planner ChangelogSourceITCase):
        +I/+U rows add, -U/-D rows subtract, so SUM becomes
        sum(expr * sign) and COUNT becomes sum(sign) — a plain signed
        aggregation that keeps Catalyst's map-side partials.  An UPDATE
        that moves a row between groups retracts from the old group
        (-U, sign -1) and adds to the new (+U, +1); a WHERE predicate
        filters each image independently (Flink's changelog filter
        semantics).  AVG is decomposable too (AvgAggFunction's retract
        path is signed sum / signed count).  MIN/MAX need per-group
        multiset state (Flink's Min/MaxWithRetractAggFunction MapState)
        — routed to streaming/changelog_agg.py's
        applyInPandasWithState fold; DISTINCT and other
        non-decomposable aggregates are rejected loudly.

        The output carries a hidden `__retract_live` column =
        sum(sign): when a group's live count reaches 0, Flink emits a
        DELETE to the sink (GroupAggFunction emits UPDATE_BEFORE/DELETE
        when the count accumulator hits zero) — the upsert materializer
        consumes the marker and removes the key (streaming/sinks.py
        upsert_foreach_batch retract_col).  Returns None when the
        statement is not the canonical shape or the table is not a
        changelog stream."""
        m = self._CHANGELOG_AGG.match(query)
        if not m:
            return None
        tbl = m.group("tbl")
        if not self._is_changelog_stream(tbl):
            return None
        if re.search(r"\brow_kind\b", query, re.I):
            return None  # rows-as-data view, user opted in
        if not self.spark.table(tbl).isStreaming:
            return None
        items = _split_top_all(m.group("list"), ",")
        parsed = []  # ("pass", text) | (kind, arg_sql, alias|None)
        for it in items:
            it = it.strip()
            if not self._AGG_FN.search(it):
                parsed.append(("pass", it))  # group key / plain expr
                continue
            if re.search(r"\bDISTINCT\b", it, re.I):
                raise ValueError(
                    f"changelog aggregation: DISTINCT aggregates need a "
                    f"retractable distinct accumulator — not supported "
                    f"over CDC source {tbl!r}; materialize the final "
                    "image first (materialize_changelog) and aggregate "
                    "that"
                )
            cm = re.match(
                r"^COUNT\s*\(\s*(?:\*|1)\s*\)\s*(?:AS\s+(`?\w+`?))?$",
                it, re.I,
            )
            if cm:
                parsed.append(("count_star", None, cm.group(1)))
                continue
            cm = re.match(
                r"^(COUNT|SUM|AVG|MIN|MAX|STDDEV_POP|STDDEV_SAMP|STDDEV"
                r"|VAR_POP|VAR_SAMP|VARIANCE)\s*\((.+)\)\s*"
                r"(?:AS\s+(`?\w+`?))?$",
                it, re.I | re.S,
            )
            if cm:
                kind = cm.group(1).lower()
                # Calcite/Flink alias convention: STDDEV = STDDEV_SAMP,
                # VARIANCE = VAR_SAMP
                kind = {"stddev": "stddev_samp", "variance": "var_samp"}.get(
                    kind, kind
                )
                parsed.append((kind, cm.group(2).strip(), cm.group(3)))
                continue
            raise ValueError(
                f"changelog aggregation supports SUM/COUNT/AVG/"
                f"STDDEV/VAR (signed decomposition) and retractable "
                f"MIN/MAX (multiset state) over CDC source {tbl!r}; "
                f"{it!r} needs a "
                "retractable accumulator this engine does not keep — "
                "materialize the final image first "
                "(operators/changelog.materialize_changelog) and "
                "aggregate that"
            )
        where = f" WHERE {m.group('where')}" if m.group("where") else ""
        inner = (
            f"(SELECT *, CASE WHEN row_kind IN ('+I', '+U') "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END "
            f"AS __sign FROM {tbl}{where}) __changelog"
        )
        if any(p[0] in ("min", "max") for p in parsed):
            # multiset-backed path (Min/MaxWithRetractAggFunction)
            from flink_1_20_spark.streaming.changelog_agg import (
                retractable_changelog_agg,
            )

            keys = [
                k.strip()
                for k in _split_top_all(m.group("keys").strip(), ",")
            ]
            return retractable_changelog_agg(
                self.spark, inner, keys, parsed
            )
        out_items = []
        for p in parsed:
            if p[0] == "pass":
                out_items.append(p[1])
                continue
            kind, arg, alias = p
            alias = f" AS {alias}" if alias else ""
            if kind == "count_star":
                out_items.append(f"CAST(sum(__sign) AS BIGINT){alias}")
            elif kind == "count":
                out_items.append(
                    f"CAST(sum(CASE WHEN ({arg}) IS NOT NULL THEN "
                    f"__sign ELSE 0 END) AS BIGINT){alias}"
                )
            elif kind == "sum":
                out_items.append(f"sum(({arg}) * __sign){alias}")
            elif kind in (
                "var_pop", "var_samp", "stddev_pop", "stddev_samp",
            ):
                # VarPop/VarSampAggFunction retract form (r12 verdict
                # task 5): signed (count, sum, sum-of-squares) —
                # variance is a pure function of the three, so the
                # retraction is the same signed decomposition SUM uses.
                # n < 1 (pop) / n < 2 (samp) → NULL (both engines'
                # convention); GREATEST(0, ·) absorbs the negative
                # epsilon float cancellation can leave under SQRT.
                n = (
                    f"sum(CASE WHEN ({arg}) IS NOT NULL THEN __sign "
                    f"ELSE 0 END)"
                )
                s = f"sum(CAST(({arg}) AS DOUBLE) * __sign)"
                ss = (
                    f"sum(CAST(({arg}) AS DOUBLE) * ({arg}) * __sign)"
                )
                if kind in ("var_pop", "stddev_pop"):
                    var = (
                        f"GREATEST(CAST(0 AS DOUBLE), ({ss}) / ({n}) "
                        f"- POWER(({s}) / ({n}), 2))"
                    )
                    guarded = f"CASE WHEN ({n}) >= 1 THEN {var} END"
                else:
                    var = (
                        f"GREATEST(CAST(0 AS DOUBLE), (({ss}) - ({s}) "
                        f"* ({s}) / ({n})) / (({n}) - 1))"
                    )
                    guarded = f"CASE WHEN ({n}) >= 2 THEN {var} END"
                expr = (
                    f"SQRT({guarded})"
                    if kind.startswith("stddev")
                    else f"({guarded})"
                )
                out_items.append(f"{expr}{alias}")
            else:  # avg — AvgAggFunction retract: signed sum / count
                out_items.append(
                    f"(sum(({arg}) * __sign) / sum(CASE WHEN ({arg}) "
                    f"IS NOT NULL THEN __sign ELSE 0 END)){alias}"
                )
        sel = ", ".join(out_items)
        return self.spark.sql(
            f"SELECT {sel}, CAST(sum(__sign) AS BIGINT) AS __retract_live "
            f"FROM {inner} GROUP BY {m.group('keys').strip()}"
        )

    # -- temporal (versioned) join ---------------------------------------
    def _proctime_lookup_join(
        self, sel, fact, fa, left_kw, dim, da, where, fact_keys, dim_keys
    ):
        """`JOIN dim FOR SYSTEM_TIME AS OF f.<proctime> AS d ON ...` —
        the processing-time LOOKUP join (CommonExecLookupJoin.java:141,
        TemporalProcessTimeJoinOperator.java:48): each fact row enriches
        against the dimension's CURRENT snapshot, not a versioned
        history.  Spark-first: the reference's per-row point lookup
        becomes a broadcast hash join of the snapshot
        (operators/lookup.lookup_join — what Flink's FULL-caching lookup
        mode converges to).  For a STREAMING fact this is a
        stream-static join: Spark re-resolves the static subtree every
        micro-batch, so each batch joins the freshest snapshot — the
        micro-batch analog of Flink's per-record lookup; TTL-bounded
        reload and async partial caching stay on the library surface
        (operators/lookup.RefreshingDim / async_lookup_join)."""
        from flink_1_20_spark.operators.lookup import lookup_join

        fact_df = self.spark.table(fact.strip("`"))
        dim_df = self.spark.table(dim)
        if dim_df.isStreaming:
            raise ValueError(
                f"processing-time lookup join reads the CURRENT snapshot "
                f"of {dim!r}, which must be a bounded (batch) table; a "
                "streaming versioned table takes the event-time form "
                "(FOR SYSTEM_TIME AS OF <rowtime>)"
            )
        for dk, fk in zip(dim_keys, fact_keys):
            if dk != fk:
                dim_df = dim_df.withColumnRenamed(dk, fk)
        clash = (set(fact_df.columns) & set(dim_df.columns)) - set(fact_keys)
        if clash:
            raise ValueError(
                f"lookup join: column name(s) {sorted(clash)} appear on "
                "both sides — alias them apart in the table schemas"
            )
        joined = lookup_join(
            fact_df, dim_df, on=fact_keys, how="left" if left_kw else "inner"
        )
        view = "__lookup_join_out"
        joined.createOrReplaceTempView(view)
        # strip alias qualifiers — the joined view is flat
        body = _sub_unquoted(sel, rf"\b(?:{fa}|{da})\.", "")
        tail = _sub_unquoted(where or "", rf"\b(?:{fa}|{da})\.", "")
        return self.spark.sql(f"SELECT {body} FROM {view}{tail}")

    def _temporal_join(self, s: str):
        """`JOIN dim FOR SYSTEM_TIME AS OF f.ts AS d ON ...` — the SQL
        spelling of the temporal/as-of join (StreamExecTemporalJoin.java,
        SqlSnapshot in the Calcite parser), lowered onto
        operators/asof.asof_join. The versioned side's event-time column
        is its DECLARED watermark column (Flink requires a rowtime +
        primary key on the versioned table; here the watermark in the
        CREATE TABLE metadata plays that role)."""
        m = re.match(
            r"SELECT\s+(.*?)\s+FROM\s+(\S+)(?:\s+AS)?\s+(\w+)\s+"
            r"(LEFT\s+)?JOIN\s+(\S+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+"
            r"(\w+)\.`?(\w+)`?(?:\s+AS)?\s+(\w+)\s+ON\s+(.+?)"
            r"(\s+WHERE\s+.+)?$",
            s,
            re.S | re.I,
        )
        if not m:
            raise ValueError(f"cannot parse temporal join: {s[:120]!r}")
        sel, fact, fa, left_kw, dim, ts_ref, ts_col, da, on, where = m.groups()
        dim = dim.strip("`")
        if ts_ref != fa:
            raise ValueError("AS OF must reference the fact side's time column")
        # equi keys from the ON conjunction, either side order
        fact_keys, dim_keys = [], []
        for clause in _split_depth0(on, r"\bAND\b"):
            em = re.match(
                r"\s*(\w+)\.`?(\w+)`?\s*=\s*(\w+)\.`?(\w+)`?\s*$", clause
            )
            if not em:
                raise ValueError(f"temporal join ON must be equi: {clause!r}")
            a_al, a_c, b_al, b_c = em.groups()
            if a_al == fa and b_al == da:
                fact_keys.append(a_c)
                dim_keys.append(b_c)
            elif a_al == da and b_al == fa:
                fact_keys.append(b_c)
                dim_keys.append(a_c)
            else:
                raise ValueError(f"ON clause references unknown alias: {clause!r}")
        # AS OF the fact's PROCTIME() attribute → processing-time
        # LOOKUP join (current dim snapshot), not a versioned join
        fmeta_pt = self._resolve_meta(fact.strip("`"))
        if fmeta_pt is not None and fmeta_pt.proctime_col() == ts_col:
            return self._proctime_lookup_join(
                sel, fact, fa, left_kw, dim, da, where, fact_keys, dim_keys
            )
        meta = self.tables.get(dim)
        if meta is None or meta.watermark is None:
            raise ValueError(
                f"versioned table {dim!r} needs a declared WATERMARK "
                "(its rowtime) in CREATE TABLE — or, for a lookup join "
                "against the current snapshot, make the AS OF column a "
                "PROCTIME() attribute of the fact table"
            )
        dim_ts = meta.watermark[0]
        from pyspark.sql import functions as F

        from flink_1_20_spark.operators.asof import asof_join

        fact_df = self.spark.table(fact.strip("`"))
        dim_df = self.spark.table(dim)
        for dk, fk in zip(dim_keys, fact_keys):
            if dk != fk:
                dim_df = dim_df.withColumnRenamed(dk, fk)
        if fact_df.isStreaming:
            # STREAMING temporal join (StreamExecTemporalJoin.java:70):
            # both sides keyed into one state scope, events matched to
            # the latest dim version at-or-before their rowtime
            # (streaming/temporal_stream.temporal_join_stream).
            if not dim_df.isStreaming:
                raise ValueError(
                    "streaming FOR SYSTEM_TIME AS OF needs a STREAMING "
                    "versioned table (its updates are the version "
                    "stream); for a static dimension use the lookup "
                    "join (operators/lookup.py) instead"
                )
            if left_kw is None:
                raise ValueError(
                    "streaming FOR SYSTEM_TIME AS OF supports LEFT JOIN "
                    "here (events with no version yet emit NULL dim "
                    "columns; INNER would have to retract them when a "
                    "late version arrives)"
                )
            if len(fact_keys) != 1:
                raise ValueError(
                    "streaming temporal join supports a single equi key"
                )
            from flink_1_20_spark.streaming.temporal_stream import (
                temporal_join_stream,
            )

            # the registered views carry their DECLARED watermarks; the
            # operator defines ITS OWN on the tagged union's time column
            # and Spark forbids redefinition — rebuild both sides as
            # unwatermarked streams from their table metadata
            fmeta2 = self._resolve_meta(fact.strip("`"))
            dmeta2 = self._resolve_meta(dim)
            if fmeta2 is not None:
                fact_df = self._unwatermarked_stream(fmeta2)
            if dmeta2 is not None:
                dim_df = self._unwatermarked_stream(dmeta2)
                for dk, fk in zip(dim_keys, fact_keys):
                    if dk != fk:
                        dim_df = dim_df.withColumnRenamed(dk, fk)

            key = fact_keys[0]
            f_types = dict(fact_df.dtypes)
            d_types = dict(dim_df.dtypes)
            ev_payload = [
                c for c in fact_df.columns if c not in (key, ts_col)
            ]
            dim_payload = [
                c for c in dim_df.columns if c not in (key, dim_ts)
            ]
            clash = (set(ev_payload) & set(dim_payload)) | (
                {"ts"} & (set(ev_payload) | set(dim_payload))
            )
            if clash:
                # the flattened join output has one namespace; a shared
                # payload name would produce duplicate columns
                raise ValueError(
                    f"streaming temporal join: column name(s) {sorted(clash)} "
                    "appear on both sides (or collide with the reserved "
                    "'ts' output) — alias them apart in the table schemas"
                )
            out_schema = ", ".join(
                [
                    f"{key} {f_types[key]}",
                    "ts timestamp",
                    *(f"{c} {f_types[c]}" for c in ev_payload),
                    *(f"{c} {d_types[c]}" for c in dim_payload),
                ]
            )
            # each side's DECLARED watermark delay bounds its own
            # disorder — the operator combines the two watermarks with
            # Spark's min policy, the reference's two-input watermark.
            # The STRICT shared parse (not an INTERVAL-token search):
            # the zero-delay forms (ascending `<col>`,
            # SOURCE_WATERMARK()) must map to '0 seconds', not to
            # watermark-mode-off (r11 review find).
            from flink_1_20_spark.sqlenv.text import parse_watermark_delay

            def _declared_delay(meta_):
                if meta_ is None or meta_.watermark is None:
                    return None
                return parse_watermark_delay(*meta_.watermark)

            delay = _declared_delay(fmeta2)
            joined = temporal_join_stream(
                fact_df,
                dim_df,
                key=key,
                event_ts=ts_col,
                dim_ts=dim_ts,
                event_payload=ev_payload,
                dim_payload=dim_payload,
                output_schema=out_schema,
                watermark_delay=delay,
                dim_watermark_delay=_declared_delay(dmeta2),
            )
            if ts_col != "ts":
                joined = joined.withColumnRenamed("ts", ts_col)
            view = "__temporal_join_stream_out"
            joined.createOrReplaceTempView(view)
            body = _sub_unquoted(sel, rf"\b(?:{fa}|{da})\.", "")
            tail = _sub_unquoted(where or "", rf"\b(?:{fa}|{da})\.", "")
            return self.spark.sql(f"SELECT {body} FROM {view}{tail}")
        dim_df = dim_df.withColumn("__version_ts", F.col(dim_ts))
        payload = [
            c
            for c in dim_df.columns
            if c not in fact_keys and c not in (dim_ts, "__version_ts")
        ]
        joined = asof_join(
            fact_df,
            dim_df,
            on=fact_keys,
            left_ts=ts_col,
            right_ts=dim_ts,
            right_cols=[*payload, "__version_ts"],
        )
        if not left_kw:  # plain JOIN = INNER: drop rows with no version
            joined = joined.filter(F.col("__version_ts").isNotNull())
        joined = joined.drop("__version_ts")
        view = "__temporal_join_out"
        joined.createOrReplaceTempView(view)
        # strip alias qualifiers — the joined view is flat
        body = _sub_unquoted(sel, rf"\b(?:{fa}|{da})\.", "")
        tail = _sub_unquoted(where or "", rf"\b(?:{fa}|{da})\.", "")
        return self.spark.sql(f"SELECT {body} FROM {view}{tail}")

    def _try_streaming_over(self, stmt: str) -> DataFrame | None:
        """Streaming over-aggregation — `SUM/COUNT/AVG(v) OVER
        (PARTITION BY k ORDER BY rowtime ROWS n PRECEDING | RANGE
        INTERVAL PRECEDING)` on a streaming table (Spark rejects window
        functions on streams): lowered onto the keyed-state facades
        streaming_over_rows / streaming_over_range
        (RowTimeRowsBoundedPrecedingFunction.java:57 /
        RowTimeRangeBoundedPrecedingFunction.java:64 — one emission per
        input row, update mode). Recognized strictly: one streaming
        table, one shared window spec (inline or a WINDOW clause) over
        the declared rowtime, all aggregates over one value column
        (COUNT(*) allowed), select items limited to keys/rowtime/value
        plus the aggregates. Anything else returns None → Catalyst's
        own error."""
        m = self._OVER_STMT.match(stmt.strip())
        if not m or "OVER" not in stmt.upper():
            return None
        tbl = m.group(2)
        if not self._is_streaming_table(tbl):
            return None
        named = {m.group(3): m.group(4).strip()} if m.group(3) else {}
        # items in SELECT-LIST ORDER — the output projection must
        # preserve it (positional consumers: INSERT sinks, SELECT *)
        items: list[tuple[str, tuple]] = []  # ("plain", (col, alias)) |
        # ("agg", (fn, col, alias))
        aggs: list[tuple[str, str, str]] = []
        spec_texts: set[str] = set()
        for item in _split_top_all(m.group(1), ","):
            item = item.strip()
            om = self._OVER_ITEM.match(item)
            if om:
                spec = om.group(3)
                if spec.startswith("("):
                    spec_texts.add(spec[1:-1].strip())
                elif spec in named:
                    spec_texts.add(named[spec])
                else:
                    return None
                fn_, col = om.group(1).upper(), om.group(2).strip("`")
                if fn_ == "COUNT" and col != "*":
                    return None  # COUNT(col) ≠ COUNT(*) under NULLs
                entry = (fn_, col, om.group(4))
                aggs.append(entry)
                items.append(("agg", entry))
                continue
            cm = re.match(r"`?(\w+)`?(?:\s+AS\s+`?(\w+)`?)?$", item, re.I)
            if not cm:
                return None
            items.append(("plain", (cm.group(1), cm.group(2) or cm.group(1))))
        if not aggs or len(spec_texts) != 1:
            return None
        plain = [p for kind, p in items if kind == "plain"]
        sm = self._OVER_SPEC.match(spec_texts.pop())
        if not sm:
            return None
        keys = [k.strip().strip("`") for k in sm.group(1).split(",")]
        ts = sm.group(2)
        meta = self._resolve_meta(tbl)
        if not (meta and meta.watermark and meta.watermark[0] == ts):
            return None  # rowtime ordering only (proc-time → Catalyst)
        vcols = {c for f, c, _ in aggs if not (f == "COUNT" and c == "*")}
        if len(vcols) > 1:
            return None
        v = vcols.pop() if vcols else None
        for name, _alias in plain:
            if name not in keys and name != ts and name != v:
                return None  # facade carries keys/rowtime/value only
        if v is None:
            return None  # COUNT-only shape still needs the value column
        from flink_1_20_spark.streaming.process import (
            streaming_over_range,
            streaming_over_rows,
        )

        df = self.spark.table(tbl)
        types = dict(df.dtypes)
        if any(k not in types for k in keys) or ts not in types or v not in types:
            return None  # expression keys etc. → Catalyst's own error
        # facade contract: the value and its aggregates are DOUBLE
        # (Flink types SUM(BIGINT) as BIGINT; the keyed-state facade
        # computes in float — documented divergence), and the value
        # column must be non-null numeric
        out_schema = ", ".join(
            [
                *(f"{k} {types[k]}" for k in keys),
                f"ts {types[ts]}",
                "value double",
                "win_sum double",
                "win_cnt bigint",
                "win_avg double",
            ]
        )
        bound = sm.group(4).strip()
        if sm.group(3).upper() == "ROWS":
            if not re.fullmatch(r"\d+", bound):
                return None
            out = streaming_over_rows(df, keys, ts, v, int(bound), out_schema)
        else:
            from flink_1_20_spark.sql_flink import _parse_interval

            try:
                secs = _parse_interval(bound)[2]
            except Exception:
                return None
            out = streaming_over_range(df, keys, ts, v, int(secs), out_schema)
        from pyspark.sql import functions as F

        facade = {"SUM": "win_sum", "COUNT": "win_cnt", "AVG": "win_avg"}
        sel = []
        for kind, payload in items:  # SELECT-LIST order preserved
            if kind == "plain":
                name, alias = payload
                src = "ts" if name == ts else ("value" if name == v else name)
                sel.append(F.col(src).alias(alias))
            else:
                fn_, _c, alias = payload
                sel.append(F.col(facade[fn_]).alias(alias))
        return out.select(*sel)

    def _try_streaming_dedup(self, stmt: str) -> DataFrame | None:
        """Flink's streaming rank shapes — dedup AND Top-N — recognized
        on `ROW_NUMBER() OVER (PARTITION BY k ORDER BY c [ASC|DESC])
        ... WHERE rn <= N` (or `= 1`) over a streaming table (Spark
        cannot run row_number on a stream):

        - N = 1 on the declared WATERMARK rowtime → deduplication
          (StreamExecDeduplicate.java:89): stateful min_by/max_by per
          key — event-time keep-first/keep-last including out-of-order
          rows, an updating result like Flink's dedup changelog. Rows
          with EQUAL timestamps: min_by/max_by picks an arbitrary one,
          where Flink's RowTimeDeduplicateFunction keeps the first/last
          ARRIVED — arrival order isn't observable to a Spark stateful
          aggregate, so ties are nondeterministic here (Flink's own
          pick is arrival-dependent and not reproducible across runs
          either). SELECT * drops the constant-1 rank column; an
          outer projection reading it falls through.
        - anything else (N > 1, or N = 1 ordered by a non-rowtime
          column) → streaming Top-N (StreamExecRank.java:70) via
          streaming/rank.streaming_topn: per-key state bounded by N,
          the rank column emitted under the user's alias, update-mode
          changelog keyed on (keys, rank).

        Returns None (→ Catalyst) for batch sources, `rn = N` with
        N ≠ 1, or unmatched shapes."""
        m = self._DEDUP_RANK.match(stmt)
        if not m:
            return None
        tbl = m.group("tbl")
        if not self._is_streaming_table(tbl):
            return None
        n = int(m.group("topn"))
        if m.group("cmp") == "=" and n != 1:
            return None  # `rn = 3` selects one exact rank — not dedup/Top-N
        if n < 1:
            return None  # `rn <= 0` is a degenerate empty query — Catalyst
        meta = self._resolve_meta(tbl)
        ts = m.group("ts")
        outer = m.group("outer").strip()
        keys = [k.strip().strip("`") for k in m.group("keys").split(",")]
        if ts in keys:
            return None  # ordering by a partition key — degenerate rank
        df = self.spark.table(tbl)
        ascending = (m.group("dir") or "ASC").upper() == "ASC"
        rowtime = meta is not None and meta.watermark and meta.watermark[0] == ts
        outer_reads_rank = bool(
            re.search(rf"\b{re.escape(m.group('rn'))}\b", outer)
        )
        if n == 1 and rowtime and not outer_reads_rank:
            # pure dedup (rank dropped): event-time keep-first/last;
            # equal-timestamp ties are arbitrary (see docstring)
            from pyspark.sql import functions as F

            pick = F.min_by if ascending else F.max_by
            rest = [c for c in df.columns if c not in keys]
            picked = df.groupBy(*keys).agg(
                pick(F.struct(*rest), F.col(ts)).alias("__r")
            )
            # source column order preserved (keys stay in declared position)
            out = picked.select(
                *[
                    F.col(c) if c in keys else F.col(f"__r.{c}").alias(c)
                    for c in df.columns
                ]
            )
        else:
            # general Top-N (StreamExecRank): bounded per-key state, the
            # rank column IS part of the output (named as the user's
            # alias) so outer projections may read it — including the
            # rowtime-ordered rn<=1 case when the outer SELECT wants rn
            from flink_1_20_spark.streaming.rank import streaming_topn

            out = streaming_topn(
                df, keys, ts, n, ascending=ascending, rank_col=m.group("rn")
            )
        if outer == "*":
            return out
        view = f"__dedup_{abs(hash(stmt)) % 10**8}"
        out.createOrReplaceTempView(view)
        return self.spark.sql(f"SELECT {outer} FROM {view}")

    def _rewrite_cascading_tvf_sources(self, sql: str) -> str:
        """Cascading window aggregation (window-agg.md 'cascading
        window aggregation'): when a window TVF's source is a VIEW over
        another window TVF aggregation and the descriptor is that
        view's (aliased) window_time, rebuild the view with the
        metadata-PROPAGATING lowering — window_time(__w) carries
        spark.watermarkDelayMs, Spark's chained-windowed-aggregation
        mechanism — under `<view>__cascade_wm` and redirect the TVF
        source.  Re-watermarking instead would deadlock (two watermark
        nodes, min-combined; see find_cascading_tvf_sources).  Only
        TUMBLE/HOP inner views can propagate (their lowerings keep the
        native window struct; the CUMULATE/SESSION lowerings do not),
        and only window_time is a time attribute of a window agg's
        output — both matching the reference.  Value caveat: the
        rebuilt view's window_time is end - 1µs (Spark's function)
        where the reference's is end - 1ms — same window assignment
        for any sane outer window size."""
        from flink_1_20_spark.sql_flink import (
            find_cascading_tvf_sources,
            rewrite_flink_builtins,
            rewrite_legacy_group_windows,
            rewrite_unnest,
            rewrite_window_tvfs,
        )

        # reverse source order: each successful redirect splices the
        # rebuilt view name into THIS head's source-token span only, so
        # later (earlier-offset) spans stay valid and a second TVF over
        # the same view keyed on a different column keeps the original
        for table, ts, name_start, name_end in reversed(
            find_cascading_tvf_sources(sql, self._cascade_time_attr)
        ):
            body = self._view_sql.get(table)
            if body is None:
                continue
            try:
                df = self.spark.table(table)
            except Exception:
                continue
            if not df.isStreaming or ts not in df.columns:
                continue
            if "spark.watermarkDelayMs" in (df.schema[ts].metadata or {}):
                continue  # already carries event time — nothing to do
            b = rewrite_unnest(
                rewrite_legacy_group_windows(rewrite_window_tvfs(body))
            )
            b = rewrite_flink_builtins(b)
            # swap the rowtime projection for the metadata-carrying
            # window_time(__w) — a function of the group key (the __w
            # GROUP BY fix below exposes the struct), so ONLY the
            # aliased output column is event-time-tagged; projecting
            # window_time(__w) inside the derived table instead would
            # put TWO tagged columns (__w + window_time) in one
            # intermediate ("More than one event time columns").
            b, nsub = re.subn(
                rf"\bwindow_time\s+AS\s+`?{re.escape(ts)}`?",
                f"window_time(__w) AS {ts}",
                b,
                count=1,
                flags=re.I,
            )
            if not nsub:
                continue  # descriptor not an aliased window_time of a
                # TUMBLE/HOP body — keep the loud downstream failure
            # expose __w to the agg (the same two substitutions the
            # streaming __w re-lowering applies — applied HERE because
            # the swapped window_time(__w) reference cannot even
            # ANALYZE before the struct is exposed)
            gm = re.search(
                r"GROUP\s+BY\s+(?=[\w\s,.`]*\bwindow_start\b)", b, re.I
            )
            if gm is None:
                continue
            # group by the metadata-carrying expression itself: a
            # tagged window_time(__w) key satisfies Spark's streaming
            # append check on its own, and it must be the ONLY tagged
            # key — adding __w as well trips "More than one event time
            # columns" at runtime (both keys carry the tag)
            grouped = re.sub(
                r"\bwindow_time\b(?!\s*\()",
                "window_time(__w)",
                b[gm.end():],
            )
            b = b[: gm.end()] + grouped
            b = b.replace("SELECT * EXCEPT(__w),", "SELECT *,")
            try:
                rebuilt = self.spark.sql(b)
            except Exception:
                continue  # unexpected body shape — loud failure stays
            if "spark.watermarkDelayMs" not in (
                rebuilt.schema[ts].metadata or {}
            ):
                continue  # propagation didn't take — keep the loud
                # downstream failure rather than mis-wire
            wm_view = f"{table}__cascade_wm"
            rebuilt.createOrReplaceTempView(wm_view)
            sql = sql[:name_start] + wm_view + sql[name_end:]
        return sql

    def _sql_streaming_lowered(self, query: str) -> DataFrame:
        """spark.sql with the streaming window-TVF compatibility pass:
        streaming CUMULATE gets the documented facade pointer, and a
        streaming __w aggregation is re-lowered with the window STRUCT
        in the GROUP BY (Spark's append-mode watermark check requires
        it; functionally dependent on start+end so results are
        identical). The lookahead admits only identifier-list characters
        between GROUP BY and window_start, so GROUP BYs of unrelated
        subqueries (crossing parentheses) are never touched. Shared by
        the SELECT fallthrough and the INSERT body path."""
        self._guard_changelog_misuse(query)
        df = self.spark.sql(query)
        if df.isStreaming and "__cum" in query:
            # streaming CUMULATE: expose the hidden max-window struct and
            # group by it — (__wm, window_end) keys each slice, and the
            # struct satisfies the append-mode watermark check. Emission
            # note (documented parity gap): every slice of a bucket emits
            # when the bucket's MAX window passes the watermark, where
            # Flink's SliceAssigners emit each slice at its own end — the
            # emitted rows are identical, later.
            from flink_1_20_spark.sql_flink import CUMULATE_HIDDEN_PROJ

            fixed = query.replace(CUMULATE_HIDDEN_PROJ, "SELECT * EXCEPT(__we),")
            fixed, n = re.subn(
                r"(GROUP\s+BY\s+)(?=[\w\s,.`]*\bwindow_start\b)",
                r"\1__wm, ",
                fixed,
                flags=re.I,
            )
            if not n:
                raise ValueError(
                    "streaming CUMULATE window TVF requires the aggregate "
                    "GROUP BY window_start, window_end shape — use "
                    "flink_1_20_spark.streaming.windows.cumulate_window_agg "
                    "on the DataFrame API for other shapes"
                )
            return self.spark.sql(fixed)
        if df.isStreaming and query.count("EXCEPT(__w)") >= 2 and re.search(
            r"\bJOIN\b", query, re.I
        ):
            # streaming window JOIN (StreamExecWindowJoin.java): two
            # TVF-windowed streams joined on window_start AND window_end.
            # Joining on the PROJECTED timestamps runs, but Spark derives
            # NO state-cleanup watermark from them — join state grows
            # forever (probed: 0 rows ever removed). Joining on the
            # window STRUCT itself is the documented stream-stream
            # window-join shape and evicts closed windows, so the
            # lowering keeps __w on both sides and adds the struct
            # equality to the ON condition (the start/end equalities it
            # implies stay — they are harmless conjuncts).
            upgraded = self._upgrade_streaming_window_join(query)
            if upgraded is not None:
                return upgraded
        if df.isStreaming:
            # set ops FIRST: each side gets its own full lowering
            # recursively (incl. the GROUP-BY-__w pass below, which
            # must never run across a set-op boundary)
            lowered = self._maybe_streaming_setop(query)
            if lowered is not None:
                return lowered
        if df.isStreaming and "__w" in query:
            fixed, n = re.subn(
                r"(GROUP\s+BY\s+)(?=[\w\s,.`]*\bwindow_start\b)",
                r"\1__w, ",
                query,
                flags=re.I,
            )
            if n:
                fixed = fixed.replace("SELECT * EXCEPT(__w),", "SELECT *,")
                df = self.spark.sql(fixed)
        return df

    def _upgrade_streaming_window_join(self, query: str) -> DataFrame | None:
        """Rewrite a lowered streaming window join to keep the window
        STRUCT and join on it (state-eviction contract — see caller).
        Applies only to the canonical single-join shape whose OUTERMOST
        select list is star-free; anything else returns None and the
        caller keeps the already-planned form (correct rows, unbounded
        state). Only the outermost list decides the output schema — a
        star there (SELECT *, SELECT L.*) would leak the kept struct
        into the sink; wrapper stars INSIDE subqueries (the idiomatic
        `SELECT * FROM TABLE(TUMBLE(...))`) merely forward columns and
        must not disqualify the upgrade (a prior guard rejected on any
        star anywhere, silently disabling it for every canonical TVF
        query). Over-rejecting unknown shapes (WITH, COUNT(*)) only
        forgoes state eviction, never correctness."""
        if self._outer_select_has_star(query):
            return None
        mw = re.search(
            r"\bON\b(.*?)(?=\bWHERE\b|\bGROUP\s+BY\b|\bORDER\s+BY\b|\bLIMIT\b|$)",
            query,
            re.S | re.I,
        )
        if not mw:
            return None
        cond = mw.group(1)
        ms = re.search(r"(\w+)\.window_start\s*=\s*(\w+)\.window_start", cond, re.I)
        me = re.search(r"(\w+)\.window_end\s*=\s*(\w+)\.window_end", cond, re.I)
        if not (ms and me) or set(ms.groups()) != set(me.groups()):
            return None
        la, ra = ms.group(1), ms.group(2)
        fixed = query.replace(
            "SELECT * EXCEPT(__w), __w.start AS window_start",
            "SELECT *, __w.start AS window_start",
        )
        fixed = re.sub(
            r"\bON\b",
            f"ON {la}.__w = {ra}.__w AND ",
            fixed,
            count=1,
            flags=re.I,
        )
        try:
            df = self.spark.sql(fixed)
            return df if df.isStreaming else None
        except Exception:
            return None

    @staticmethod
    def _guard_setop_cte_scope(query: str, right_text: str) -> None:
        """The streaming set-op lowering splits the TEXT at the
        operator, so a leading WITH scope is invisible to the right
        side.  Reject when the right side uses a declared CTE name in a
        TABLE position (after FROM/JOIN — a column merely named like a
        CTE must not misfire) — resolution-failure classification is
        not enough: a same-named REGISTERED table would silently bind
        instead of the CTE (wrong results, no error), and an unrelated
        missing-table typo must keep its own error.  A WITH whose CTEs
        only the left side uses keeps working (the left split retains
        the full prefix).  An unparseable WITH prologue fails safe:
        unknown CTEs must not silently disarm the guard."""
        names, complete = _leading_cte_names(query)
        if not complete:
            raise ValueError(
                "cannot establish the WITH/CTE scope of this streaming "
                "set operation (unparseable CTE prologue) — the lowering "
                "splits the text at the operator, losing the scope; "
                "inline the CTEs or stage them through a table"
            )
        # comments blanked (r10): `JOIN -- note\n cte` slipped the
        # FROM/JOIN regex (\s+ cannot cross the comment TEXT) and the
        # comma scanner (which stops at the JOIN stop-keyword), letting
        # the CTE name silently bind to a same-named registered table.
        # String literals blanked too: 'pulled FROM c' is content, and
        # matching it falsely REJECTS a valid query. Backticks survive —
        # `FROM \`c\`` is a real reference and must keep firing.
        scope_text = _sql_mask(right_text)
        comma_tables = _from_comma_tables(right_text) if names else set()
        for name in names:
            if name.lower() in comma_tables or re.search(
                rf"\b(?:FROM|JOIN)\s+`?{re.escape(name)}`?\b",
                scope_text,
                re.I,
            ):
                raise ValueError(
                    f"streaming set operations whose right side references "
                    f"the WITH/CTE name {name!r} are not supported (the "
                    "lowering splits the text at the operator, losing the "
                    "CTE scope) — inline the CTE or stage it through a "
                    "table"
                )

    def _maybe_streaming_setop(self, query: str):
        """Streaming INTERSECT / EXCEPT (StreamExecIntersect/Minus —
        Flink computes both over the retraction changelog). Spark's
        checker rejects Intersect/Except on streams outright (and semi
        joins demand watermarked keys), but INTERSECT DISTINCT lowers
        to supported pieces: dropDuplicates each side (append-mode
        streaming dedup), then a plain stream-stream INNER join on
        null-safe key equality — both sides unique, so each common row
        emits exactly once when both have arrived. EXCEPT [ALL] and
        INTERSECT ALL need retraction state (their result UPDATES as
        right-side rows arrive), which no append DataFrame can carry —
        they reject here with a pointer to INSERT INTO a filesystem
        sink, where _try_streaming_setop_insert materializes the
        signed-count composition (streaming/setops.py), or to the
        changelog facade (operators/changelog_join.py) for direct
        DataFrame use."""
        found = _scan_streaming_setops(query)
        if not found:
            return None
        start, end, op, is_all = found[0]
        if op == "EXCEPT" or is_all:
            what = "EXCEPT" if op == "EXCEPT" else "INTERSECT ALL"
            raise ValueError(
                f"streaming {what} needs retraction state (Flink's "
                "StreamExecMinus/Intersect keep per-row multiset "
                "counts) — an updating result cannot be returned as an "
                "append DataFrame; INSERT INTO a filesystem sink to "
                "materialize it (the signed-count state of "
                "operators/changelog_join.py, managed per epoch), or "
                "use the changelog facade directly"
            )
        # each side takes the FULL streaming lowering recursively —
        # windowed-aggregate sides get their GROUP-BY-__w pass, and a
        # chained `A INTERSECT B INTERSECT C` right side lowers itself
        # (INTERSECT is commutative/associative, so first-keyword
        # splitting is order-safe; EXCEPT anywhere raises above)
        self._guard_setop_cte_scope(query, query[end:])
        left = self._sql_streaming_lowered(query[:start]).dropDuplicates()
        right = self._sql_streaming_lowered(query[end:]).dropDuplicates()
        if len(left.columns) != len(right.columns):
            raise ValueError("INTERSECT sides must have equal column counts")
        cond = None
        for lc, rc in zip(left.columns, right.columns):
            c = left[lc].eqNullSafe(right[rc])
            cond = c if cond is None else cond & c
        return left.join(right, on=cond, how="inner").select(
            *[left[c] for c in left.columns]
        )

    @staticmethod
    def _outer_select_has_star(query: str) -> bool:
        """True when the OUTERMOST select list (leading SELECT up to its
        paren-depth-0 FROM) contains a PROJECTION star — `*` or `L.*` at
        list position (start of list, after a comma, or after a dot),
        at depth 0. Multiplication (`a * 2`) and stars inside calls
        (COUNT(*)) are not projection stars. Non-SELECT-leading shapes
        (WITH, ...) read as True, conservatively — the caller then
        forgoes the struct upgrade, which for OUTER window joins means
        the query fails Spark's outer-join watermark check at start
        (documented cost of the unknown shape, not a correctness risk
        for anything that runs)."""
        s = query.lstrip()
        # a set quantifier is skipped so SELECT DISTINCT * / SELECT ALL *
        # still classify the star as the first list item
        m = re.match(r"SELECT\s+(?:(?:DISTINCT|ALL)\b)?", s, re.I)
        if not m:
            return True
        for t in _top_level(s[m.end() :], r"\bFROM\b|\*"):
            if t.group() != "*":
                return False
            # the last significant char before the star (mask: comments
            # blank, quoted text keeps its delimiters) decides: list
            # start, a comma or a dot make it a projection star
            if t.string[: t.start()].rstrip()[-1:] in ("", ",", "."):
                return True
        return False

    def _try_streaming_setop_insert(
        self,
        name: str,
        meta,
        query: str,
        static_partition: str | None,
        columns: list[str] | None,
        overwrite: bool = False,
    ):
        """Streaming EXCEPT [ALL] / INTERSECT ALL materialized into a
        filesystem sink (StreamExecMinus / StreamExecIntersect with
        retraction — Flink keeps per-row multiset counts on both sides
        and emits an updating changelog as multiplicities change).
        Spark cannot return that as a DataFrame, so the INSERT runs the
        signed-count composition of streaming/setops.py: one tagged
        union stream, per-epoch count-state fold, affected-key sink
        merge — the sink table always holds the current result, with
        retraction (a right arrival removing an EXCEPT row) applied in
        place.  Returns the StreamingQuery, or None when the query has
        no retraction-requiring set op (the INTERSECT DISTINCT lowering
        and the batch path handle everything else)."""
        ops = _scan_streaming_setops(query)
        if not any(o[2] == "EXCEPT" or o[3] for o in ops):
            return None
        if not self.spark.sql(query).isStreaming:
            return None  # bounded: Spark's native exceptAll/intersectAll
        if len(ops) > 1:
            raise ValueError(
                "chained streaming set operations are not supported — "
                "materialize one EXCEPT / INTERSECT ALL per INSERT "
                "(stage intermediate results through a table)"
            )
        if static_partition or columns:
            raise ValueError(
                "PARTITION / explicit column lists are not supported "
                "for streaming set-op materialization"
            )
        if meta.connector != "filesystem" or (
            meta.options.get("format", "parquet") != "parquet"
        ):
            raise ValueError(
                "streaming set-op materialization rewrites the sink by "
                "parquet merge; only filesystem parquet sinks are "
                "supported"
            )
        start, end, op, is_all = ops[0]
        self._guard_setop_cte_scope(query, query[end:])
        left = self._sql_streaming_lowered(query[:start])
        right = self._sql_streaming_lowered(query[end:])
        if not (left.isStreaming and right.isStreaming):
            raise ValueError(
                "streaming EXCEPT / INTERSECT ALL requires both sides "
                "streaming; stage a bounded side through a monitored "
                "directory table"
            )
        if len(left.columns) != len(right.columns):
            raise ValueError("set-op sides must have equal column counts")
        from pyspark.sql import functions as F

        from flink_1_20_spark.streaming.setops import (
            SIDE_COL,
            setop_foreach_batch,
        )

        if SIDE_COL in left.columns or SIDE_COL in right.columns:
            # withColumn would silently REPLACE a user column named
            # __side before the materializer's reserved-name guard can
            # see it — reject at the source instead
            raise ValueError(
                f"column name {SIDE_COL!r} is reserved by the set-op "
                "materializer — alias it in the query"
            )
        right = right.select(
            [right[c].alias(lc) for c, lc in zip(right.columns, left.columns)]
        )
        combined = left.withColumn(SIDE_COL, F.lit(1)).unionByName(
            right.withColumn(SIDE_COL, F.lit(0))
        )
        sink_types = None
        if meta.columns:
            if len(left.columns) != len(meta.columns):
                raise ValueError(
                    f"INSERT query produces {len(left.columns)} columns "
                    f"for {len(meta.columns)} declared columns of "
                    f"{meta.name}"
                )
            # positional bind + physical names, like the main INSERT
            # path — but RENAME-ONLY here: Flink evaluates the set op
            # on the query's values and applies the implicit sink cast
            # afterwards, so the cast travels to the materializer and
            # lands on the exploded output rows, never on the values
            # the multiset counts fold over
            combined = combined.select(
                [
                    combined[src].alias(meta.renames.get(c, c))
                    for src, (c, _t) in zip(left.columns, meta.columns)
                ]
                + [combined[SIDE_COL]]
            )
            sink_types = [t for _c, t in meta.columns]
        value_cols = [c for c in combined.columns if c != SIDE_COL]
        path = meta.options["path"]
        q = setop_foreach_batch(
            combined,
            value_cols,
            op,
            is_all,
            path,
            checkpoint=meta.options.get("checkpoint", path + ".__ckpt__"),
            sink_types=sink_types,
            overwrite=overwrite,
        )
        self._register_streaming_sink(meta, q)
        return q

