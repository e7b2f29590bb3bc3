"""Flink-SQL dialect rewrites: window TVFs and MATCH_RECOGNIZE.

Reference parity: the Flink-specific SQL syntax every Flink SQL script
uses but Catalyst cannot parse —

- window TVFs `TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR))`
  (FlinkSqlOperatorTable.java:1296-1299: TUMBLE/HOP/CUMULATE/SESSION;
  exec node stream/StreamExecWindowTableFunction.java:73)
- `MATCH_RECOGNIZE` row-pattern matching
  (stream/StreamExecMatch.java:59, CommonExecMatch.java:84; grammar in
  flink-table/flink-sql-parser/src/main/codegen/)

Spark-first lowering (no new operators — the library implementations
already exist and are oracle-verified):

- TUMBLE/HOP  → a derived table projecting Spark's `window()` expression
  (valid in projection context; HOP expands each row to size/slide
  windows JVM-side — the batch analogue of slice sharing).
- CUMULATE    → `window(ts, max).start` bucket + `explode(sequence(...))`
  candidate ends, as in queries/window_tvf.py::wtvf_cumulate. Pure JVM
  generators, stays in whole-stage codegen.
- SESSION     → gaps-and-islands per-row rewrite (lag → new-session flag
  → running sum → min/max over the session id). Spark's session_window
  is aggregation-only, so the TVF's per-row window_start/window_end
  columns need the analytic form; semantics match MergingWindowSet
  (half-open [first, last+gap)).
- MATCH_RECOGNIZE → parsed into an operators.cep.Pattern and run through
  match_recognize (applyInPandas NFA); the clause is replaced by a temp
  view so the outer SELECT stays on Catalyst.

Every TVF adds the standard window_start / window_end / window_time
columns (window_time = window_end - 1ms, Flink's rowtime convention).

Scale: the rewrites produce the same plans as the hand-written library
queries — one shuffle on the grouping keys for window aggs, one
shuffle+sort per key for MATCH_RECOGNIZE (keys never cross partitions).
"""

from __future__ import annotations

import re
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from flink_1_20_spark.sqlenv.text import (
    _find_close,
    _split_top_all,
    _sql_mask,
    _sql_regions,
    _sub_unquoted,
    _top_level,
    flink_type_to_spark,
)

# ------------------------------------------------------------- intervals

_UNIT_SECONDS = {
    "SECOND": 1,
    "SECONDS": 1,
    "MINUTE": 60,
    "MINUTES": 60,
    "HOUR": 3600,
    "HOURS": 3600,
    "DAY": 86400,
    "DAYS": 86400,
}


def _parse_interval(text: str) -> tuple[str, str, float]:
    """`INTERVAL '15' MINUTE(S)` → (duration string for window(),
    canonical Spark INTERVAL literal, seconds)."""
    m = re.match(r"INTERVAL\s+'([\d.]+)'\s+(\w+)\s*$", text.strip(), re.I)
    if not m:
        raise ValueError(f"cannot parse interval: {text!r}")
    n, unit = m.group(1), m.group(2).upper()
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported interval unit: {unit}")
    base = unit.rstrip("S") if unit.endswith("S") else unit
    dur = f"{n} {base.lower()}{'' if float(n) == 1 else 's'}"
    lit = f"INTERVAL '{n}' {base}"
    return dur, lit, float(n) * _UNIT_SECONDS[unit]


def _split_args(s: str) -> list[str]:
    """Split call arguments on top-level commas (no generic `<` heads)."""
    return _split_top_all(s, ",", heads=())


# ----------------------------------------------------------- window TVFs

_TVF_HEAD = re.compile(r"\bTABLE\s*\(\s*(TUMBLE|HOP|CUMULATE|SESSION)\s*\(", re.I)

# CUMULATE's hidden max-window struct projection — ONE definition shared
# with sql_ddl's streaming re-lowering (which string-replaces it to
# re-expose __wm for the GROUP BY); a drift between the two sites would
# silently break the streaming path
CUMULATE_HIDDEN_PROJ = "SELECT * EXCEPT(__wm, __we),"


def _parse_source(arg: str) -> tuple[str, list[str]]:
    """`TABLE t [PARTITION BY a, b]` → (t as written, [a, b]); the table
    keeps its backticks for the lowering's FROM (`my,t` must stay one
    name) — strip them for a catalog lookup."""
    m = re.match(r"TABLE\s+(\S+?)(?:\s+PARTITION\s+BY\s+(.+))?$", arg.strip(), re.S | re.I)
    if not m:
        raise ValueError(f"window TVF source must be `TABLE name`: {arg!r}")
    keys = [c.strip().strip("`") for c in m.group(2).split(",")] if m.group(2) else []
    return m.group(1), keys


def _parse_descriptor(arg: str) -> str:
    m = re.match(r"DESCRIPTOR\s*\(\s*`?(\w+)`?\s*\)$", arg.strip(), re.I)
    if not m:
        raise ValueError(f"expected DESCRIPTOR(col): {arg!r}")
    return m.group(1)


def _tvf_subquery(kind: str, args: list[str]) -> str:
    """Render one window TVF call as a Spark-SQL derived table emitting
    the source columns + window_start / window_end / window_time."""
    kind = kind.upper()
    table, pby = _parse_source(args[0])
    ts = _parse_descriptor(args[1])
    win_time = "__w.end - INTERVAL '0.001' SECOND AS window_time"

    if kind == "TUMBLE":
        dur, _, _ = _parse_interval(args[2])
        return (
            f"(SELECT * EXCEPT(__w), __w.start AS window_start, "
            f"__w.end AS window_end, {win_time} "
            f"FROM (SELECT *, window(`{ts}`, '{dur}') AS __w FROM {table}))"
        )
    if kind == "HOP":
        # HOP(TABLE t, DESCRIPTOR(ts), slide, size)
        slide, _, _ = _parse_interval(args[2])
        size, _, _ = _parse_interval(args[3])
        return (
            f"(SELECT * EXCEPT(__w), __w.start AS window_start, "
            f"__w.end AS window_end, {win_time} "
            f"FROM (SELECT *, window(`{ts}`, '{size}', '{slide}') AS __w FROM {table}))"
        )
    if kind == "CUMULATE":
        # CUMULATE(TABLE t, DESCRIPTOR(ts), step, max) — expanding
        # tumbles: each row lands in every slice [bucket, bucket+k*step)
        # that covers it. The max-size window STRUCT (__wm) is computed
        # first and kept hidden so the STREAMING re-lowering can group by
        # it (Spark's append-mode watermark check needs the window struct
        # of the event-time column among the grouping expressions).
        _, step_lit, _ = _parse_interval(args[2])
        max_dur, max_lit, _ = _parse_interval(args[3])
        return (
            f"({CUMULATE_HIDDEN_PROJ} __wm.start AS window_start, "
            f"__we AS window_end, "
            f"__we - INTERVAL '0.001' SECOND AS window_time "
            f"FROM (SELECT *, window(`{ts}`, '{max_dur}') AS __wm FROM {table}) "
            f"LATERAL VIEW explode(sequence(__wm.start + {step_lit}, "
            f"__wm.start + {max_lit}, {step_lit})) "
            f"__cum AS __we WHERE `{ts}` < __we)"
        )
    if kind == "SESSION":
        # SESSION(TABLE t [PARTITION BY k], DESCRIPTOR(ts), gap)
        #
        # Boundary rule (r11, found by the streaming-vs-batch
        # differential harness, seed 7): an event EXACTLY `gap` after
        # the previous one MERGES into the session — Flink's
        # TimeWindow.intersects is inclusive (flink-table-runtime
        # .../window/TimeWindow.java:116 `end >= other.start`;
        # SessionWindowAssignerTest.testMergeConsecutiveWindows merges
        # the abutting [0,1]+[1,2]) and Spark's native session_window
        # (batch AND streaming) agrees, so the new-session flag is
        # STRICT `>` — the old `>=` split one-gap-apart events in the
        # batch lowering only.
        #
        # Tie hazard (r10 review): ORDER BY `ts` alone is not a total
        # order — with TIED timestamps the lag pass and the running-sum
        # pass could each pick a DIFFERENT arbitrary tie order, and a
        # session-starting row re-sorted behind a tied non-starting row
        # would split one session in two.  The fix: __rn is computed in
        # the SAME window spec as the lag (one WindowExec, one sort —
        # consistent tie order by construction), and the running sum
        # orders by __rn, which IS total per key.  Tied rows always
        # share a session either way (their gap is 0), so membership is
        # then deterministic regardless of which tie order the sort
        # picked.
        _, gap_lit, _ = _parse_interval(args[2])
        part = ("PARTITION BY " + ", ".join(f"`{k}`" for k in pby) + " ") if pby else ""
        w_ord = f"({part}ORDER BY `{ts}`)"
        w_run = f"({part}ORDER BY __rn ROWS UNBOUNDED PRECEDING)"
        sid_part = (
            "PARTITION BY " + ", ".join([*(f"`{k}`" for k in pby), "__sid"])
        )
        return (
            f"(SELECT * EXCEPT(__new_s, __sid, __rn), "
            f"min(`{ts}`) OVER ({sid_part}) AS window_start, "
            f"max(`{ts}`) OVER ({sid_part}) + {gap_lit} AS window_end, "
            f"max(`{ts}`) OVER ({sid_part}) + {gap_lit} - INTERVAL '0.001' SECOND AS window_time "
            f"FROM (SELECT *, sum(__new_s) OVER {w_run} AS __sid "
            f"FROM (SELECT *, row_number() OVER {w_ord} AS __rn, "
            f"CASE WHEN lag(`{ts}`) OVER {w_ord} IS NULL "
            f"OR `{ts}` - lag(`{ts}`) OVER {w_ord} > {gap_lit} "
            f"THEN 1 ELSE 0 END AS __new_s FROM {table})))"
        )
    raise ValueError(f"unknown window TVF: {kind}")  # pragma: no cover


def rewrite_window_tvfs(sql: str) -> str:
    """Replace every `TABLE(TUMBLE/HOP/CUMULATE/SESSION(...))` clause
    with its Spark-SQL derived-table lowering. Text outside the TVF
    (SELECT list, GROUP BY window_start/window_end, ...) is untouched —
    the TVF contract is purely additive columns. For STREAMING session
    aggregation, apply rewrite_streaming_session_tvf FIRST — session
    merging needs the session_window() call inside the GROUP BY, which
    the derived-table form cannot express."""
    while True:
        m = _TVF_HEAD.search(_sql_mask(sql, idents=True))
        if not m:
            return sql
        inner_open = m.end() - 1  # the TVF's own '('
        inner_close = _find_close(sql, inner_open)
        outer_close = _find_close(sql, sql.index("(", m.start()))
        args = _split_args(sql[inner_open + 1 : inner_close])
        sub = _tvf_subquery(m.group(1), args)
        sql = sql[: m.start()] + sub + sql[outer_close + 1 :]


def find_cascading_tvf_sources(
    sql: str, is_time_attr
) -> list[tuple[str, str, int, int]]:
    """Scan window-TVF heads and return (source_table, descriptor,
    name_start, name_end) for each head whose descriptor is a recorded
    propagated window_time attribute of that source view — the
    cascading-window pattern (docs/dev/table/sql/queries/window-agg.md
    'cascading window aggregation': only window_time stays a time
    attribute of a window agg's output; window_start/window_end are
    plain TIMESTAMPs in the reference too).  name_start/name_end span
    the source-table token inside THIS head so the caller redirects
    only the head that matched — a second TVF over the same view keyed
    on a different column must keep reading the original view.  The
    environment rebuilds each such source with a metadata-propagating
    lowering (see StreamingSqlMixin._rewrite_cascading_tvf_sources) —
    re-watermarking the view instead would DEADLOCK: two watermark
    nodes combine by min, and the outer node never sees data until the
    inner agg emits, which waits on the combined watermark."""
    out: list[tuple[str, str, int, int]] = []
    for m in _TVF_HEAD.finditer(_sql_mask(sql, idents=True)):
        inner_open = m.end() - 1
        inner_close = _find_close(sql, inner_open)
        args = _split_args(sql[inner_open + 1 : inner_close])
        try:
            written = _parse_source(args[0])[0]
            ts = _parse_descriptor(args[1])
        except (ValueError, IndexError):
            continue
        table = written.strip("`")
        if is_time_attr(table, ts.lower()):
            head = re.compile(r"\s*TABLE\s+", re.I).match(sql, inner_open + 1)
            out.append((table, ts, head.end(), head.end() + len(written)))
    return out


def rewrite_streaming_session_tvf(sql: str, is_streaming) -> str:
    """Streaming SESSION TVF aggregation → native session_window
    grouping. Spark merges session windows ONLY when the
    session_window() call appears among the grouping expressions
    (MergeSessionWindows analyzer rule); grouping by a struct computed
    in a derived table leaves every row its own [ts, ts+gap) window.
    So the aggregate-over-TVF shape

        SELECT ... FROM TABLE(SESSION(TABLE t [PARTITION BY k],
                                      DESCRIPTOR(ts), gap))
        GROUP BY window_start, window_end[, keys]

    is restructured to

        SELECT ... FROM t GROUP BY session_window(ts, 'gap')[, keys]

    with window_start/window_end/window_time in the SELECT list mapped
    onto the session_window struct fields. Applies only when the TVF's
    source is streaming AND the statement has exactly one SESSION TVF
    with a window_start/window_end GROUP BY; every other case falls
    through to the batch lowering (which then fails loudly on streaming
    input rather than silently mis-merging)."""
    heads = list(
        re.finditer(r"\bTABLE\s*\(\s*SESSION\s*\(", _sql_mask(sql, idents=True), re.I)
    )
    if len(heads) != 1:
        return sql
    m = heads[0]
    inner_open = m.end() - 1
    inner_close = _find_close(sql, inner_open)
    outer_close = _find_close(sql, sql.index("(", m.start()))
    args = _split_args(sql[inner_open + 1 : inner_close])
    table, pby = _parse_source(args[0])
    if not (is_streaming and is_streaming(table.strip("`"))):
        return sql
    ts = _parse_descriptor(args[1])
    gap, _, _ = _parse_interval(args[2])
    if not re.search(
        r"GROUP\s+BY\s+window_start\s*,\s*window_end(\s*,)?", sql, re.I
    ):
        return sql
    sw = f"session_window(`{ts}`, '{gap}')"
    out = sql[: m.start()] + table + sql[outer_close + 1 :]
    # GROUP BY window_start, window_end[, keys] → GROUP BY
    # session_window(...), <PARTITION BY keys>[, keys]. The TVF's
    # PARTITION BY keys MUST stay grouping expressions even when the
    # user's GROUP BY omitted them — per-key sessions would otherwise
    # silently merge across keys. A key also listed by the user appears
    # twice, which Spark accepts (identical grouping expression).
    pby_sql = "".join(f", `{k}`" for k in pby)
    out = re.sub(
        r"GROUP\s+BY\s+window_start\s*,\s*window_end(\s*,)?",
        lambda mm: f"GROUP BY {sw}{pby_sql}" + ("," if mm.group(1) else ""),
        out,
        count=1,
        flags=re.I,
    )
    # select-list occurrences map onto the grouped struct's fields,
    # KEEPING the output column names (the grouped struct is accessible
    # as `session_window` after GROUP BY, like `window`). Only a BARE
    # select item gets an automatic alias back — a token inside an
    # expression is substituted plainly (an injected AS there would be
    # a syntax error); an existing user alias is preserved.
    from_idx = next(_top_level(out, r"\bFROM\b")).start()
    sel_m = re.match(r"(\s*SELECT\s+)", out, re.I)
    head, items_txt = out[: sel_m.end()], out[sel_m.end() : from_idx]
    mapping = {
        "window_time": "(session_window.end - INTERVAL '0.001' SECOND)",
        "window_start": "session_window.start",
        "window_end": "session_window.end",
    }
    items = []
    for item in _split_args(items_txt):
        it = item.strip()
        bare = re.fullmatch(r"(window_time|window_start|window_end)", it, re.I)
        aliased = re.fullmatch(
            r"(window_time|window_start|window_end)(\s+AS\s+\w+)", it, re.I
        )
        if bare:
            t = bare.group(1).lower()
            items.append(f"{mapping[t]} AS {t}")
        elif aliased:
            items.append(mapping[aliased.group(1).lower()] + aliased.group(2))
        else:
            for t, e in mapping.items():
                it = re.sub(rf"\b{t}\b", lambda _mm, e=e: e, it, flags=re.I)
            items.append(it)
    return head + ", ".join(items) + " " + out[from_idx:]


# ------------------------------------------------ legacy group windows
# Generation-1 window syntax (`GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)` +
# TUMBLE_START/TUMBLE_END auxiliary functions — SURVEY.md §2.5,
# FlinkSqlOperatorTable.java:1003 $TUMBLE family). Most Flink 1.x
# scripts still use this spelling; the lowering targets Spark's
# window()/session_window() grouping expressions, whose output struct
# columns ("window" / "session_window") supply the *_START/*_END fields.

_LEGACY_GW = re.compile(r"\b(TUMBLE|HOP|SESSION)(_START|_END)?\s*\(", re.I)


def _legacy_window_expr(kind: str, args: list[str]) -> tuple[str, str]:
    """(grouping expr, output struct column name) for one legacy call."""
    ts = args[0].strip().strip("`")
    if kind == "TUMBLE":
        size, _, _ = _parse_interval(args[1])
        return f"window(`{ts}`, '{size}')", "window"
    if kind == "HOP":
        # HOP(ts, slide, size) — Flink's legacy argument order
        slide, _, _ = _parse_interval(args[1])
        size, _, _ = _parse_interval(args[2])
        return f"window(`{ts}`, '{size}', '{slide}')", "window"
    gap, _, _ = _parse_interval(args[1])
    return f"session_window(`{ts}`, '{gap}')", "session_window"


def rewrite_legacy_group_windows(sql: str) -> str:
    """Rewrite gen-1 group windows: the GROUP BY call becomes the Spark
    window expression; TUMBLE_START/HOP_END/SESSION_START/... become
    struct-field accesses on the grouping output column."""
    if not re.search(r"GROUP\s+BY[^;]*\b(TUMBLE|HOP|SESSION)\s*\(", sql, re.I):
        return sql
    out, pos = [], 0
    mask = _sql_mask(sql, idents=True)
    while True:
        m = _LEGACY_GW.search(mask, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        kind, aux = m.group(1).upper(), (m.group(2) or "").upper()
        open_idx = m.end() - 1
        close_idx = _find_close(sql, open_idx)
        args = _split_args(sql[open_idx + 1 : close_idx])
        expr, struct_col = _legacy_window_expr(kind, args)
        out.append(sql[pos : m.start()])
        if aux == "_START":
            out.append(f"{struct_col}.start")
        elif aux == "_END":
            out.append(f"{struct_col}.end")
        else:
            out.append(expr)
        pos = close_idx + 1


# -------------------------------------------------------- MATCH_RECOGNIZE

_SQL_TO_PY = [
    (re.compile(r"\bAND\b", re.I), " and "),
    (re.compile(r"\bOR\b", re.I), " or "),
    (re.compile(r"\bNOT\s+IN\b", re.I), " not in "),
    (re.compile(r"\bNOT\b(?!\s+in)", re.I), " not "),
    (re.compile(r"\bTRUE\b", re.I), "True"),
    (re.compile(r"\bFALSE\b", re.I), "False"),
    (re.compile(r"\bNULL\b", re.I), "None"),
    (re.compile(r"<>"), "!="),
    (re.compile(r"(?<![<>!=])=(?!=)"), "=="),
]


def _compile_predicate(expr: str, var: str, all_vars: list[str]) -> Callable:
    """Compile a DEFINE condition into a row predicate.

    Simple conditions (references to the variable being defined, bare
    columns, comparisons, AND/OR/NOT, IN lists, arithmetic, IS [NOT]
    NULL) compile to a one-argument predicate the NFA vectorizes.
    Cross-variable references — `B.price > A.price`, `LAST(B.price)`,
    `FIRST(A.ts)` — compile to a two-argument context predicate
    (Flink's IterativeCondition) evaluated against the partial match:
    a bare other-variable reference means its LAST bound row (the SQL
    default); `LAST(var.x)` on the variable being defined means the
    previous row bound to it."""
    others = [v for v in all_vars if v != var]
    # Mask string literals FIRST so no rewrite pass can touch their
    # interior (a literal like 'add to cart' must not have 'to'
    # rewritten to a column ref). SQL '' escaping is unfolded; the
    # sentinel uses control chars no identifier/keyword regex matches.
    # (an unterminated literal stays text and fails the compile loudly)
    literals: list[str] = []
    pieces, last = [], 0
    for start, end, kind in _sql_regions(expr):
        if kind == "'" and end - start > 1 and expr[end - 1] == "'":
            pieces += [expr[last:start], f"\x00{len(literals)}\x01"]
            literals.append(expr[start + 1 : end - 1].replace("''", "'"))
            last = end
    py = "".join(pieces) + expr[last:]
    # IS [NOT] NULL — before the navigation/aggregate rewrites so the
    # operand is still compact SQL (`LAST(B.price) IS NULL` works); the
    # operand pattern accepts a call form or a simple term. The operand
    # is wrapped in a deferred lambda so an unbound group / out-of-range
    # offset (IndexError) reads as NULL → True, per SQL semantics.
    _null_operand = r"((?:\w+\s*\([^()]*\))|[\w.\x00\x01]+)"
    py = re.sub(
        _null_operand + r"\s+IS\s+NOT\s+NULL",
        r"(not _isnull(lambda: \1))",
        py,
        flags=re.I,
    )
    py = re.sub(
        _null_operand + r"\s+IS\s+NULL", r"_isnull(lambda: \1)", py, flags=re.I
    )
    # PREV(X.col[, n]) / NEXT(X.col[, n]) → physical row offsets over
    # the ordered frame (the SQL navigation functions; candidate-row
    # position is row.name). Out-of-range offsets evaluate NULL →
    # non-match, matching the standard.
    def nav_ref(mm: re.Match) -> str:
        n = mm.group(4) or "1"
        sign = "-" if mm.group(1).upper() == "PREV" else "+"
        return (
            f"g['__pdf__']['{mm.group(3)}'].iloc[_ofs(r.name {sign} {n}, "
            f"len(g['__pdf__']))]"
        )

    py = re.sub(
        r"\b(PREV|NEXT)\s*\(\s*(\w+)\s*\.\s*`?(\w+)`?\s*(?:,\s*(\d+)\s*)?\)",
        nav_ref,
        py,
        flags=re.I,
    )
    # FIRST(X.col) / LAST(X.col) → partial-match group lookups
    def agg_ref(mm: re.Match) -> str:
        which = mm.group(1).upper()
        pos = "0" if which == "FIRST" else "-1"
        return f"g['{mm.group(2)}']['{mm.group(3)}'].iloc[{pos}]"

    py = re.sub(r"\b(FIRST|LAST)\s*\(\s*(\w+)\s*\.\s*`?(\w+)`?\s*\)", agg_ref, py, flags=re.I)
    # own-variable column refs → current-row lookups
    py = re.sub(rf"\b{re.escape(var)}\s*\.\s*`?(\w+)`?", r"r['\1']", py)
    # other-variable refs → LAST row bound to that variable
    for o in others:
        py = re.sub(
            rf"\b{re.escape(o)}\s*\.\s*`?(\w+)`?",
            lambda mm, o=o: f"g['{o}']['{mm.group(1)}'].iloc[-1]",
            py,
        )
    for pat, rep in _SQL_TO_PY:
        py = pat.sub(rep, py)
    # bare column identifiers (not already r['..'], not literals/keywords)
    def bare(mm: re.Match) -> str:
        w = mm.group(0)
        if w in ("and", "or", "not", "in", "True", "False", "None", "r", "g",
                 "pd", "isna", "iloc", "_ofs", "len", "name", "lambda",
                 "_isnull"):
            return w
        return f"r['{w}']"

    py = re.sub(r"(?<!')(?<!\[')\b[A-Za-z_]\w*\b(?!'\])(?!\s*\()(?!')", bare, py)
    # Reject any function-call token the rewrites did not produce: the
    # reference's MATCH_RECOGNIZE surface is pure SQL with no
    # code-execution path, so unknown calls (`__import__(...)`,
    # `SOME_UDF(...)`) are a parse error, not Python to run. Scanned
    # BEFORE the literal restore so a string literal containing
    # "word(" can never be mistaken for a call.
    _allowed_calls = {"isna", "_ofs", "len", "_isnull"}
    for mm in re.finditer(r"([A-Za-z_]\w*)\s*\(", py):
        if mm.group(1) not in _allowed_calls:
            raise ValueError(
                f"unsupported function {mm.group(1)!r} in DEFINE condition: {expr!r}"
            )
    # restore masked string literals as Python literals (repr escapes)
    py = re.sub(r"\x00(\d+)\x01", lambda mm: repr(literals[int(mm.group(1))]), py)
    ctx = "g[" in py
    args = "r, g" if ctx else "r"
    code = compile(f"lambda {args}: bool({py})", f"<define {var}>", "eval")
    def _ofs(i: int, n: int) -> int:
        if i < 0 or i >= n:
            raise IndexError(i)  # out-of-range PREV/NEXT → NULL → no match
        return int(i)

    def _isnull(thunk) -> bool:
        try:
            v = thunk()
        except IndexError:  # unbound group / out-of-range offset = NULL
            return True
        return bool(pd.isna(v))

    # Empty __builtins__: the eval'd lambda sees ONLY the names the
    # translator emits — no import machinery, no open(), nothing.
    globs = {
        "__builtins__": {},
        "pd": pd,
        "_ofs": _ofs,
        "_isnull": _isnull,
        "len": len,
        "bool": bool,
    }
    fn = eval(code, globs)  # noqa: S307 — restricted, self-built source
    fn._define_text = expr  # surfaced by cep._ctx_eval error wrapping
    return fn


_AGGS = {"COUNT", "SUM", "MIN", "MAX", "AVG", "FIRST", "LAST"}


def _parse_measure(expr: str) -> tuple[str, str, str]:
    """Measure expr → (agg, var, col). Bare `A.col` means FINAL LAST
    (Flink default in ONE ROW PER MATCH)."""
    m = re.match(r"(\w+)\s*\(\s*(\w+)\s*\.\s*`?(\w+|\*)`?\s*\)$", expr.strip(), re.I)
    if m and m.group(1).upper() in _AGGS:
        return m.group(1).upper(), m.group(2), m.group(3)
    m = re.match(r"COUNT\s*\(\s*\*\s*\)$", expr.strip(), re.I)
    if m:
        return "COUNT", "*", "*"
    m = re.match(r"(\w+)\s*\.\s*`?(\w+)`?$", expr.strip())
    if m:
        return "LAST", m.group(1), m.group(2)
    raise ValueError(f"unsupported MEASURES expression: {expr!r}")


def _measure_value(groups: dict[str, pd.DataFrame], agg: str, var: str, col: str):
    if agg == "COUNT":
        if var == "*":
            return sum(len(g) for g in groups.values())
        g = groups.get(var)
        return 0 if g is None else len(g)
    g = groups.get(var)
    if g is None or len(g) == 0:
        return None
    if agg == "FIRST":
        return g[col].iloc[0]
    if agg == "LAST":
        return g[col].iloc[-1]
    if agg == "SUM":
        return g[col].sum()
    if agg == "MIN":
        return g[col].min()
    if agg == "MAX":
        return g[col].max()
    if agg == "AVG":
        return float(g[col].mean())
    raise ValueError(agg)  # pragma: no cover


_QUANT = re.compile(r"(\w+)(\{(\d+)(?:\s*,\s*(\d*))?\}|[+*?])?(\?)?")


def _expand_subset_groups(g, subsets: dict[str, list[str]]):
    """Materialize SUBSET union variables into a groups mapping
    (MatchSpec.java:70 — a subset variable's rows are the union of its
    members' rows, in match order). Unbound subsets are simply absent:
    cep._Groups serves an empty slice for them (NULL semantics), and
    measures read them as None via groups.get()."""
    if not subsets:
        return g
    pdf = getattr(g, "_pdf", None)
    if pdf is not None:
        from flink_1_20_spark.operators.cep import _Groups

        out = _Groups(pdf, dict(g))
    else:
        out = dict(g)
    for s, members in subsets.items():
        parts = [g[m] for m in members if m in g and len(g[m])]
        if parts:
            out[s] = (
                pd.concat(parts).sort_index() if len(parts) > 1 else parts[0]
            )
    return out


def _wrap_pred_subsets(fn, subsets: dict[str, list[str]]):
    """Give a context predicate sight of the SUBSET union variables.
    Only two-argument (r, g) predicates need it — and any predicate
    referencing a subset compiles to the context form by construction."""
    if not subsets or getattr(fn, "__code__", None) is None:
        return fn
    if fn.__code__.co_argcount != 2:
        return fn

    def wrapped(r, g):
        return fn(r, _expand_subset_groups(g, subsets))

    wrapped._define_text = getattr(fn, "_define_text", None)
    return wrapped


def _build_pattern(
    pattern_text: str,
    defines: dict[str, str],
    skip: tuple,
    within_s,
    subsets: dict[str, list[str]] | None = None,
):
    """PATTERN (A B+ C{2,4}? D?) + DEFINE [+ SUBSET] →
    operators.cep.Pattern. MATCH_RECOGNIZE contiguity is strict by
    construction (the pattern describes consecutive rows —
    StreamExecMatch semantics), so every step after the first uses
    `next`."""
    from flink_1_20_spark.operators.cep import Pattern

    subsets = subsets or {}
    tokens = pattern_text.strip().strip("()").split()
    var_names = [
        _QUANT.fullmatch(t).group(1) for t in tokens if _QUANT.fullmatch(t)
    ]
    for s, members in subsets.items():
        if s in var_names:
            raise ValueError(f"SUBSET name collides with a pattern variable: {s}")
        unknown = [m for m in members if m not in var_names]
        if unknown:
            raise ValueError(f"SUBSET {s} references unknown variables: {unknown}")
    # subset names participate in the variable-reference rewrite so
    # `S.col` / LAST(S.col) in DEFINE compile to group lookups
    ref_names = var_names + list(subsets)
    pat: Pattern | None = None
    for tok in tokens:
        m = _QUANT.fullmatch(tok)
        if not m:
            raise ValueError(f"cannot parse pattern token: {tok!r}")
        var, quant, n, mx, reluct = m.group(1), m.group(2), m.group(3), m.group(4), m.group(5)
        cond = defines.get(var)
        pred = (
            _wrap_pred_subsets(_compile_predicate(cond, var, ref_names), subsets)
            if cond
            else (lambda r: True)
        )
        if pat is None:
            pat = Pattern.begin(var, pred)
        else:
            pat = pat.next(var, pred)
        if quant == "+":
            pat = pat.one_or_more().strict_repeat()
        elif quant == "*":
            pat = pat.times(0, -1).strict_repeat()
        elif quant == "?":
            pat = pat.optional()
        elif quant and quant.startswith("{"):
            lo = int(n)
            hi = lo if mx is None else (-1 if mx == "" else int(mx))
            pat = pat.times(lo, hi).strict_repeat()
        if reluct:
            pat = pat.reluctant()
    strategy, step = skip
    pat = pat.after_match_skip(strategy, step)
    if within_s is not None:
        pat = pat.within(within_s)
    return pat


_MR_RE = re.compile(
    r"(\S+)\s+MATCH_RECOGNIZE\s*\(", re.I
)


def _infer_measure_type(df: DataFrame, agg: str, var: str, col: str) -> str:
    src = dict(df.dtypes)
    if agg == "COUNT":
        return "bigint"
    if agg == "AVG":
        return "double"
    t = src.get(col, "string")
    if agg == "SUM" and t in ("int", "smallint", "tinyint"):
        return "bigint"
    return t


def run_match_recognize(spark: SparkSession, sql: str) -> DataFrame:
    """Execute a statement containing `<table> MATCH_RECOGNIZE (...)`:
    lower the clause onto operators.cep.match_recognize, register the
    result as a temp view, and hand the rewritten outer statement to
    Catalyst."""
    from flink_1_20_spark.operators.cep import match_recognize

    m = _MR_RE.search(_sql_mask(sql))
    if not m:
        raise ValueError("no MATCH_RECOGNIZE clause found")
    table = m.group(1).strip("`")
    open_idx = m.end() - 1
    close_idx = _find_close(sql, open_idx)
    body = sql[open_idx + 1 : close_idx]
    # optional alias after the clause
    rest = sql[close_idx + 1 :]
    alias_m = re.match(r"\s+(?:AS\s+)?(\w+)", rest, re.I)

    def clause(name: str, pat: str) -> str | None:
        mm = re.search(pat, body, re.I | re.S)
        return mm.group(1).strip() if mm else None

    part_txt = clause("partition", r"PARTITION\s+BY\s+(.+?)(?=ORDER\s+BY|MEASURES|\Z)")
    order_txt = clause("order", r"ORDER\s+BY\s+(.+?)(?=MEASURES|\Z)")
    measures_txt = clause(
        "measures", r"MEASURES\s+(.+?)(?=\bONE\s+ROW|\bALL\s+ROWS|\bAFTER\s+MATCH|\bPATTERN\b)"
    )
    all_rows = bool(re.search(r"ALL\s+ROWS\s+PER\s+MATCH", body, re.I))
    skip_m = re.search(
        r"AFTER\s+MATCH\s+SKIP\s+(PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW|TO\s+FIRST\s+(\w+)|TO\s+LAST\s+(\w+))",
        body,
        re.I,
    )
    if skip_m:
        txt = skip_m.group(1).upper()
        if txt.startswith("PAST"):
            skip = ("PAST_LAST_EVENT", None)
        elif txt.startswith("TO NEXT"):
            skip = ("TO_NEXT_ROW", None)
        elif txt.startswith("TO FIRST"):
            skip = ("SKIP_TO_FIRST", skip_m.group(2))
        else:
            skip = ("SKIP_TO_LAST", skip_m.group(3))
    else:
        skip = ("PAST_LAST_EVENT", None)  # SQL-standard default
    pattern_m = re.search(r"PATTERN\s*(\([^)]*\))", body, re.I)
    if not pattern_m:
        raise ValueError("MATCH_RECOGNIZE requires a PATTERN clause")
    within_m = re.search(r"\)\s*WITHIN\s+(INTERVAL\s+'[\d.]+'\s+\w+)", body, re.I)
    within_s = _parse_interval(within_m.group(1))[2] if within_m else None
    # SUBSET S = (A, B)[, T = (...)] — union variables usable in
    # MEASURES and DEFINE (MatchSpec.java:70)
    subset_txt = clause("subset", r"\bSUBSET\s+(.+?)(?=\bDEFINE\b|\Z)")
    subsets: dict[str, list[str]] = {}
    if subset_txt:
        for item in _split_args(subset_txt):
            sm = re.match(r"(\w+)\s*=\s*\(([^)]*)\)$", item.strip(), re.S)
            if not sm:
                raise ValueError(f"cannot parse SUBSET item: {item!r}")
            subsets[sm.group(1)] = [
                v.strip().strip("`") for v in sm.group(2).split(",") if v.strip()
            ]
    define_txt = clause("define", r"DEFINE\s+(.+)\Z")

    keys = [c.strip().strip("`") for c in (part_txt or "").split(",") if c.strip()]
    order_cols = [
        re.sub(r"\s+(ASC|DESC)$", "", c.strip(), flags=re.I).strip("`")
        for c in (order_txt or "").split(",")
        if c.strip()
    ]
    if not order_cols:
        raise ValueError("MATCH_RECOGNIZE requires ORDER BY")
    ts_col, tiebreak = order_cols[0], order_cols[1:]

    defines: dict[str, str] = {}
    if define_txt:
        for item in _split_args(define_txt):
            dm = re.match(r"(\w+)\s+AS\s+(.+)$", item.strip(), re.S | re.I)
            if not dm:
                raise ValueError(f"cannot parse DEFINE item: {item!r}")
            defines[dm.group(1)] = dm.group(2).strip()

    measures: list[tuple[str, str, str, str]] = []  # (out_name, agg, var, col)
    classifier_name, match_number_name = None, None
    if measures_txt:
        for item in _split_args(measures_txt):
            mm = re.match(r"(.+?)\s+AS\s+`?(\w+)`?$", item.strip(), re.S | re.I)
            if not mm:
                raise ValueError(f"MEASURES items need `expr AS name`: {item!r}")
            body_expr = mm.group(1).strip()
            if re.fullmatch(r"CLASSIFIER\s*\(\s*\)", body_expr, re.I):
                classifier_name = mm.group(2)
                continue
            if re.fullmatch(r"MATCH_NUMBER\s*\(\s*\)", body_expr, re.I):
                match_number_name = mm.group(2)
                continue
            agg, var, col = _parse_measure(body_expr)
            measures.append((mm.group(2), agg, var, col))
    if not all_rows and (classifier_name or match_number_name):
        raise ValueError(
            "CLASSIFIER()/MATCH_NUMBER() measures require ALL ROWS PER MATCH"
        )

    df = spark.table(table)
    pat = _build_pattern(pattern_m.group(1), defines, skip, within_s, subsets)

    def measure_fn(groups: dict[str, pd.DataFrame]) -> dict:
        expanded = _expand_subset_groups(groups, subsets)
        # COUNT(*) counts MATCH rows — primary pattern variables only;
        # evaluating it over the expanded dict would double-count every
        # row that also belongs to a SUBSET union variable
        return {
            name: _measure_value(
                groups if agg == "COUNT" and var == "*" else expanded,
                agg,
                var,
                col,
            )
            for name, agg, var, col in measures
        }

    key_types = dict(df.dtypes)
    if df.isStreaming:
        # streaming MATCH_RECOGNIZE (Flink's CEP SQL is inherently
        # streaming): lower onto the keyed-state NFA operator. ALL ROWS
        # PER MATCH emits one row per bound input row of each COMPLETED
        # match (CepOperator.java:82 emits per-row through its process
        # function the same way) — completed-match emission is append-
        # safe, no retraction needed.
        from flink_1_20_spark.streaming.cep_stream import match_recognize_stream

        payload = [c for c in df.columns if c != ts_col]
        if all_rows:
            c_col = classifier_name or "classifier"
            n_col = match_number_name or "match_number"
            schema = ", ".join(
                [
                    *(f"{c} {t}" for c, t in df.dtypes),
                    f"{c_col} string",
                    f"{n_col} bigint",
                    *(f"{name} {_infer_measure_type(df, agg, var, col)}"
                      for name, agg, var, col in measures),
                ]
            )
            out = match_recognize_stream(
                df,
                keys=keys,
                ts=ts_col,
                pattern=pat,
                measures=measure_fn,
                output_schema=schema,
                payload_cols=payload,
                all_rows=True,
                classifier_col=c_col,
                match_number_col=n_col,
            )
        else:
            schema = ", ".join(
                [
                    *(f"{name} {_infer_measure_type(df, agg, var, col)}"
                      for name, agg, var, col in measures),
                    *(f"{k} {key_types[k]}" for k in keys),
                ]
            )
            out = match_recognize_stream(
                df,
                keys=keys,
                ts=ts_col,
                pattern=pat,
                measures=measure_fn,
                output_schema=schema,
                payload_cols=payload,
            ).select(*keys, *(name for name, *_ in measures))
        view = f"__mr_{abs(hash(sql)) % 10**8}"
        out.createOrReplaceTempView(view)
        alias = f" {alias_m.group(1)}" if alias_m else ""
        rest_after = rest[alias_m.end() :] if alias_m else rest
        return spark.sql(sql[: m.start()] + view + alias + rest_after)
    if all_rows:
        # ALL ROWS PER MATCH: every source column + classifier +
        # match_number + measures (RUNNING semantics in the operator)
        c_col = classifier_name or "classifier"
        n_col = match_number_name or "match_number"
        schema = ", ".join(
            [
                *(f"{c} {t}" for c, t in df.dtypes),
                f"{c_col} string",
                f"{n_col} bigint",
                *(f"{name} {_infer_measure_type(df, agg, var, col)}"
                  for name, agg, var, col in measures),
            ]
        )
        out = match_recognize(
            df,
            keys=keys,
            ts=ts_col,
            pattern=pat,
            measures=measure_fn,
            output_schema=schema,
            order_tiebreak=tiebreak,
            all_rows=True,
            classifier_col=c_col,
            match_number_col=n_col,
        )
    else:
        schema = ", ".join(
            [
                *(f"{name} {_infer_measure_type(df, agg, var, col)}"
                  for name, agg, var, col in measures),
                *(f"{k} {key_types[k]}" for k in keys),
            ]
        )
        out = match_recognize(
            df,
            keys=keys,
            ts=ts_col,
            pattern=pat,
            measures=measure_fn,
            output_schema=schema,
            order_tiebreak=tiebreak,
        ).select(*keys, *(name for name, *_ in measures))

    view = f"__mr_{abs(hash(sql)) % 10**8}"
    out.createOrReplaceTempView(view)
    alias = f" {alias_m.group(1)}" if alias_m else ""
    rewritten = (
        sql[: m.start()] + view + alias + (rest[alias_m.end():] if alias_m else rest)
    )
    return spark.sql(rewritten)


# ------------------------------------------------------------- UNNEST
# Flink spells array/map expansion `CROSS JOIN UNNEST(expr) AS a(c1..)`
# (Calcite SqlUnnestOperator; $UNNEST_ROWS$1 in
# BuiltInFunctionDefinitions.java:446). Spark's parser has no UNNEST —
# the equivalent is LATERAL VIEW explode/inline/posexplode.

_UNNEST = re.compile(
    r"(CROSS\s+JOIN|LEFT\s+JOIN|,)\s*UNNEST\s*\(", re.I
)


def rewrite_unnest(sql: str) -> str:
    """Rewrite every `[CROSS|LEFT] JOIN UNNEST(expr) [WITH ORDINALITY]
    AS alias(c1, c2...)` onto LATERAL VIEW:

      1 output column             -> explode(expr) alias AS c1
      2+ columns                  -> inline(expr)  alias AS c1, c2...
         (array-of-row expansion; for maps Spark's explode already
          yields key,value — also the 2-column case)
      WITH ORDINALITY             -> 1-based ordinality column LAST
                                     (SQL-standard/Flink numbering; the
                                     element is zipped with sequence(1..n)
                                     so posexplode's 0-base never leaks)
      LEFT JOIN ... ON TRUE       -> LATERAL VIEW OUTER

    An UNNEST without an AS alias(column...) clause is rejected loudly —
    guessing an output column name would silently corrupt the query.
    """
    _keywords = (
        "WHERE|GROUP|ORDER|ON|LEFT|RIGHT|INNER|FULL|JOIN|CROSS|UNION|"
        "HAVING|LIMIT|WINDOW|SELECT"
    )
    while True:
        m = _UNNEST.search(_sql_mask(sql, idents=True))
        if not m:
            return sql
        open_idx = m.end() - 1
        close_idx = _find_close(sql, open_idx)
        expr = sql[open_idx + 1 : close_idx]
        rest = sql[close_idx + 1 :]
        tail = re.match(
            r"\s*(WITH\s+ORDINALITY\s+)?(?:AS\s+)?"
            rf"(?!(?:{_keywords})\b)(\w+)\s*(?:\(([^)]*)\))?"
            r"(\s+ON\s+TRUE)?",
            rest,
            re.I,
        )
        if not tail or not tail.group(2):
            raise ValueError(
                "UNNEST requires an AS alias(column...) clause: "
                f"...{sql[m.start(): close_idx + 30]!r}"
            )
        ordinality = bool(tail.group(1))
        alias = tail.group(2)
        cols = [c.strip() for c in (tail.group(3) or "").split(",") if c.strip()]
        outer = "OUTER " if m.group(1).upper().startswith("LEFT") else ""
        if ordinality:
            if len(cols) != 2:
                raise ValueError(
                    "UNNEST WITH ORDINALITY supports AS alias(value, ord)"
                )
            data_col, ord_col = cols
            # zip each element with its 1-BASED position (the SQL
            # standard's ordinality; posexplode alone would be 0-based).
            # slice(...) keeps the empty-array case empty — sequence(1,0)
            # would otherwise produce a DESCENDING [1,0].
            zipped = (
                f"slice(arrays_zip({expr}, "
                f"sequence(1, greatest(size({expr}), 1))), 1, size({expr}))"
            )
            gen = (
                f"LATERAL VIEW {outer}inline({zipped}) {alias} AS "
                f"{data_col}, {ord_col}"
            )
        elif len(cols) >= 2:
            gen = (
                f"LATERAL VIEW {outer}inline({expr}) {alias} AS "
                f"{', '.join(cols)}"
            )
        else:
            gen = f"LATERAL VIEW {outer}explode({expr}) {alias} AS {cols[0]}"
        sql = sql[: m.start()] + " " + gen + rest[tail.end() :]


# ------------------------------------------------- Flink builtin names
# Flink SQL function names with no Spark builtin of the same name
# (BuiltInFunctionDefinitions.java = BFD) rewritten to the equivalent
# Spark SQL expression — pure text, so the result stays inside
# whole-stage codegen (never a Python UDF). This table is the only
# definition of each built-in: execute_sql, the Table API's string
# expressions and functions/compat.call_sql all go through it.


def _strip_json_mode(arg: str) -> str:
    m = re.match(r"^'\s*(?:lax|strict)\s+(.*)'$", arg.strip(), re.I | re.S)
    return f"'{m.group(1)}'" if m else arg


def _json_path_clause(arg: str) -> tuple[str, str]:
    """Split a SQL/JSON path argument into the path (mode prefix
    stripped) and its trailing clause: `'lax $.k' RETURNING INT` ->
    (`'$.k'`, `RETURNING INT`). A non-literal path has no clause."""
    lead = len(arg) - len(arg.lstrip())
    first = next(iter(_sql_regions(arg)), None)
    if not first or first[0] != lead or first[2] != "'":
        return arg, ""
    return _strip_json_mode(arg[lead : first[1]]), " ".join(arg[first[1] :].split())


def _bi_split_index(a):
    # Flink's delimiter is a LITERAL; Spark's split() takes a Java
    # regex — \Q...\E quoting makes metachar delimiters ('.', '|', '+')
    # behave literally. get() is 0-based and NULL out of range, which is
    # SPLIT_INDEX's contract (element_at raises under ANSI)
    return (
        f"get(split({a[0]}, concat('\\\\Q', {a[1]}, '\\\\E'), -1), {a[2]})"
    )


def _bi_to_base64(a):
    return f"base64({a[0]})"


def _bi_from_base64(a):
    # Flink types FROM_BASE64 as STRING; Spark's unbase64 is BINARY
    return f"CAST(unbase64({a[0]}) AS STRING)"


def _bi_truncate(a):
    # TRUNCATE(numeric, d) (BFD:1802) truncates toward zero; Spark's
    # trunc() is date-only
    x = a[0]
    n = a[1] if len(a) > 1 else "0"
    return (
        f"((CASE WHEN ({x}) >= 0 THEN floor(({x}) * pow(10, {n})) "
        f"ELSE ceil(({x}) * pow(10, {n})) END) / pow(10, {n}))"
    )


def _bi_rand_integer(a):
    if len(a) == 2:  # RAND_INTEGER(seed, bound)
        return f"CAST(floor(rand({a[0]}) * ({a[1]})) AS INT)"
    return f"CAST(floor(rand() * ({a[0]})) AS INT)"


def _bi_convert_tz(a):
    return f"from_utc_timestamp(to_utc_timestamp({a[0]}, {a[1]}), {a[2]})"


# SQL/JSON path functions (BFD:2339 JSON_EXISTS, :2361 JSON_VALUE, :2379
# JSON_QUERY) compile to get_json_object (JVM-side Jackson). Per-row
# raising is not expressible in a JVM expression, so both path modes
# keep the functions' default ON ERROR behaviour (FALSE for EXISTS, NULL
# for VALUE/QUERY), which is Flink's default; strict mode's THROW ON
# ERROR is the one deviation. Any other ON EMPTY/ON ERROR clause is
# rejected rather than silently ignored.


def _json_clause_error(fn: str, clause: str, supported: str) -> ValueError:
    return ValueError(
        f"{fn}: unsupported clause {clause!r} (supported: {supported})"
    )


def _bi_json_exists(a):
    p, clause = _json_path_clause(a[1])
    if clause:
        raise _json_clause_error("JSON_EXISTS", clause, "none")
    # a JSON null item reports FALSE (get_json_object maps it to NULL)
    return f"(get_json_object({a[0]}, {p}) IS NOT NULL)"


def _bi_json_value(a):
    # JSON_VALUE(js, path [RETURNING type]): scalar items only —
    # structured items (object/array) yield NULL, as the spec requires.
    # RETURNING is a try_cast, so an unconvertible item is NULL (Flink's
    # NULL ON ERROR), not an ANSI cast error
    p, clause = _json_path_clause(a[1])
    ret = re.fullmatch(r"RETURNING\s+(\w+(?:\s*\([\d\s,]*\))?)", clause, re.I)
    if clause and not ret:
        raise _json_clause_error("JSON_VALUE", clause, "RETURNING <type>")
    g = f"get_json_object({a[0]}, {p})"
    out = (
        f"(CASE WHEN substring({g}, 1, 1) IN ('{{', '[') "
        f"THEN CAST(NULL AS STRING) ELSE {g} END)"
    )
    if ret:
        out = f"try_cast({out} AS {flink_type_to_spark(ret.group(1))})"
    return out


def _bi_json_query(a):
    # JSON_QUERY(js, path [WITHOUT | WITH UNCONDITIONAL [ARRAY] WRAPPER])
    # returns JSON text. WITHOUT (the default): structured items only,
    # scalars -> NULL. WITH UNCONDITIONAL: every item wrapped in a
    # one-element array; get_json_object strips a string scalar's
    # quotes, so strings are re-quoted via to_json while numeric,
    # boolean and null literals pass through. A missing item stays NULL
    # (Flink's NULL ON EMPTY)
    p, clause = _json_path_clause(a[1])
    wrap = re.fullmatch(
        r"(?:(WITHOUT)|WITH\s+UNCONDITIONAL)(?:\s+ARRAY)?\s+WRAPPER",
        clause,
        re.I,
    )
    if clause and not wrap:
        raise _json_clause_error(
            "JSON_QUERY", clause,
            "WITHOUT [ARRAY] WRAPPER, WITH UNCONDITIONAL [ARRAY] WRAPPER",
        )
    g = f"get_json_object({a[0]}, {p})"
    structured = f"substring({g}, 1, 1) IN ('{{', '[')"
    if not wrap or wrap.group(1):
        return f"(CASE WHEN {structured} THEN {g} END)"
    literal = (
        f"{g} RLIKE '^-?[0-9]+([.][0-9]+)?([eE][+-]?[0-9]+)?$' "
        f"OR {g} IN ('true', 'false', 'null')"
    )
    return (
        f"(CASE WHEN {g} IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN {structured} OR {literal} THEN concat('[', {g}, ']') "
        f"ELSE to_json(array({g})) END)"
    )


def _bi_str_to_map(a):
    # Flink's defaults are pair ',' / key-value '=' (StrToMapFunction);
    # Spark's NATIVE str_to_map defaults the kv delimiter to ':' — the
    # bare 1-arg call MUST pin Flink's, or results silently mis-split
    p = a[1] if len(a) > 1 else "','"
    kv = a[2] if len(a) > 2 else "'='"
    return f"str_to_map({a[0]}, {p}, {kv})"


def _bi_to_timestamp_ltz(a):
    # TO_TIMESTAMP_LTZ(epoch, precision): 0 = seconds, 3 = millis
    # (BuiltInFunctionDefinitions.TO_TIMESTAMP_LTZ). Flink 1.20 has no
    # 1-arg form — silently assuming a precision would be off by 1000x
    if len(a) < 2:
        raise ValueError(
            "TO_TIMESTAMP_LTZ requires (epoch, precision) — precision "
            "0 (seconds) or 3 (milliseconds)"
        )
    prec = a[1].strip()
    if prec == "0":
        return f"timestamp_seconds({a[0]})"
    if prec == "3":
        return f"timestamp_millis({a[0]})"
    raise ValueError(
        f"TO_TIMESTAMP_LTZ precision must be 0 or 3, got {prec!r}"
    )


def _bi_array_slice(a):
    # ARRAY_SLICE(arr, start[, end]): INCLUSIVE 1-based end index,
    # negative offsets count from the end (Flink 1.19+
    # ArraySliceFunction); Spark's slice() takes a LENGTH and requires
    # start >= 1 after normalization
    arr, s = a[0], a[1]
    e = a[2] if len(a) > 2 else f"size({arr})"
    norm_s = f"(CASE WHEN ({s}) < 0 THEN size({arr}) + ({s}) + 1 ELSE ({s}) END)"
    # ArraySliceFunction.java order: negative ends normalize from the
    # array end FIRST, and THEN an end of 0 normalizes to 1 — so both
    # end = 0 and end = -(size+1) keep the first element when start <= 1
    neg_e = f"(CASE WHEN ({e}) < 0 THEN size({arr}) + ({e}) + 1 ELSE ({e}) END)"
    norm_e = f"(CASE WHEN {neg_e} = 0 THEN 1 ELSE {neg_e} END)"
    start = f"greatest({norm_s}, 1)"
    return f"slice({arr}, {start}, greatest({norm_e} - {start} + 1, 0))"


def _json_operand(x: str) -> str:
    """A JSON-constructor element/value as a VARIANT: an already-
    rewritten nested constructor (its text is a to_json(...) call or
    the JSON_STRING CASE form) is parsed back so the outer serializer
    splices it RAW — Flink nests constructors structurally, not as
    quoted strings; anything else casts to VARIANT, which also keeps
    heterogeneous element types their own JSON type (a bare array()
    would coerce everything to the common string type)."""
    stripped = x.strip()
    if stripped.startswith("to_json(") or (
        stripped.startswith("(CASE WHEN") and "to_json(array(" in stripped
    ):
        return f"parse_json({x})"
    return f"CAST(({x}) AS VARIANT)"


def _bi_json_array(a):
    # JSON_ARRAY(v1, ... [ABSENT|NULL ON NULL]) — ABSENT is the default
    # (SqlJsonArrayFunction); to_json keeps nulls, so ABSENT filters
    keep_nulls = False
    if a and re.search(r"\bNULL\s+ON\s+NULL\s*$", a[-1], re.I):
        keep_nulls = True
        a = a[:-1] + [re.sub(r"\s*NULL\s+ON\s+NULL\s*$", "", a[-1], flags=re.I)]
    elif a and re.search(r"\bABSENT\s+ON\s+NULL\s*$", a[-1], re.I):
        a = a[:-1] + [
            re.sub(r"\s*ABSENT\s+ON\s+NULL\s*$", "", a[-1], flags=re.I)
        ]
    a = [x for x in a if x.strip()]
    if not a:
        return "'[]'"
    arr = f"array({', '.join(_json_operand(x) for x in a)})"
    if not keep_nulls:
        arr = f"filter({arr}, __jae -> __jae IS NOT NULL)"
    return f"to_json({arr})"


def _split_key_value(item: str) -> tuple[str, str] | None:
    """Split a JSON_OBJECT/JSON_OBJECTAGG entry at the first VALUE
    keyword outside quoted text and comments — a key like 'my value
    key' or `unit value` must not split at its inner word. Returns
    (key_text, value_text) or None."""
    vm = re.search(r"\sVALUE\s", _sql_mask(item, idents=True), re.I)
    return (item[: vm.start()], item[vm.end() :]) if vm else None


def _bi_json_arrayagg(a):
    # JSON_ARRAYAGG(expr [ABSENT|NULL ON NULL]) — aggregate form
    # (BuiltInFunctionDefinitions JSON_ARRAYAGG_ABSENT_ON_NULL /
    # _NULL_ON_NULL; ABSENT is the SQL-standard default).  collect_list
    # drops nulls (= ABSENT); NULL ON NULL wraps each value in a struct
    # so the row survives aggregation, then unwraps.
    arg = a[0]
    null_on = bool(re.search(r"\bNULL\s+ON\s+NULL\s*$", arg, re.I)) and not \
        re.search(r"\bABSENT\s+ON\s+NULL\s*$", arg, re.I)
    arg = re.sub(r"\s*(ABSENT|NULL)\s+ON\s+NULL\s*$", "", arg, flags=re.I)
    if null_on:
        return (
            f"to_json(transform(collect_list(struct(({arg}) AS v)),"
            f" s -> s.v))"
        )
    return f"to_json(collect_list({arg}))"


def _bi_json_objectagg(a):
    # JSON_OBJECTAGG([KEY] k VALUE v [NULL|ABSENT ON NULL]) — aggregate
    # form; NULL ON NULL is the default (SqlJsonObjectFunction).  Pairs
    # collect as structs (null values survive), ABSENT filters them out
    # before the map is serialized.
    arg = a[0]
    absent = bool(re.search(r"\bABSENT\s+ON\s+NULL\s*$", arg, re.I))
    arg = re.sub(r"\s*(ABSENT|NULL)\s+ON\s+NULL\s*$", "", arg, flags=re.I)
    kv = _split_key_value(arg)
    if kv is None:
        raise ValueError(f"cannot parse JSON_OBJECTAGG entry: {arg!r}")
    key = re.sub(r"^\s*KEY\s+", "", kv[0].strip(), flags=re.I)
    entries = f"collect_list(struct(({key}) AS k, ({kv[1]}) AS v))"
    if absent:
        entries = f"filter({entries}, s -> s.v IS NOT NULL)"
    return f"to_json(map_from_entries({entries}))"


def _bi_json_object(a):
    # JSON_OBJECT([KEY] 'k' VALUE v, ... [NULL|ABSENT ON NULL]) —
    # NULL ON NULL is the default (SqlJsonObjectFunction); to_json
    # drops null fields unless told otherwise
    absent = False
    if a and re.search(r"\bABSENT\s+ON\s+NULL\s*$", a[-1], re.I):
        absent = True
        a = a[:-1] + [
            re.sub(r"\s*ABSENT\s+ON\s+NULL\s*$", "", a[-1], flags=re.I)
        ]
    elif a and re.search(r"\bNULL\s+ON\s+NULL\s*$", a[-1], re.I):
        a = a[:-1] + [re.sub(r"\s*NULL\s+ON\s+NULL\s*$", "", a[-1], flags=re.I)]
    pairs = []
    for item in a:
        if not item.strip():
            continue
        kv = _split_key_value(item)
        if kv is None:
            raise ValueError(f"cannot parse JSON_OBJECT entry: {item!r}")
        key = re.sub(r"^\s*KEY\s+", "", kv[0].strip(), flags=re.I)
        pairs.append(f"{key}, {_json_operand(kv[1])}")
    if not pairs:
        return "'{}'"
    struct = f"named_struct({', '.join(pairs)})"
    if absent:
        return f"to_json({struct})"
    return f"to_json({struct}, map('ignoreNullFields', 'false'))"


def _bi_json_string(a):
    # JSON_STRING(x): serialize one value as JSON text; NULL in → NULL
    # out (JsonStringFunction) — to_json(array(x)) with the brackets
    # stripped serializes any type without a wrapping struct key.
    # The argument is spliced textually and evaluates more than once
    # (the module-wide rewrite convention, same as TRUNCATE) —
    # precompute non-deterministic values in a subquery first.
    x = a[0]
    body = f"to_json(array({x}))"
    return (
        f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE substring({body}, 2, length({body}) - 2) END)"
    )


def _bi_json_quote(a):
    return _bi_json_string([f"CAST(({a[0]}) AS STRING)"])


def _bi_json_unquote(a):
    # JSON_UNQUOTE: unquote a valid JSON string literal, pass anything
    # else (invalid JSON, objects, arrays) through unchanged —
    # get_json_object's root read unquotes strings and is NULL on
    # malformed input (from_json cannot target a scalar schema)
    return f"coalesce(get_json_object(({a[0]}), '$'), ({a[0]}))"


def _bi_current_watermark(a):
    # CURRENT_WATERMARK(rowtime): Flink returns NULL when no watermark
    # has been emitted — the batch-mode answer is always NULL
    # (BuiltInFunctionDefinitions.CURRENT_WATERMARK)
    return "CAST(NULL AS TIMESTAMP)"


_BUILTIN_REWRITES: dict[str, Callable[[list[str]], str]] = {
    "SPLIT_INDEX": _bi_split_index,
    "TO_BASE64": _bi_to_base64,
    "FROM_BASE64": _bi_from_base64,
    "TRUNCATE": _bi_truncate,
    "RAND_INTEGER": _bi_rand_integer,
    "CONVERT_TZ": _bi_convert_tz,
    "JSON_EXISTS": _bi_json_exists,
    "JSON_VALUE": _bi_json_value,
    "JSON_QUERY": _bi_json_query,
    "STR_TO_MAP": _bi_str_to_map,
    "TO_TIMESTAMP_LTZ": _bi_to_timestamp_ltz,
    "ARRAY_CONCAT": lambda a: f"concat({', '.join(a)})",
    "ARRAY_REVERSE": lambda a: f"reverse({a[0]})",
    "ARRAY_SLICE": _bi_array_slice,
    "MAP_UNION": lambda a: f"map_concat({', '.join(a)})",
    "JSON_ARRAY": _bi_json_array,
    "JSON_OBJECT": _bi_json_object,
    "JSON_ARRAYAGG": _bi_json_arrayagg,
    "JSON_OBJECTAGG": _bi_json_objectagg,
    # SHA224(x): Spark spells the SHA-2 family via sha2(x, bits)
    "SHA224": lambda a: f"sha2({a[0]}, 224)",
    # ELEMENT(arr): sole element of a 0/1-element array (ArrayElement);
    # the >1-element error contract degrades to NULL here (documented —
    # raise_error would poison whole-stage codegen for every row)
    "ELEMENT": lambda a: (
        f"(CASE WHEN size({a[0]}) = 1 THEN ({a[0]})[0] ELSE NULL END)"
    ),
    # CURRENT_ROW_TIMESTAMP(): Flink evaluates per ROW; Spark's
    # current_timestamp() is per QUERY — the value is correct, the
    # per-row drift within a statement is documented dialect loss
    "CURRENT_ROW_TIMESTAMP": lambda a: "current_timestamp()",
    # PROCTIME(): processing-time attribute (SqlProctimeFunction) —
    # same per-batch wall-clock mapping as the PROCTIME() computed
    # column in DDL (sql_ddl._computed_col_expr); the AS-OF lookup-join
    # routing never sees this rewrite (it matches the DECLARED column)
    "PROCTIME": lambda a: "current_timestamp()",
    "JSON_STRING": _bi_json_string,
    "JSON_QUOTE": _bi_json_quote,
    "JSON_UNQUOTE": _bi_json_unquote,
    "CURRENT_WATERMARK": _bi_current_watermark,
}

_BUILTIN_HEAD = re.compile(
    r"\b(" + "|".join(_BUILTIN_REWRITES) + r")\s*\(", re.I
)


_COLLECTION_LITERAL = re.compile(r"\b(ARRAY|MAP)\s*\[", re.I)


def _rewrite_collection_literals(sql: str) -> str:
    """Calcite's bracket collection constructors — ARRAY[1, 2] and
    MAP['k', v] (Flink's literal forms) — onto Spark's array()/map()
    calls. One bracket pair per pass; nested literals resolve on later
    passes. Quoted text and comments are skipped ('ARRAY[...]' in a
    string is data)."""
    while m := _COLLECTION_LITERAL.search(_sql_mask(sql, idents=True)):
        open_idx = m.end() - 1
        close = _find_close(sql, open_idx, "[]")
        sql = (
            sql[: m.start()]
            + m.group(1).lower()
            + "("
            + sql[open_idx + 1 : close]
            + ")"
            + sql[close + 1 :]
        )
    return sql


# matched on the lexer's mask, where a quoted operand is its delimiters
# around blanks; the operand's text is read back from the statement
_IS_JSON = re.compile(
    r"(?P<op>' *'|` *`|\w+(?:\.\w+)*(?:\([^()]*\))?)"
    r"\s+IS\s+(?P<neg>NOT\s+)?JSON"
    r"(?:\s+(?P<shape>VALUE|SCALAR|OBJECT|ARRAY))?\b",
    re.I,
)


def _rewrite_is_json(x: str, neg: str | None, shape: str | None) -> str:
    """`x IS [NOT] JSON [VALUE|SCALAR|OBJECT|ARRAY]` (SqlJsonPredicate):
    validity via get_json_object's parse (NULL on malformed input —
    with the literal 'null' special-cased, which parses to JSON null),
    shape via the first non-space character. A NULL operand yields
    UNKNOWN (NULL), per the standard."""
    shape = (shape or "VALUE").upper()
    valid = (
        f"(get_json_object({x}, '$') IS NOT NULL "
        f"OR trim(CAST({x} AS STRING)) = 'null')"
    )
    head = f"substring(ltrim(CAST({x} AS STRING)), 1, 1)"
    if shape == "OBJECT":
        cond = f"({valid} AND {head} = '{{')"
    elif shape == "ARRAY":
        cond = f"({valid} AND {head} = '[')"
    elif shape == "SCALAR":
        cond = f"({valid} AND {head} NOT IN ('{{', '['))"
    else:
        cond = valid
    if neg:
        cond = f"(NOT {cond})"
    return f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) ELSE {cond} END)"


def _overlaps_expr(s1: str, e1: str, s2: str, e2: str) -> str:
    """SQL-standard (S1, E1) OVERLAPS (S2, E2) — the standard's exact
    disjunct expansion over order-normalized endpoints (Calcite's
    SqlOverlapsOperator): equal starts always overlap, and a
    zero-length period strictly inside the other overlaps it (the
    simplified max(start) < min(end) form misses that case)."""
    lo1, hi1 = f"least({s1}, {e1})", f"greatest({s1}, {e1})"
    lo2, hi2 = f"least({s2}, {e2})", f"greatest({s2}, {e2})"
    return (
        f"(({lo2} > {lo1} AND NOT ({lo2} >= {hi1} AND {hi2} >= {hi1})) "
        f"OR ({lo1} > {lo2} AND NOT ({lo1} >= {hi2} AND {hi1} >= {hi2})) "
        f"OR {lo1} = {lo2})"
    )


_OVERLAPS = re.compile(r"\bOVERLAPS\b", re.I)


def _rewrite_overlaps_scan(sql: str) -> str:
    """Row-syntax `(S1, E1) OVERLAPS (S2, E2)` onto _overlaps_expr.
    Scan-based (not a regex): the operands are matched as BALANCED
    paren groups around each OVERLAPS keyword found outside quoted text
    and comments, so arbitrarily nested calls with commas work. A
    keyword whose neighbors are not two 2-element row groups is left
    alone."""
    pos, mask = 0, _sql_mask(sql, idents=True)
    while m := _OVERLAPS.search(mask, pos):
        j = len(mask[: m.start()].rstrip()) - 1  # last char before it
        i = len(mask) - len(mask[m.end() :].lstrip())  # first char after
        ok = j >= 0 and mask[j] == ")" and i < len(mask) and mask[i] == "("
        if ok:
            try:
                open1, close2 = _find_close(sql, j), _find_close(sql, i)
            except ValueError:  # unbalanced text: left to the parser
                ok = False
            # a ROW constructor, not a call's argument list: the char
            # before the opener must not be part of an identifier
            ok = open1 == 0 or not (
                sql[open1 - 1].isalnum() or sql[open1 - 1] in "_`$."
            )
        if ok:
            a1 = _split_args(sql[open1 + 1 : j])
            a2 = _split_args(sql[i + 1 : close2])
            ok = (
                len(a1) == 2
                and len(a2) == 2
                # a 2-column subquery also splits into 2 — leave it
                and not a1[0].lstrip().upper().startswith("SELECT")
                and not a2[0].lstrip().upper().startswith("SELECT")
            )
        if not ok:
            pos = m.end()
            continue
        repl = _overlaps_expr(
            a1[0].strip(), a1[1].strip(), a2[0].strip(), a2[1].strip()
        )
        sql = sql[:open1] + repl + sql[close2 + 1 :]
        pos, mask = open1 + len(repl), _sql_mask(sql, idents=True)
    return sql


def rewrite_flink_builtins(sql: str) -> str:
    """Replace Flink-named builtin calls with Spark SQL equivalents
    (innermost-first so nested calls resolve), then the two
    non-call-shaped forms: the IS JSON predicate and row-syntax
    OVERLAPS.  A name inside quoted text or a comment is not a call."""
    # bracket literals FIRST: _split_args does not track '[' depth, so
    # a call argument like ARRAY[1, 2] would split at its inner comma
    sql = _rewrite_collection_literals(sql)
    # fixpoint loop: some rewrites are self-named (STR_TO_MAP pins
    # Flink's delimiters onto Spark's same-named function), so progress
    # is "the replacement differs from the matched text", not "a match
    # exists" — the latter never terminates
    while True:
        # innermost first: scan matches from the right (deepest in
        # left-to-right nesting), restart after every edit (indices
        # shift)
        for m in reversed(list(_BUILTIN_HEAD.finditer(_sql_mask(sql, idents=True)))):
            open_idx = m.end() - 1
            close_idx = _find_close(sql, open_idx)
            args = _split_args(sql[open_idx + 1 : close_idx])
            repl = _BUILTIN_REWRITES[m.group(1).upper()](args)
            if repl != sql[m.start() : close_idx + 1]:
                sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
                break
        else:
            break
    src = sql
    sql = _sub_unquoted(
        src,
        _IS_JSON,
        lambda m: _rewrite_is_json(
            src[m.start("op") : m.end("op")], m.group("neg"), m.group("shape")
        ),
    )
    return _rewrite_overlaps_scan(sql)
