"""Shared text/type helpers and the TableMeta model of the
executeSql surface — the module prelude of sql_ddl.py, split out in r10
(pure move).  Everything here is dependency-free of TableEnvironment.
"""


from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# ------------------------------------------------------------------ types

_SIMPLE_TYPES = {
    "STRING": "string",
    "BYTES": "binary",
    "VARBINARY": "binary",
    "BINARY": "binary",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "DOUBLE PRECISION": "double",
    "FLOAT": "float",
    "REAL": "float",
    "BOOLEAN": "boolean",
    "DATE": "date",
}


def flink_type_to_spark(t: str) -> str:
    """Map a Flink SQL type name to the Spark DDL type string."""
    s = t.strip()
    u = s.upper()
    u = re.sub(r"\s+NOT\s+NULL$", "", u)
    s = s[: len(u)]  # keep original casing for nested payloads
    if u in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[u]
    m = re.match(r"(?:TIMESTAMP|TIMESTAMP_LTZ)\s*(?:\(\d+\))?(?:\s+WITH(?:OUT)?\s+(?:LOCAL\s+)?TIME\s+ZONE)?$", u)
    if m:
        return "timestamp"
    m = re.match(r"TIME\s*(?:\(\d+\))?$", u)
    if m:  # no TimeType in Spark — nanos-of-day emulation (functions/compat.py)
        return "bigint"
    m = re.match(r"(?:DECIMAL|NUMERIC|DEC)\s*\((\d+)\s*,\s*(\d+)\)$", u)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    m = re.match(r"(?:CHAR|VARCHAR)\s*(?:\(\d+\))?$", u)
    if m:
        return "string"
    m = re.match(r"ARRAY\s*<(.*)>$", u, re.S)
    if m:
        return f"array<{flink_type_to_spark(m.group(1))}>"
    m = re.match(r"MAP\s*<(.*)>$", u, re.S)
    if m:
        k, v = _split_top(m.group(1), ",")
        return f"map<{flink_type_to_spark(k)},{flink_type_to_spark(v)}>"
    m = re.match(r"ROW\s*<(.*)>$", u, re.S)
    if m:
        fields = []
        for f in _split_top_all(m.group(1), ","):
            name, typ = f.strip().split(None, 1)
            fields.append(f"{name.lower()}:{flink_type_to_spark(typ)}")
        return "struct<" + ",".join(fields) + ">"
    raise ValueError(f"unsupported Flink type: {t!r}")


_GENERIC_HEADS = ("ARRAY", "MAP", "ROW", "MULTISET")
# Spark-side TYPE strings additionally use STRUCT<...>. STRUCT is NOT in
# the default head set: _split_top_all also splits DDL column lists,
# where a COLUMN named `struct` compared with `<` in a computed-column
# expression must stay a comparison (third-review finding — adding
# STRUCT globally merged column defs).  Only the type-string call sites
# pass this extended set.
_GENERIC_HEADS_TYPES = _GENERIC_HEADS + ("STRUCT",)


# ------------------------------------------------------------------ lexer
#
# The one place that decides where a string literal, a quoted identifier
# or a comment begins and ends in SQL text — Flink has one generated
# lexer for every statement (Calcite's FlinkSqlParserImpl).  Every
# quote-, comment- and paren-aware scan of the SQL layer reads the mask
# or the regions computed here, once per statement when it is planned.

_REGION_START = re.compile(r"['\"`]|--|/\*")
_REGION_END = {
    # string literals honor backslash escapes (Spark's default parser)
    # and doubled quotes (Calcite's); `` escapes a backtick
    "'": re.compile(r"(?:[^'\\]|\\.|'')*'", re.S),
    '"': re.compile(r'(?:[^"\\]|\\.|"")*"', re.S),
    "`": re.compile(r"(?:[^`]|``)*`"),
    "--": re.compile(r"[^\n]*"),
}
_BLOCK_COMMENT_TOKEN = re.compile(r"/\*|\*/")


def _sql_regions(s: str) -> list[tuple[int, int, str]]:
    """(start, end, kind) of every string literal, quoted identifier and
    comment in `s`, in order; `kind` is the opening delimiter (' " `
    -- /*).  One pass, because quotes and comments interact both ways:
    a comment marker inside a literal is content, and the apostrophe in
    `/* it's */` must not open a string (a mask-quotes-then-scan form
    once paired it with a later literal and blanked real SQL to the end
    of the statement).  `/* */` comments nest, as Spark parses them
    (SPARK-28880).  An unterminated region runs to the end of `s`: the
    parser rejects the statement anyway, and no scan may read its
    text."""
    out, i, n = [], 0, len(s)
    while True:
        m = _REGION_START.search(s, i)
        if not m:
            return out
        kind, end = m.group(), n
        if kind == "/*":
            depth = 0
            for t in _BLOCK_COMMENT_TOKEN.finditer(s, m.start()):
                depth += 1 if t.group() == "/*" else -1
                if depth == 0:
                    end = t.end()
                    break
        else:
            e = _REGION_END[kind].match(s, m.end())
            end = e.end() if e else n
        out.append((m.start(), end, kind))
        i = end


def _sql_mask(s: str, idents: bool = False) -> str:
    """Same-length copy of `s` for structural scans, so positions found
    in it index straight into `s`: comments are blanked to spaces (a
    `\\s+` regex crosses them) and string-literal bodies are blanked
    between their kept delimiters (`'a,b'` → `'   '`, still one token).
    Quoted identifiers are blanked the same way only when `idents` is
    set: a paren or comma inside `` `we)ird` `` is not structure, but the
    CTE scope guards must still see `` `cte` `` names."""
    out, last = [], 0
    for start, end, kind in _sql_regions(s):
        if kind == "`" and not idents:
            continue
        if kind in ("--", "/*"):
            a, b = start, end
        else:
            a = start + 1
            b = end - 1 if end - a and s[end - 1] == kind else end
        out += [s[last:a], " " * (b - a)]
        last = b
    out.append(s[last:])
    return "".join(out)


_HEAD_BEFORE = re.compile(r"(\w+)\s*\Z")


def _top_level(s: str, pattern: str, heads=()):
    """Yield the case-insensitive matches of `pattern` that sit outside
    quoted text and comments, at paren depth 0 and outside generic
    angle brackets.  The matches are made on `_sql_mask(s, idents=True)`:
    their positions index `s`, their text equals `s` wherever a match
    lies outside quoted text.  `<` opens an angle bracket only directly
    after a generic type head in `heads` (ARRAY<...>) or inside one, so
    comparisons in computed-column expressions (`a < b`) stay literal;
    `>` closes only while one is open.  `pattern` must not match a
    bracket."""
    mask = _sql_mask(s, idents=True)
    depth = adepth = last = 0
    for m in re.finditer(rf"(?:{pattern})|(?P<_br>[()<>])", mask, re.I):
        br = m.group("_br")
        if br is None:
            if depth == adepth == 0:
                yield m
                last = m.end()
        elif br == "(":
            depth += 1
        elif br == ")":
            depth -= 1
        elif br == "<":
            head = _HEAD_BEFORE.search(mask, last, m.start())
            if adepth or head and head.group(1).upper() in heads:
                adepth += 1
        elif adepth:
            adepth -= 1


def _split_depth0(s: str, pattern: str, heads=()) -> list[str]:
    """`s` cut at every `_top_level` match of `pattern`; the pieces
    re-join to `s` with the separators between them."""
    out, last = [], 0
    for m in _top_level(s, pattern, heads):
        out.append(s[last : m.start()])
        last = m.end()
    out.append(s[last:])
    return out


def _find_close(s: str, idx: int, pair: str = "()") -> int:
    """Index of the bracket that balances the one at `idx`, skipping
    quoted text and comments.  `pair` is (opener, closer), e.g. '()' or
    '[]'; the search runs right from an opener and left from a
    closer."""
    mask = _sql_mask(s, idents=True)
    opener, closer = pair
    if mask[idx] not in pair:
        raise ValueError(f"no {pair} at {idx}")
    step = 1 if mask[idx] == opener else -1
    depth = 0
    for i in range(idx, len(mask) if step > 0 else -1, step):
        if mask[i] == opener:
            depth += step
        elif mask[i] == closer:
            depth -= step
        if depth == 0:
            return i
    raise ValueError(f"unbalanced {pair}")


def _sub_unquoted(s: str, pattern, repl) -> str:
    """re.sub that never touches quoted text or comments: `pattern` is
    matched on `_sql_mask(s, idents=True)` and replacements are spliced
    into `s`.  A path like '/tmp/x.csv' or an identifier like `a.b`
    must not be rewritten even when a table `csv` exists in a database
    `x`.  A callable `repl` gets the match on the mask — its group text
    equals `s` outside quoted text; a group that may BE quoted text is
    read from `s` by its span."""
    mask = _sql_mask(s, idents=True)
    out, last = [], 0
    for m in re.finditer(pattern, mask):
        out += [s[last : m.start()], repl(m) if callable(repl) else m.expand(repl)]
        last = m.end()
    out.append(s[last:])
    return "".join(out)


def _option_pairs(text: str) -> list[tuple[str, str]]:
    """('k', 'v') for every `'k' = 'v'` pair in `text` — a WITH (...)
    option list or a SET (...) property list — read from the lexer's
    string-literal regions, doubled quotes unfolded."""
    lits = [(a, b) for a, b, kind in _sql_regions(text) if kind == "'"]
    return [
        (text[a + 1 : b - 1].replace("''", "'"), text[c + 1 : d - 1].replace("''", "'"))
        for (a, b), (c, d) in zip(lits, lits[1:])
        if b - a > 2 and re.fullmatch(r"\s*=\s*", text[b:c])
    ]


class _Lexed:
    """The groups of a `_match_lexed` match, as `re.Match.group` reads
    them."""

    __slots__ = ("_groups",)

    def __init__(self, groups: list[str | None]):
        self._groups = groups

    def group(self, i: int = 0) -> str | None:
        return self._groups[i]


def _match_lexed(pattern, s: str, flags: int = 0) -> _Lexed | None:
    """re.match of a statement grammar on the lexer mask of `s`, so a
    quoted token `'([^']*)'` spans the whole literal, `''` included
    (its body is blank in the mask).  Groups read `s`; a group that is
    exactly a string literal's body comes back with `''` unfolded."""
    m = re.match(pattern, _sql_mask(s), flags)
    if m is None:
        return None
    bodies = {(a + 1, b - 1) for a, b, kind in _sql_regions(s) if kind == "'"}
    groups: list[str | None] = []
    for i in range(m.re.groups + 1):
        a, b = m.span(i)
        text = None if a < 0 else s[a:b]
        groups.append(text.replace("''", "'") if (a, b) in bodies else text)
    return _Lexed(groups)


def _quoted_items(text: str) -> list[str]:
    """Every string literal's body in `text`, `''` unfolded."""
    return [
        text[a + 1 : b - 1].replace("''", "'")
        for a, b, kind in _sql_regions(text)
        if kind == "'" and b - a >= 2
    ]


# ------------------------------------------------------------------ splits


def _split_top_all(s: str, sep: str, heads=_GENERIC_HEADS) -> list[str]:
    """Split on the character `sep` at paren/angle-bracket depth 0,
    outside quoted text and comments (`_top_level`; `heads` defaults to
    ARRAY/MAP/ROW/MULTISET).  A trailing empty piece is dropped, and
    each piece is trimmed of surrounding whitespace AND comments: a
    column definition `b INT /* note */` is `b INT`, and a spliced call
    argument `x -- note` would comment out the rest of its line."""
    parts = _split_depth0(s, re.escape(sep), heads)
    out = []
    for p in parts if parts[-1] else parts[:-1]:
        m = _sql_mask(p)
        out.append(p[len(m) - len(m.lstrip()) : len(m.rstrip())])
    return out


def _split_top(s: str, sep: str, heads=_GENERIC_HEADS) -> tuple[str, str]:
    parts = _split_top_all(s, sep, heads)
    return parts[0], sep.join(parts[1:])


def spark_type_to_flink(t: str) -> str:
    """Inverse of flink_type_to_spark for SHOW CREATE TABLE emission.

    TableMeta stores column types as SPARK DDL strings; uppercasing is
    valid Flink DDL for every scalar/array/map type, but a struct must
    come back as ``ROW<name TYPE, ...>`` — found by the r10 DDL
    round-trip property test: SHOW CREATE emitted ``STRUCT<X:INT>``,
    which neither Flink nor this module's own parser re-executes
    (Flink's SHOW CREATE prints re-executable DDL,
    ShowCreateUtil.buildShowCreateTableRow).  Documented fidelity
    losses (not retained in TableMeta): TIMESTAMP / CHAR / VARCHAR
    length-precision re-emit unparameterized; a declared TIME column
    (stored as BIGINT nanos-of-day, the module's documented emulation)
    re-emits as BIGINT — the emulation IS the engine's type for it.
    `binary` re-emits as BYTES: in real Flink DDL a bare BINARY means
    BINARY(1), which would truncate on re-execution (third-review
    finding)."""
    s = t.strip()
    if s.lower() == "binary":
        return "BYTES"
    m = re.match(r"array\s*<(.*)>$", s, re.I | re.S)
    if m:
        return f"ARRAY<{spark_type_to_flink(m.group(1))}>"
    m = re.match(r"map\s*<(.*)>$", s, re.I | re.S)
    if m:
        k, v = _split_top(m.group(1), ",", _GENERIC_HEADS_TYPES)
        return f"MAP<{spark_type_to_flink(k)}, {spark_type_to_flink(v)}>"
    m = re.match(r"struct\s*<(.*)>$", s, re.I | re.S)
    if m:
        fields = []
        for f in _split_top_all(m.group(1), ",", _GENERIC_HEADS_TYPES):
            nm, typ = f.strip().split(":", 1)
            fields.append(f"{nm} {spark_type_to_flink(typ)}")
        return "ROW<" + ", ".join(fields) + ">"
    return s.upper()


def _split_on_where(text: str) -> tuple[str, str | None]:
    """Split at the first WHERE keyword at paren depth 0 outside quoted
    text and comments — `SET note = 'a WHERE b'` must not split inside
    the literal, `SET a = (SELECT x FROM u WHERE u.k = t.k)` not at the
    subquery's inner WHERE, and a '(' inside "a(b" or `weird(col` must
    not wedge the depth."""
    for m in _top_level(text, r"\sWHERE\s"):
        return text[: m.start()], text[m.end() :]
    return text, None


# matched on the fully blanked mask, where a backticked name is its
# delimiters around blanks; the name is read back from the statement
_CTE_HEAD = re.compile(
    r"\s*([A-Za-z_]\w*|` *`)\s*(?:\([^)]*\)\s*)?AS\s*\(", re.I
)


def _leading_cte_names(query: str) -> tuple[list[str], bool]:
    """(names, complete) for a leading WITH clause: `names` are the
    declared CTE names (backtick-quoted supported; column-list CTEs
    `name (a,b) AS` too), `complete` is True when parsing consumed the
    whole prologue (the remainder starts the main query).  Callers must
    treat complete=False as "unknown CTEs exist" and fail safe — a
    truncated list would silently disarm scope guards for the CTEs it
    missed.  ([], True) when the statement does not start with WITH."""
    mask = _sql_mask(query, idents=True)
    m = re.match(r"\s*WITH\s+(?:RECURSIVE\s+)?", mask, re.I)
    if not m:
        return [], True
    names, i = [], m.end()
    while nm := _CTE_HEAD.match(mask, i):
        names.append(query[nm.start(1) : nm.end(1)].strip("`").lower())
        try:  # skip the balanced CTE body
            i = _find_close(query, nm.end() - 1) + 1
        except ValueError:
            return names, False
        c = re.compile(r"\s*,").match(mask, i)
        if not c:
            break
        i = c.end()
    complete = bool(
        names and re.compile(r"\s*(SELECT|VALUES|\()", re.I).match(mask, i)
    )
    return names, complete


# one token of a FROM list: a bracket, an item comma, or the clause
# keyword that ends the list
_FROM_LIST_TOKEN = re.compile(
    r"[(),]|\b(?:WHERE|GROUP|HAVING|ORDER|LIMIT|WINDOW|QUALIFY|UNION|"
    r"EXCEPT|INTERSECT|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL|ON|"
    r"USING|MATCH_RECOGNIZE)\b",
    re.I,
)


def _from_comma_tables(text: str) -> set[str]:
    """Lowercased head identifiers of every TOP-LEVEL FROM-list item
    (``FROM a, b`` → {a, b}) anywhere in `text`.  Complements the
    ``FROM/JOIN <name>`` regex in the set-op CTE scope guard — a
    comma-joined CTE reference (``... FROM x, cte``) or a
    comment-separated head (``FROM -- x\\n cte``) would otherwise slip
    past it and silently bind to a same-named registered table.
    Paren-depth aware (subquery commas don't split items); scanning a
    FROM list stops at the first depth-0 clause keyword.  Over-matching
    is acceptable here — the guard fails SAFE by raising a clear
    unsupported-scope error — under-matching is not.  The list
    structure is read on the fully blanked mask (a literal holding
    'FROM <cte-name>' adds no phantom head, which would falsely REJECT
    a valid query); item heads are read with quoted identifiers kept,
    so a backticked table name is never dropped."""
    out: set[str] = set()
    mask, names = _sql_mask(text, idents=True), _sql_mask(text)
    for m in re.finditer(r"\bFROM\b", mask, re.I):
        depth, start, bounds = 0, m.end(), []
        for t in _FROM_LIST_TOKEN.finditer(mask, m.end()):
            tok = t.group()
            if tok == "(":
                depth += 1
            elif tok == ")" and depth:
                depth -= 1
            elif tok == ",":
                if not depth:
                    bounds.append((start, t.start()))
                    start = t.end()
            elif not depth:
                break
        else:
            t = None
        bounds.append((start, t.start() if t else len(mask)))
        for a, b in bounds:
            h = re.match(r"\s*`?([A-Za-z_][\w$]*)`?", names[a:b])
            if h:
                out.add(h.group(1).lower())
    return out


def parse_watermark_delay(col: str, delay: str) -> str:
    """WATERMARK FOR <col> AS <expr> → the Spark withWatermark delay
    string.  A bounded-delay expression (``<col> - INTERVAL '<n>'
    <unit>``) maps to the interval; SOURCE_WATERMARK()
    (connector-provided — the monitored-dir source has none of its own)
    and the strictly-ascending form (``AS <col>``) map to ``0
    seconds``.  Any OTHER expression raises: silently tightening an
    unrecognized strategy (a UDF, arithmetic the INTERVAL regex misses)
    to 0 seconds would drop late rows the declared strategy accepts.  A
    redundant outer-paren form ``(<col> - INTERVAL '<n>' <unit>)`` is
    accepted (r10): the parens change nothing semantically, and DDL
    written that way used to register before the r9 fail-safe
    tightening.  Shared by _apply_watermark and every consumer that
    needs a declared delay as a STRING (the streaming temporal join's
    per-input watermarks) — a loose INTERVAL-token search there would
    silently miss the two zero-delay forms (r11 review find)."""
    d = delay.strip().rstrip(";").strip()
    # strip BALANCED redundant outer parens only: "(a) - (b)" must not
    # lose its first "(" — require the opening paren to close at the end
    while d.startswith("(") and d.endswith(")"):
        try:
            if _find_close(d, 0) != len(d) - 1:
                break
        except ValueError:
            break
        d = d[1:-1].strip()
    # the bounded-delay form is matched EXACTLY (`<col> - INTERVAL '<n>'
    # <unit>`), never by searching for an INTERVAL token: a chained
    # `ts - INTERVAL '10' MINUTE - INTERVAL '30' SECOND` or a delay
    # anchored on a DIFFERENT column would otherwise silently apply the
    # first interval to `col` — a tighter/wrong watermark that drops
    # late rows the declared strategy accepts
    wm = re.fullmatch(
        rf"`?{re.escape(col)}`?\s*-\s*INTERVAL\s+'([^']+)'\s+(\w+)", d, re.I
    )
    if wm:
        return f"{wm.group(1)} {wm.group(2).lower()}"
    if re.fullmatch(r"SOURCE_WATERMARK\s*\(\s*\)", d, re.I) or re.fullmatch(
        rf"`?{re.escape(col)}`?", d, re.I
    ):
        return "0 seconds"
    raise ValueError(
        f"unsupported watermark strategy {delay!r} for column {col!r} — "
        "supported: '<col> - INTERVAL '<n>' <unit>' (bounded delay), "
        "SOURCE_WATERMARK(), or the strictly-ascending '<col>' form; "
        "other expressions cannot be mapped onto a Spark watermark "
        "without changing which late rows are accepted"
    )


def _apply_watermark(df, col: str, delay: str):
    """WATERMARK FOR <col> AS <expr> → Spark withWatermark (see
    parse_watermark_delay for the accepted strategy forms)."""
    return df.withWatermark(col, parse_watermark_delay(col, delay))


def _scan_streaming_setops(query: str) -> list[tuple[int, int, str, bool]]:
    """Every paren-depth-0 set operator in `query`, in order:
    (start, end, 'INTERSECT'|'EXCEPT', is_all).  A SET OPERATOR is
    followed by a query — `SELECT * EXCEPT(col)` projections, comment
    text, and quoted identifiers never match."""
    return [
        (
            m.start(),
            m.end(),
            m.group(1).upper(),
            (m.group(2) or "").strip().upper() == "ALL",
        )
        for m in _top_level(
            query,
            r"\b(INTERSECT|EXCEPT)\b(\s+(?:ALL|DISTINCT)\b)?"
            r"(?=\s*\(?\s*SELECT\b)",
        )
    ]


# ------------------------------------------------------------------ model


@dataclass
class TableMeta:
    name: str
    connector: str
    options: dict[str, str]
    columns: list[tuple[str, str]] = field(default_factory=list)  # (name, spark type)
    computed: list[tuple[str, str]] = field(default_factory=list)  # (name, sql expr)
    watermark: tuple[str, str] | None = None  # (col, delay expr sql)
    primary_key: list[str] = field(default_factory=list)
    partitioned_by: list[str] = field(default_factory=list)
    # ANALYZE TABLE results (CatalogTableStatistics parity): row_count,
    # size_bytes, and per-column stats; None until analyzed, reset on
    # writes so a grown table can never keep a stale broadcast verdict
    stats: dict | None = None
    # ALTER TABLE RENAME COLUMN bookkeeping: current name -> name in the
    # underlying files (existing data keeps its physical column names;
    # the registered view reads by the original name then renames)
    renames: dict[str, str] = field(default_factory=dict)
    # DISTRIBUTED BY (FLIP-376 bucketed tables, SqlDistribution.java):
    # (kind 'HASH'|'RANGE', bucket columns, bucket count or None) —
    # writes cluster by the key into the bucket count
    distribution: tuple[str, list[str], int | None] | None = None

    def proctime_col(self) -> str | None:
        """Name of the computed column declared `AS PROCTIME()` (the
        processing-time attribute, SqlProctimeFunction in the Flink
        parser), or None. Routes `JOIN d FOR SYSTEM_TIME AS OF f.<col>`
        to the processing-time lookup join."""
        for c, e in self.computed:
            if re.fullmatch(r"PROCTIME\s*\(\s*\)", e.strip(), re.I):
                return c
        return None


def _computed_col_expr(expr: str) -> str:
    """Computed-column expression → Spark SQL.  PROCTIME() maps to
    CURRENT_TIMESTAMP: Flink stamps processing time per record
    (ProcTimeAttribute); a micro-batch engine stamps per batch — the
    batch-consistent wall clock is the Spark-idiomatic analog."""
    return _sub_unquoted(expr, r"(?i)\bPROCTIME\s*\(\s*\)", "CURRENT_TIMESTAMP")


def _db_view_name(db: str, table: str) -> str:
    """Flat temp-view alias for a qualified `db.table` reference."""
    return f"__cat_{db}__{table}"


def _ctl_view_name(cat: str, db: str, table: str) -> str:
    """Flat temp-view alias for a fully-qualified `catalog.db.table`."""
    return f"__ctl_{cat}__{db}__{table}"




__all__ = [
    "_SIMPLE_TYPES",
    "flink_type_to_spark",
    "spark_type_to_flink",
    "_GENERIC_HEADS",
    "_sql_regions",
    "_sql_mask",
    "_top_level",
    "_split_depth0",
    "_find_close",
    "_sub_unquoted",
    "_option_pairs",
    "_split_top_all",
    "_split_top",
    "_split_on_where",
    "_leading_cte_names",
    "_from_comma_tables",
    "_apply_watermark",
    "parse_watermark_delay",
    "_scan_streaming_setops",
    "TableMeta",
    "_computed_col_expr",
    "_db_view_name",
    "_ctl_view_name",
]
