"""The one SQL lexer (flink_1_20_spark/sqlenv/text.py) — pure Python,
no Spark session.

A property test builds statements from tokens: balanced paren groups,
plain words, and string literals, quoted identifiers and comments whose
bodies hold the characters every structural scan looks for (`, ( ) ;
WHERE EXCEPT`, `\\'`, `''`, `--`, `/*`).  Whatever the bodies hold, the
mask keeps the input's length, no split point, matched keyword or
matching bracket falls inside a generated region, and the split pieces
re-join to the input.  The pins below each failed before the scanners
of the SQL layer were folded onto the lexer.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from flink_1_20_spark.sql_flink import rewrite_flink_builtins, rewrite_window_tvfs
from flink_1_20_spark.sqlenv.text import (
    _leading_cte_names,
    _scan_streaming_setops,
    _split_top_all,
)

_COMMON = [",", "(", ")", ";", " WHERE ", " EXCEPT ", "a", " ", "TRUNCATE("]


def _body(extra: list[str]):
    return st.lists(st.sampled_from(_COMMON + extra), max_size=6).map("".join)


# each region kind with the body pieces that are legal inside it
REGIONS = st.one_of(
    _body(["\\'", "''", "--", "/*", '"', "`"]).map(lambda b: f"'{b}'"),
    _body(['\\"', '""', "--", "/*", "'", "`"]).map(lambda b: f'"{b}"'),
    _body(["\\'", "''", "--", "/*", "'", '"', "``"]).map(lambda b: f"`{b}`"),
    _body(["'", '"', "`", "/*", "*/", "--"]).map(lambda b: f"--{b}\n"),
    _body(["'", '"', "`", "--", "/* nested ) */"]).map(lambda b: f"/*{b}*/"),
)
WORDS = st.sampled_from(
    ["SELECT", "a", "b1", ",", ";", "WHERE", "EXCEPT", "1", "x.y", "*", "\n"]
)
ATOMS = st.one_of(WORDS.map(lambda w: [("w", w)]), REGIONS.map(lambda r: [("r", r)]))
TREES = st.recursive(
    ATOMS,
    lambda kids: st.lists(kids, max_size=4).map(
        lambda xs: [("(", "(")] + [t for x in xs for t in x] + [(")", ")")]
    ),
    max_leaves=20,
)
STATEMENTS = st.lists(TREES, min_size=1, max_size=6).map(
    lambda xs: [t for x in xs for t in x]
)


def _assemble(tokens):
    """(text, generated region spans, {open paren: its close})."""
    text, regions, pairs, stack = "", [], {}, []
    for kind, tok in tokens:
        text += " " if text else ""
        start = len(text)
        text += tok
        if kind == "r":
            regions.append((start, len(text)))
        elif kind == "(":
            stack.append(start)
        elif kind == ")":
            pairs[stack.pop()] = start
    return text, regions, pairs


@settings(max_examples=400, deadline=None)
@given(STATEMENTS)
def test_lexer_property(tokens):
    from flink_1_20_spark.sqlenv.text import (
        _find_close,
        _split_depth0,
        _sql_mask,
        _sub_unquoted,
        _top_level,
    )

    s, regions, pairs = _assemble(tokens)

    def inside(pos):
        return any(a <= pos < b for a, b in regions)

    for idents in (False, True):
        assert len(_sql_mask(s, idents)) == len(s)
    # no structural character of a region body survives the mask
    mask = _sql_mask(s, idents=True)
    assert not any(inside(i) for i, ch in enumerate(mask) if ch in "(),;")
    pieces = _split_depth0(s, ",")
    assert ",".join(pieces) == s
    pos = 0
    for p in pieces[:-1]:
        pos += len(p)
        assert s[pos] == "," and not inside(pos)
        pos += 1
    assert len(_split_top_all(s + ",", ",")) == len(pieces)
    for m in _top_level(s, r"\sWHERE\s|\bEXCEPT\b|;"):
        assert not inside(m.start()) and not inside(m.end() - 1)
    for open_idx, close_idx in pairs.items():
        assert _find_close(s, open_idx) == close_idx
        assert _find_close(s, close_idx) == open_idx
    # a substitution never reaches into quoted text or comments
    subbed = _sub_unquoted(s, r"\ba\b", "Z")
    assert all(subbed[a:b] == s[a:b] for a, b in regions)


def test_comment_and_backslash_do_not_end_a_cte_body():
    """A `)` inside a comment or after a backslash-escaped quote ended
    the CTE body early: complete=False, and the scope guard rejected a
    valid query."""
    for q in (
        "WITH c AS (SELECT k FROM t -- (a) )\n) SELECT * FROM c",
        "WITH c AS (SELECT k /* ) */ FROM t) SELECT * FROM c",
        "WITH c AS (SELECT 'it\\'s)' AS k FROM t) SELECT * FROM c",
    ):
        assert _leading_cte_names(q) == (["c"], True), q


def test_split_top_all_quoted_text_and_comments():
    cols = "a STRING COMMENT 'it\\'s, x', b INT"
    assert _split_top_all(cols, ",") == ["a STRING COMMENT 'it\\'s, x'", "b INT"]
    # a comment in a column list is whitespace (DDL with one failed
    # with `unsupported Flink type`)
    cols = "a INT, -- first, (\n b INT /* x, */, c INT"
    assert _split_top_all(cols, ",") == ["a INT", "b INT", "c INT"]


def test_streaming_setop_scan_skips_comments():
    assert _scan_streaming_setops("SELECT k FROM si_a -- EXCEPT SELECT\n") == []
    assert _scan_streaming_setops("SELECT k FROM a /* INTERSECT SELECT */") == []


def test_builtin_rewrite_skips_comments_and_quoted_identifiers():
    # a built-in name inside a comment is not a call (the `--` form
    # raised `unbalanced ()`; the `/* */` one was rewritten)
    for sql in (
        "SELECT a -- SPLIT_INDEX(x\nFROM t",
        "SELECT a /* TO_BASE64(x) */ FROM t",
    ):
        assert rewrite_flink_builtins(sql) == sql
    # a comma or paren inside a backticked argument is not structure
    assert rewrite_flink_builtins("SELECT TRUNCATE(`a,b`, 1) FROM t") == (
        "SELECT ((CASE WHEN (`a,b`) >= 0 THEN floor((`a,b`) * pow(10, 1)) "
        "ELSE ceil((`a,b`) * pow(10, 1)) END) / pow(10, 1)) FROM t"
    )
    assert rewrite_flink_builtins("SELECT SPLIT_INDEX(`we)ird`, '.', 1) FROM t") == (
        "SELECT get(split(`we)ird`, concat('\\\\Q', '.', '\\\\E'), -1), 1) FROM t"
    )


def test_window_tvf_rewrite_skips_comments_and_quoted_identifiers():
    sql = "SELECT * FROM t -- TABLE(TUMBLE(\n"
    assert rewrite_window_tvfs(sql) == sql
    out = rewrite_window_tvfs(
        "SELECT * FROM TABLE(TUMBLE(TABLE `my,t`, DESCRIPTOR(ts), "
        "INTERVAL '1' MINUTE))"
    )
    assert "window(`ts`, '1 minute') AS __w FROM `my,t`)" in out
