"""Strict MATCH_RECOGNIZE chains run as one Catalyst window plan.

`match_recognize` lowers a chain of single-row `next` steps with SQL
predicates, FIRST/LAST measures, SKIP TO NEXT ROW and a tiebreak
column to `lead()` over the key's ordered rows; every other shape runs
the NFA. The property test compares the two forms on random event
streams; the shape tests pin which form each pattern reaches.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings, strategies as st

from flink_1_20_spark.operators.cep import Pattern, _measure_fn, _parsed_measures, match_recognize

SCHEMA = "k bigint, ts timestamp, eid bigint, et string, v double"
BASE = dt.datetime(2024, 1, 1)

# negation-free predicates: a NULL operand reads as a non-match in both
# forms (SQL three-valued logic in Catalyst, False in the NFA's Python)
PREDICATES = [
    "{s}.et = 'a'",
    "{s}.et = 'b'",
    "et = 'c'",
    "{s}.v > 1.5",
    "{s}.v <= 2",
    "{s}.v IS NULL",
    "{s}.et IS NOT NULL AND {s}.v >= 2",
    "{s}.et = 'c' OR {s}.v = 1",
    "{s}.et IN ('a', 'c')",
    "TRUE",
]


def _on_nfa(df) -> bool:
    return "FlatMapGroupsInPandas" in df._jdf.queryExecution().optimizedPlan().toString()


def _chain(preds: list[str], skip: str = "TO_NEXT_ROW") -> Pattern:
    names = [f"s{i}" for i in range(len(preds))]
    pat = Pattern.begin(names[0], preds[0].format(s=names[0]))
    for name, p in zip(names[1:], preds[1:]):
        pat = pat.next(name, p.format(s=name))
    return pat.after_match_skip(skip)


def _measures(k: int, j: int) -> dict[str, str]:
    return {
        "start_ts": "FIRST(s0.ts)",
        "last_v": f"LAST(s{k - 1}.v)",
        "mid_eid": f"FIRST(s{j}.eid)",
    }


OUT = "start_ts timestamp, last_v double, mid_eid bigint, k bigint"


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _run(df, pat, measures, **kw):
    return match_recognize(
        df, keys=["k"], ts="ts", pattern=pat, measures=measures,
        output_schema=OUT, order_tiebreak=["eid"], **kw,
    )


events = st.lists(
    st.tuples(
        st.integers(1, 3),  # key
        st.integers(0, 5),  # minute: few values, so ts ties are common
        st.sampled_from(["a", "b", "c", None]),
        st.sampled_from([1.0, 2.0, 3.0, None]),
    ),
    max_size=40,
)


@settings(max_examples=25, deadline=None)
@given(
    events,
    st.lists(st.sampled_from(PREDICATES), min_size=1, max_size=4),
    st.integers(0, 3),
)
def test_lowered_chain_equals_nfa(spark, evs, preds, j):
    """Both forms return the same matches: ts ties are ordered by the
    tiebreak, a NULL predicate operand is a non-match, and an anchor
    within k-1 rows of its key's end cannot match."""
    df = spark.createDataFrame(
        [(key, BASE + dt.timedelta(minutes=m), eid, et, v)
         for eid, (key, m, et, v) in enumerate(evs)],
        SCHEMA,
    )
    pat = _chain(preds)
    measures = _measures(len(preds), j % len(preds))
    lowered = _run(df, pat, measures)
    nfa = _run(df, pat, _measure_fn(_parsed_measures(measures)))
    assert not _on_nfa(lowered) and _on_nfa(nfa)
    assert _rows(lowered) == _rows(nfa)


def _events(spark):
    evs = [(1, 0, "a", 1.0), (1, 1, "b", 2.0), (1, 1, "c", 3.0), (2, 0, "a", None),
           (2, 2, "b", 2.0), (2, 3, "c", 1.0)]
    return spark.createDataFrame(
        [(key, BASE + dt.timedelta(minutes=m), eid, et, v)
         for eid, (key, m, et, v) in enumerate(evs)],
        SCHEMA,
    )


def test_lowered_chain_on_fixture_events(spark):
    pat = _chain(["{s}.et = 'a'", "{s}.et = 'b'", "{s}.et = 'c'"])
    got = _run(_events(spark), pat, _measures(3, 1))
    assert not _on_nfa(got)
    assert _rows(got) == sorted([(BASE, 3.0, 1, 1), (BASE, 1.0, 4, 2)], key=repr)


def _shapes():
    """(id, pattern, run kwargs) — each one property away from a
    lowerable chain."""
    chain = ["{s}.et = 'a'", "{s}.et = 'b'"]
    base = dict(measures=_measures(2, 1))
    yield "callable predicate", (
        Pattern.begin("s0", lambda r: r["et"] == "a").next("s1", "s1.et = 'b'")
        .after_match_skip("TO_NEXT_ROW")
    ), base
    yield "callable measures", _chain(chain), dict(
        measures=_measure_fn(_parsed_measures(_measures(2, 1)))
    )
    yield "count measure", _chain(chain), dict(
        measures={**_measures(2, 1), "mid_eid": "COUNT(s1.eid)"}
    )
    yield "followed_by", (
        Pattern.begin("s0", "s0.et = 'a'").followed_by("s1", "s1.et = 'b'")
        .after_match_skip("TO_NEXT_ROW")
    ), base
    yield "quantifier", _chain(chain).times(2), base
    yield "optional", _chain(chain).optional(), base
    yield "until", (
        Pattern.begin("s0", "s0.et = 'a'").next("s1", "s1.et = 'b'")
        .until(lambda r: r["et"] == "c").after_match_skip("TO_NEXT_ROW")
    ), base
    yield "within", _chain(chain).within(60), base
    yield "negation", (
        Pattern.begin("s0", "s0.et = 'a'").not_next("n", "n.et = 'c'")
        .next("s1", "s1.et = 'b'").after_match_skip("TO_NEXT_ROW")
    ), base
    yield "past last row", _chain(chain, "PAST_LAST_EVENT"), base
    yield "cross-step predicate", _chain(["{s}.et = 'a'", "{s}.v > s0.v"]), base
    yield "no tiebreak", _chain(chain), dict(base, order_tiebreak=None)


@pytest.mark.parametrize("shape", list(_shapes()), ids=lambda s: s[0])
def test_non_lowerable_shapes_reach_the_nfa(spark, shape):
    _, pat, kw = shape
    kw = dict(kw)
    df = match_recognize(
        _events(spark), keys=["k"], ts="ts", pattern=pat, output_schema=OUT,
        order_tiebreak=kw.pop("order_tiebreak", ["eid"]), **kw,
    )
    assert _on_nfa(df)


def test_all_rows_reaches_the_nfa(spark):
    out = (
        "k bigint, ts timestamp, eid bigint, et string, v double, "
        "classifier string, match_number bigint, start_ts timestamp, "
        "last_v double, mid_eid bigint"
    )
    df = match_recognize(
        _events(spark), keys=["k"], ts="ts",
        pattern=_chain(["{s}.et = 'a'", "{s}.et = 'b'"]),
        measures=_measures(2, 1), output_schema=out, order_tiebreak=["eid"],
        all_rows=True,
    )
    assert _on_nfa(df)
    assert len(df.collect()) == 4  # two matches of two rows each


def test_sql_strict_funnel_lowers(spark, sf_dir):
    """The SQL MATCH_RECOGNIZE funnel passes its DEFINE text and parsed
    MEASURES through, so it runs as the window plan; a quantified
    statement keeps the NFA."""
    from flink_1_20_spark.catalog import register_views
    from flink_1_20_spark.sql_ddl import TableEnvironment

    register_views(spark, sf_dir)
    env = TableEnvironment(spark)
    body = """
        SELECT user_id, start_ts, end_ts
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES FIRST(A.ts) AS start_ts, C.ts AS end_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ({pattern})
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'view',
                   C AS C.event_type = 'purchase'
        ) AS m
    """
    assert not _on_nfa(env.execute_sql(body.format(pattern="A B C")))
    assert _on_nfa(env.execute_sql(body.format(pattern="A B+ C")))
