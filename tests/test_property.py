"""Property-based tests (hypothesis): NFA invariants in pure Python and
the distributed as-of join against a brute-force reference.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from flink_1_20_spark.operators.cep import Pattern, _scan

EVENTS = ["a", "b", "c"]


def _frame(seq: list[str]) -> pd.DataFrame:
    base = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {"event_type": seq, "ts": [base + dt.timedelta(minutes=i) for i in range(len(seq))]}
    )
    pdf["__ts"] = pdf["ts"]
    return pdf


def _matches(pat: Pattern, pdf: pd.DataFrame) -> list[list[tuple[str, int]]]:
    return [m for _, m in _scan(pat, pdf)]


@pytest.mark.parametrize(
    "skip", ["NO_SKIP", "PAST_LAST_EVENT", "TO_NEXT_ROW", "SKIP_TO_FIRST", "SKIP_TO_LAST"]
)
@pytest.mark.parametrize(
    "seq, want",
    [("abxbc", []), ("abcxbc", [[("A", 0), ("B", 1), ("C", 2)]])],
)
def test_followed_by_binds_first_occurrence(skip, seq, want):
    """followedBy is SKIP_TILL_NEXT: it may skip only rows that do not
    match, so B binds the FIRST b after A and the strict C must follow
    that b — the later `b c` in `a b x b c` is never reached. The answer
    must not depend on the skip strategy."""
    pat = (
        Pattern.begin("A", lambda r: r["event_type"] == "a")
        .followed_by("B", lambda r: r["event_type"] == "b")
        .next("C", lambda r: r["event_type"] == "c")
        .after_match_skip(skip, "B" if skip.startswith("SKIP_TO") else None)
    )
    assert _matches(pat, _frame(list(seq))) == want


@settings(max_examples=60, deadline=None)
@given(st.lists(st.sampled_from(EVENTS), min_size=0, max_size=24))
def test_cep_strict_pair_equals_bruteforce(seq):
    """a NEXT b with TO_NEXT_ROW skip == the set of adjacent (a, b) pairs."""
    pat = (
        Pattern.begin("x", lambda r: r["event_type"] == "a")
        .next("y", lambda r: r["event_type"] == "b")
        .after_match_skip("TO_NEXT_ROW")
    )
    got = {tuple(idx for _, idx in m) for m in _matches(pat, _frame(seq))}
    expected = {(i, i + 1) for i in range(len(seq) - 1) if seq[i] == "a" and seq[i + 1] == "b"}
    assert got == expected


@settings(max_examples=60, deadline=None)
@given(st.lists(st.sampled_from(EVENTS), min_size=0, max_size=24))
def test_cep_match_invariants(seq):
    """Relaxed a...b...c matches: predicates hold, indices increase, and
    PAST_LAST_EVENT matches never overlap."""
    pat = (
        Pattern.begin("x", lambda r: r["event_type"] == "a")
        .followed_by("y", lambda r: r["event_type"] == "b")
        .followed_by("z", lambda r: r["event_type"] == "c")
    )
    matches = _matches(pat, _frame(seq))
    prev_end = -1
    for m in matches:
        idxs = [idx for _, idx in m]
        assert idxs == sorted(idxs)
        assert [seq[i] for i in idxs] == ["a", "b", "c"]
        assert idxs[0] > prev_end  # non-overlap under PAST_LAST_EVENT
        prev_end = idxs[-1]
    # completeness: if any a precedes a b that precedes a c, ≥1 match
    has = any(
        seq[i] == "a" and seq[j] == "b" and seq[k] == "c"
        for i in range(len(seq)) for j in range(i + 1, len(seq)) for k in range(j + 1, len(seq))
    )
    assert bool(matches) == has


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.sampled_from(EVENTS), min_size=1, max_size=24),
    st.integers(min_value=1, max_value=4),
)
def test_cep_times_or_more_greedy(seq, k):
    """a{k,} strict: every match is a maximal run of 'a' of length >= k."""
    pat = (
        Pattern.begin("x", lambda r: r["event_type"] == "a")
        .times_or_more(k)
        .strict_repeat()
    )
    matches = _matches(pat, _frame(seq))
    # brute-force maximal runs
    runs, i = [], 0
    while i < len(seq):
        if seq[i] == "a":
            j = i
            while j < len(seq) and seq[j] == "a":
                j += 1
            if j - i >= k:
                runs.append((i, j - 1))
            i = j
        else:
            i += 1
    got = [(min(i for _, i in m), max(i for _, i in m)) for m in matches]
    assert got == runs


def test_asof_join_matches_bruteforce(spark):
    """Distributed as-of join == per-row brute-force on a random-ish
    fixed seed dataset (multiple keys, duplicate/boundary timestamps)."""
    import random

    from flink_1_20_spark.operators.asof import asof_join

    rnd = random.Random(42)
    base = dt.datetime(2024, 1, 1)
    left = [
        (k, base + dt.timedelta(minutes=rnd.randint(0, 120)), float(i))
        for i, k in enumerate(rnd.choices([1, 2, 3], k=40))
    ]
    right = [
        (k, base + dt.timedelta(minutes=rnd.randint(0, 120)), float(100 + i))
        for i, k in enumerate(rnd.choices([1, 2, 3, 4], k=40))
    ]
    ldf = spark.createDataFrame(left, "k bigint, ts timestamp, lval double")
    rdf = spark.createDataFrame(right, "k bigint, rts timestamp, rval double")
    out = asof_join(ldf, rdf, on=["k"], left_ts="ts", right_ts="rts")

    def expected(k, ts):
        cand = [(rts, rv) for (rk, rts, rv) in right if rk == k and rts <= ts]
        if not cand:
            return None
        best_rts = max(c[0] for c in cand)
        # tie on rts: the window keeps the last row in (ts, side) order —
        # among equal rts the max rval is not guaranteed; collect all
        return {rv for rts2, rv in cand if rts2 == best_rts}

    for r in out.collect():
        exp = expected(r["k"], r["ts"])
        if exp is None:
            assert r["rval"] is None
        else:
            assert r["rval"] in exp


def test_banded_range_join_matches_bruteforce(spark):
    """Banded range join == naive filter-join on random points/intervals
    spanning NEGATIVE and positive domains, with zero-width intervals
    and points landing exactly on band boundaries."""
    import random

    from flink_1_20_spark.operators.rangejoin import banded_range_join

    rnd = random.Random(7)
    points = [(i, float(rnd.randint(-200, 200))) for i in range(120)]
    # include exact band-boundary points (band=32 below)
    points += [(1000 + j, float(v)) for j, v in enumerate((-64, -32, 0, 32, 64))]
    intervals = []
    for i in range(40):
        lo = float(rnd.randint(-220, 200))
        intervals.append((i, lo, lo + float(rnd.choice([0, 1, 7, 40, 90]))))
    pdf = spark.createDataFrame(points, "pid bigint, x double")
    idf = spark.createDataFrame(intervals, "iid bigint, lo double, hi double")

    got = {
        (r.pid, r.iid)
        for r in banded_range_join(pdf, idf, "x", "lo", "hi", band=32.0).collect()
    }
    want = {
        (pid, iid)
        for pid, x in points
        for iid, lo, hi in intervals
        if lo <= x <= hi
    }
    assert got == want and len(want) > 0


def test_banded_overlap_join_matches_bruteforce(spark):
    """Banded overlap join == naive overlap filter, exactly once per
    qualifying pair (the first-shared-band filter), negative domains and
    touching endpoints included."""
    import random

    from flink_1_20_spark.operators.rangejoin import banded_overlap_join

    rnd = random.Random(11)

    def mk(n, tag):
        out = []
        for i in range(n):
            lo = float(rnd.randint(-150, 150))
            out.append((tag * 1000 + i, lo, lo + float(rnd.choice([0, 3, 17, 60]))))
        return out

    left, right = mk(50, 1), mk(50, 2)
    ldf = spark.createDataFrame(left, "lid bigint, a_lo double, a_hi double")
    rdf = spark.createDataFrame(right, "rid bigint, b_lo double, b_hi double")
    rows = banded_overlap_join(
        ldf, rdf, "a_lo", "a_hi", "b_lo", "b_hi", band=25.0
    ).collect()
    got = [(r.lid, r.rid) for r in rows]
    want = {
        (lid, rid)
        for lid, alo, ahi in left
        for rid, blo, bhi in right
        if alo <= bhi and blo <= ahi
    }
    assert set(got) == want and len(want) > 0
    assert len(got) == len(set(got)), "pair emitted more than once"
