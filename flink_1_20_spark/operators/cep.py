"""CEP / MATCH_RECOGNIZE — pattern matching over per-key event sequences.

Reference parity (SURVEY.md §2.10): the flink-cep Pattern API
(Pattern.java: begin:153, where:180, within:272, next/followedBy:338-387,
optional:397, oneOrMore:415, times) compiled to an NFA (NFA.java:85) run
by CepOperator.java:82; SQL MATCH_RECOGNIZE lowers onto the same operator
(CommonExecMatch.java:170).

Spark-first design: Spark has no pattern operator. A strict chain of
single-row steps needs none: `match_recognize` lowers it to one Catalyst
window plan (`_lowered`: each step's predicate evaluated per row, then
`lead(pred_i, i)` over the key's ordered rows — the `lead()` rewrite the
chain's SQL oracle uses). Every other pattern runs the NFA. Batch NFA: one
shuffle+sort per key (`applyInPandas`), then a linear scan per
partition-group in Python — Arrow-batched, no per-row Python round
trips. The NFA is the textbook nondeterministic simulation — one
matcher (`_matches_at`) and one skip scan (`_scan`), shared with
streaming/cep_stream.py — with:
- contiguity: STRICT (Flink `next`), RELAXED (`followedBy`,
  SKIP_TILL_NEXT: binds the first matching row, never a later one) or
  non-deterministic relaxed (`followedByAny`, one branch per row)
- negative patterns: `not_next` / `not_followed_by` (Pattern.java:338,369;
  final not_followed_by requires `within`, as in Flink)
- quantifiers: exactly-once, `times(n[, m])`, `one_or_more`, `optional`,
  `until` stop condition (Pattern.until:244)
- `within`: max duration first→last event (Pattern.within:272)
- after-match skip: NO_SKIP, PAST_LAST_EVENT, TO_NEXT_ROW,
  SKIP_TO_FIRST or SKIP_TO_LAST (AfterMatchSkipStrategy.java:44-82)

Scale: matching is embarrassingly parallel across keys (state never
crosses keys — same invariant CepOperator relies on). The shuffle is the
only distributed cost; per-key sequences must fit in one Arrow group
(true for any realistic keyed event history; for pathological keys,
pre-split by time range).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass, field, replace

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# One-argument predicates `fn(row)` are vectorized over the frame.
# Two-argument predicates `fn(row, groups)` are Flink IterativeConditions
# (Pattern.where(IterativeCondition), ctx.getEventsForPattern): `groups`
# maps each step name to the DataFrame of rows bound so far (for the
# step being evaluated: its previous rows), evaluated lazily per
# candidate row.  A predicate may also be SQL text (a DEFINE condition,
# `a.event_type = 'click'`): it compiles through the DEFINE compiler
# (`sql_flink._compile_predicate`) for the NFA, and a strict chain of
# them lowers to Catalyst.
RowPredicate = Callable[..., bool]


@dataclass
class _Step:
    name: str
    predicate: RowPredicate | str
    min_times: int = 1
    max_times: int = 1  # -1 = unbounded (oneOrMore / greedy tail)
    strict: bool = False  # True = Flink `next`, False = `followedBy`
    negative: bool = False  # notNext / notFollowedBy — consumes no rows
    until: RowPredicate | None = None  # stop condition for looping steps
    any_match: bool = False  # followedByAny — branch per occurrence
    greedy: bool = True  # False = reluctant: enumerate every count


@dataclass
class Pattern:
    """Fluent pattern builder mirroring flink-cep's Pattern API."""

    steps: list[_Step] = field(default_factory=list)
    within_seconds: float | None = None
    skip: str = "PAST_LAST_EVENT"  # TO_NEXT_ROW | SKIP_TO_FIRST | SKIP_TO_LAST
    skip_step: str | None = None  # target step for SKIP_TO_FIRST/LAST

    @staticmethod
    def begin(name: str, where: RowPredicate | str) -> "Pattern":
        p = Pattern()
        p.steps.append(_Step(name, where))
        return p

    def next(self, name: str, where: RowPredicate | str) -> "Pattern":
        """Strict contiguity (Pattern.next:338)."""
        self.steps.append(_Step(name, where, strict=True))
        return self

    def followed_by(self, name: str, where: RowPredicate | str) -> "Pattern":
        """Relaxed contiguity — non-matching rows may intervene
        (Pattern.followedBy:356). SKIP_TILL_NEXT: the step binds the
        first matching row, never a later one, under every skip
        strategy."""
        self.steps.append(_Step(name, where, strict=False))
        return self

    def followed_by_any(self, name: str, where: RowPredicate | str) -> "Pattern":
        """Non-deterministic relaxed contiguity (Pattern.followedByAny:387):
        the step branches on EVERY later matching row, not just the first
        — one match per alternative. Alternatives are enumerated under
        `after_match_skip("NO_SKIP")`; the single-match strategies keep
        only the earliest branch."""
        self.steps.append(_Step(name, where, strict=False, any_match=True))
        return self

    def greedy(self) -> "Pattern":
        """Make the last (looping) step greedy — consume the maximal run
        (Quantifier.greedy). This is already the default here; provided
        for parity with Flink's explicit `.greedy()`."""
        self.steps[-1].greedy = True
        return self

    def reluctant(self) -> "Pattern":
        """Make the last (looping) step reluctant (Flink's DEFAULT for
        oneOrMore/times — Quantifier.java): under NO_SKIP every
        repetition count from min to the run length produces its own
        match ({a1}, {a1 a2}, …), where greedy emits only the maximal
        one. Deviation note: our default is greedy because the
        single-match skip strategies return one match per anchor;
        reluctant is the opt-in enumeration toggle."""
        self.steps[-1].greedy = False
        return self

    def times(self, n: int, m: int | None = None) -> "Pattern":
        """Repeat the last step n (or n..m) times (Pattern.times)."""
        self.steps[-1].min_times = n
        self.steps[-1].max_times = n if m is None else m
        return self

    def one_or_more(self) -> "Pattern":
        """Greedy unbounded repetition (Pattern.oneOrMore:415)."""
        self.steps[-1].min_times = 1
        self.steps[-1].max_times = -1
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """At least n repetitions, greedy (Pattern.timesOrMore)."""
        self.steps[-1].min_times = n
        self.steps[-1].max_times = -1
        return self

    def strict_repeat(self) -> "Pattern":
        """Make the last step's repetitions strictly contiguous
        (consecutive — Flink's default inner contiguity for looping
        states is relaxed; strict = `consecutive()`, Pattern.java)."""
        self.steps[-1].strict = True
        return self

    def not_next(self, name: str, where: RowPredicate | str) -> "Pattern":
        """Negative strict contiguity (Pattern.notNext:338): the row
        immediately after the previous step must NOT match. Consumes no
        rows."""
        self.steps.append(_Step(name, where, strict=True, negative=True))
        return self

    def not_followed_by(self, name: str, where: RowPredicate | str) -> "Pattern":
        """Negative relaxed contiguity (Pattern.notFollowedBy:369): no
        matching row may appear between the previous step and the next
        one. As the FINAL step it requires `within(...)` (same
        restriction as Flink) — then it means: no match until the
        pattern window closes."""
        self.steps.append(_Step(name, where, strict=False, negative=True))
        return self

    def until(self, where: RowPredicate) -> "Pattern":
        """Stop condition for a looping step (Pattern.until:244):
        repetition stops accumulating at the first row matching
        `where`."""
        self.steps[-1].until = where
        return self

    def optional(self) -> "Pattern":
        """(Pattern.optional:397)"""
        self.steps[-1].min_times = 0
        return self

    def within(self, seconds: float) -> "Pattern":
        """Max first→last duration (Pattern.within:272)."""
        self.within_seconds = seconds
        return self

    def after_match_skip(self, strategy: str, step: str | None = None) -> "Pattern":
        """AfterMatchSkipStrategy.java:44-82: PAST_LAST_EVENT,
        TO_NEXT_ROW, SKIP_TO_FIRST/SKIP_TO_LAST (which require the step
        name to skip to — resume at that step's first/last matched
        row)."""
        if strategy not in (
            "NO_SKIP",
            "PAST_LAST_EVENT",
            "TO_NEXT_ROW",
            "SKIP_TO_FIRST",
            "SKIP_TO_LAST",
        ):
            raise ValueError(strategy)
        if strategy in ("SKIP_TO_FIRST", "SKIP_TO_LAST") and not step:
            raise ValueError(f"{strategy} requires the target step name")
        self.skip = strategy
        self.skip_step = step
        return self


def _is_ctx(fn) -> bool:
    """True for two-argument predicates `fn(row, groups)` — they see the
    partial match (Flink's IterativeCondition, Pattern.where with
    Context) and cannot be vectorized."""
    code = getattr(fn, "__code__", None)
    return code is not None and code.co_argcount >= 2


def _compiled(pat: Pattern) -> Pattern:
    """`pat` with every SQL predicate compiled through the DEFINE
    compiler against the full list of step names (so a condition may
    name any step); callables pass through. Runs on the driver, before
    the pattern ships to the Python workers."""
    if not any(isinstance(s.predicate, str) for s in pat.steps):
        return pat
    from flink_1_20_spark.sql_flink import _compile_predicate

    names = [s.name for s in pat.steps]
    steps = [
        replace(s, predicate=_compile_predicate(s.predicate, s.name, names))
        if isinstance(s.predicate, str)
        else s
        for s in pat.steps
    ]
    return replace(pat, steps=steps)


def _precompute(pat: Pattern, pdf: pd.DataFrame) -> tuple:
    """Vectorize the per-row work once: each simple (one-argument) step
    predicate evaluated over the whole frame (one pandas apply per step,
    not one Python call per NFA probe), and event-time as epoch-seconds.
    Context predicates (IterativeCondition analog) get an all-True mask
    and are evaluated lazily per candidate with the bindings so far."""
    import numpy as np

    sec = pdf["__ts"].astype("int64").to_numpy() / 1e9
    pmat, cmat = [], []
    for step in pat.steps:
        if _is_ctx(step.predicate):
            pmat.append(np.ones(len(pdf), dtype=bool))
            cmat.append(step.predicate)
        else:
            pmat.append(pdf.apply(step.predicate, axis=1).to_numpy())
            cmat.append(None)
    umat = [
        pdf.apply(step.until, axis=1).to_numpy() if step.until is not None else None
        for step in pat.steps
    ]
    return sec, pmat, umat, cmat


class _Groups(dict):
    """Partial-match groups; an unbound variable reads as an EMPTY slice
    of the frame (all columns present, zero rows) so `g['B'][col]
    .iloc[-1]` raises IndexError — the intended NULL → non-match path —
    while a typo'd COLUMN name still raises KeyError loudly."""

    def __init__(self, pdf: pd.DataFrame, items):
        super().__init__(items)
        self._pdf = pdf

    def __missing__(self, key):
        return self._pdf.iloc[0:0]


def _ctx_eval(cm, pdf: pd.DataFrame, j: int, bindings) -> bool:
    """Evaluate a context predicate for row j given [(step, idx), ...]
    bindings. `groups['__pdf__']` exposes the whole ordered frame so
    physical-offset functions (SQL PREV/NEXT — the candidate row's
    position is `row.name`) can be compiled.

    Only IndexError counts as non-matching (out-of-range PREV/NEXT or an
    unbound/empty group — Flink's NULL semantics). A typo'd column name
    (KeyError) or an unsupported construct (TypeError) raises, wrapped
    with the predicate, instead of silently producing an empty result."""
    groups: dict[str, list[int]] = {}
    for name, idx in bindings:
        groups.setdefault(name, []).append(idx)
    ctx = _Groups(pdf, {k: pdf.iloc[v] for k, v in groups.items()})
    ctx["__pdf__"] = pdf
    try:
        return bool(cm(pdf.iloc[j], ctx))
    except IndexError:
        return False
    except TypeError as exc:
        # pandas keeps SQL NULLs as None in object columns, and
        # comparing None raises TypeError — that is Flink's
        # NULL-comparison → non-match, not a user error
        if "NoneType" in str(exc):
            return False
        label = getattr(cm, "_define_text", None) or repr(cm)
        raise ValueError(
            f"error evaluating CEP condition {label}: {exc!r}"
        ) from exc
    except KeyError as exc:
        label = getattr(cm, "_define_text", None) or repr(cm)
        raise ValueError(
            f"error evaluating CEP condition {label}: {exc!r}"
        ) from exc


def _matches_at(
    pat: Pattern, rows: pd.DataFrame, start: int, pre: tuple
) -> Iterator[list[tuple[str, int]]]:
    """Yield the matches anchored at `start`, lazily — the NFA's branch
    set (NFA.java keeps one partial match per live branch):

    - `next`: the single contiguous position;
    - `followedBy`: the FIRST matching occurrence after the previous
      step (SKIP_TILL_NEXT: only non-matching rows may be skipped, so
      one branch — Flink does not backtrack relaxed contiguity);
    - `followedByAny`: one branch PER matching occurrence;
    - looping steps: greedy → the largest count that completes a match;
      reluctant → one branch per count in min..run length;
    - negative steps consume no rows.

    Order is deterministic: depth-first, positions ascending, counts in
    quantifier preference order. NO_SKIP takes every branch; the
    single-match skip strategies take the first non-empty one, so the
    rest are never built. `pre` is `_precompute(pat, rows)`, computed
    once per frame for all anchors.
    """
    n = len(rows)
    sec, pmat, umat, cmat = pre
    t0 = sec[start]

    def test(step_i: int, j: int, acc, run: list[int]) -> bool:
        # mask pre-filter, then the lazy context predicate with the
        # bindings so far (incl. this step's own rows taken so far, so
        # LAST(B.x) inside B's own DEFINE sees the previous B)
        pm, cm = pmat[step_i], cmat[step_i]
        if not pm[j]:
            return False
        if cm is None:
            return True
        step = pat.steps[step_i]
        return _ctx_eval(cm, rows, j, acc + [(step.name, i) for i in run])

    def run_from(step_i: int, sp: int, acc) -> list[int]:
        """Maximal consecutive match run for step step_i starting at sp."""
        step = pat.steps[step_i]
        pm, cm, um = pmat[step_i], cmat[step_i], umat[step_i]
        matches: list[int] = []
        j = sp
        while j < n and (step.max_times == -1 or len(matches) < step.max_times):
            if pat.within_seconds is not None and (sec[j] - t0) > pat.within_seconds:
                break
            if um is not None and um[j]:
                break
            if not pm[j]:  # hot path: mask first, lazy context second
                break
            if cm is not None and not test(step_i, j, acc, matches):
                break
            matches.append(j)
            j += 1
        return matches

    def rec(
        step_i: int, pos: int, acc: list[tuple[str, int]], bound: int | None
    ) -> Iterator[list[tuple[str, int]]]:
        if step_i == len(pat.steps):
            yield list(acc)
            return
        step = pat.steps[step_i]
        if step.negative:
            if step.strict:
                # notNext: the immediately-following row must not match
                if not (pos < n and test(step_i, pos, acc, [])):
                    yield from rec(step_i + 1, pos, acc, None)
                return
            if step_i == len(pat.steps) - 1:
                # final notFollowedBy — only valid with within (Flink's
                # restriction): no match until the pattern window closes
                if pat.within_seconds is None:
                    raise ValueError("notFollowedBy cannot be the last step without within()")
                for j in range(pos, n):
                    if (sec[j] - t0) > pat.within_seconds:
                        break
                    if test(step_i, j, acc, []):
                        return
                yield list(acc)
                return
            # non-final notFollowedBy: the NEXT step's first row must
            # come no later than the first forbidden row
            limit = next((j for j in range(pos, n) if test(step_i, j, acc, [])), n)
            yield from rec(step_i + 1, pos, acc, limit)
            return

        anchored = step_i == 0
        hi = n if bound is None else min(n, bound + 1)
        if anchored or step.strict:
            start_positions: list[int] = [pos]
        else:
            feasible = (j for j in range(pos, hi) if test(step_i, j, acc, []))
            if step.any_match:
                start_positions = list(feasible)
            else:
                first = next(feasible, None)
                start_positions = [] if first is None else [first]
            if step.min_times == 0 and not start_positions:
                start_positions = [pos]  # zero-occupancy only

        for sp in start_positions:
            if bound is not None and sp > bound:
                continue
            matches = run_from(step_i, sp, acc) if sp < n else []
            # count order = quantifier preference: greedy tries the
            # maximal run first and stops at the largest count that
            # completes a match (one branch per start position);
            # reluctant (B+? — Quantifier.java consumingStrategy) tries
            # the MINIMAL first and every count is its own branch — the
            # r12 match_varlen fuzz shape caught reluctant steps being
            # resolved greedily under the single-match skip strategies
            if step.greedy:
                counts = range(len(matches), step.min_times - 1, -1)
            else:
                counts = range(step.min_times, len(matches) + 1)
            for take in counts:
                # zero-occupancy resumes at `pos`: rows between pos and
                # sp stay available to the next step
                nxt = sp + take if take > 0 else pos
                acc.extend((step.name, idx) for idx in matches[:take])
                completed = False
                for m in rec(step_i + 1, nxt, acc, None):
                    completed = True
                    yield m
                if take:
                    del acc[-take:]
                if step.greedy and completed:
                    break

    return rec(0, start, [], None)


def _skip_next(pat: Pattern, anchor: int, m: list[tuple[str, int]]) -> int:
    """The anchor after match `m` found at `anchor`, per the pattern's
    single-match skip strategy (AfterMatchSkipStrategy.java:44-82)."""
    if pat.skip == "PAST_LAST_EVENT":
        return max(idx for _, idx in m) + 1
    if pat.skip in ("SKIP_TO_FIRST", "SKIP_TO_LAST"):
        tgt = [idx for name, idx in m if name == pat.skip_step] or [anchor]
        j = tgt[0] if pat.skip == "SKIP_TO_FIRST" else tgt[-1]
        # resume AT the target step's first/last row (error if that
        # equals the match start — Flink throws on the resulting
        # infinite loop; we step past instead)
        if j > anchor:
            return j
    return anchor + 1  # TO_NEXT_ROW


def _scan(
    pat: Pattern, rows: pd.DataFrame
) -> Iterator[tuple[int, list[tuple[str, int]]]]:
    """The after-match skip scan over one key's ordered rows (with
    `__ts`): yields (anchor, match). NO_SKIP emits EVERY branch at every
    anchor (AfterMatchSkipStrategy.noSkip + followedByAny/reluctant
    enumeration); the other strategies take the first branch at an
    anchor and jump to `_skip_next`."""
    pre = _precompute(pat, rows)
    # vectorized anchor gate: rows failing the first step's predicate
    # can never start a match (unless that step is optional) — skip
    # the per-row NFA probe entirely for them
    first = pat.steps[0]
    can_anchor = None if (first.min_times == 0 or first.negative) else pre[1][0]
    i, n = 0, len(rows)
    while i < n:
        if can_anchor is not None and not can_anchor[i]:
            i += 1
        elif pat.skip == "NO_SKIP":
            for m in _matches_at(pat, rows, i, pre):
                if m:
                    yield i, m
            i += 1
        else:
            m = next((m for m in _matches_at(pat, rows, i, pre) if m), None)
            if m is None:
                i += 1
            else:
                yield i, m
                i = _skip_next(pat, i, m)


def _render(
    pdf: pd.DataFrame,
    m: list[tuple[str, int]],
    measures: Callable[[dict[str, pd.DataFrame]], dict],
    key_vals: dict,
    match_no: int,
    all_rows: bool,
    drop: list[str],
    classifier_col: str,
    match_number_col: str,
) -> list[dict]:
    """Output rows for one match: the measures over its bindings grouped
    by step, plus the key columns. ALL ROWS PER MATCH: one row per bound
    input row — its source columns minus the helper columns `drop`, the
    step that bound it (CLASSIFIER), `match_no` (MATCH_NUMBER) and the
    measures with RUNNING semantics (prefix up to and including the
    row)."""
    groups: dict[str, list[int]] = {}
    out: list[dict] = []
    for name, idx in m:
        groups.setdefault(name, []).append(idx)
        if all_rows:
            src = pdf.iloc[idx].drop(labels=drop, errors="ignore").to_dict()
            src[classifier_col] = name
            src[match_number_col] = match_no
            src.update(measures({k: pdf.iloc[v] for k, v in groups.items()}))
            src.update(key_vals)
            out.append(src)
    if not all_rows:
        row = measures({k: pdf.iloc[v] for k, v in groups.items()})
        row.update(key_vals)
        out.append(row)
    return out


Measures = Callable[[dict[str, pd.DataFrame]], dict] | Mapping[str, str]


def _parsed_measures(measures: Mapping[str, str]) -> dict[str, tuple[str, str, str]]:
    """{out name: (agg, step, col)} — the MEASURES grammar of
    `sql_flink._parse_measure` (`FIRST(a.ts)`, `LAST(c.value)`, `c.ts`)."""
    from flink_1_20_spark.sql_flink import _parse_measure

    return {name: _parse_measure(expr) for name, expr in measures.items()}


def _measure_fn(parsed: dict[str, tuple[str, str, str]]):
    """Mapping measures as the NFA's `measures(groups) -> dict`."""
    from flink_1_20_spark.sql_flink import _measure_value

    def fn(groups: dict[str, pd.DataFrame]) -> dict:
        return {name: _measure_value(groups, *spec) for name, spec in parsed.items()}

    return fn


def _lowerable(
    pat: Pattern,
    parsed: dict[str, tuple[str, str, str]] | None,
    tiebreak: list[str],
    all_rows: bool,
) -> bool:
    """True when the pattern is a strict chain of single-row steps that
    one window plan answers: `begin().next()...next()` with no
    quantifier, optional, until, within or negation; SQL predicates that
    read only their own row (no cross-step reference — the DEFINE
    compiler gives those the two-argument context form); AFTER MATCH
    SKIP TO NEXT ROW (the only strategy under which every anchor whose
    k rows match emits); ONE ROW PER MATCH; FIRST/LAST measures of a
    step's column; and a tiebreak column, so the row order — and with
    it each anchor's k rows — is the NFA's."""
    if parsed is None or all_rows or not tiebreak or pat.skip != "TO_NEXT_ROW":
        return False
    if pat.within_seconds is not None:
        return False
    names = {s.name for s in pat.steps}
    for i, s in enumerate(pat.steps):
        if not isinstance(s.predicate, str) or (i and not s.strict):
            return False
        if s.negative or s.any_match or s.until is not None:
            return False
        if (s.min_times, s.max_times) != (1, 1):
            return False
    if any(
        agg not in ("FIRST", "LAST") or var not in names or col == "*"
        for agg, var, col in parsed.values()
    ):
        return False
    compiled = _compiled(pat)
    return not any(_is_ctx(s.predicate) for s in compiled.steps)


def _lowered(
    df: DataFrame,
    keys: list[str],
    ts: str,
    tiebreak: list[str],
    pat: Pattern,
    parsed: dict[str, tuple[str, str, str]],
    out_fields,
) -> DataFrame:
    """The strict chain as one Catalyst window plan: step i's predicate
    is evaluated on every row, and an anchor matches when
    `lead(pred_i, i)` holds for every i over PARTITION BY keys ORDER BY
    ts, tiebreak (a NULL predicate or a lead past the key's last row is
    a non-match). A measure of step i's column is `lead(col, i)`.
    NULLs order last, as the NFA's pandas sort puts them."""
    from flink_1_20_spark.sqlenv.text import _sub_unquoted

    w = Window.partitionBy(*keys).orderBy(
        *(F.col(c).asc_nulls_last() for c in (ts, *tiebreak))
    )
    at = {s.name: i for i, s in enumerate(pat.steps)}

    def lead(c, i: int):
        return c if i == 0 else F.lead(c, i).over(w)

    conds = [
        lead(F.expr(_sub_unquoted(s.predicate, rf"\b{s.name}\s*\.\s*", "")), i)
        for i, s in enumerate(pat.steps)
    ]
    exprs = {name: lead(F.col(col), at[var]) for name, (_, var, col) in parsed.items()}
    matched = df.select(
        *keys,
        *(e.alias(f"__m{j}") for j, e in enumerate(exprs.values())),
        *(c.alias(f"__p{i}") for i, c in enumerate(conds)),
    ).filter(" AND ".join(f"__p{i}" for i in range(len(conds))))
    slot = {name: f"__m{j}" for j, name in enumerate(exprs)}
    return matched.select(
        *(F.col(slot.get(f.name, f.name)).cast(f.dataType).alias(f.name) for f in out_fields)
    )


def match_recognize(
    df: DataFrame,
    keys: list[str],
    ts: str,
    pattern: Pattern,
    measures: Measures,
    output_schema: StructType | str,
    order_tiebreak: list[str] | None = None,
    all_rows: bool = False,
    classifier_col: str = "classifier",
    match_number_col: str = "match_number",
) -> DataFrame:
    """Batch MATCH_RECOGNIZE: one output row per match (default), or —
    with `all_rows=True` — SQL's ALL ROWS PER MATCH: every matched
    input row is emitted carrying its CLASSIFIER() (the step that bound
    it), a per-key 1-based MATCH_NUMBER(), and the measures evaluated
    with RUNNING semantics (over the bindings up to and including the
    row — the ALL ROWS default; StreamExecMatch.java emits the same).
    In all-rows mode `output_schema` must list the source columns plus
    `classifier_col`, `match_number_col`, and the measure columns.

    `measures(groups) -> dict` receives {step_name: DataFrame of its
    rows} (FINAL semantics in one-row mode, running prefix in all-rows
    mode); in one-row mode `keys` columns are appended automatically.
    `measures` may instead map each output name to a MEASURES
    expression (`FIRST(a.ts)`, `LAST(c.value)`). A strict chain with
    SQL predicates and such measures (see `_lowerable`) runs as one
    Catalyst window plan; every other pattern runs the NFA.
    """
    tiebreak = order_tiebreak or []
    fields = _schema_fields(output_schema)
    parsed = None if callable(measures) else _parsed_measures(measures)
    if _lowerable(pattern, parsed, tiebreak, all_rows) and all(
        f.name in parsed or f.name in keys for f in fields
    ):
        return _lowered(df, keys, ts, tiebreak, pattern, parsed, fields)
    pattern = _compiled(pattern)
    if parsed is not None:
        measures = _measure_fn(parsed)
    # Resolve output column names on the driver — schema parsing needs an
    # active SparkSession, which workers don't have.
    out_cols = [f.name for f in fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, *tiebreak], kind="mergesort").reset_index(drop=True)
        pdf["__ts"] = pdf[ts]
        key_vals = {k: pdf[k].iloc[0] for k in keys}
        out_rows: list[dict] = []
        for match_no, (_, m) in enumerate(_scan(pattern, pdf), 1):
            out_rows += _render(
                pdf, m, measures, key_vals, match_no, all_rows, ["__ts"],
                classifier_col, match_number_col,
            )
        if not out_rows:
            return pd.DataFrame(columns=out_cols)
        return pd.DataFrame(out_rows)

    # Pin the key partitioning explicitly: the shuffled bytes are small,
    # so AQE would coalesce this exchange to a handful of partitions —
    # starving the CPU-bound Python NFA stage (the cost here is per-row
    # Python work, not bytes). An explicit repartition is exempt from
    # AQE coalescing and the groupBy reuses its distribution.
    parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(parts, *keys)
        .groupBy(*keys)
        .applyInPandas(run, schema=output_schema)
    )


def _schema_fields(schema: StructType | str):
    if isinstance(schema, StructType):
        return schema.fields
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema).fields
