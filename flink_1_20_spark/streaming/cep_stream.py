"""Streaming CEP: the batch NFA (operators/cep.py) over keyed state.

Reference parity: CepOperator.java:82 — per-key NFA with an event buffer
in keyed state; elements are buffered, sorted by event time, and the NFA
advances as the watermark moves. SQL MATCH_RECOGNIZE lowers to the same
operator (CommonExecMatch.java:170).

Spark mapping: `applyInPandasWithState`. Per key we keep the pending
event buffer (the NFA's shared buffer, SharedBuffer.java) serialized in
GroupState; each micro-batch appends its rows, re-sorts by event time,
runs the batch operator's one matcher and skip scan (`cep._scan`
over `cep._matches_at`: every branch under NO_SKIP, the first branch
per anchor under the other strategies), emits completed matches
through the batch renderer (`cep._render`), and retains the buffer
per skip strategy: PAST_LAST_EVENT consumes matched rows (its scan
can never revisit them); the
REVISITING strategies (TO_NEXT_ROW / SKIP_TO_FIRST / SKIP_TO_LAST)
retain them — a row inside an emitted match may start a later
overlapping match whose tail arrives in a future batch (r11
differential find).  Retention is bounded by `within`-pruning and
`max_buffer`; strict-contiguity bounded patterns under TO_NEXT_ROW
(the SQL MATCH_RECOGNIZE class) additionally trim to the
pattern-length horizon, since a future match can reach back at most
that many consecutive rows.

Exact skip-chain parity for the chain strategies (r12 — closes the r11
documented divergence, decided by the cep_skip_extend differential
shape, seed 102): (1) a VARIABLE-LENGTH match whose last bound event
is the key's last buffered row is PROVISIONAL — completed by
backtracking only because the buffer ran out, later input can reshape
it into a longer match the batch single-pass chain reports instead —
so the scan HOLDS there: no emission, no consumption, the chain from
that point replays next batch (Flink's greedy NFA likewise cannot emit
until extension is ruled out; on a bounded stream its end-of-input
MAX_WATERMARK finalizes — here the next per-key row plays that role,
so finite inputs need a final non-matching row per key to flush, as
the differential sends).  Fixed-length matches can never reshape
(strict contiguity + deterministic predicates) and emit immediately.
(2) Emission dedup keys on a per-key LOG of (first_ts, last_ts) match
identities rather than row arrival: the re-run chain can be RE-ROUTED
when a later-completing match at an earlier position moves a jump
target, and arrival age alone then under-emits never-scanned matches
behind a hold point and re-emits already-reported ones.  The log is
pruned to identities a retained-buffer re-find could still produce,
so it is bounded by the buffer bounds.  Tied event times cannot
collide identities (r12 verdict finding 3): every buffered row gets a
per-key ARRIVAL SEQUENCE from a persisted monotonic counter, and the
identity is (first_ts, last_ts, first_seq, last_seq) — two distinct
matches sharing boundary timestamps still differ in the sequence
components, so both emit.  The sequence is assigned once at arrival
and rides in the state buffer, making it stable across batches
regardless of later pruning (a rank-within-tie computed per batch
would shift whenever a trim cuts mid-tie-group).

Contract/simplification vs Flink: matches are emitted at micro-batch
granularity assuming per-key in-order arrival across batches (no
watermark-held partial matches). Out-of-order *within* a batch is
handled by the sort; a row older than an already-consumed match is
dropped — the same effect as arriving after the watermark.  One caveat
remains on NO_SKIP / followedByAny enumeration: a later row that
RESHAPES an already-completed greedy branch yields a second, longer
emission (completion-order emission — Flink's NFA likewise re-emits
when a looping state re-enters a final state).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_1_20_spark.operators.cep import Pattern, _render, _scan


# state-record marshalling shared with streaming/rank.py — one place
# owns the JSON encoding rules (numpy unboxing, isoformat timestamps)
from flink_1_20_spark.streaming._state import json_default as _json_default  # noqa: E402


def _buffer_records(pdf: pd.DataFrame, payload_cols: list[str], ts: str) -> list[dict]:
    """Project payload columns + isoformat ts into state records —
    column-wise (to_dict) rather than per-row iterrows."""
    from flink_1_20_spark.streaming._state import marshal_records

    cols = [*payload_cols, ts] if ts not in payload_cols else list(payload_cols)
    return marshal_records(pdf, cols, [ts])


def match_recognize_stream(
    df: DataFrame,
    keys: list[str],
    ts: str,
    pattern: Pattern,
    measures: Callable[[dict[str, pd.DataFrame]], dict],
    output_schema: str,
    payload_cols: list[str],
    max_buffer: int = 10_000,
    all_rows: bool = False,
    classifier_col: str = "classifier",
    match_number_col: str = "match_number",
) -> DataFrame:
    """Streaming MATCH_RECOGNIZE. Output rows = measures() dict + key
    columns (same contract as the batch match_recognize), or — with
    `all_rows=True` — SQL's ALL ROWS PER MATCH: one output row per
    bound input row of each COMPLETED match, carrying CLASSIFIER(), a
    per-key MATCH_NUMBER() (persisted in state so numbering is stable
    across micro-batches), and measures with RUNNING semantics — the
    same emission the batch operator produces. Only completed matches
    emit, so no retraction is needed in append mode.

    `payload_cols`: event columns the predicates/measures read (these are
    what gets buffered in state — keep it to what the pattern needs;
    Flink's SharedBuffer stores whole rows, we store the projection)."""
    key_cols = list(keys)

    # variable-length patterns (a quantifier that may consume MORE rows
    # than it did) can be RESHAPED by later input when the match was
    # completed by backtracking at the buffer end — the greedy tail
    # wanted more rows and settled for a shorter binding only because
    # the buffer ran out.  Such a match is PROVISIONAL: emitting it
    # would produce a row the batch NFA's single-pass scan never
    # reports (r12 differential find, cep_skip_extend seed 102).  The
    # scan HOLDS there — no emission, no consumption, scan stops (the
    # skip-jump chain beyond it is equally provisional) — and resumes
    # at the same position next batch, emitting once a row AFTER the
    # match proves it final (Flink's greedy NFA likewise cannot emit
    # until extension is ruled out; a bounded Flink stream finalizes
    # via the end-of-input MAX_WATERMARK — here, the next key row or a
    # flush row plays that role).  Fixed-length patterns can never
    # reshape (strict contiguity binds consecutive rows; deterministic
    # predicates re-reject the same extensions), so they emit
    # immediately as before.
    var_len = any(
        s.max_times == -1 or s.max_times > s.min_times
        for s in pattern.steps
        if not s.negative
    )

    def fn(key: tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            buf = json.loads(state.get[0])
            match_no = int(state.get[1])
            elog = {tuple(e) for e in json.loads(state.get[2] or "[]")}
            seq = int(state.get[3])
        else:
            buf, match_no, elog, seq = [], 0, set(), 0
        n_old = len(buf)  # rows carried from previous batches
        for pdf in batches:
            recs = _buffer_records(pdf, payload_cols, ts)
            # per-key arrival sequence: assigned once, persisted with
            # the buffer record — the tiebreak component of the match
            # identity under tied event times (stable across batches
            # and prunes, unlike a rank recomputed per batch)
            for r in recs:
                r["__seq"] = seq
                seq += 1
            buf.extend(recs)
        if not buf:
            return
        pdf = pd.DataFrame(buf)
        # arrival mask BEFORE the sort: buf holds retained rows first,
        # this batch's appended rows after, so position alone says which
        # rows are new — and the mask travels with the sort, so the
        # NO_SKIP enumeration branch dedups on ARRIVAL, not buffer index
        # (the chain branch dedups on the emission LOG instead — see
        # below).  If a row ever violates the in-order contract and
        # sorts before retained rows, matches ending at retained rows
        # stay old → the violation degrades to a DROP, never a duplicate
        # re-emission (r11 ADVICE fix: the index test `last_idx >=
        # n_old` re-emitted when retained rows shifted past n_old).
        pdf["__new"] = pdf.index >= n_old
        pdf[ts] = pd.to_datetime(pdf[ts])
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        pdf["__ts"] = pdf[ts]
        key_vals = dict(zip(key_cols, key))

        out_rows: list[dict] = []
        consumed_until = -1
        held_idx = None  # provisional-match hold point (chain strategies)

        def emit(m: list[tuple[str, int]]) -> None:
            nonlocal match_no
            match_no += 1
            out_rows.extend(
                _render(
                    pdf, m, measures, key_vals, match_no, all_rows,
                    ["__ts", "__new", "__seq"], classifier_col, match_number_col,
                )
            )

        # Only PAST_LAST_EVENT may CONSUME matched rows: its scan
        # resumes after the match, so those rows can never serve a
        # future match.  The revisiting strategies (TO_NEXT_ROW,
        # SKIP_TO_FIRST/LAST) must RETAIN them — a row inside an
        # emitted match may start a later overlapping match whose
        # tail arrives in a future batch (FOUND by the r11 cep
        # differential shape, seed 900: consuming up to the match
        # end silently dropped the overlap).
        consume = pattern.skip == "PAST_LAST_EVENT"
        for i, m in _scan(pattern, pdf):
            last_idx = max(idx for _, idx in m)
            if pattern.skip == "NO_SKIP":
                # full-branch enumeration (followedByAny / reluctant /
                # NO_SKIP — CepOperator with AfterMatchSkipStrategy
                # .noSkip).  Nothing is consumed; a match is emitted
                # exactly once by requiring its LAST event to be new this
                # batch (matches ending in retained rows were emitted
                # when those rows first arrived — same in-order contract
                # as the module docstring).
                if pdf["__new"].iat[last_idx]:
                    emit(m)
                continue
            if var_len and last_idx == len(pdf) - 1:
                # provisional (see var_len note above): hold the match
                # AND the scan — everything from here replays next
                # batch with more rows
                held_idx = i
                break
            # Dedup by an EMISSION LOG of (first_ts, last_ts) identities
            # rather than by row arrival: the skip-jump chain is
            # deterministic over the buffer, but it is re-run each batch
            # and can be RE-ROUTED when a later-completing match at an
            # earlier position changes a jump target — arrival age alone
            # then both under-emits (a never-scanned match whose rows
            # aged behind a hold point) and over-emits (a re-visited
            # match that already emitted under the old route).  A match's
            # (start, end) identity is stable (final matches cannot
            # reshape — see var_len note), so log membership IS
            # emitted-before; entries are pruned once their end falls
            # before the retained buffer (no re-find can reach them).
            # A re-found already-emitted match advances the scan chain
            # exactly as if reported, without re-emitting.
            first_idx = min(idx for _, idx in m)
            ident = (
                pdf["__ts"].iat[first_idx].isoformat(),
                pdf["__ts"].iat[last_idx].isoformat(),
                int(pdf["__seq"].iat[first_idx]),
                int(pdf["__seq"].iat[last_idx]),
            )
            if ident not in elog:
                elog.add(ident)
                emit(m)
            if consume:
                consumed_until = max(consumed_until, last_idx)

        # retain the un-consumed tail as the new buffer: bounded by
        # max_buffer, and when the pattern has `within`, pruned to rows
        # still inside the window from the newest event (Flink's
        # within-pruning — older rows can never join a future match)
        tail = pdf.iloc[consumed_until + 1 :]
        if pattern.within_seconds is not None and len(tail):
            cutoff = pdf[ts].iloc[-1] - pd.Timedelta(seconds=pattern.within_seconds)
            tail = tail[tail[ts] >= cutoff]
        if (
            pattern.skip == "TO_NEXT_ROW"
            and held_idx is None  # a held match's START must survive —
            # the trim's already-emitted assumption doesn't hold for it
            and all(s.strict for s in pattern.steps[1:])
            and not any(
                s.max_times == -1 for s in pattern.steps if not s.negative
            )
            and not any(s.any_match for s in pattern.steps)
        ):
            # strict-contiguity bounded pattern (the SQL
            # MATCH_RECOGNIZE class — SQL contiguity is always strict):
            # a future match must END at a not-yet-seen row and spans
            # at most `horizon` consecutive rows, so only the last
            # horizon-1 retained rows can ever serve one — O(pattern
            # length) state instead of O(max_buffer) re-scanned every
            # batch (negatives consume no rows; counted anyway as a
            # conservative margin)
            horizon = sum(
                max(1, s.max_times) for s in pattern.steps
            )
            tail = tail.tail(max(horizon - 1, 0))
        tail = tail.tail(max_buffer)
        if held_idx is not None and len(pdf) - held_idx > len(tail):
            # the held match replays from its start next batch — the
            # within/horizon/max_buffer prunes must not cut it (its span
            # already satisfied `within`, so this only widens the tail
            # when a prune crossed the hold point)
            tail = pdf.iloc[held_idx:]
        # prune the emission log to identities a retained-buffer re-find
        # could still produce: the retained tail is a suffix of the
        # (ts, seq) sort order, so an entry is reachable iff its END
        # (last_ts, last_seq) >= the first retained (ts, seq)
        if elog:
            if len(tail):
                lo = tail["__ts"].iloc[0].isoformat()
                lo_seq = int(tail["__seq"].iloc[0])
                elog = {
                    e
                    for e in elog
                    if e[1] > lo or (e[1] == lo and e[3] >= lo_seq)
                }
            else:
                elog = set()
        from flink_1_20_spark.streaming._state import marshal_records

        cols = [*payload_cols, ts] if ts not in payload_cols else list(payload_cols)
        new_buf = marshal_records(tail, [*cols, "__seq"], [ts])
        state.update(
            (
                json.dumps(new_buf, default=_json_default),
                match_no,
                json.dumps(sorted(elog)),
                seq,
            )
        )
        if out_rows:
            yield pd.DataFrame(out_rows)

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        output_schema,
        "buf string, match_no bigint, elog string, seq bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )
