"""KeyedProcessFunction-equivalent: user code + keyed state + timeouts.

Reference parity (SURVEY.md §2.9): KeyedProcessFunction.java:53
(processElement:71, onTimer:85) with ValueState/ListState/MapState
(flink-core/.../api/common/state/) and TimerService.

Spark mapping: `applyInPandasWithState` — per key, per micro-batch, the
user function receives the key, an iterator of Arrow batches, and a
GroupState handle (get/update/remove + processing-time/event-time
timeout ≈ registerProcessingTimeTimer/onTimer). State is engine-managed
(checkpointed, RocksDB-capable) exactly like Flink's keyed state
backend. Batch inputs fall back to a stateless per-key apply (state
starts empty and is discarded — the bounded-stream degenerate case).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keyed_process(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[tuple, Iterator[pd.DataFrame], "GroupState"], Iterator[pd.DataFrame]],
    output_schema: str,
    state_schema: str,
    output_mode: str = "update",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Run `fn(key, batches, state)` per key with managed state.

    `fn` contract (mirrors KeyedProcessFunction):
    - called once per key per micro-batch that has data for the key;
      also called on timeout expiry with an empty batch iterator
      (state.hasTimedOut — Flink's onTimer)
    - `state.get` / `state.update((..,))` / `state.remove()` ≈
      ValueState; use tuple fields per state_schema column
    - yields zero or more output DataFrames matching output_schema
    """
    timeouts = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
        "EventTimeTimeout": GroupStateTimeout.EventTimeTimeout,
    }
    if timeout not in timeouts:
        raise ValueError(f"timeout must be one of {sorted(timeouts)}")
    return df.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, state_schema, output_mode, timeouts[timeout]
    )


def running_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    output_schema: str | None = None,
) -> DataFrame:
    """Canned KeyedProcessFunction: per-key running count + sum emitted
    on every micro-batch (the canonical ValueState example —
    KeyedProcessFunction javadoc's CountWithTimestamp pattern)."""
    key_cols = list(keys)
    out_schema = output_schema or (
        ", ".join(f"{k} bigint" for k in key_cols) + ", n bigint, total double"
    )

    def fn(key: tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame([{**dict(zip(key_cols, key)), "n": n, "total": total}])

    return keyed_process(
        df,
        key_cols,
        fn,
        output_schema=out_schema,
        state_schema="n bigint, total double",
        output_mode="update",
    )


def _streaming_over(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value_col: str,
    output_schema: str,
    peers_by_ts: bool,
    trim: Callable[[list[tuple[str, float]], Any], list[tuple[str, float]]],
) -> DataFrame:
    """The one keyed-state loop behind both over-aggregate frames.

    State = the frame's rows (ts iso, value) serialized as JSON. Rows
    are time-sorted within a batch and taken in peer groups: under ROWS
    each row is its own group, under RANGE (`peers_by_ts`) rows with
    EQUAL timestamps are one group. Each group joins the frame,
    `trim(frame, t)` drops what fell out of it, and every row of the
    group emits the aggregate over the trimmed frame."""
    import json as _json
    from itertools import groupby as _groupby

    key_cols = list(keys)

    def fn(key: tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        window: list[tuple[str, float]] = (
            _json.loads(state.get[0]) if state.exists else []
        )
        rows: list[tuple] = []
        for pdf in batches:
            if len(pdf):
                rows.extend(zip(pdf[ts], pdf[value_col].astype(float)))
        rows.sort(key=lambda x: x[0])
        if peers_by_ts:
            groups = [list(g) for _, g in _groupby(rows, key=lambda x: x[0])]
        else:
            groups = [[r] for r in rows]
        out: list[dict] = []
        for peers in groups:
            t = peers[0][0]
            window.extend((t.isoformat(), v) for _, v in peers)
            window = trim(window, t)
            vals = [x[1] for x in window]
            for _, v in peers:
                rec = dict(zip(key_cols, key))
                rec.update(
                    {
                        "ts": t,
                        "value": v,
                        "win_sum": sum(vals),
                        "win_cnt": len(vals),
                        "win_avg": sum(vals) / len(vals),
                    }
                )
                out.append(rec)
        state.update((_json.dumps(window),))
        if out:
            yield pd.DataFrame(out)

    return keyed_process(df, key_cols, fn, output_schema, "win string")


def streaming_over_rows(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value_col: str,
    n_preceding: int,
    output_schema: str,
) -> DataFrame:
    """Streaming over-aggregate: per-row SUM/COUNT/AVG OVER
    (PARTITION BY keys ORDER BY ts ROWS BETWEEN n PRECEDING AND CURRENT
    ROW) — SURVEY.md §2.6 stream over-agg
    (RowTimeRowsBoundedPrecedingFunction.java:57: keeps the last n rows
    per key in state, emits one output per input row).

    State = the rolling window's rows (ts, value) serialized; output
    columns: keys..., ts, value, win_sum, win_cnt, win_avg — declare in
    `output_schema`. Same in-order-across-batches contract as the other
    state operators here; within a batch rows are time-sorted."""
    return _streaming_over(
        df, keys, ts, value_col, output_schema, peers_by_ts=False,
        trim=lambda window, t: window[-(n_preceding + 1):],
    )


def streaming_over_range(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value_col: str,
    range_seconds: int,
    output_schema: str,
) -> DataFrame:
    """Streaming event-time RANGE over-aggregate: per-row SUM/COUNT/AVG
    OVER (PARTITION BY keys ORDER BY ts RANGE BETWEEN interval PRECEDING
    AND CURRENT ROW) — the time-bounded sibling of `streaming_over_rows`
    (RowTimeRangeBoundedPrecedingFunction.java:64: retains rows inside
    the trailing interval per key, retracts rows that age out, emits one
    output per input row).

    RANGE semantics: rows with EQUAL timestamps are frame peers — each
    emits with the aggregate over all of them (matches the batch SQL
    RANGE frame, over_range_time). State = the interval's rows
    (ts, value); rows older than newest_ts − interval are pruned on
    every step, so state size is bounded by the interval's row count,
    not history. Same in-order-across-batches contract as the other
    state operators here; within a batch rows are time-sorted."""
    delta = pd.Timedelta(seconds=range_seconds)

    def trim(window, t):
        lo_iso = (t - delta).isoformat()
        return [w for w in window if w[0] >= lo_iso]

    return _streaming_over(
        df, keys, ts, value_col, output_schema, peers_by_ts=True, trim=trim
    )
