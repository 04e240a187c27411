"""Custom stateful streaming operator via applyInPandasWithState.

Emits a feature row PER TURN as it streams in — the true streaming
analog of the request-mode path: running sum/count/lag plus a ts-gap
session id, with per-conversation state carried across micro-batches.

State per conv_id: (last_ts, session_id, run_sum, run_cnt, last_value,
max_ts, buf_ts, buf_turn, buf_val). The ``buf_*`` arrays are a
REORDER BUFFER: with ``reorder_ms > 0``, rows within ``reorder_ms`` of
the conversation's high-water timestamp are held in state and only
folded once that high-water mark moves ``reorder_ms`` past them, so bounded
disorder (late turns) is healed exactly. Rows later than the buffer
bound (true stragglers) fold immediately against current state —
documented at-least-once semantics. A conversation's buffer is flushed
when its idle timeout fires, so no row is lost on expiry.

The fold itself is fully vectorized (numpy segment cumsums + pandas
ffill) — no per-row Python even inside the stateful operator.

State is bounded by conversation count + buffered-disorder depth, not
history length: a conversation that receives no row for
``idle_timeout_ms`` of processing time expires (flushing its buffer) —
the streaming analog of bounded frames. Expiry runs on Spark's
event-time timeout (GroupStateTimeout.EventTimeTimeout), but the
watermark is taken over the micro-batch clock, not over ``ts_ms``:

- the watermark is the latest batch's start time less
  ``idle_timeout_ms``, and a conversation's timeout is the start time of
  the batch that last gave it rows, so it expires once the stream has
  run on for ``idle_timeout_ms`` without it;
- every row carries its own batch's start time as event time, which is
  never behind the watermark, so Spark drops no row as late — however
  far a conversation's ``ts_ms`` trails the others';
- the query is finite under ``trigger(availableNow=True)``: after the
  last data batch one more batch runs, for the advanced watermark. A
  processing-time timeout would keep Spark scheduling empty batches.

The watermark only advances while rows arrive, so a stream that goes
quiet expires nothing (and flushes no held row) until its next rows;
an ``availableNow`` run leaves the unexpired state, held rows included,
in its checkpoint for the next run.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = (
    "last_ts LONG, session_id LONG, run_sum DOUBLE, run_cnt LONG, "
    "last_value DOUBLE, max_ts LONG, buf_ts ARRAY<LONG>, "
    "buf_turn ARRAY<INT>, buf_val ARRAY<DOUBLE>"
)

OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("session_id", T.LongType()),
    T.StructField("run_sum", T.DoubleType()),
    T.StructField("run_cnt", T.LongType()),
    T.StructField("prev_value", T.DoubleType()),
])

_EMPTY_STATE = (None, 0, 0.0, 0, None, None, [], [], [])
_EVENT_TIME = "__event_time"


def _fold_arrays(conv: str, ts: np.ndarray, turn: np.ndarray,
                 val: np.ndarray, carry: tuple, gap_ms: int):
    """Vectorized fold of (sorted) rows against the carried state.

    Returns (out_dataframe, new_carry) where carry =
    (last_ts, session_id, run_sum, run_cnt, last_value)."""
    last_ts, session_id, run_sum, run_cnt, last_value = carry
    n = len(ts)
    idxs = np.arange(n)
    prev_ts = np.concatenate((
        [ts[0] if last_ts is None else last_ts], ts[:-1]))
    brk = (ts - prev_ts) > gap_ms
    seg = np.cumsum(brk)
    sess = session_id + seg

    valid = ~np.isnan(val)
    vv = np.where(valid, val, 0.0)
    cum = np.cumsum(vv)
    cnt = np.cumsum(valid)
    cum_excl = cum - vv
    cnt_excl = cnt - valid
    seg_first = np.maximum.accumulate(np.where(brk, idxs, 0))
    run_sum_arr = cum - np.where(seg > 0, cum_excl[seg_first], 0.0) \
        + np.where(seg == 0, run_sum, 0.0)
    run_cnt_arr = cnt - np.where(seg > 0, cnt_excl[seg_first], 0) \
        + np.where(seg == 0, run_cnt, 0)

    prev = (
        pd.Series(np.where(valid, val, np.nan))
        .shift(1).ffill()
        .fillna(np.nan if last_value is None else last_value)
    )

    out = pd.DataFrame({
        "conv_id": conv,
        "turn_idx": turn.astype(np.int32),
        "ts_ms": ts.astype(np.int64),
        "session_id": sess.astype(np.int64),
        "run_sum": run_sum_arr,
        "run_cnt": run_cnt_arr.astype(np.int64),
        "prev_value": prev.to_numpy(),
    })
    nv = np.flatnonzero(valid)
    # carried last_ts is MONOTONIC: after folding a straggler (ts below
    # the carry) a bare ts[-1] would regress it and fabricate a session
    # break for the next on-time row
    new_last = int(ts[-1]) if last_ts is None else max(int(ts[-1]), last_ts)
    new_carry = (
        new_last, int(sess[-1]), float(run_sum_arr[-1]),
        int(run_cnt_arr[-1]),
        float(val[nv[-1]]) if len(nv) else last_value,
    )
    return out, new_carry


def _touch(state: GroupState) -> None:
    # timeout at this batch's start: the batch clock is the watermark's
    # event time (module doc); Spark clears a timeout not set again
    state.setTimeoutTimestamp(state.getCurrentProcessingTimeMs())


def _fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState,
          gap_ms: int, reorder_ms: int):
    st = state.get if state.exists else _EMPTY_STATE
    (last_ts, session_id, run_sum, run_cnt, last_value,
     max_ts, buf_ts, buf_turn, buf_val) = st
    carry = (last_ts, session_id, run_sum, run_cnt, last_value)

    if state.hasTimedOut:
        # flush the reorder buffer before expiring — no rows lost
        state.remove()
        if buf_ts:
            ts = np.asarray(buf_ts, dtype=np.int64)
            order = np.lexsort((np.asarray(buf_turn), ts))
            out, _ = _fold_arrays(
                key[0], ts[order],
                np.asarray(buf_turn, dtype=np.int64)[order],
                np.asarray(buf_val, dtype=np.float64)[order],
                carry, gap_ms)
            yield out
        return

    # drop rows with a null order key like every batch tier does
    # (reference emit-filter) — a NaN in ts_ms/turn_idx would otherwise
    # crash the int64 conversion and kill the streaming query
    parts = []
    for pdf in pdfs:
        if len(pdf):
            pdf = pdf[pdf["ts_ms"].notna() & pdf["turn_idx"].notna()]
            if len(pdf):
                parts.append(pdf)
    ts = np.concatenate(
        [p["ts_ms"].to_numpy(np.int64) for p in parts]
        + [np.asarray(buf_ts, dtype=np.int64)])
    turn = np.concatenate(
        [p["turn_idx"].to_numpy(np.int64) for p in parts]
        + [np.asarray(buf_turn, dtype=np.int64)])
    val = np.concatenate(
        [pd.to_numeric(p["value"], errors="coerce").to_numpy(np.float64)
         for p in parts]
        + [np.asarray(buf_val, dtype=np.float64)])
    if len(ts) == 0:
        if state.exists:
            _touch(state)
        return

    order = np.lexsort((turn, ts))
    ts, turn, val = ts[order], turn[order], val[order]

    hw = int(ts.max()) if max_ts is None else max(int(ts.max()), max_ts)
    if reorder_ms > 0:
        release = ts <= hw - reorder_ms
    else:
        release = np.ones(len(ts), dtype=bool)

    out = None
    if release.any():
        out, carry = _fold_arrays(key[0], ts[release], turn[release],
                                  val[release], carry, gap_ms)
    held = ~release
    state.update((*carry, hw,
                  [int(x) for x in ts[held]],
                  [int(x) for x in turn[held]],
                  [None if np.isnan(x) else float(x) for x in val[held]]))
    _touch(state)
    if out is not None:
        yield out


def stream_running_features(
    stream: DataFrame,
    gap_ms: int = 300_000,
    idle_timeout_ms: int = 3_600_000,
    reorder_ms: int = 0,
) -> DataFrame:
    """stream: (conv_id, turn_idx, ts_ms, value) → per-turn running
    features with sessionization; state O(1) per conversation plus the
    bounded reorder buffer (``reorder_ms`` of event time). A
    conversation expires after ``idle_timeout_ms`` (> 0) of processing
    time without rows, once later rows move the watermark."""
    if idle_timeout_ms <= 0:
        raise ValueError("idle_timeout_ms must be positive")

    def fold(key, pdfs, state):
        yield from _fold(key, pdfs, state, gap_ms, reorder_ms)

    return (
        stream.withColumn(_EVENT_TIME, F.current_timestamp())
        .withWatermark(_EVENT_TIME, f"{idle_timeout_ms} milliseconds")
        .groupBy("conv_id").applyInPandasWithState(
            fold,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
