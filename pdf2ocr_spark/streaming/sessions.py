"""Stateful streaming sessionization (applyInPandasWithState).

The streaming twin of the batch ``events_sessionized`` query
(plans/queries.py): per user, a session CLOSES when a later event
arrives more than SESSION_GAP_MIN minutes after the previous one.
Closed sessions are emitted; each user's OPEN tail session lives in
GroupState and survives micro-batch boundaries and stream restarts
(checkpointed), so a session spanning three micro-batches is emitted
exactly once, with the same boundaries the batch query computes.

Semantics contract (pinned by test_streaming_sessions): for event
streams that arrive per-user in event-time order ACROSS micro-batches
(within a batch any order is fine — the group sorts), the emitted
closed sessions are EXACTLY the batch query's sessions minus each
user's final (still-open) session. Cross-batch LATE events (ts at or
before the open session's last seen ts) are DROPPED and counted in
state: closed sessions were already emitted in append mode, so reviving
them would double-emit — dropping is the standard no-watermark late-
data policy, made observable via the state's late counter.

``flush_after_gap=True`` is the production mode: a watermark on ``ts``
plus GroupStateTimeout.EventTimeTimeout flushes a quiet user's open
session once the watermark passes ``last_ts + gap`` (the session can
then never be extended by an on-time event), leaving a tombstone state
row so session numbering and the late-drop reference survive a return.
Inherent watermark-flush slack: an event later than the watermark delay
but inside the gap window arrives AFTER its session flushed and starts
a new session where the batch query would have merged — the standard
late-data divergence, bounded by the configured watermark delay.

State size at 10^12 events: ONE row per active user (session_no, start,
last_ts, counters) — RocksDB state store on a real cluster; the
event-type set is bounded by the small event-type vocabulary.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pdf2ocr_spark.streaming.ingest import start_file_stream

#: must match plans/queries.py SESSION_GAP_MIN
SESSION_GAP_US = 30 * 60 * 1_000_000

SESSIONS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_no", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_event_types", T.LongType()),
        T.StructField("value_bp", T.LongType()),
    ]
)

SESSIONS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_no", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_bp", T.LongType()),  # per-event quantized
        T.StructField("event_types", T.StringType()),  # '\x1f'-joined set
        T.StructField("n_late_dropped", T.LongType()),
    ]
)

_SEP = "\x1f"


def _close(user_id, no, start, end, n, types, vbp):
    return (
        int(user_id),
        int(no),
        int(start),
        int(end),
        int(n),
        len(types),
        int(vbp),
    )


def _make_sessions_fn(flush_after_gap: bool):
    """Build the stateful group function. With ``flush_after_gap`` the
    function also handles EventTimeTimeout invocations: when the
    watermark passes a quiet user's ``last_ts + gap``, the open session
    is emitted as closed and the state collapses to a TOMBSTONE
    (start=None, counters kept) rather than being removed — session_no
    stays monotone and the late-drop rule keeps its reference point if
    the user ever returns, at the cost of one small state row per
    ever-seen user (remove() would trade exact numbering parity for
    zero retained state; the batch query has no flush notion, so parity
    of numbering is the contract tests pin)."""

    def fn(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        yield from _sessions_fn(key, pdfs, state, flush_after_gap)

    return fn


def _sessions_fn(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    flush_after_gap: bool = False,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    cols = ["user_id", "session_no", "session_start_us", "session_end_us",
            "n_events", "n_event_types", "value_bp"]
    if flush_after_gap and state.hasTimedOut:
        # watermark passed last_ts + gap: the open session can never be
        # extended (any future event would start a new session), so it
        # is safe to emit exactly once and tombstone the state
        no, start, last, n, vbp, types_s, n_late = state.get
        out = []
        if start is not None:
            types = set(types_s.split(_SEP)) if types_s else set()
            out.append(_close(user_id, no, start, last, n, types, vbp))
        state.update(
            (int(no), None, int(last) if last is not None else None,
             0, 0, "", int(n_late))
        )
        # no new timeout: the tombstone has nothing left to flush
        yield pd.DataFrame(out, columns=cols)
        return
    # drain + order the whole group: chunk order is not event order
    parts = [p for p in pdfs]
    pdf = pd.concat(parts) if parts else pd.DataFrame()
    if len(pdf) == 0:
        yield pd.DataFrame([], columns=cols)
        return
    # ts arrives as naive datetime64 (TIMESTAMP_NTZ through Arrow);
    # normalize to epoch MICROSECONDS regardless of pandas' unit
    if not pd.api.types.is_integer_dtype(pdf["ts_us"]):
        pdf["ts_us"] = (
            pdf["ts_us"].astype("datetime64[us]").astype("int64")
        )
    pdf = pdf.sort_values(["ts_us", "event_id"])

    if state.exists:
        no, start, last, n, vbp, types_s, n_late = state.get
        types = set(types_s.split(_SEP)) if types_s else set()
    else:
        no, start, last, n, vbp, types, n_late = 0, None, None, 0, 0, set(), 0

    out = []
    for ts_us, etype, value in zip(
        pdf["ts_us"].astype("int64"), pdf["event_type"], pdf["value"]
    ):
        ts_us = int(ts_us)
        if last is not None and ts_us < last:
            # cross-batch LATE event (strictly before the open session's
            # last seen ts): closed sessions already emitted in append
            # mode, so merging could double-emit — drop, but observably
            # (equal-ts events pass: the batch query counts them too)
            n_late += 1
            continue
        if start is None or ts_us - last > SESSION_GAP_US:
            if start is not None:
                out.append(_close(user_id, no, start, last, n, types, vbp))
            no += 1
            start, n, vbp, types = ts_us, 0, 0, set()
        last = ts_us
        n += 1
        # per-event integer quantization, identical to the batch query's
        # floor(value*10000 + 0.5) term: the state sum is order-free and
        # never drifts from batch parity at hot-user session sizes (the
        # round-5 double accumulator reached 0.5 bp error at ~1e7 events)
        vbp += math.floor(float(value) * 10000 + 0.5)
        types.add(str(etype))

    state.update(
        (int(no), int(start) if start is not None else None, int(last),
         int(n), int(vbp), _SEP.join(sorted(types)), int(n_late))
    )
    if flush_after_gap and start is not None:
        # flush when event time passes the gap after the last event;
        # must exceed the current watermark or Spark raises
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max((last + SESSION_GAP_US) // 1000 + 1, wm + 1)
        )
    yield pd.DataFrame(out, columns=cols)


def streaming_sessionize(
    stream: DataFrame,
    flush_after_gap: bool = False,
    watermark: str = "30 minutes",
) -> DataFrame:
    """events stream -> CLOSED sessions (open tails held in state).

    ``flush_after_gap=True`` adds the event-time timeout path: a
    watermark on ``ts`` plus GroupStateTimeout.EventTimeTimeout, so a
    user who goes QUIET has their open session emitted once the
    watermark passes ``last_ts + gap`` — without it, open tails live in
    state forever (the no-timeout mode is the batch-parity twin; the
    flush mode is the production deployment)."""
    if flush_after_gap:
        # watermarks demand TIMESTAMP, not TIMESTAMP_NTZ; the session tz
        # is pinned to UTC (session.py), so the cast is a pure
        # reinterpretation and the session math stays NTZ/timezone-free.
        # The helper column must SURVIVE into the stateful operator's
        # input (the analyzer resolves the event-time timeout against a
        # watermarked column in that plan subtree); the group function
        # simply ignores it.
        src = stream.withColumn(
            "_ts_wm", F.col("ts").cast("timestamp")
        ).withWatermark("_ts_wm", watermark)
    else:
        src = stream
    keyed = src.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "value",
        # TIMESTAMP_NTZ ships through Arrow as a NAIVE datetime — no
        # timezone ever enters; _sessions_fn converts it to epoch
        # microseconds pandas-side
        F.col("ts").alias("ts_us"),
        *(["_ts_wm"] if flush_after_gap else []),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _make_sessions_fn(flush_after_gap),
        outputStructType=SESSIONS_OUT_SCHEMA,
        stateStructType=SESSIONS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if flush_after_gap
            else GroupStateTimeout.NoTimeout
        ),
    )


#: the events table as the stream reads it (``ts`` as TIMESTAMP_NTZ: the
#: session math stays timezone-free)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def run_sessions_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    flush_after_gap: bool = False,
    watermark: str = "30 minutes",
    max_files_per_trigger: int = 4,
) -> None:
    """AvailableNow runner: process all files currently present, stop."""
    start_file_stream(
        spark,
        EVENTS_SCHEMA,
        lambda events: streaming_sessionize(
            events, flush_after_gap=flush_after_gap, watermark=watermark
        ),
        input_dir,
        output_dir,
        checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
    ).awaitTermination()
