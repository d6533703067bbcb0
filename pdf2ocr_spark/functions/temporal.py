"""Temporal join operators Spark lacks natively: AS-OF join and banded
RANGE join — implemented as compositions of built-in DataFrame ops (the
(a)-tier strategy: no Python in the hot path, no nested-loop plans).

Both stay timezone-free end-to-end: the events ``ts`` is TIMESTAMP_NTZ
and every comparison is NTZ-vs-NTZ or NTZ-vs-INTERVAL.

AS-OF join (``asof_join``): for every left row, the single most recent
right row with ``right.ts <= left.ts`` in the same key group. A naive
formulation is an inequality join — Spark plans BroadcastNestedLoop,
O(n*m) per key, unrunnable at 10^12 events. The composition here is the
classic union trick: tag the sides, ``unionByName`` them, sort each key
group once by (ts, side), and carry the right payload forward with
``last(..., ignorenulls=True)`` over an unbounded-preceding window —
ONE shuffle + ONE sort total, O((n+m) log(n+m)) per key, and the
window's running state is a single row. Right rows order BEFORE left
rows at equal ts, giving the standard at-or-before (>=) semantics.

RANGE join (``range_count_join``): count right rows within a trailing
interval of each left row, per key. The naive inequality join is again
nested-loop; the scale path BANDS both sides into fixed-width time
buckets (``F.window(ts, width)`` — epoch-aligned, NTZ-safe), equi-joins
on (key, band) with the left side exploded to the two bands a trailing
window of width <= band can touch, then applies the exact range filter
AFTER the equi-join. Catalyst plans a plain shuffled hash join whose
fan-out is bounded by per-band occupancy, not group size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: fixed-width, timezone-free timestamp text both engines print alike
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    right_payload: Sequence[str] = (),
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """Left rows + the matched right row within the same ``on`` group
    (LEFT semantics: no match -> nulls): the most recent right row
    at-or-BEFORE each left ``ts`` (``direction="backward"``, default)
    or the earliest right row at-or-AFTER it (``"forward"``). Right
    payload columns come back prefixed ``asof_``. Ties inside the right
    side must be pre-deduplicated by the caller if (on, ts) is not
    unique there.

    ``tolerance`` (interval string, pandas merge_asof-style): a match
    farther than the tolerance from the left ``ts`` is treated as NO
    match — applied as a pure post-carry filter on the carried ts, so
    the plan shape (one shuffle + one sort) is unchanged. Requires
    ``ts`` in ``right_payload`` semantics internally; handled here by
    carrying the match ts inside the payload struct."""
    if direction == "backward":
        # right rows sort BEFORE left at equal ts -> at-or-before
        r_side, l_side = 0, 1
        frame = (Window.unboundedPreceding, 0)
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    elif direction == "forward":
        # left rows sort BEFORE right at equal ts -> at-or-after
        r_side, l_side = 1, 0
        frame = (0, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    else:
        raise ValueError(f"direction must be backward|forward: {direction}")
    # The whole right payload rides in ONE struct column carried by a
    # single last/first(ignorenulls=True): per-column carries would let
    # a NULL field in the matched row fall back to a DIFFERENT right
    # row, mixing fields across rows and masking genuine NULLs. The
    # struct is non-null whenever a right row exists, so NULL fields
    # survive.
    rt = right.select(
        F.col(on),
        F.col(ts),
        F.lit(r_side).alias("_side"),
        F.struct(
            F.col(ts).alias("_match_ts"),
            *[F.col(c) for c in right_payload],
        ).alias("_asof_payload"),
    )
    lt = left.withColumn("_side", F.lit(l_side))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy(ts, "_side")
        .rowsBetween(*frame)
    )
    carried = unioned.withColumn(
        "_asof_payload", pick("_asof_payload").over(w)
    )
    if tolerance is not None:
        tol = F.expr(f"INTERVAL {tolerance}")
        staleness = (
            F.col(ts) - F.col("_asof_payload._match_ts")
            if direction == "backward"
            else F.col("_asof_payload._match_ts") - F.col(ts)
        )
        carried = carried.withColumn(
            "_asof_payload",
            F.when(staleness <= tol, F.col("_asof_payload")),
        )
    return carried.where(F.col("_side") == l_side).select(
        *[F.col(c) for c in left.columns],
        *[
            F.col(f"_asof_payload.{c}").alias(f"asof_{c}")
            for c in right_payload
        ],
    )


def range_count_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    width: str = "5 minutes",
) -> DataFrame:
    """left + ``n_in_range`` = count of right rows with
    ``right.ts in (left.ts - width, left.ts]`` per key. ``width`` must
    be a fixed-length interval string (band width == range width)."""
    band = lambda c: F.window(c, width)["start"]  # noqa: E731
    iv = F.expr(f"INTERVAL {width}")
    # right-side columns all renamed up front: post-join drop-by-side is
    # resolution-fragile (a left-join no-match row once surfaced the
    # RIGHT key after drop, splitting groups)
    r = right.select(
        F.col(on).alias("_r_key"),
        F.col(ts).alias("_r_ts"),
        band(ts).alias("_band"),
    )
    # transient per-row id: the final regroup keys on the LEFT ROW, not
    # its column values — without it two identical left rows would
    # collapse into one output row (losing multiplicity). The id never
    # leaves this operator, so its run-to-run instability is invisible.
    l = left.withColumn("_rid", F.monotonically_increasing_id()).withColumn(
        "_probe", F.explode(F.array(band(ts), band(ts) - iv))
    )
    joined = l.join(
        r,
        (F.col(on) == F.col("_r_key")) & (F.col("_probe") == F.col("_band")),
        "left",
    )
    in_range = (F.col("_r_ts") > F.col(ts) - iv) & (
        F.col("_r_ts") <= F.col(ts)
    )
    grp = [F.col(c) for c in left.columns]
    return (
        joined.groupBy(F.col("_rid"), *grp)
        .agg(
            F.count(F.when(in_range, True)).alias("n_in_range")
        )
        .drop("_rid")
    )


def sessionize_single_pass(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """The one-shuffle single-sort sessionization plan (lag + running
    is_new sum share one window spec) — the plan q_events_sessionized
    registers. Factored here so BENCH/temporal_skew.py can drive it and
    sessionize_two_phase over the same constructed corpus. Per-user
    history sorts in ONE task: optimal when no key is hot, a straggler
    when one is (the two-phase variant is the hot-key path)."""
    from pyspark.sql.window import Window

    iv = F.expr(f"INTERVAL {gap_min} MINUTES")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = events.select("user_id", "event_id", "event_type", "value", "ts")
    prev = F.lag("ts").over(w)
    is_new = F.when(prev.isNull() | (F.col("ts") - prev > iv), 1).otherwise(0)
    sess = e.withColumn("is_new", is_new).withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
        F.date_format(F.max("ts"), _TS_FMT).alias("session_end"),
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("value_bp"),
    )


def sessionize_two_phase(
    events: DataFrame,
    gap_min: int = 30,
    chunk: str = "1 day",
) -> DataFrame:
    """Gap sessionization that SURVIVES a hot key — the scale path for
    the single-pass plan in plans/queries.q_events_sessionized, which
    sorts each user's entire history in ONE window task (a bot with
    10^8 events = one straggler task carrying 10^8 rows;
    BENCH/temporal_skew.py measures exactly this).

    Phase 1 pre-sessionizes within (user_id, time-chunk): the window
    partition key gains the epoch-aligned chunk bucket, so a hot user's
    events spread across ``span / chunk`` tasks and no task ever sorts
    more than one chunk of one user. Sessions that cross a chunk
    boundary are split — deliberately.

    Phase 2 repairs the splits: pre-sessions are disjoint intervals, so
    running the SAME gap rule over (start, end) pairs — merge when
    ``start - prev_end <= gap`` — reproduces the single-pass sessions
    exactly (the cross-chunk event gap IS the boundary pre-session gap,
    and within a pre-session every gap is already <= gap). The phase-2
    window again sorts per user, but over PRE-SESSIONS, whose count is
    bounded by chunks-touched + session-breaks — for the dense hot user
    that is ~span/chunk rows, not events (10^8 -> ~10^3). Equality with
    the single-pass query is pinned by tests/test_temporal_ops.py and
    the shared DuckDB oracle (events_sessionized_chunked runs against
    SQL_EVENTS_SESSIONIZED verbatim).

    Aggregates are merge-safe by construction: counts and integer-bp
    value sums add; the distinct-type count carries the per-pre-session
    type SET (bounded by the event-type vocabulary) and distinct-counts
    the flattened union at the end."""
    from pyspark.sql.window import Window

    iv = F.expr(f"INTERVAL {gap_min} MINUTES")

    e = events.select("user_id", "event_id", "event_type", "value", "ts")
    ck = F.window("ts", chunk)["start"].alias("chunk")
    w1 = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    prev1 = F.lag("ts").over(w1)
    is_new1 = F.when(prev1.isNull() | (F.col("ts") - prev1 > iv), 1).otherwise(0)
    pre = (
        e.withColumn("chunk", ck)
        .withColumn("is_new", is_new1)
        .withColumn(
            "pre_no",
            F.sum("is_new").over(w1.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "chunk", "pre_no")
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("t"),
            F.count("*").alias("n"),
            F.collect_set("event_type").alias("types"),
            # per-event integer quantization (order-free sum), identical
            # to the single-pass query's value_bp
            F.sum(
                F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
            ).alias("bp"),
        )
    )

    w2 = Window.partitionBy("user_id").orderBy("s", "t")
    prev_end = F.lag("t").over(w2)
    is_new2 = F.when(
        prev_end.isNull() | (F.col("s") - prev_end > iv), 1
    ).otherwise(0)
    merged = pre.withColumn("is_new", is_new2).withColumn(
        "session_no",
        F.sum("is_new").over(w2.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return merged.groupBy("user_id", "session_no").agg(
        F.date_format(F.min("s"), _TS_FMT).alias("session_start"),
        F.date_format(F.max("t"), _TS_FMT).alias("session_end"),
        F.sum("n").alias("n_events"),
        F.size(F.array_distinct(F.flatten(F.collect_list("types"))))
        .cast("long")
        .alias("n_event_types"),
        F.sum("bp").alias("value_bp"),
    )


#: micros per unit for the width strings range joins accept
_UNIT_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _width_us(width: str) -> int:
    n, unit = width.split()
    return int(n) * _UNIT_US[unit.lower()]


def range_count_join_hierarchical(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    width: str = "5 minutes",
    split: int = 24,
) -> DataFrame:
    """``range_count_join`` that survives a time-CONCENTRATED hot key.

    The banded join's fan-out per left row is the right-side occupancy
    of its two probe bands — quadratic in a burst (BENCH/temporal_skew
    measures a bot whose events compress into a few days). This variant
    splits each width-sized range into ``split`` sub-bands and
    decomposes the exact count: the (split-1) fully-interior sub-bands
    contribute via a PRE-AGGREGATED (key, sub-band) count relation (one
    row each, however hot the band), and only the two boundary
    sub-bands join at row level with the exact (t-w, t] filter. Per-row
    fan-out drops from O(occupancy) to O(split + occupancy/split) —
    minimized at split ~ sqrt(occupancy) — and no single task ever
    materializes a band x band product.

    Both contribution kinds ride ONE join: the right side is the union
    of aggregated rows (is_agg=1, weight=cnt) and raw rows (is_agg=0,
    weight=1 behind the exact filter), and each left row probes
    interior sub-bands wanting aggregates plus edge sub-bands wanting
    rows. The transient ``_rid`` stays inside one linear plan (single
    explode -> join -> regroup), the same multiplicity contract as
    range_count_join. Sub-band indexing is integer micros via a
    TZ-free NTZ timestampdiff, so the operator stays NTZ end-to-end.

    Row-identical to range_count_join (pinned by tests + the shared
    events_range DuckDB oracle)."""
    w_us = _width_us(width)
    if split < 2 or w_us % split:
        raise ValueError(f"split must be >= 2 and divide {w_us} us")
    s_us = w_us // split
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

    def j_of(col: str):
        # floor(t_us / s_us): event times are post-epoch, so integer
        # div is floor here
        return F.expr(
            f"timestampdiff(MICROSECOND, {epoch}, {col}) div {s_us}"
        )

    rc = (
        right.groupBy(
            F.col(on).alias("_r_key"), j_of(ts).alias("_r_j")
        )
        .agg(F.count("*").alias("_w"))
        .select(
            "_r_key", "_r_j", F.lit(1).alias("_r_agg"), "_w",
            F.lit(None).cast(right.schema[ts].dataType).alias("_r_ts"),
        )
    )
    rr = right.select(
        F.col(on).alias("_r_key"),
        j_of(ts).alias("_r_j"),
        F.lit(0).alias("_r_agg"),
        F.lit(1).cast("long").alias("_w"),
        F.col(ts).alias("_r_ts"),
    )
    runion = rc.unionByName(rr)

    jt = j_of(ts)
    probes = F.concat(
        F.transform(
            F.sequence(jt - split + 1, jt - 1),
            lambda j: F.struct(j.alias("j"), F.lit(1).alias("agg")),
        ),
        F.array(
            F.struct((jt - split).alias("j"), F.lit(0).alias("agg")),
            F.struct(jt.alias("j"), F.lit(0).alias("agg")),
        ),
    )
    l = left.withColumn("_rid", F.monotonically_increasing_id()).withColumn(
        "_probe", F.explode(probes)
    )
    joined = l.join(
        runion,
        (F.col(on) == F.col("_r_key"))
        & (F.col("_probe.j") == F.col("_r_j"))
        & (F.col("_probe.agg") == F.col("_r_agg")),
        "left",
    )
    iv = F.expr(f"INTERVAL {width}")
    in_range = (F.col("_r_ts") > F.col(ts) - iv) & (F.col("_r_ts") <= F.col(ts))
    contrib = F.when(F.col("_r_agg") == 1, F.col("_w")).otherwise(
        F.when(in_range, F.lit(1)).otherwise(F.lit(0))
    )
    grp = [F.col(c) for c in left.columns]
    return (
        joined.groupBy(F.col("_rid"), *grp)
        .agg(F.sum(F.coalesce(contrib, F.lit(0))).alias("n_in_range"))
        .drop("_rid")
    )


def range_count_join_adaptive(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    width: str = "5 minutes",
    split: int = 24,
    heavy_per_band: int = 256,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """The production range-count join: banded for the uniform majority,
    hierarchical ONLY for rows that probe a heavy band — the classic
    skew-join split, driven by measurement (BENCH/temporal_skew.py):
    the banded plan's burst straggle is 2.3x, but the hierarchical
    decomposition costs split+2 probes per left row, ~7x the banded
    wall when applied to EVERYTHING. So: aggregate right-side occupancy
    per (key, band) — already a tiny relation — broadcast the heavy set
    (occupancy > heavy_per_band; empty on uniform corpora), route left
    rows probing a heavy band to range_count_join_hierarchical and the
    rest to range_count_join, and union. Each left row is counted by
    exactly one path, so exactness and multiplicity are preserved
    (pinned row-identical to the banded operator).

    At 10^12 events the heavy set is bounded by #(hot key, band) pairs
    — broadcastable by construction, since each entry represents >
    heavy_per_band right rows.

    ``sample_fraction < 1`` makes the heavy DETECTION sampled (seeded,
    threshold scaled with a 2x safety factor toward false positives):
    at production scale a full per-(key, band) count is itself a large
    mostly-size-1-group shuffle, while a 1-5% sample finds every band
    that matters — and routing accuracy only affects SPEED, never
    correctness, since both paths are exact."""
    band = lambda c: F.window(c, width)["start"]  # noqa: E731
    iv = F.expr(f"INTERVAL {width}")
    probe_src = (
        right if sample_fraction >= 1.0
        else right.sample(fraction=sample_fraction, seed=42)
    )
    eff_thresh = (
        heavy_per_band if sample_fraction >= 1.0
        else max(1.0, heavy_per_band * sample_fraction / 2.0)
    )
    heavy = (
        probe_src.groupBy(
            F.col(on).alias("_h_key"), band(ts).alias("_h_band")
        )
        .agg(F.count("*").alias("_h_n"))
        .where(F.col("_h_n") > eff_thresh)
        .select("_h_key", "_h_band")
    )
    # a left row is heavy iff EITHER of its two probe bands is heavy;
    # window() can't sit in a join condition, so the probe bands become
    # transient columns first
    l2 = left.withColumn("_b0", band(ts)).withColumn("_b1", band(ts) - iv)
    probe_hit = (F.col(on) == F.col("_h_key")) & (
        (F.col("_b0") == F.col("_h_band")) | (F.col("_b1") == F.col("_h_band"))
    )
    light = l2.join(F.broadcast(heavy), probe_hit, "left_anti").drop("_b0", "_b1")
    heavy_left = l2.join(F.broadcast(heavy), probe_hit, "left_semi").drop(
        "_b0", "_b1"
    )
    return range_count_join(light, right, on=on, ts=ts, width=width).unionByName(
        range_count_join_hierarchical(
            heavy_left, right, on=on, ts=ts, width=width, split=split
        )
    )
