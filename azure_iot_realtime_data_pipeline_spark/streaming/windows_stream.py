"""Streaming bindings for the K-family event-time operators (K1-K4, K7).

The batch forms live in operators/sessions.py (sessionize, tumbling,
hopping — oracle-checked as q_sessionize / q_tumbling_agg /
q_hopping_agg). These are their Structured-Streaming twins over the
watermarked events stream, mirroring how the F2 anomaly operator ships
both forms (operators/windows.py <-> streaming/anomaly.py):

- tumbling/hopping: ``F.window(ts, size[, slide])`` — bit-equivalent to
  the batch arithmetic form (both are epoch-aligned buckets, and the sum
  runs as exact decimal before the double cast), asserted by the
  batch-equivalence tests in tests/test_streaming_windows.py.
- session: ``F.session_window(ts, gap)``. Boundary semantics, documented:
  ``sessionize`` starts a new session when the inter-event gap is
  STRICTLY greater than ``gap_seconds`` (ANSI-SQL expressible, the
  oracle-checked form); ``F.session_window`` closes a session when the
  next event is >= session_end = last_ts + gap — an event landing at
  exactly ``gap`` seconds stays in-session under the batch operator but
  opens a new one here. Equivalence tests therefore compare the
  streaming form against the BATCH ``F.session_window`` aggregation
  (same engine semantics), not against ``sessionize``.

Scale notes: all three are ordinary streaming hash aggregations — state
is one row per open (key, window), pruned by the watermark; the hopping
fan-out multiplies rows map-side by size/slide before the shuffle,
identical to the batch plan. In production `append` output mode plus
``withWatermark`` bounds state; the equivalence tests run `complete`
mode on a finite replay so every window emits.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEFAULT_WATERMARK = "60 seconds"


def one_frame(pdfs):
    """Concatenate a key's Arrow chunks into ONE frame (or None when
    empty). Every order-sensitive carry fn must sort the WHOLE
    micro-batch before folding: `applyInPandasWithState` delivers a
    key's batch as MULTIPLE chunks once it exceeds
    `spark.sql.execution.arrow.maxRecordsPerBatch` (default 10k), and
    chunk-local sorting would silently permute the series across chunk
    boundaries — corrupting any order-dependent statistic (CUSUM, EWMA,
    rates, carries). Order-insensitive sketches (KMV, binned counts,
    Misra-Gries guarantees) may still stream chunk-by-chunk."""
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return None
    return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)


def _sum_value_dec(col: str = "value"):
    # identical arithmetic to the batch q_tumbling_agg/q_hopping_agg
    # surface: order-independent exact decimal sum, then double.
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias("sum_value")


def tumbling_stream(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    size_seconds: int = 86_400,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """K2 streaming: per-key tumbling-window count + decimal-exact sum.
    Output (key, window_start, n, sum_value) matches q_tumbling_agg."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(key_col, F.window(ts_col, f"{size_seconds} seconds"))
        .agg(F.count("*").alias("n"), _sum_value_dec())
        .select(
            key_col,
            F.col("window.start").alias("window_start"),
            "n",
            "sum_value",
        )
    )


def hopping_stream(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    size_seconds: int = 86_400,
    slide_seconds: int = 21_600,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """K3 streaming: overlapping windows of `size` sliding by `slide`.
    Output matches q_hopping_agg (one row per key per covering window)."""
    return (
        (events.withWatermark(ts_col, watermark) if watermark else events)
        .groupBy(
            key_col,
            F.window(ts_col, f"{size_seconds} seconds", f"{slide_seconds} seconds"),
        )
        .agg(F.count("*").alias("n"), _sum_value_dec())
        .select(
            key_col,
            F.col("window.start").alias("window_start"),
            "n",
            "sum_value",
        )
    )


def session_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 3_600,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """K1 streaming: gap sessionization via ``F.session_window``.
    Output (key, session_start, session_end_ts, n_events) — session_end_ts
    is MAX(ts) of the session (the batch `sessionize` surface), not the
    session_window's end (= last_ts + gap)."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(key_col, F.session_window(ts_col, f"{gap_seconds} seconds"))
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end_ts"),
        )
        .select(key_col, "session_start", "session_end_ts", "n_events")
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """J1 streaming twin: drop re-deliveries of the same logical event
    (at-least-once sources re-emit on retry) across micro-batches.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the first sighting + delay — bounded state, unlike
    plain ``dropDuplicates`` on a stream which retains every key seen
    forever. Duplicates must arrive within the watermark delay of the
    original to be suppressed; later re-deliveries are the source's
    at-least-once contract surfacing, not a bug here."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def interval_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    window_seconds: int = 3_600,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """K7 streaming: stream-stream inner join with an event-time range
    condition — each click matches purchases of the same user within
    [click_ts, click_ts + window]. Watermarks on BOTH sides bound the
    join state (Spark retains each side only until the other side's
    watermark passes the range edge); inner joins emit matches as rows
    arrive. Output columns mirror the batch `sessions.interval_join`
    surface (build side suffixed `_b`)."""
    probe_cols = list(clicks.columns)
    build_cols = list(purchases.columns)
    c = clicks.withWatermark(ts_col, watermark) if watermark else clicks
    p = purchases.withWatermark(ts_col, watermark) if watermark else purchases
    c = c.alias("c")
    p = p.alias("p")
    cond = F.expr(
        f"c.{key} = p.{key}"
        f" AND p.{ts_col} >= c.{ts_col}"
        f" AND p.{ts_col} <= c.{ts_col} + interval {window_seconds} seconds"
    )
    # output derived from the INPUT schemas, mirroring the batch
    # sessions.interval_join surface: probe columns as-is, build columns
    # (except the join key) suffixed `_b`
    return c.join(p, cond).select(
        *[F.col(f"c.{col}").alias(col) for col in probe_cols],
        *[
            F.col(f"p.{col}").alias(f"{col}_b")
            for col in build_cols
            if col != key
        ],
    )


ASOF_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("asof_purchase_value", DoubleType()),
    ]
)

#: one carry cell per key: the newest build value seen so far
ASOF_STATE_SCHEMA = StructType([StructField("last_val", DoubleType())])


def make_asof_fn():
    """applyInPandasWithState body for the K4 streaming twin (picklable
    closure). Per key: rows of each micro-batch are processed in
    (ts, side, event_id) order — builds before probes at equal
    timestamps, so an exact-tie build is visible (>= semantics), and
    among equal-ts builds the highest event_id lands last and wins,
    which IS the batch form's per-(key, ts) max-event_id dedup rule.
    The carry survives micro-batch boundaries in the state cell."""

    def fn(key, pdfs, state):
        last_val = state.get[0] if state.exists else None
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values(["ts", "_side", "event_id"], kind="stable")
            carried = []
            for side, v in zip(pdf["_side"], pdf["value"]):
                if side == 0:
                    if not pd.isna(v):
                        # batch asof_join carries last(value,
                        # ignorenulls=True): a NULL-valued build must
                        # not reset the carry to NaN (review r7)
                        last_val = float(v)
                else:
                    carried.append(last_val)
            out = pdf[pdf["_side"] == 1][["event_id", "user_id", "ts"]].copy()
            out["asof_purchase_value"] = pd.Series(
                carried, index=out.index, dtype="float64"
            )
            yield out
        if last_val is not None:
            state.update((float(last_val),))

    return fn


def asof_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    probe_type: str = "click",
    build_type: str = "purchase",
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """K4 streaming twin: each probe event (click) carries the key's
    newest build value (purchase) at-or-before its timestamp.

    Spark has no native stream-stream AS-OF join (the lookback is
    unbounded, so the interval-join state bound does not apply). The
    batch operator's union + last-non-null carry construction has a
    natural streaming form: ONE stateful carry cell per key in
    ``applyInPandasWithState`` — O(1) state per key, strictly smaller
    than any windowed-join state, and the same single shuffle onto the
    key. Parity contract (tested): for in-order delivery where rows
    sharing a timestamp arrive in one micro-batch (the replay source's
    staging guarantee), every carried value is identical to the batch
    ``sessions.asof_join``. Out-of-order arrivals WITHIN a micro-batch
    are handled by the per-batch sort; across batches a late build is
    the at-least-once/stream-ordering contract surfacing — the batch
    operator remains the reconciliation path, exactly as for the
    anomaly operator's density bound (streaming/anomaly.py docstring).
    """
    tagged = events.filter(
        F.col("event_type").isin(probe_type, build_type)
    ).select(
        "event_id",
        F.col(key_col),
        F.col(ts_col),
        F.when(F.col("event_type") == build_type, 0).otherwise(1).alias("_side"),
        F.col("value"),
    )
    if watermark is not None:
        tagged = tagged.withWatermark(ts_col, watermark)
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_asof_fn(),
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: watermark-buffered as-of: carry cell + the not-yet-final row buffer
ASOF_WM_STATE_SCHEMA = StructType(
    [
        StructField("last_val", DoubleType()),
        StructField("buf_ts_us", ArrayType(LongType())),
        StructField("buf_side", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)


def make_asof_wm_fn():
    """applyInPandasWithState body for the WATERMARK-BUFFERED K4 twin.

    Per key, every arriving row (both sides) is buffered in state; only
    rows whose event time has been passed by the CURRENT event-time
    watermark are finalized — sorted (ts, side, event_id) exactly like
    the in-order twin — and probe outputs emitted. Because the watermark
    is Spark's two-sided bound ("no row older than this will arrive on
    EITHER side"), a build delayed a full micro-batch behind its probes
    still lands in the buffer before those probes finalize: the
    production out-of-order case the in-order twin documents away.
    State bound: watermark-delay x per-key arrival rate rows — the same
    bound a native stream-stream interval join carries."""

    def fn(key, pdfs, state):
        if state.exists:
            last_val, b_ts, b_side, b_id, b_val = state.get
            buf = [
                (int(t), int(s), int(i), v)
                for t, s, i, v in zip(b_ts, b_side, b_id, b_val)
            ]
        else:
            last_val, buf = None, []
        pdf = one_frame(pdfs)
        if pdf is not None:
            ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            for t, s, eid, v in zip(
                ts_us, pdf["_side"], pdf["event_id"], pdf["value"]
            ):
                buf.append(
                    (int(t), int(s), int(eid), None if pd.isna(v) else float(v))
                )
        wm_us = state.getCurrentWatermarkMs() * 1000
        # unique event_ids make the (ts, side, id) prefix decisive, so the
        # possibly-None value never participates in the sort
        buf.sort()
        # STRICT bound: Spark's late-row filter only drops rows strictly
        # OLDER than the watermark, so a row with ts == wm may still
        # legally arrive — finalizing at ts == wm would emit its tied
        # probes before a tied build could land (review r7)
        pend = [r for r in buf if r[0] >= wm_us]
        out = []
        for t, s, eid, v in buf:
            if t >= wm_us:
                continue
            if s == 0:
                if v is not None:
                    # match the batch carry exactly: asof_join carries
                    # last(value, ignorenulls=True), so a NULL-valued
                    # build must NOT reset the carry (review r7)
                    last_val = v
            else:
                out.append((eid, int(key[0]), t, last_val))
        if out:
            yield pd.DataFrame(
                {
                    "event_id": pd.Series([o[0] for o in out], dtype="int64"),
                    "user_id": pd.Series([o[1] for o in out], dtype="int64"),
                    "ts": pd.to_datetime([o[2] for o in out], unit="us"),
                    "asof_purchase_value": pd.Series(
                        [o[3] for o in out], dtype="float64"
                    ),
                }
            )
        state.update(
            (
                None if last_val is None else float(last_val),
                [r[0] for r in pend],
                [r[1] for r in pend],
                [r[2] for r in pend],
                [r[3] for r in pend],
            )
        )

    return fn


def asof_stream_watermarked(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    probe_type: str = "click",
    build_type: str = "purchase",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """K4 streaming twin, watermark-buffered: exact as-of semantics under
    out-of-order arrival on BOTH streams, bounded by the watermark.

    ``asof_stream`` emits each probe immediately and so assumes builds
    never arrive later than the probes they should enrich (the staged
    replay source's guarantee). This variant holds rows in state until
    the event-time watermark passes them, which makes the output
    invariant to ANY arrival interleaving within the watermark delay —
    including the build side running a whole micro-batch behind.
    Trade: probes emit with up to watermark-delay latency, and state
    carries the in-flight rows instead of one cell.

    The watermark node sits BEFORE the event-type filter so every event
    advances the clock — a quiet build stream can never stall probe
    finalization (the classic two-sided-bound deadlock).
    """
    if watermark is None:
        raise ValueError(
            "asof_stream_watermarked requires a watermark: finalization "
            "IS the watermark passing; use asof_stream for the "
            "in-order/immediate-emission form."
        )
    tagged = (
        events.withWatermark(ts_col, watermark)
        .filter(F.col("event_type").isin(probe_type, build_type))
        .select(
            "event_id",
            F.col(key_col),
            F.col(ts_col),
            F.when(F.col("event_type") == build_type, 0)
            .otherwise(1)
            .alias("_side"),
            F.col("value"),
        )
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_asof_wm_fn(),
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_WM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: one carry cell per key: the previous event's microsecond timestamp
GAPS_STATE_SCHEMA = StructType([StructField("last_ts_us", LongType())])


def make_gaps_fn(id_col: str = "event_id", key_col: str = "user_id", ts_col: str = "ts"):
    """applyInPandasWithState body for the L3 streaming twin (picklable
    closure; column names are parameters so the fn matches whatever
    `event_gaps_stream` selected — previously they were hardcoded and a
    non-default key_col/ts_col produced a pandas KeyError at runtime).
    Per key: each micro-batch is processed in (ts, id) order and every
    row's gap is its ts minus the carried previous ts (NULL for the
    key's first-ever event). Equal-ts ties need no cross-batch tiebreak
    state: their pairwise gap is 0 under ANY order of equal timestamps,
    and the replay source's ts-bucketed staging keeps equal-ts rows in
    one micro-batch."""

    def fn(key, pdfs, state):
        last_ts = state.get[0] if state.exists else None
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            gaps = []
            for t in ts_us:
                gaps.append(None if last_ts is None else int(t) - last_ts)
                last_ts = int(t)
            out = pdf[[id_col, key_col, ts_col]].copy()
            out["gap_us"] = pd.Series(gaps, index=out.index, dtype="Int64")
            yield out
        if last_ts is not None:
            state.update((int(last_ts),))

    return fn


def event_gaps_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """L3 streaming twin: per-event inter-arrival microseconds.

    The batch form is a lag window over (key, ts) —
    `analytics.event_gaps`, oracle-checked as `q_event_gaps`. Streaming
    lag needs only the PREVIOUS event per key, so the state is a single
    long per key (strictly smaller than any windowed-agg state), carried
    in `applyInPandasWithState` over the same single shuffle onto the
    key that the batch window performs. Parity contract (tested): for
    in-order replay, every gap equals the batch lag's.

    Output schema is (id, key, ts, gap_us) with the id/key/ts types
    DERIVED from the input frame, so non-default column names/types work
    end-to-end instead of mismatching a hardcoded StructType."""
    tagged = events.select(F.col(id_col), F.col(key_col), F.col(ts_col))
    if watermark is not None:
        tagged = tagged.withWatermark(ts_col, watermark)
    out_schema = StructType(
        [*tagged.schema.fields, StructField("gap_us", LongType())]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_gaps_fn(id_col=id_col, key_col=key_col, ts_col=ts_col),
        outputStructType=out_schema,
        stateStructType=GAPS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: watermark-buffered gaps: carried last finalized ts + row buffer
GAPS_WM_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("buf_ts_us", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
    ]
)


def make_gaps_wm_fn(
    id_col: str = "event_id", key_col: str = "user_id", ts_col: str = "ts"
):
    """Watermark-buffered body for the L3 twin (the `make_asof_wm_fn`
    pattern): rows buffer in state and finalize in (ts, id) order only
    once the event-time watermark strictly passes them, so an event
    arriving a whole micro-batch late still slots into its event-time
    position — which changes BOTH its own gap and its successor's, the
    two rows the in-order twin would have already emitted wrong."""

    def fn(key, pdfs, state):
        if state.exists:
            last_ts, b_ts, b_id = state.get
            buf = [(int(t), int(i)) for t, i in zip(b_ts, b_id)]
        else:
            last_ts, buf = None, []
        pdf = one_frame(pdfs)
        if pdf is not None:
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            buf.extend(
                (int(t), int(i)) for t, i in zip(ts_us, pdf[id_col])
            )
        wm_us = state.getCurrentWatermarkMs() * 1000
        buf.sort()
        pend = [r for r in buf if r[0] >= wm_us]
        out_ids, out_ts, out_gaps = [], [], []
        for t, i in buf:
            if t >= wm_us:
                continue
            out_ids.append(i)
            out_ts.append(t)
            out_gaps.append(None if last_ts is None else t - last_ts)
            last_ts = t
        if out_ids:
            frame = pd.DataFrame(
                {
                    id_col: pd.Series(out_ids, dtype="int64"),
                    key_col: pd.Series([key[0]] * len(out_ids), dtype="int64"),
                    ts_col: pd.to_datetime(out_ts, unit="us"),
                    "gap_us": pd.Series(out_gaps, dtype="Int64"),
                }
            )
            yield frame
        state.update(
            (
                None if last_ts is None else int(last_ts),
                [r[0] for r in pend],
                [r[1] for r in pend],
            )
        )

    return fn


def event_gaps_stream_watermarked(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """L3 streaming twin, watermark-buffered: exact inter-arrival gaps
    under out-of-order delivery, bounded by the watermark — the same
    two-sided-bound construction as `asof_stream_watermarked` (strict
    finalization below the watermark; state = carry + in-flight rows).
    Use when the transport can reorder events across micro-batches;
    `event_gaps_stream` stays the zero-latency form for in-order
    replay."""
    if watermark is None:
        raise ValueError(
            "event_gaps_stream_watermarked requires a watermark: "
            "finalization IS the watermark passing; use "
            "event_gaps_stream for the in-order form."
        )
    tagged = events.select(
        F.col(id_col), F.col(key_col), F.col(ts_col)
    ).withWatermark(ts_col, watermark)
    out_schema = StructType(
        [*tagged.schema.fields, StructField("gap_us", LongType())]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_gaps_wm_fn(id_col=id_col, key_col=key_col, ts_col=ts_col),
        outputStructType=out_schema,
        stateStructType=GAPS_WM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: one carry cell per key: the running high-watermark in microseconds
CLAMP_STATE_SCHEMA = StructType([StructField("hwm_us", LongType())])


def make_adjust_clamp_fn(
    id_col: str = "event_id",
    key_col: str = "user_id",
    ts_col: str = "ts",
    tolerance_us: int | None = None,
):
    """applyInPandasWithState body for the F3 streaming clamp (picklable
    closure). Per key the state is ONE long — the running event-time
    high-watermark in arrival order. Each micro-batch is processed in
    `id_col` (arrival) order; an event at or ahead of the watermark
    passes through and advances it, an out-of-order event's timestamp is
    CLAMPED forward to the watermark — the ASA `Adjust` policy
    (reference terraform/main-example.tf:133-136), where Spark's native
    watermark would DROP the row instead. With `tolerance_us` set,
    events further than that behind the watermark are DROPPED first —
    the combined Adjust + late-tolerance policy (the reference's actual
    configuration; batch twin `eventtime.eventtime_policy`)."""

    def fn(key, pdfs, state):
        hwm = state.get[0] if state.exists else None
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values(id_col, kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            adj = []
            keep = []
            for t in ts_us:
                t = int(t)
                hwm = t if hwm is None or t > hwm else hwm
                keep.append(
                    tolerance_us is None or t >= hwm - tolerance_us
                )
                adj.append(hwm)
            out = pdf[[id_col, key_col, ts_col]].copy()
            out["adjusted_ts"] = pd.Series(
                adj, index=out.index, dtype="int64"
            ).astype("datetime64[us]")
            if not all(keep):
                out = out[pd.Series(keep, index=out.index)]
            if len(out):
                yield out
        if hwm is not None:
            state.update((int(hwm),))

    return fn


def adjust_clamp_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark: str | None = None,
) -> DataFrame:
    """F3 streaming twin: the ASA `Adjust` out-of-order policy as a
    stateful running-high-watermark clamp — the LAST documented semantic
    divergence from the reference closed. Spark's `withWatermark` drops
    rows older than the watermark; the reference ADJUSTS them (clamps
    the timestamp forward to the stream's high-water mark) and keeps the
    row. One long of state per key, one shuffle onto the key — the same
    state bound as the L3 gaps twin, strictly smaller than any windowed
    aggregation.

    Parity contract (tested): replayed in arrival order (`id_col`
    buckets — `stage_replay_dir(arrival_order=True)`), every emitted `adjusted_ts`
    equals the batch `operators.eventtime.adjust_clamp` (the oracled
    `q_adjust_clamp`) on the same data. `watermark` stays None for the
    pure-Adjust policy (clamp, never drop); set it to ALSO drop events
    later than the tolerance — the reference's combined
    30 s-adjust + 60 s-late-tolerance configuration."""
    tagged = events.select(F.col(id_col), F.col(key_col), F.col(ts_col))
    if watermark is not None:
        tagged = tagged.withWatermark(ts_col, watermark)
    out_schema = StructType(
        [*tagged.schema.fields, StructField("adjusted_ts", TimestampType())]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_adjust_clamp_fn(id_col=id_col, key_col=key_col, ts_col=ts_col),
        outputStructType=out_schema,
        stateStructType=CLAMP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def eventtime_policy_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    tolerance_seconds: int = 60,
) -> DataFrame:
    """F3 streaming twin of the COMBINED policy
    (`eventtime.eventtime_policy` / the oracled `q_eventtime_policy`):
    drop events more than `tolerance_seconds` behind the per-key
    high-watermark, clamp the surviving out-of-order ones forward. Same
    one-long-per-key state as `adjust_clamp_stream` — the tolerance is
    arithmetic against the carried mark, not extra state. No Spark
    watermark: the policy OWNS lateness handling (drop-by-rule, not
    drop-by-state-eviction), exactly mirroring the batch form."""
    tagged = events.select(F.col(id_col), F.col(key_col), F.col(ts_col))
    out_schema = StructType(
        [*tagged.schema.fields, StructField("adjusted_ts", TimestampType())]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_adjust_clamp_fn(
            id_col=id_col,
            key_col=key_col,
            ts_col=ts_col,
            tolerance_us=tolerance_seconds * 1_000_000,
        ),
        outputStructType=out_schema,
        stateStructType=CLAMP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_kept", LongType()),
        StructField("distinct_est", DoubleType()),
    ]
)

#: bounded sketch state: the k smallest distinct hashes seen so far
KMV_STATE_SCHEMA = StructType(
    [StructField("kept", ArrayType(LongType()))]
)


def make_kmv_fn(k: int = 64):
    """applyInPandasWithState body for the J30 streaming twin (picklable
    closure). Per key the state is AT MOST k longs — merge each
    micro-batch's hashes into the kept set, re-take the k smallest
    (KMV sketches merge by exactly this union + re-truncate), and emit
    the running estimate. This is the map-side-combine form the batch
    docstring names as the TypedImperativeAggregate swap point,
    realized in streaming state instead."""

    import math

    def fn(key, pdfs, state):
        kept = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            kept.update(int(h) for h in pdf["_h"])
        kept = sorted(kept)[:k]
        n_kept = len(kept)
        if n_kept < k:
            est = float(n_kept)
        else:
            est = (k - 1) * 2.0**32 / kept[-1]
            # floor-based round_half_up(4), bit-matching the batch
            # operator's F.floor expression (int() truncates toward
            # zero and would diverge for negative values)
            est = math.floor(est * 10000 + 0.5) / 10000
        state.update((kept,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_kept": [n_kept],
                "distinct_est": [est],
            }
        )

    return fn


def kmv_stream(
    events: DataFrame,
    group_col: str = "event_type",
    id_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """J30 streaming twin: running KMV distinct-count per group.

    Exact streaming COUNT(DISTINCT) needs state proportional to the
    distinct set; the KMV sketch bounds it at k longs per group with
    the SAME estimator arithmetic as the batch operator — each
    micro-batch emission is the estimate as of that batch, and the
    final emission equals `sketches.kmv_distinct` over the replayed
    data (batch-equivalence tested). No watermark needed: the sketch
    is monotone (hash-set union), so late rows merge correctly
    whenever they arrive."""
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        portable_hash32,
    )

    hashed = events.filter(F.col(id_col).isNotNull()).select(
        F.col(group_col),
        portable_hash32(F.col(id_col).cast("string")).alias("_h"),
    )
    return hashed.groupBy(group_col).applyInPandasWithState(
        make_kmv_fn(k),
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_batch_twin(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 3_600,
) -> DataFrame:
    """The same F.session_window aggregation on a BATCH frame — the
    equivalence oracle for session_stream (engine-identical gap
    semantics; see module docstring on the `>` vs `>=` boundary)."""
    return session_stream(events, key_col, ts_col, gap_seconds, watermark=None)


QSKETCH_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("q", DoubleType()),
        StructField("p_est", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)

#: bounded sketch state: one count per bucket, n_bins longs per group
QSKETCH_STATE_SCHEMA = StructType([StructField("counts", ArrayType(LongType()))])


def make_qsketch_fn(
    lo: float, width: float, n_bins: int, quantiles: tuple[float, ...]
):
    """applyInPandasWithState body for the L8 streaming twin (picklable
    closure). Per key the state is EXACTLY n_bins longs — each
    micro-batch adds its bucket counts (fixed a-priori range: a stream
    cannot see its min/max up front; out-of-range values clamp to the
    edge buckets, same as the batch fixed_range mode) and emits the
    running quantile estimates with the same upper-bucket-edge
    arithmetic as `analytics.quantile_sketch`."""
    import math

    def fn(key, pdfs, state):
        counts = list(state.get[0]) if state.exists else [0] * n_bins
        for pdf in pdfs:
            vals = pdf["value"].dropna().astype(float)
            for v in vals:
                b = int((v - lo) // width) if width > 0 else 0
                b = 0 if b < 0 else (n_bins - 1 if b >= n_bins else b)
                counts[b] += 1
        state.update((counts,))
        n = sum(counts)
        if n == 0:
            return
        rows = []
        for q in quantiles:
            need = math.ceil(q * n)
            cum = 0
            hit = n_bins - 1
            for b, c in enumerate(counts):
                cum += c
                if cum >= need:
                    hit = b
                    break
            est = lo + (hit + 1) * width if width > 0 else lo
            # floor-based round_half_up(4): int() truncates toward zero,
            # which diverges from the batch F.floor form when a
            # fixed_range with negative lo yields a negative estimate
            est = math.floor(est * 10000 + 0.5) / 10000
            rows.append((key[0], float(q), est, n))
        yield pd.DataFrame(
            rows, columns=["event_type", "q", "p_est", "n_seen"]
        )

    return fn


def quantile_sketch_stream(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    lo: float = 0.0,
    width: float = 4.0,
    n_bins: int = 256,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """L8 streaming twin: running binned quantile estimates per group.

    Exact streaming percentiles need every value in state; the binned
    sketch bounds it at n_bins longs per group with the SAME estimator
    arithmetic as `analytics.quantile_sketch(fixed_range=...)` — the
    final emission equals the batch operator over the replayed data
    with fixed_range (lo, lo + width*n_bins) (batch-equivalence
    tested; width*n_bins/n_bins is exact for power-of-two n_bins, so
    the widths agree bit-for-bit). No watermark needed: bucket counts
    are monotone merges, late rows land correctly whenever they
    arrive."""
    src = events.select(F.col(group_col), F.col(value_col).alias("value"))
    return src.groupBy(group_col).applyInPandasWithState(
        make_qsketch_fn(lo, width, n_bins, quantiles),
        outputStructType=QSKETCH_OUTPUT_SCHEMA,
        stateStructType=QSKETCH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_value_stream(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """E5 streaming twin: the newest (ts, tiebreak) row per key as a
    running streaming aggregation — the live form of the dashboard
    'current value' card. Same struct-max shape as the batch
    `latest_value_per_key`: the aggregate state is ONE struct per key
    and partial-combines map-side, so a hot dashboard key costs one
    partial row per task, exactly as in batch. Run in `complete` mode
    (one row per key per trigger); the unique tiebreak makes the result
    deterministic under duplicate timestamps."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    packed = F.struct(F.col(ts_col), F.col(tiebreak), F.col(value_col))
    return (
        events.groupBy(key_col)
        .agg(F.max(packed).alias("_row"))
        .select(
            key_col,
            F.col(f"_row.{value_col}").alias("latest_value"),
            F.col(f"_row.{ts_col}").alias("latest_ts"),
        )
    )


#: one small carry cell per key: first/prev event time (us), the
#: previous value in half-up cents (-1 encodes a NULL value), the
#: running weighted sum in cents*us, and the row count
TWA_STATE_SCHEMA = StructType(
    [
        StructField("first_ts_us", LongType()),
        StructField("prev_ts_us", LongType()),
        StructField("prev_cents", LongType()),
        StructField("wsum_cents_us", LongType()),
        StructField("n_obs", LongType()),
        StructField("n_vals", LongType()),
    ]
)


def make_twa_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
):
    """applyInPandasWithState body for the K9 streaming twin (picklable
    closure). Per key: rows process in (ts, id) order; each interval
    adds prev_cents * dt to the running weighted sum, exactly the batch
    operator's DECIMAL(18,2) * dt accumulation held as an integer
    (cents * us, bounded by max_cents * span — ~70x inside int64 for
    this corpus' ranges; the batch decimal does not overflow either).
    Cents round HALF AWAY FROM ZERO (sign-split floor) — identical to
    Spark's HALF_UP decimal cast for either sign, so negative
    measurements weight correctly (prev_cents is NULL, not a sentinel,
    for NULL measurements). NULL measurements advance the clock but
    contribute nothing, matching SUM-over-NULL-product semantics in
    batch — and a key whose measurements are ALL NULL emits a NULL twa
    (n_vals tracks non-null rows), exactly as the batch SUM of all-NULL
    products is NULL."""
    import math

    def fn(key, pdfs, state):
        if state.exists:
            first_ts, prev_ts, prev_cents, wsum, n, n_vals = state.get
        else:
            first_ts = prev_ts = prev_cents = None
            wsum, n, n_vals = 0, 0, 0
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            vals = pdf[value_col]
            for t, v in zip(ts_us, vals):
                t = int(t)
                if prev_ts is not None and prev_cents is not None:
                    wsum += prev_cents * (t - prev_ts)
                if first_ts is None:
                    first_ts = t
                prev_ts = t
                if pd.isna(v):
                    prev_cents = None
                else:
                    mag = math.floor(abs(float(v)) * 100.0 + 0.5)
                    prev_cents = mag if float(v) >= 0 else -mag
                    n_vals += 1
                n += 1
        span = (prev_ts - first_ts) if first_ts is not None else 0
        if span > 0 and n_vals > 0:
            twa = math.floor((wsum / 100.0) / float(span) * 10000.0 + 0.5) / 10000.0
        else:
            twa = None
        state.update((first_ts, prev_ts, prev_cents, wsum, n, n_vals))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_obs": [n],
                "span_us": [span],
                "twa_value": [twa],
            }
        )

    return fn


def twa_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """K9 streaming twin: running LOCF time-weighted average per key.

    The batch form (`sessions.time_weighted_avg`, oracle-checked as
    `q_time_weighted_avg`) needs a lead window over the key's history;
    the streaming state is just SIX longs per key — first/prev
    timestamp, previous value in cents, running weighted sum, row and
    non-null counts — the same O(1)-per-key carry-cell shape as
    asof_stream/event_gaps_stream, strictly smaller than any windowed
    state. Each micro-batch emits the running TWA as of that batch; the
    final emission equals the batch operator over the replayed data
    (batch-equivalence tested; n_obs is monotone, so max(n_obs) marks
    the final row per key). The key output column name and type derive
    from the input frame, so non-default keys work end-to-end (the
    event_gaps_stream lesson)."""
    tagged = events.select(F.col(key_col), F.col(ts_col), F.col(id_col), F.col(value_col))
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("n_obs", LongType()),
            StructField("span_us", LongType()),
            StructField("twa_value", DoubleType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_twa_fn(
            key_col=key_col, ts_col=ts_col, id_col=id_col, value_col=value_col
        ),
        outputStructType=out_schema,
        stateStructType=TWA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_stream(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    value_col: str = "value",
    bucket_seconds: int = 86400,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """L9 streaming twin: live OHLC candles per (key, tumbling bucket).

    Identical aggregate shape to the batch `analytics.ohlc_downsample`
    — open/close via lexicographic struct min/max over (epoch,
    tiebreak, value) — bound to ``F.window``; the streaming state is
    one open-candle row per (key, window), pruned by the watermark, and
    partial-combines map-side exactly as in batch. F.window's bucket
    start is epoch-aligned like the batch arithmetic bucket, so the
    final emission bit-matches the batch operator (equivalence
    tested)."""
    ep = F.unix_micros(F.col(ts_col))
    src = events.filter(F.col(value_col).isNotNull())
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    packed = F.struct(
        ep.alias("_e"), F.col(tiebreak).alias("_t"), F.col(value_col).alias("_v")
    )
    return (
        src.groupBy(F.col(key_col), F.window(ts_col, f"{bucket_seconds} seconds"))
        .agg(
            F.min(packed).getField("_v").alias("open"),
            F.max(F.col(value_col)).alias("high"),
            F.min(F.col(value_col)).alias("low"),
            F.max(packed).getField("_v").alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            key_col,
            F.col("window.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )


#: one carry cell per key: previous event time (us) and previous value
RATE_STATE_SCHEMA = StructType(
    [StructField("prev_ts_us", LongType()), StructField("prev_v", DoubleType())]
)


def make_rate_fn(
    id_col: str = "event_id", key_col: str = "user_id", ts_col: str = "ts",
    value_col: str = "value",
):
    """applyInPandasWithState body for the K11 streaming twin. Per key:
    rows process in (ts, id) order; each row's rate is its counter-reset
    delta over the elapsed seconds since the carried previous event —
    the EXACT batch arithmetic (same floor-rounding, same dt>0 gate).
    A missing or non-positive gap yields NULL, as does the key's
    first-ever event."""
    import math

    def fn(key, pdfs, state):
        prev_ts, prev_v = state.get if state.exists else (None, None)
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            rates = []
            for t, v in zip(ts_us, pdf[value_col]):
                t = int(t)
                v = None if pd.isna(v) else float(v)
                dt_us = None if prev_ts is None else t - prev_ts
                if dt_us is None or dt_us <= 0 or v is None:
                    rates.append(None)
                else:
                    delta = v - prev_v if (prev_v is not None and v >= prev_v) else v
                    rates.append(
                        math.floor(delta / (float(dt_us) / 1_000_000.0) * 10000.0 + 0.5)
                        / 10000.0
                    )
                prev_ts, prev_v = t, v
            out = pdf[[id_col, key_col, ts_col]].copy()
            out["rate_per_sec"] = pd.Series(rates, index=out.index, dtype="float64")
            yield out
        state.update((prev_ts, prev_v))

    return fn


def rate_of_change_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """K11 streaming twin: live per-key rate of change with a TWO-field
    carry cell per key (previous timestamp + previous value) — the same
    O(1)-state shape as the gaps/as-of/TWA twins; the batch lag window
    becomes the carry. Emission per row; equals the batch
    `sessions.rate_of_change` on in-order replay (tested)."""
    tagged = events.select(
        F.col(id_col), F.col(key_col), F.col(ts_col), F.col(value_col)
    )
    out_schema = StructType(
        [
            tagged.schema[id_col],
            tagged.schema[key_col],
            tagged.schema[ts_col],
            StructField("rate_per_sec", DoubleType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_rate_fn(id_col=id_col, key_col=key_col, ts_col=ts_col, value_col=value_col),
        outputStructType=out_schema,
        stateStructType=RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: tuple[str, ...] = ("c_name", "c_mktsegment"),
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment — the streaming form of the
    BI-time fact⋈dimension join (q_join_devices, reference
    README.MD:56): every micro-batch of the unbounded fact stream joins
    the STATIC dimension with a broadcast hash join, so the stream side
    never shuffles and no join state accumulates (stream-static joins
    are stateless by construction — the missing join mode beside the
    repo's stream-stream interval join and stateful carries).

    The static side is re-read per micro-batch by Spark (picking up
    file-level dim updates between batches); keep it broadcast-sized or
    pre-bucketed. LEFT keeps unmatched telemetry flowing (a new device
    not yet in the dimension must not drop readings; the F7 upsert path
    fills the dimension asynchronously).
    """
    d = dim.select(F.col(dim_key), *[F.col(c) for c in dim_cols])
    return events.join(
        F.broadcast(d), events[stream_key] == d[dim_key], how
    ).drop(dim_key)


EWMA_STATE_SCHEMA = StructType(
    [StructField("n_events", LongType()), StructField("level", DoubleType())]
)


def make_ewma_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.3,
):
    """applyInPandasWithState body for the K13 streaming twin (picklable
    closure). Per key: rows process in (ts, id) order; each non-NULL
    measurement advances level = alpha*v + (1-alpha)*level (seeded by
    the first value) — the IDENTICAL IEEE double ops, in the identical
    order, as the batch fold in `sessions.ewma_per_key`, so the running
    level needs no re-derivation to match. NULL and NaN measurements
    are skipped entirely (Arrow delivers NULL doubles as NaN, so the
    two are indistinguishable here — the batch form drops both, keeping
    the equivalence contract exact).
    Emission rounds half-up to 4dp exactly like the batch output; the
    carried level stays UNROUNDED (rounding inside the recurrence would
    compound)."""
    import math

    a = float(alpha)
    b = 1.0 - float(alpha)

    def fn(key, pdfs, state):
        n, level = state.get if state.exists else (0, None)
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            for v in pdf[value_col]:
                if pd.isna(v):
                    continue
                v = float(v)
                level = v if level is None else a * v + b * level
                n += 1
        state.update((n, level))
        if n > 0:
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "ewma": [math.floor(level * 10000.0 + 0.5) / 10000.0],
                }
            )

    return fn


def ewma_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.3,
) -> DataFrame:
    """K13 streaming twin: running per-key EWMA with a TWO-field carry
    cell (count + unrounded level) — the O(1)-state production path for
    the inherently sequential smoother, where the batch-exact form
    (`sessions.ewma_per_key`, oracled as `q_ewma`) must collect each
    key's history. Each micro-batch emits the running (n_events, ewma);
    n_events is monotone, so max(n_events) marks the final row per key,
    and that final emission equals the batch operator over the replayed
    data (batch-equivalence + restart tested)."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(value_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("n_events", LongType()),
            StructField("ewma", DoubleType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_ewma_fn(
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            value_col=value_col,
            alpha=alpha,
        ),
        outputStructType=out_schema,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HOLT_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
    ]
)


def make_holt_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.3,
    gamma: float = 0.2,
):
    """applyInPandasWithState body for the K18 streaming twin (picklable
    closure). Per key: rows process in (ts, id) order; each non-NULL
    measurement advances the Holt pair

        l' = a*v + (1-a)*(l+b);  b' = g*(l' - l) + (1-g)*b

    seeded (x_0, 0.0) — written with the IDENTICAL duplicated l'
    subtree, in the identical order, as the batch fold in
    `sessions.holt_per_key`, so the carried pair matches the batch
    struct fold bit-for-bit over any processed prefix. NULL/NaN skipped
    (same Arrow indistinguishability contract as K13). Emission rounds
    4dp; the carried pair stays UNROUNDED."""
    import math

    a = float(alpha)
    oa = 1.0 - float(alpha)
    gm = float(gamma)
    og = 1.0 - float(gamma)

    def fn(key, pdfs, state):
        n, level, trend = state.get if state.exists else (0, None, 0.0)
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            for v in pdf[value_col]:
                if pd.isna(v):
                    continue
                v = float(v)
                if level is None:
                    level, trend = v, 0.0
                else:
                    nl = a * v + oa * (level + trend)
                    nb = gm * ((a * v + oa * (level + trend)) - level) + (
                        og * trend
                    )
                    level, trend = nl, nb
                n += 1
        state.update((n, level, trend))
        if n > 0:
            r4 = lambda x: math.floor(x * 10000.0 + 0.5) / 10000.0
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "level": [r4(level)],
                    "trend": [r4(trend)],
                    "forecast": [r4(level + trend)],
                }
            )

    return fn


def holt_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.3,
    gamma: float = 0.2,
) -> DataFrame:
    """K18 streaming twin: running per-key Holt level+trend with a
    THREE-field carry cell (count, level, trend) — O(1) state for the
    inherently sequential double smoother, where the batch-exact form
    (`sessions.holt_per_key`, oracled as `q_holt`) must collect each
    key's history. Each micro-batch emits the running
    (n_events, level, trend, forecast); n_events is monotone, so
    max(n_events) marks the final row per key, and that final emission
    equals the batch operator over the replayed data
    (batch-equivalence + restart tested)."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(value_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("n_events", LongType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("forecast", DoubleType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_holt_fn(
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            value_col=value_col,
            alpha=alpha,
            gamma=gamma,
        ),
        outputStructType=out_schema,
        stateStructType=HOLT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


AVAIL_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("down_us", LongType()),
    ]
)


def make_availability_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    offline_gap_seconds: int = 21600,
):
    """applyInPandasWithState body for the K21 streaming twin (picklable
    closure). Per key the carry cell is FOUR longs — (count, first
    epoch, last epoch, accumulated downtime): each row in (ts, id)
    order extends last; a gap above the threshold adds WHOLE to
    downtime, matching the batch contract exactly (same integer
    microsecond arithmetic). Emission recomputes span/availability from
    the cell, rounded exactly like the batch operator."""
    import math

    thresh = int(offline_gap_seconds) * 1_000_000

    def fn(key, pdfs, state):
        n, first, last, down = (
            state.get if state.exists else (0, None, None, 0)
        )
        pdf = one_frame(pdfs)
        if pdf is not None:
            # NaT guard BEFORE the int64 cast: a NULL ts would become
            # INT64 min and poison first/last/downtime; the batch form
            # drops NULL timestamps, so the twin must skip them too
            pdf = pdf[pdf[ts_col].notna()]
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            for t in ts.astype("datetime64[us]").astype("int64"):
                t = int(t)
                if first is None:
                    first = t
                else:
                    gap = t - last
                    if gap > thresh:
                        down += gap
                last = t
                n += 1
        state.update((n, first, last, down))
        if n > 0:
            span = last - first
            r4 = lambda x: math.floor(x * 10000.0 + 0.5) / 10000.0
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "span_seconds": [r4(span / 1e6)],
                    "downtime_seconds": [r4(down / 1e6)],
                    "availability": [
                        math.floor((1.0 - down / span) * 1000000.0 + 0.5)
                        / 1000000.0
                        if span > 0
                        else None
                    ],
                }
            )

    return fn


def availability_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    offline_gap_seconds: int = 21600,
) -> DataFrame:
    """K21 streaming twin: running per-key availability with a
    FOUR-long carry cell — the live SLA board, where the batch form
    (`sessions.availability_per_key`, oracled as `q_availability`)
    recomputes from history. n_events is monotone, so max(n_events)
    marks the final row per key; that final emission equals the batch
    operator over the replayed data (batch-equivalence + restart
    tested)."""
    tagged = events.select(F.col(key_col), F.col(ts_col), F.col(id_col))
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("n_events", LongType()),
            StructField("span_seconds", DoubleType()),
            StructField("downtime_seconds", DoubleType()),
            StructField("availability", DoubleType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_availability_fn(
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            offline_gap_seconds=offline_gap_seconds,
        ),
        outputStructType=out_schema,
        stateStructType=AVAIL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TRENDING_STATE_SCHEMA = StructType(
    [
        StructField("cur_bucket", LongType()),
        StructField("cur_n", LongType()),
        StructField("prev_n", LongType()),
    ]
)


def make_trending_fn(
    type_col: str = "event_type",
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
):
    """applyInPandasWithState body for the L30 streaming twin (picklable
    closure). Per type the carry is THREE longs — (current bucket id,
    its running count, the LAST CLOSED bucket's count): a row landing
    in a LATER bucket closes the current one, emitting (bucket_start,
    n, prev_n, growth) with the gap-aware lag semantics of the batch
    operator (growth compares against the last ACTIVE bucket, silent
    buckets don't reset it). The open bucket is never emitted — the
    batch-equivalence test excludes each type's final bucket. NULL
    timestamps are skipped (no bucket)."""
    import math

    b_us = int(bucket_seconds) * 1_000_000

    def fn(key, pdfs, state):
        cur_b, cur_n, prev_n = (
            state.get if state.exists else (None, 0, None)
        )
        rows = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf[pdf[ts_col].notna()]
            pdf = pdf.sort_values([ts_col], kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            for t in ts.astype("datetime64[us]").astype("int64"):
                b = (int(t) // b_us) * b_us
                if cur_b is not None and b < cur_b:
                    # late arrival for an already-advanced bucket: DROP
                    # (watermark semantics — an emitted bucket cannot be
                    # amended in append mode; counting it into the open
                    # bucket would silently shift growth). The
                    # batch-equivalence contract therefore assumes
                    # in-order replay, like every carry twin here.
                    continue
                if cur_b is None:
                    cur_b, cur_n = b, 0
                elif b > cur_b:
                    growth = (
                        None
                        if prev_n is None
                        else math.floor(cur_n / prev_n * 10000.0 + 0.5)
                        / 10000.0
                    )
                    rows.append((key[0], cur_b, cur_n, prev_n, growth))
                    prev_n = cur_n
                    cur_b, cur_n = b, 0
                cur_n += 1
        state.update((cur_b, cur_n, prev_n))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    type_col, "_bucket_us", "n", "prev_n", "growth"
                ],
            )

    return fn


def trending_stream(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """L30 streaming twin: per-type bucket counts with gap-aware growth,
    emitted as buckets CLOSE (a later-bucket arrival closes the current
    one) — three longs of state per type, where the batch form
    (`analytics.trending_counts`, oracled as `q_trending`) re-sorts
    history. Emitted rows equal the batch rows for every bucket except
    each type's final (still-open) one (batch-equivalence tested)."""
    tagged = events.select(F.col(type_col), F.col(ts_col))
    out_schema = StructType(
        [
            tagged.schema[type_col],
            StructField("_bucket_us", LongType()),
            StructField("n", LongType()),
            StructField("prev_n", LongType()),
            StructField("growth", DoubleType()),
        ]
    )
    out = tagged.groupBy(type_col).applyInPandasWithState(
        make_trending_fn(
            type_col=type_col, ts_col=ts_col, bucket_seconds=bucket_seconds
        ),
        outputStructType=out_schema,
        stateStructType=TRENDING_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.select(
        F.col(type_col).alias("type"),
        F.timestamp_micros(F.col("_bucket_us")).alias("bucket_start"),
        "n",
        "prev_n",
        "growth",
    )


MG_STATE_SCHEMA = StructType(
    [
        StructField("items", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)


def make_mg_fn(k: int = 8):
    """applyInPandasWithState body for the Misra-Gries heavy-hitter
    sketch (picklable closure). Per group the state is AT MOST k
    (item, counter) pairs plus the processed-row count: increment a
    tracked item, adopt the item into a free slot, or — the MG step —
    decrement EVERY counter when a new item arrives with all k slots
    live (dropping zeroed slots). Classic guarantees (Misra & Gries
    1982; public algorithm): any item with true frequency > n_seen/k
    is ALWAYS tracked, and each tracked counter undercounts its true
    frequency by at most n_seen/k. The batch-exact pairing is the plain
    count aggregate behind `corpus.top_ngrams` (J36) — this is the
    bounded-state streaming member of the sketch family beside KMV
    (distinct) and the binned quantile sketch."""

    def fn(key, pdfs, state):
        if state.exists:
            items, counts, n_seen = state.get
            counters = dict(zip(items, (int(c) for c in counts)))
            n_seen = int(n_seen)
        else:
            counters, n_seen = {}, 0
        for pdf in pdfs:
            for it in pdf["_item"]:
                if pd.isna(it):
                    # NULL items are ignored entirely (not counted in
                    # n_seen): a NULL key is not a frequent "item", and
                    # stringifying it would conflate it with a genuine
                    # 'None' string
                    continue
                it = str(it)
                n_seen += 1
                if it in counters:
                    counters[it] += 1
                elif len(counters) < k:
                    counters[it] = 1
                else:
                    # decrement-all: the arriving item and one unit of
                    # every tracked item cancel out
                    for t in list(counters):
                        counters[t] -= 1
                        if counters[t] == 0:
                            del counters[t]
        state.update((list(counters), [counters[t] for t in counters], n_seen))
        if counters:
            its = sorted(counters)
            yield pd.DataFrame(
                {
                    "group": [key[0]] * len(its),
                    "item": its,
                    "count_lb": [counters[t] for t in its],
                    "n_seen": [n_seen] * len(its),
                }
            )

    return fn


def heavy_hitters_stream(
    events: DataFrame,
    group_col: str = "event_type",
    item_col: str = "user_id",
    k: int = 8,
) -> DataFrame:
    """Misra-Gries streaming heavy hitters: running frequent-item
    candidates per group with at most k counters of state — where the
    exact batch count aggregate would keep every distinct item. Each
    micro-batch emits the surviving candidate set (count_lb is the MG
    lower-bound counter; true_count - n_seen/k <= count_lb <=
    true_count). Guarantee tested against exact batch counts on skewed
    data, plus checkpoint restart."""
    tagged = events.select(
        F.col(group_col).alias("_g"),
        F.col(item_col).cast("string").alias("_item"),
    )
    out_schema = StructType(
        [
            StructField("group", tagged.schema["_g"].dataType),
            StructField("item", StringType()),
            StructField("count_lb", LongType()),
            StructField("n_seen", LongType()),
        ]
    )
    return tagged.groupBy("_g").applyInPandasWithState(
        make_mg_fn(k=k),
        outputStructType=out_schema,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("has_prev", BooleanType()),
        StructField("prev_type", StringType()),
    ]
)


def make_transition_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
):
    """applyInPandasWithState body for the L20 streaming twin (picklable
    closure). Per key: rows process in (ts, id) order; each event past
    the key's first yields one (from_type, to_type) pair instance, but
    only pairs whose SUCCESSOR type is non-NULL are emitted — exactly
    the batch lead window's multiset (lead emits the pair at the
    predecessor and filters NULL lead; the carry emits at the successor).
    A NULL type still advances the carry (the next pair's from_type is
    NULL, never the string 'None'), which is why the state is
    (has_prev, prev_type) — prev_type alone can't distinguish 'no prior
    event' from 'prior event of NULL type'."""

    def fn(key, pdfs, state):
        has_prev, prev_type = state.get if state.exists else (False, None)
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            froms, tos = [], []
            for ty in pdf[type_col]:
                cur = None if pd.isna(ty) else str(ty)
                if has_prev and cur is not None:
                    froms.append(prev_type)
                    tos.append(cur)
                has_prev, prev_type = True, cur
            if froms:
                yield pd.DataFrame(
                    {
                        key_col: [key[0]] * len(froms),
                        "from_type": pd.Series(froms, dtype="object"),
                        "to_type": pd.Series(tos, dtype="object"),
                    }
                )
        state.update((has_prev, prev_type))

    return fn


def transitions_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """L20 streaming twin: live per-key event transitions with a single
    (has_prev, prev_type) carry cell — the batch lead window becomes
    the carry, the same O(1)-state shape as the gaps/rate twins. Downstream
    a streaming aggregate over (from_type, to_type) maintains the
    transition matrix; the emitted pair multiset equals the batch
    operator's on in-order replay (tested)."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(type_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("from_type", StringType()),
            StructField("to_type", StringType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_transition_fn(
            key_col=key_col, ts_col=ts_col, id_col=id_col, type_col=type_col
        ),
        outputStructType=out_schema,
        stateStructType=TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s_mu", LongType()),
        StructField("mx_mu", LongType()),
        StructField("n", LongType()),
        StructField("n_alarms", LongType()),
    ]
)


def make_cusum_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    target: float = 50.0,
    slack: float = 5.0,
    threshold: float = 300.0,
):
    """applyInPandasWithState body for the K15 streaming twin (picklable
    closure). Per key: rows process in (ts, id) order; the textbook
    clamped recurrence runs DIRECTLY on the carried statistic — the
    batch form's prefix-sum identity exists precisely because batch has
    no carry; streaming does, so four longs of state replace the two
    window passes. Deviations are the same exact int64 micro-units, so
    the running statistic bit-matches the batch operator's at every
    prefix. NULL/NaN measurements are skipped like the batch filter."""
    import math

    off_mu = int(round((target + slack) * 1_000_000))
    thr_mu = int(round(threshold * 1_000_000))

    def fn(key, pdfs, state):
        s_mu, mx_mu, n, n_alarms = state.get if state.exists else (0, 0, 0, 0)
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            for v in pdf[value_col]:
                if pd.isna(v):
                    continue
                d = math.floor(float(v) * 1_000_000 + 0.5) - off_mu
                s_mu = max(0, s_mu + d)
                mx_mu = max(mx_mu, s_mu)
                n += 1
                if s_mu > thr_mu:
                    n_alarms += 1
        state.update((s_mu, mx_mu, n, n_alarms))
        if n > 0:
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n": [n],
                    "final_cusum": [math.floor(s_mu / 1e6 * 10000 + 0.5) / 10000],
                    "max_cusum": [math.floor(mx_mu / 1e6 * 10000 + 0.5) / 10000],
                    "n_alarms": [n_alarms],
                }
            )

    return fn


def cusum_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    target: float = 50.0,
    slack: float = 5.0,
    threshold: float = 300.0,
) -> DataFrame:
    """K15 streaming twin: live per-key CUSUM drift alarming with FOUR
    longs of state (statistic, running max, count, alarm count) — the
    natural online form of the recurrence (this is what CUSUM was
    designed for); the batch closed form exists only to avoid a
    sequential fold. Final emission per key equals
    `sessions.cusum_per_key` over the replayed data (tested)."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(value_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("n", LongType()),
            StructField("final_cusum", DoubleType()),
            StructField("max_cusum", DoubleType()),
            StructField("n_alarms", LongType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_cusum_fn(
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            value_col=value_col,
            target=target,
            slack=slack,
            threshold=threshold,
        ),
        outputStructType=out_schema,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ALARM_STATE_SCHEMA = StructType(
    [
        StructField("run_open", BooleanType()),
        StructField("run_start_us", LongType()),
        StructField("run_last_us", LongType()),
        StructField("run_n", LongType()),
        StructField("run_peak", DoubleType()),
    ]
)


def make_alarm_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    threshold: float = 60.0,
    min_events: int = 3,
):
    """applyInPandasWithState body for the K17 streaming twin (picklable
    closure). Per key the state is ONE open-run cell (start, last, n,
    peak): an above-threshold event extends or opens the run, an
    at-or-below / NULL / NaN event CLOSES it — emitting the run iff it
    reached `min_events`. Only CLOSED runs emit (a live run may still
    grow), so the emitted set equals the batch operator's over the
    replayed stream minus each key's final still-open run — the test
    closes every run with a sentinel below-threshold event to assert
    exact equality."""
    import math

    def fn(key, pdfs, state):
        if state.exists:
            run_open, r_start, r_last, r_n, r_peak = state.get
        else:
            run_open, r_start, r_last, r_n, r_peak = False, 0, 0, 0, 0.0
        outs = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            # NaT guard (mirrors make_availability_fn): a NULL ts would
            # survive astype('int64') as INT64 min, emitting a bogus
            # negative run and poisoning the carried state.
            pdf = pdf[pdf[ts_col].notna()]
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            for t, v in zip(ts_us, pdf[value_col]):
                t = int(t)
                above = (not pd.isna(v)) and float(v) > threshold and not math.isnan(float(v))
                if above:
                    if run_open:
                        r_last, r_n = t, r_n + 1
                        r_peak = max(r_peak, float(v))
                    else:
                        run_open, r_start, r_last, r_n, r_peak = (
                            True, t, t, 1, float(v),
                        )
                elif run_open:
                    if r_n >= min_events:
                        outs.append((r_start, r_last, r_n, r_peak))
                    run_open, r_start, r_last, r_n, r_peak = False, 0, 0, 0, 0.0
        state.update((run_open, r_start, r_last, r_n, r_peak))
        if outs:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(outs),
                    "alarm_start": pd.Series(
                        [o[0] for o in outs], dtype="int64"
                    ).astype("datetime64[us]"),
                    "alarm_end": pd.Series(
                        [o[1] for o in outs], dtype="int64"
                    ).astype("datetime64[us]"),
                    "n_events": [o[2] for o in outs],
                    "peak_value": [o[3] for o in outs],
                }
            )

    return fn


def sustained_alarms_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    threshold: float = 60.0,
    min_events: int = 3,
) -> DataFrame:
    """K17 streaming twin: live debounced alarming with one open-run
    cell per key — the alerting form this operator exists for (page
    when the run CLOSES past min_events; a batch job can only page
    after the fact). Closed runs match `sessions.sustained_alarms` on
    the replayed stream (tested with a sentinel-closed tail)."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(value_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("alarm_start", TimestampType()),
            StructField("alarm_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("peak_value", DoubleType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_alarm_fn(
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            value_col=value_col,
            threshold=threshold,
            min_events=min_events,
        ),
        outputStructType=out_schema,
        stateStructType=ALARM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


STATE_DUR_STATE_SCHEMA = StructType(
    [
        StructField("prev_ts_us", LongType()),
        StructField("prev_state", StringType()),
    ]
)


def make_state_dur_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    state_col: str = "event_type",
):
    """applyInPandasWithState body for the K16 streaming twin (picklable
    closure). Per key: each event CLOSES the previous event's state
    interval (LOCF — a state holds until the next event) and opens its
    own; the carry is one (ts, state) cell. Emitted closed intervals
    aggregate downstream into the same (key, state) totals as the batch
    operator (its open final state never emits there either)."""

    def fn(key, pdfs, state):
        if state.exists:
            prev_ts, prev_state = state.get
        else:
            prev_ts = prev_state = None
        pdf = one_frame(pdfs)
        if pdf is not None:
            # NaT guard (mirrors make_availability_fn): NULL ts ->
            # INT64 min under astype('int64') would poison prev_ts for
            # every later batch; batch twin drops NULL-ts rows too.
            pdf = pdf[pdf[ts_col].notna()]
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            ts = pdf[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            states, durs = [], []
            for t, st in zip(ts_us, pdf[state_col]):
                t = int(t)
                if prev_ts is not None:
                    states.append(prev_state)
                    durs.append(t - prev_ts)
                prev_ts = t
                prev_state = None if pd.isna(st) else str(st)
            if states:
                yield pd.DataFrame(
                    {
                        key_col: [key[0]] * len(states),
                        "state": pd.Series(states, dtype="object"),
                        "dur_us": pd.Series(durs, dtype="int64"),
                    }
                )
        if prev_ts is not None:
            state.update((prev_ts, prev_state))

    return fn


def state_durations_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    state_col: str = "event_type",
) -> DataFrame:
    """K16 streaming twin: closed LOCF state intervals with one
    (ts, state) carry cell per key — aggregate the emissions by
    (key, state) and the totals equal `sessions.state_durations` over
    the replayed stream (tested)."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(state_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("state", StringType()),
            StructField("dur_us", LongType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_state_dur_fn(
            key_col=key_col, ts_col=ts_col, id_col=id_col, state_col=state_col
        ),
        outputStructType=out_schema,
        stateStructType=STATE_DUR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cms_sketch_stream(
    events: DataFrame,
    item_col: str = "event_type",
    depth: int = 4,
    width: int = 16,
) -> DataFrame:
    """Streaming Count-Min sketch build (J61 twin): the batch
    `sketches.cms_sketch` runs UNCHANGED on a streaming input — CMS is
    a pure additive groupBy over a key space bounded at depth*width by
    construction, so Spark's built-in incremental aggregation state IS
    the sketch (no custom applyInPandasWithState needed, unlike the
    unbounded-key Misra-Gries twin above). State: <= depth*width
    counter rows, forever, regardless of stream length or item
    cardinality — run it in `complete` (tiny result) or `update` mode
    with no watermark required. Mergeability (counters sum per
    (_r,_bucket)) is what makes the incremental maintenance exact:
    the final table equals the batch sketch of the full replay
    bit-for-bit (gated)."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import cms_sketch

    items = events.select(F.col(item_col).cast("string").alias("item"))
    return cms_sketch(items, depth=depth, width=width)


def hll_sketch_stream(
    events: DataFrame,
    group: str = "event_type",
    id_col: str = "event_id",
    p: int = 8,
) -> DataFrame:
    """Streaming HyperLogLog register build (J74 twin): the batch
    `sketches.hll_sketch` runs UNCHANGED on a streaming input — the
    register table is a MAX-aggregate over a key space bounded at
    groups x 2^p by construction, and max is order-free and idempotent,
    so Spark's built-in incremental aggregation state IS the sketch
    (the same no-custom-state argument as cms_sketch_stream, with max
    as the merge instead of sum). State: <= groups x 2^p register rows
    forever, regardless of stream length or id cardinality; run in
    `complete`/`update` mode, no watermark required. The final register
    table equals the batch sketch of the full replay bit-for-bit
    (gated), so `sketches.hll_estimate` over it IS the batch estimate."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import hll_sketch

    return hll_sketch(events, group, id_col, p=p)


TRAPEZOID_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("prev_ep", LongType()),
        StructField("prev_v", DoubleType()),
        StructField("cum_micro", LongType()),
    ]
)


def make_trapezoid_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
):
    """applyInPandasWithState body for the K19 streaming twin (picklable
    closure). Per key the carry cell is (n, prev_ep_us, prev_v,
    cum_micro): each non-NULL measurement adds
    floor((v+prev_v)/2*(ep-prev_ep)+0.5) to the int64 micro
    accumulator — the IDENTICAL one-floor-per-step pin as the batch
    operator (`sessions.trapezoid_integral`), so the running integral
    is exact over any processed prefix with no float drift to carry.
    NULL/NaN measurements skip entirely (they advance neither prev nor
    the sum — the batch form excludes them before the lag). NULL
    timestamps skip the same way (r7 ADVICE: pd.Timestamp(NaT).value
    is INT64_MIN, which would poison ep-prev_ep and the carried
    integral permanently, where the batch form's NULL-_ep rows
    contribute inc=0 — matching make_throttle_fn's guard)."""
    import math

    def fn(key, pdfs, state):
        n, prev_ep, prev_v, cum = (
            state.get if state.exists else (0, None, None, 0)
        )
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            for ts_v, v in zip(pdf[ts_col], pdf[value_col]):
                if pd.isna(v) or pd.isna(ts_v):
                    continue
                v = float(v)
                ep = int(pd.Timestamp(ts_v).value // 1000)
                if prev_ep is not None:
                    cum += int(
                        math.floor((v + prev_v) / 2.0 * float(ep - prev_ep) + 0.5)
                    )
                prev_ep, prev_v = ep, v
                n += 1
        state.update((n, prev_ep, prev_v, cum))
        if n > 0:
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "energy": [cum / 1_000_000.0],
                }
            )

    return fn


def trapezoid_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """K19 streaming twin: running per-key trapezoidal integral with an
    O(1) four-field carry cell — the production energy-meter path (the
    batch form re-sorts each key's history). Each micro-batch emits the
    running (n_events, energy); n_events is monotone, so max(n_events)
    marks the final row per key, which equals the batch operator's last
    per-key value over the replayed data (batch-equivalence tested).
    The int64 micro accumulator makes the carried state drift-free
    across any number of micro-batches and restarts."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(value_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("n_events", LongType()),
            StructField("energy", DoubleType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_trapezoid_fn(
            key_col=key_col, ts_col=ts_col, id_col=id_col, value_col=value_col
        ),
        outputStructType=out_schema,
        stateStructType=TRAPEZOID_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


THROTTLE_STATE_SCHEMA = StructType(
    [StructField("bucket", LongType()), StructField("n_in_bucket", LongType())]
)


def make_throttle_fn(
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    n_per_window: int = 2,
    window_seconds: int = 86400,
):
    """applyInPandasWithState body for the K24 streaming twin (picklable
    closure). Per key the carry cell is (current_bucket, count): rows
    process in (ts, id) order; a row in a NEWER bucket resets the
    count, a row in the current bucket increments it, and a LATE row
    (older bucket than the carried one) is conservatively DROPPED —
    counting it against a closed window could only re-admit traffic the
    batch form already rejected, and rate limiting must fail closed.
    Under in-order arrival (the replay contract shared by the K13/K18
    twins) the kept set equals the batch operator's exactly."""

    def fn(key, pdfs, state):
        bucket, n = state.get if state.exists else (None, 0)
        pdf = one_frame(pdfs)
        kept = []
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            for ts_v, ev_id in zip(pdf[ts_col], pdf[id_col]):
                if pd.isna(ts_v):
                    continue
                ep = int(pd.Timestamp(ts_v).value // 1000)
                b = ep // (window_seconds * 1_000_000)
                if bucket is None or b > bucket:
                    bucket, n = b, 0
                elif b < bucket:
                    continue  # late: fail closed
                if n < n_per_window:
                    n += 1
                    kept.append((ev_id, ts_v))
        state.update((bucket, n))
        if kept:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(kept),
                    id_col: [k[0] for k in kept],
                    ts_col: [k[1] for k in kept],
                }
            )

    return fn


def throttle_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    n_per_window: int = 2,
    window_seconds: int = 86400,
) -> DataFrame:
    """K24 streaming twin: per-key rate limiting with an O(1) two-field
    carry cell — the ingest-protection form that actually runs IN the
    ingest path (the batch form ranks after the fact). Emits exactly
    the admitted rows; late rows fail closed (docstring of the fn)."""
    tagged = events.select(F.col(key_col), F.col(ts_col), F.col(id_col))
    out_schema = StructType(
        [
            tagged.schema[key_col],
            tagged.schema[id_col],
            tagged.schema[ts_col],
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_throttle_fn(
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            n_per_window=n_per_window,
            window_seconds=window_seconds,
        ),
        outputStructType=out_schema,
        stateStructType=THROTTLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("max_level", LongType()),
        StructField("anchor_eps", ArrayType(LongType())),
        StructField("levels", ArrayType(LongType())),
        StructField("last_eps", ArrayType(LongType())),
    ]
)


def make_window_funnel_fn(
    stages: tuple[str, ...],
    window_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
):
    """applyInPandasWithState body for the L47 streaming twin (picklable
    closure). Per user the state is the ACTIVE anchor list — each
    first-stage event opens (anchor_ep, level, last_ep) — plus the
    max level any chain ever reached. Events process in (ts, id) order;
    a stage-k event advances every level-(k-1) anchor with
    last_ep < ep <= anchor_ep + window, which IS the batch greedy
    (events arrive ascending, so the first qualifying event per anchor
    is the earliest one). Anchors are pruned once the event time passes
    their window (no future event can advance them) or once they
    complete — state is bounded by the user's first-stage rate x the
    window, the interval-twin bound class. NULL timestamps skip (the
    batch form excludes them via unix_micros going NULL); late rows
    (below an anchor's last_ep) cannot advance it, matching batch
    strict-> semantics under the in-order replay contract shared by
    the K13/K18/K24 twins."""
    n_stages = len(stages)
    w_us = int(window_seconds) * 1_000_000

    def fn(key, pdfs, state):
        if state.exists:
            max_level, anchor_eps, levels, last_eps = state.get
            anchors = list(zip(anchor_eps, levels, last_eps))
        else:
            max_level, anchors = 0, []
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            for ts_v, t in zip(pdf[ts_col], pdf[type_col]):
                if pd.isna(ts_v):
                    continue
                ep = int(pd.Timestamp(ts_v).value // 1000)
                # expire anchors whose window closed before this event
                anchors = [a for a in anchors if a[0] + w_us >= ep]
                if t == stages[0]:
                    anchors.append((ep, 1, ep))
                    max_level = max(max_level, 1)
                for i, (a_ep, lvl, l_ep) in enumerate(anchors):
                    if (
                        lvl < n_stages
                        and t == stages[lvl]
                        and l_ep < ep <= a_ep + w_us
                    ):
                        anchors[i] = (a_ep, lvl + 1, ep)
                        max_level = max(max_level, lvl + 1)
                # completed chains carry no further information
                anchors = [a for a in anchors if a[1] < n_stages]
        state.update(
            (
                max_level,
                [a[0] for a in anchors],
                [a[1] for a in anchors],
                [a[2] for a in anchors],
            )
        )
        yield pd.DataFrame(
            {key_col: [key[0]], "max_level": [max_level],
             "n_active_anchors": [len(anchors)]}
        )

    return fn


def window_funnel_stream(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    window_seconds: int = 48 * 3600,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """L47 streaming twin: per-user max funnel level maintained
    incrementally (update mode — the newest row per user is current).
    Distinct-user level counts over the final rows equal the batch
    `analytics.window_funnel` on the same replay (gated); anchors in
    state are bounded by window x first-stage rate."""
    tagged = events.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), F.col(type_col)
    )
    out_schema = StructType(
        [
            tagged.schema[key_col],
            StructField("max_level", LongType()),
            StructField("n_active_anchors", LongType()),
        ]
    )
    return tagged.groupBy(key_col).applyInPandasWithState(
        make_window_funnel_fn(
            tuple(stages), window_seconds, key_col, ts_col, id_col, type_col
        ),
        outputStructType=out_schema,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bigram_counts_stream(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """J54/J80 twin: the corpus bigram count table maintained
    incrementally — the batch `corpus.bigram_counts` runs UNCHANGED on
    a streaming input because counts are additive (sum is the merge),
    the same no-custom-state argument as the CMS (sum) and HLL (max)
    twins. State is the observed-bigram key space: vocabulary-bounded,
    NOT stream-length-bounded (document corpora converge to a stable
    vocab; a truly unbounded token domain should maintain the J61 CMS
    instead — same report, fixed state). The final table equals the
    batch counts of the full replay bit-for-bit (gated), so J54's
    conditional probabilities and J80's PMI compute from it offline
    exactly as from a batch build."""
    from azure_iot_realtime_data_pipeline_spark.operators.corpus import (
        bigram_counts,
    )

    return bigram_counts(docs, text_col, id_col)
