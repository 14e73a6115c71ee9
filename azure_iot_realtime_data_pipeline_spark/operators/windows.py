"""Trailing event-time windows + spike/dip anomaly scoring (F1/F2, batch form).

The reference applies ASA's `AnomalyDetection_SpikeAndDip(value, 95, 85,
'spikesanddips') OVER (LIMIT DURATION(second, 60))` to battery, barometer
and accel-magnitude (reference
stream-analytics/iot-stream-analytics-query.sql:33-44). ASA's detector is
an unpublished adaptive ML kernel; per SURVEY.md §7 we define a
deterministic stand-in with the same *interface*: a z-score over the
trailing event-time window, returning struct(IsAnomaly, Score).

Scale notes:
- The reference window has NO PARTITION BY — global state — which is a
  single-task cliff at 100 TB. The default here partitions by device key
  (linear scale-out); ``key=None`` reproduces the reference-faithful
  global window and documents the cost.
- Batch form is a Catalyst RANGE window frame (sort within partition, no
  extra shuffle beyond the partitionBy exchange). The streaming pipeline
  runs this same operator per micro-batch over a retained tail
  (streaming/pipeline.py:multi_sink_batch_writer).
- The frame key is floor(epoch seconds) so batch Spark, DuckDB oracles,
  and the streaming deque all agree on window membership.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.functions.rounding import round_half_up

#: reference params: confidence 95, history<=85 events, 60 s window
#: (iot-stream-analytics-query.sql:33-44). z>3 ~ two-sided 99.7%; the
#: stand-in pins the threshold rather than modeling ASA's confidence.
DEFAULT_WINDOW_SECONDS = 60
DEFAULT_HISTORY_SIZE = 85
DEFAULT_Z_THRESHOLD = 3.0


def trailing_window(
    ts_sec_col: str,
    key: str | None,
    window_seconds: int = DEFAULT_WINDOW_SECONDS,
) -> WindowSpec:
    """RANGE frame [t - window_seconds, t] over integral epoch seconds."""
    base = Window.partitionBy(key) if key is not None else Window.partitionBy()
    return base.orderBy(ts_sec_col).rangeBetween(-window_seconds, Window.currentRow)


def with_epoch_seconds(df: DataFrame, ts_col: str, out_col: str = "ts_sec") -> DataFrame:
    return df.withColumn(out_col, F.unix_timestamp(F.col(ts_col)))


def windowed_moments(value: Column, w: WindowSpec) -> tuple[Column, Column, Column]:
    """(n, mean, stddev_samp) over the frame, bit-deterministic.

    Sums run as exact DECIMAL (order-independent — window aggregation
    order is engine/plan dependent, so float sums are not reproducible),
    then the moments derive from the exact sums in fixed double
    arithmetic: mean = s1/n, var = (s2 - s1*mean)/(n-1).
    """
    dec = value.cast("decimal(18,2)")
    # Count the CAST column, not the raw value: a cast that overflows
    # decimal(18,2) (|v| >= 10^16) nulls out under non-ANSI mode and is
    # skipped by the sums — n must see exactly the rows the sums see or
    # mean/variance silently skew with no error.
    n = F.count(dec).over(w)
    s1 = F.sum(dec).over(w).cast("double")
    s2 = F.sum(dec * dec).over(w).cast("double")
    mean = s1 / n
    var = F.greatest((s2 - s1 * mean) / (n - 1), F.lit(0.0))
    return n, mean, F.sqrt(var)


#: relative degenerate-window threshold, applied in the STDDEV domain:
#: a window is flat when sd <= |mean| * 1e-6. Rationale: the
#: decimal-exact sums convert to double before the
#: var = (s2 - s1*mean)/(n-1) cancellation, leaving a rounding residual
#: of at most ~1e-15 * mean^2 (sd ~ 3e-8 * |mean|) on a truly flat
#: window (n<=85), while the smallest REAL variance that 2-decimal-
#: quantized values can express is ~(0.01)^2/n (sd >= ~1e-3/sqrt(n)).
#: 1e-6 sits orders clear of both, so a flat line never divides by its
#: own rounding noise (found by the hypothesis flat-line property at
#: value=0.375) and no distinguishable window reads as flat. Same
#: constant in the streaming scorer and the SQL oracle — the three
#: implementations must agree bit-for-bit.
DEGENERATE_REL_SD = 1e-6


def spike_dip_score(
    value: Column,
    w: WindowSpec,
    z_threshold: float = DEFAULT_Z_THRESHOLD,
) -> tuple[Column, Column]:
    """Deterministic spike/dip stand-in: (is_anomaly 0/1, score).

    score = (x - mean_window) / stddev_window, 0.0 when the window is
    degenerate: a single point, or variance at rounding-noise scale
    relative to mean^2 (the flat-line property of SURVEY.md §5 — see
    DEGENERATE_REL_VAR). The flag uses the 4-decimal-rounded score so
    batch/oracle/streaming agree at the threshold boundary.
    """
    n, mean, sd = windowed_moments(value, w)
    degenerate = (n <= 1) | (sd <= F.abs(mean) * DEGENERATE_REL_SD)
    raw = F.when(degenerate, F.lit(0.0)).otherwise((value - mean) / sd)
    score = round_half_up(raw)
    is_anomaly = (F.abs(score) > z_threshold).cast("int")
    return is_anomaly, score


def _extreme_row_per_key(
    df: DataFrame, key: str, ts_col: str, tiebreak: str | None, newest: bool
) -> DataFrame:
    """One row per key by (ts, tiebreak) order — as an AGGREGATE, not a
    window. max/min over a struct whose leading fields are the ordering
    key partial-combines map-side, so a key holding half the corpus (a
    dashboard metric key has single-digit cardinality at 100 TB) costs
    one partial row per task — a row_number window would sort that
    key's ENTIRE partition in one task. The tiebreak makes the struct
    order total, so the result is deterministic and identical to the
    old window form (oracle-verified). Without a tiebreak the remaining
    columns order the struct, which is total over distinct rows."""
    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    rest = [c for c in df.columns if c not in (key, *order)]
    packed = F.struct(*[F.col(c) for c in order + rest])
    best = F.max(packed) if newest else F.min(packed)
    agg = df.groupBy(key).agg(best.alias("_row"))
    return agg.select(
        F.col(key), *[F.col(f"_row.{c}") for c in df.columns if c != key]
    ).select(*df.columns)


def latest_value_per_key(
    df: DataFrame, key: str, ts_col: str, tiebreak: str | None = None
) -> DataFrame:
    """E5 dashboard 'current value' cards: newest row per key
    (struct-max aggregate; see `_extreme_row_per_key` for why this is
    not a window)."""
    return _extreme_row_per_key(df, key, ts_col, tiebreak, newest=True)


def first_value_per_key(
    df: DataFrame, key: str, ts_col: str, tiebreak: str | None = None
) -> DataFrame:
    """F7 dimension dedup: first-write-wins per key (the PK'd Devices sink,
    reference iot-stream-analytics-query.sql:53-61 + README.MD:161).
    Struct-min aggregate — map-side combine even for hot keys."""
    return _extreme_row_per_key(df, key, ts_col, tiebreak, newest=False)
