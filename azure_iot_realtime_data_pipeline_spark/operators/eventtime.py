"""Event-time policy operators (F3, batch form).

The reference job runs with `events_out_of_order_policy = "Adjust"`,
30 s reorder buffer and 60 s late-arrival tolerance
(reference terraform/main-example.tf:133-136): an out-of-order event's
timestamp is CLAMPED forward to the stream's high-water mark, and events
later than the tolerance are dropped. The streaming fan-out applies the
drop half per micro-batch against its carried max event time
(streaming/pipeline.py:multi_sink_batch_writer);
the clamp half is a projection Spark doesn't ship — expressed here as a
running-max window so both halves are batch-testable against a SQL
oracle.

Scale notes: both operators are a single window over (key, arrival
order) — one shuffle on the key, no global sort. The reference's policy
is per-stream; partitioning by device key is the scale-out choice and
matches how a partitioned hub applies the policy per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LATE_TOLERANCE_SECONDS = 60


def adjust_clamp(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    order_col: str = "event_id",
) -> DataFrame:
    """ASA `Adjust` policy: clamp each event's timestamp forward to the
    running per-key maximum in arrival order. In-order events pass
    through; out-of-order events get the high-water mark."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("adjusted_ts", F.max(F.col(ts_col)).over(w))


def eventtime_policy(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    order_col: str = "event_id",
    tolerance_seconds: int = LATE_TOLERANCE_SECONDS,
) -> DataFrame:
    """The reference's COMBINED configured policy as one operator
    (reference terraform/main-example.tf:133-136): events later than
    `tolerance_seconds` behind the running per-key high-water mark are
    DROPPED (late-arrival tolerance), surviving out-of-order events are
    CLAMPED forward to the mark (`Adjust`). Equivalent to
    `adjust_clamp(drop_late(df))` but sharing ONE window sort — the
    drop predicate and the clamp read the same running max, so the
    composed form's second window (and its second shuffle-order sort)
    is folded away.

    Note the high-water mark is computed over ALL events in arrival
    order — including the ones the tolerance then drops — matching a
    stream processor, where the mark advances on receipt, before the
    late check."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the running max of ts IS the clamp target (an in-order row equals
    # its own mark); the µs twin of the same max drives the drop
    # predicate — both ride one window sort
    return (
        df.withColumn("adjusted_ts", F.max(F.col(ts_col)).over(w))
        .withColumn("_hwm_us", F.max(F.unix_micros(F.col(ts_col))).over(w))
        .filter(
            F.unix_micros(F.col(ts_col))
            >= F.col("_hwm_us") - F.lit(tolerance_seconds * 1_000_000)
        )
        .drop("_hwm_us")
    )


def drop_late(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    order_col: str = "event_id",
    tolerance_seconds: int = LATE_TOLERANCE_SECONDS,
) -> DataFrame:
    """Late-arrival tolerance: drop events more than `tolerance_seconds`
    behind the running per-key high-water mark at their arrival point —
    the batch analog of the streaming watermark discard."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hwm = F.max(F.unix_timestamp(F.col(ts_col))).over(w)
    return (
        df.withColumn("_hwm", hwm)
        .filter(F.unix_timestamp(F.col(ts_col)) >= F.col("_hwm") - tolerance_seconds)
        .drop("_hwm")
    )
