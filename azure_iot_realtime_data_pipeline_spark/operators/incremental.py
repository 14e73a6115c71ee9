"""Incremental (high-watermark) consumption + pagination (A6/A7/E4/F6).

The reference's .NET worker tails the Telemetry table:

    SELECT ... FROM Telemetry
    WHERE enqueuedTime > @lastProcessedTime ORDER BY enqueuedTime ASC
    (reference azure-function/PushTelemetryFunction.cs:108-116)

with the watermark persisted in Table Storage and advanced ONLY after a
successful sink write (cs:142-146) — at-least-once delivery with a
monotone watermark. Initial load paginates with OFFSET/FETCH
(cs:219-229). The streaming sync worker's state cell lives in
`streaming/http_sink.py`.

Scale notes: the watermark filter is a pushed-down range predicate — on
a date-partitioned table Catalyst prunes partitions, so the tail read
touches only new files. Global ORDER BY + OFFSET is inherently a
single-ordering operation (same in the reference); it exists for parity
and for bounded pages, not as a 100 TB access path.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.sources.batch import _read_table, _to_micros


def incremental_tail(df: DataFrame, ts_col: str, watermark: str | datetime) -> DataFrame:
    """Rows strictly newer than the watermark (A6/F6).

    Prefer `incremental_tail_scan` when reading the driver's nano-stamped
    parquet: filtering the already-converted timestamp column sits above
    the conversion expression, so the range predicate can NOT reach the
    parquet scan. This form is for inputs whose stored type is already a
    timestamp (then Catalyst pushes it natively).
    """
    return df.filter(F.col(ts_col) > F.lit(watermark).cast("timestamp"))


def incremental_tail_scan(
    spark, sf_dir: str, name: str, ts_col: str, watermark: str
) -> DataFrame:
    """Pushdown form of the tail read: filter in the STORED domain.

    The driver's tables stamp event time as parquet TIMESTAMP(NANOS),
    which Spark reads as int64 nanoseconds. Comparing the converted
    timestamp column hides the predicate behind the conversion
    expression (scan shows only IsNotNull); comparing the raw int64
    against the watermark-in-nanos pushes a plain bigint range predicate
    into the scan — parquet row-group stats skip old data entirely, the
    100 TB difference between reading nothing and reading everything.
    The read is `load_table`'s (same confs, same schema memo) and the
    conversion to TimestampType, `load_table`'s too, happens after the
    filter.
    """
    df = _read_table(spark, sf_dir, name)
    if dict(df.dtypes).get(ts_col) == "bigint":
        wm = datetime.fromisoformat(watermark).replace(tzinfo=timezone.utc)
        wm_nanos = int(wm.timestamp()) * 1_000_000_000 + wm.microsecond * 1_000
        df = df.filter(F.col(ts_col) > F.lit(wm_nanos))
    else:
        df = incremental_tail(df, ts_col, watermark)
    return _to_micros(df, name)


def offset_fetch(df: DataFrame, order_cols: list[str], offset: int, fetch: int) -> DataFrame:
    """ORDER BY ... OFFSET n ROWS FETCH NEXT m ROWS ONLY (A7/E4)."""
    return df.orderBy(*order_cols).offset(offset).limit(fetch)

