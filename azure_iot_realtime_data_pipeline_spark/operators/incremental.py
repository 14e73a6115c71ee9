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

import os
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    The conversion to TimestampType happens after the filter.
    """
    from datetime import timezone

    from azure_iot_realtime_data_pipeline_spark.sources.batch import NANOS_TS_COLS

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # see sources/batch.py:load_table — read un-adjusted parquet
    # timestamps as TIMESTAMP (UTC session), not TIMESTAMP_NTZ, so the
    # pushed range predicate and the downstream plan see one type.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    wm = datetime.fromisoformat(watermark).replace(tzinfo=timezone.utc)
    if dict(df.dtypes).get(ts_col) == "bigint":
        wm_nanos = int(wm.timestamp()) * 1_000_000_000 + wm.microsecond * 1_000
        df = df.filter(F.col(ts_col) > F.lit(wm_nanos))
        for col in NANOS_TS_COLS.get(name, ()):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        return df
    return df.filter(F.col(ts_col) > F.lit(watermark).cast("timestamp"))


def offset_fetch(df: DataFrame, order_cols: list[str], offset: int, fetch: int) -> DataFrame:
    """ORDER BY ... OFFSET n ROWS FETCH NEXT m ROWS ONLY (A7/E4)."""
    return df.orderBy(*order_cols).offset(offset).limit(fetch)

