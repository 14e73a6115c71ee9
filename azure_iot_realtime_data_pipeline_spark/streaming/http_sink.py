"""Chunked, paced HTTP row sink + commit-order sync cell.

Reproduces the reference .NET sync worker's serve path
(reference azure-function/PushTelemetryFunction.cs):

- A8  HTTP push of a JSON array of flat rows, <=500 rows per POST,
      abort on non-2xx (cs:402-425; batch size cs:192-195)
- F8  200 ms pacing between POSTs during backfill (cs:264)
- A9  single state cell: the last pushed micro-batch id of the
      telemetry sink; when absent, the tick reads every committed batch
      but only rows from now-1h on (the reference's default lookback,
      cs:280-308)
- F6  incremental consumption by COMMIT order: a tick lists the sink's
      `batch_id=` partitions above the cell, reads only those, pushes
      their rows ordered by event time and advances the cell ONLY after
      a fully successful push (cs:100-157, gate at 142-146) —
      at-least-once delivery with a monotone cell. The reference tails
      by event time (`enqueuedTime > @last`); the stream commits in
      batch order, so a row that is on time but out of order lands in a
      later batch with an older timestamp, and only a commit-order cell
      still delivers it. A tick with no new partition lists one
      directory and launches no Spark job.
- F9  initial-load mode: every committed batch, no lookback (cs:37-86).

The sink must be `batch_id=`-partitioned, as `streaming/pipeline.py`
writes it; partitions appear whole (Spark renames a batch's partition
into place at job commit), in batch order.

The poster is injected (any callable `(json_rows: list[str]) -> None`
that raises on failure), so tests use an in-memory collector and
production wires `requests.post`. Rows serialize via `to_json(struct)`
JVM-side; only the final string rows cross to the driver, in order,
through `toLocalIterator` (one partition in memory at a time). The
single-endpoint POST loop is inherently driver-side — same shape as the
reference's single worker; a fan-out sink would use foreachPartition
with per-executor sessions.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BATCH_SIZE = 500
PACE_SECONDS = 0.2
DEFAULT_LOOKBACK = timedelta(hours=1)
_PARTITION = "batch_id="

Poster = Callable[[list[str]], None]


class CollectingPoster:
    """Test double: records every chunk; optionally fails the first
    `fail_times` POSTs (to exercise the at-least-once contract)."""

    def __init__(self, fail_times: int = 0) -> None:
        self.chunks: list[list[str]] = []
        self.calls = 0
        self.fail_times = fail_times

    def __call__(self, rows: list[str]) -> None:
        self.calls += 1
        if self.calls <= self.fail_times:
            raise ConnectionError(f"simulated POST failure #{self.calls}")
        self.chunks.append(rows)

    @property
    def rows(self) -> list[str]:
        return [r for c in self.chunks for r in c]


def push_rows(
    df: DataFrame,
    poster: Poster,
    batch_size: int = BATCH_SIZE,
    pace_seconds: float = PACE_SECONDS,
) -> int:
    """Serialize rows JVM-side and POST in paced chunks; raises on the
    first failed chunk (delivered prefix stays delivered — the reference
    has the same at-least-once gap, cs:140-157)."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("j"))
    sent = 0
    chunk: list[str] = []
    for row in out.toLocalIterator():
        chunk.append(row["j"])
        if len(chunk) >= batch_size:
            if sent:
                time.sleep(pace_seconds)
            poster(chunk)
            sent += len(chunk)
            chunk = []
    if chunk:
        if sent:
            time.sleep(pace_seconds)
        poster(chunk)
        sent += len(chunk)
    return sent


def read_cell(state_path: str) -> int | None:
    """A9: the single state cell — the last pushed batch id, or None
    when absent (a new sync worker)."""
    try:
        with open(state_path) as fh:
            return json.load(fh)["last_batch_id"]
    except FileNotFoundError:
        return None


def write_cell(state_path: str, batch_id: int) -> None:
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"last_batch_id": batch_id}, fh)
    os.replace(tmp, state_path)


def committed_batches(sink_dir: str, above: int | None = None) -> list[int]:
    """Batch ids of the sink's `batch_id=<k>` partitions above `above`,
    ascending; a directory listing, no Spark job."""
    try:
        names = os.listdir(sink_dir)
    except FileNotFoundError:
        return []
    ids = sorted(int(n[len(_PARTITION):]) for n in names if n.startswith(_PARTITION))
    return [k for k in ids if above is None or k > above]


def incremental_push(
    spark: SparkSession,
    telemetry_dir: str,
    state_path: str,
    poster: Poster,
    ts_col: str = "enqueuedTime",
    initial_load: bool = False,
    now: datetime | None = None,
    batch_size: int = BATCH_SIZE,
    pace_seconds: float = PACE_SECONDS,
) -> int:
    """One sync tick (F6/F9): list new batches -> push -> commit the cell.

    Returns rows pushed; 0 when no batch committed since the last push
    (then no Spark job runs). The cell advances to the highest batch id
    read only after every chunk succeeded; a mid-push failure leaves it
    untouched, so the next tick redelivers (at-least-once). Without a
    cell the tick reads every batch but pushes rows from now-1h on;
    `initial_load=True` is the F9 backfill: every batch, no lookback
    (cs:270-274).
    """
    last = None if initial_load else read_cell(state_path)
    batches = committed_batches(telemetry_dir, above=last)
    if not batches:
        return 0
    df = spark.read.option("basePath", telemetry_dir).parquet(
        *(os.path.join(telemetry_dir, f"{_PARTITION}{k}") for k in batches)
    )
    if last is None and not initial_load:
        start = (now or datetime.now(timezone.utc)) - DEFAULT_LOOKBACK
        df = df.filter(F.col(ts_col) > F.lit(start))
    sent = push_rows(
        df.orderBy(F.col(ts_col).asc()), poster, batch_size=batch_size, pace_seconds=pace_seconds
    )
    write_cell(state_path, batches[-1])
    return sent
