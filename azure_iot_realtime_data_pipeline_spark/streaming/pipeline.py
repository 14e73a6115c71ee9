"""Streaming pipeline topology: per-micro-batch scoring + multi-sink fan-out.

Reference semantics reproduced here:
- F4 multi-sink fan-out — ONE input stream feeds three sinks (bronze
  raw archive, Devices dimension, curated Telemetry) exactly like the
  three `SELECT ... INTO` of the ASA job
  (reference stream-analytics/iot-stream-analytics-query.sql:48-83).
  Bronze is the raw input (`SELECT * INTO bronze FROM input`,
  sql:49-50); Devices and Telemetry read the scored rows. Spark does NOT
  share scans across independent streaming queries, so the single-pass
  shape is one `foreachBatch` body (SURVEY.md §4).
- F1/F2 spike/dip scoring runs INSIDE that body with the batch operator
  (`operators/windows.py:spike_dip_score` over `trailing_window`), over
  the micro-batch's rows plus a retained tail of earlier rows — the
  declarative batch plan reused per micro-batch, so stream and batch
  scores agree by construction (reference sql:33-44).
- F3 event-time policy — rows older than the carried max event time
  minus 60 s (the reference's late-arrival tolerance,
  terraform/main-example.tf:133-136) reach bronze only and are counted.
  Spark's own watermark drops nothing here (there is no stateful
  operator), so the body applies the cut from its carried max. ASA's
  `Adjust` policy CLAMPS instead of dropping — see
  `streaming/windows_stream.py::adjust_clamp_stream`.
- F5 trigger cadence — the ASA job has no trigger: it emits
  continuously. The 10 s timer of the reference
  (PushTelemetryFunction.cs:20-23) is the SYNC worker's, modelled by the
  `http_sink.incremental_push` loop. `TRIGGER_INTERVAL` is therefore an
  engine policy: the shortest whole-second interval whose micro-batch
  still finishes inside it at the design rate on a quiet host. At small
  batches an event's freshness is about the wait for its trigger plus the
  batch's fixed cost, so the body keeps that cost down: the sink writes
  run concurrently and every batch is planned alike, so a stream's first
  batch compiles most of what the later ones reuse. Tests use
  `availableNow` for determinism.
- F7 dimension dedup — the Devices sink upserts first-write-wins per
  deviceId into a PK'd table (reference
  iot-stream-analytics-query.sql:53-61 + README.MD:159-165): batch-local
  first-value aggregate, then an anti-join against already-stored keys.
  On a transactional store this is a Delta/JDBC MERGE; the parquet form
  keeps the same semantics for the local stand.

The retained tail (the state of the scorer) is a parquet file set under
`<checkpoint>/tail/batch_id=<k>/`, committed by a `_carry.json` marker
that also holds the carried max event time. Batch k reads the tail of
batch k-1, so a replayed batch re-reads exactly the state it first saw;
the tail shares the checkpoint's lifecycle (a fresh checkpoint starts
with no history). It keeps the rows a later on-time row's window can
reach (event time >= max - late delay - window) and at most
85 of them per key (the reference's 85-event cap,
README.MD:152-154).

Scale notes: one persisted window pass per micro-batch feeds telemetry,
devices and the next tail; the carried max rides on the bronze write as
an `Observation` (no extra job). The dimension anti-join broadcasts the
stored key set; bronze/telemetry appends are partitioned parquet writes,
and the telemetry partitions are what the sync worker tails. At the
design rate, 100 events/s, a 2 s batch scores its ~200 new rows plus a
tail that fills to about 11k rows (120 s of rows, 85 per hot key) within
two minutes of a start. The bare writer on 4 cores then takes a median
0.9-1.2 s a batch, and a catch-up batch after a stop takes 0.9-1.4 s
for 60 s of backlog and 2.2 s for 300 s. Batches of 300, 10k and 100k
new rows (2 s of event time each, the tail holding up to six earlier
batches) take 1.3-1.6, 1.5-1.8 and 2.8-4.2 s.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from azure_iot_realtime_data_pipeline_spark.operators.eventtime import (
    LATE_TOLERANCE_SECONDS,
)
from azure_iot_realtime_data_pipeline_spark.operators.windows import (
    DEFAULT_HISTORY_SIZE,
    DEFAULT_WINDOW_SECONDS,
    first_value_per_key,
    latest_value_per_key,
    spike_dip_score,
    trailing_window,
    with_epoch_seconds,
)

WATERMARK_DELAY = f"{LATE_TOLERANCE_SECONDS} seconds"
#: F5 policy (module docstring): at 100 events/s on 4 cores a 2 s
#: micro-batch (200 rows) takes about 0.9-1.4 s on a quiet host, also
#: once the tail is full (about 11k rows). On a busy host (1-8% CPU
#: steal) it takes 1.2-2.2 s, so batches can start up to 0.8 s off
#: the 2 s grid, the first ones after a start most often; freshness
#: still beats the 3 s trigger's there
TRIGGER_INTERVAL = "2 seconds"

#: the scorer's retained rows: what a later row's window needs of them
TAIL_SCHEMA = "event_id long, ts timestamp, user_id long, value double"
_CARRY_FILE = "_carry.json"
_EMPTY_TAIL = "empty"
_MIN_LONG = -(2**63)


def curated_stream(events: DataFrame) -> DataFrame:
    """events stream -> the stream `run_multi_sink` consumes: the raw
    events, with the event-time column declared to Spark (its progress
    then reports `eventTime.watermark`).

    The curation of the `TelemetryWithAnoms` CTE (reference
    iot-stream-analytics-query.sql:8-46: project, score, flag) runs per
    micro-batch in `multi_sink_batch_writer`, because bronze must keep
    the raw rows and the scorer reuses the batch plan.
    """
    return events.withWatermark("ts", WATERMARK_DELAY)


def upsert_devices(batch: DataFrame, devices_dir: str) -> None:
    """First-write-wins upsert of device metadata (F7).

    New keys only: batch-local first-value dedup, anti-join against the
    stored dimension (an empty directory for a new dimension), append.
    The stored side stays small (one row per device), so the anti-join
    broadcasts.
    """
    devices = first_value_per_key(
        batch.select("deviceId", F.col("enqueuedTime").alias("firstSeen")),
        key="deviceId",
        ts_col="firstSeen",
    )
    # read even when empty, so every batch runs the same plan
    os.makedirs(devices_dir, exist_ok=True)
    existing = batch.sparkSession.read.schema(devices.schema).parquet(devices_dir)
    devices.join(F.broadcast(existing.select("deviceId")), "deviceId", "left_anti").write.mode(
        "append"
    ).parquet(devices_dir)


def upsert_devices_merge(batch: DataFrame, devices_table_dir: str) -> dict:
    """F7 with TRUE MERGE semantics — the Delta `WHEN MATCHED UPDATE`
    slot tracked as blocked since r3 (delta-spark absent from the
    image, pip-verified every round): latest-metadata-wins per device
    onto the manifest-committed table (sources/acid.py), whose atomic
    manifest rename is the commit protocol and whose footer-stats file
    skipping makes each micro-batch rewrite only the files its devices
    live in. Mirrors the reference's keyed upsert into the PK'd Devices
    table (reference iot-stream-analytics-query.sql:53-61;
    README.MD:159-165). Idempotent per batch content: re-merging the
    same rows yields the same table (last-write-wins on the same
    values), so foreachBatch retries after a crash are safe."""
    from azure_iot_realtime_data_pipeline_spark.sources.acid import merge_upsert

    devices = latest_value_per_key(
        batch.select("deviceId", F.col("enqueuedTime").alias("lastSeen")),
        key="deviceId",
        ts_col="lastSeen",
    )
    return merge_upsert(devices, devices_table_dir, key="deviceId")


def _write_batch_scoped(batch: DataFrame, batch_id: int, out_dir: str) -> None:
    """Idempotent parquet append: each micro-batch owns a `batch_id=`
    partition and replay OVERWRITES exactly that partition (dynamic
    partition-overwrite), so a batch replayed after a mid-fan-out crash
    rewrites its own files instead of appending duplicates."""
    (
        batch.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def _tail_path(tail_dir: str, batch_id: int) -> str:
    return os.path.join(tail_dir, f"batch_id={batch_id}")


def _read_tail(spark, tail_dir: str, batch_id: int) -> tuple[DataFrame, int | None]:
    """(rows, carried max event time in epoch µs) committed by `batch_id`.
    When that batch left no committed tail (a fresh stream) the rows come
    from an empty directory and the max is None: every batch reads its
    tail through the same plan."""
    path = _tail_path(tail_dir, batch_id)
    try:
        with open(os.path.join(path, _CARRY_FILE)) as fh:
            max_us = json.load(fh)["max_us"]
    except FileNotFoundError:
        path, max_us = os.path.join(tail_dir, _EMPTY_TAIL), None
        os.makedirs(path, exist_ok=True)
    return spark.read.schema(TAIL_SCHEMA).parquet(path), max_us


def _commit_tail(tail: DataFrame, tail_dir: str, batch_id: int, carry: dict) -> None:
    """Write this batch's tail, then its `_carry.json` marker (the commit
    point: a tail without one is never read), then drop the tails no
    replay can need any more (batch k-1 is committed while k runs)."""
    path = _tail_path(tail_dir, batch_id)
    tail.write.mode("overwrite").parquet(path)
    tmp = os.path.join(path, _CARRY_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(carry, fh)
    os.replace(tmp, os.path.join(path, _CARRY_FILE))
    for old in glob.glob(os.path.join(tail_dir, "batch_id=*")):
        if int(old.rsplit("=", 1)[1]) < batch_id - 1:
            shutil.rmtree(old, ignore_errors=True)


def _concurrently(spark: SparkSession, *calls: Callable[[], None]) -> None:
    """Run `calls` on threads of their own and return once all finished,
    raising the first call's error.

    Each thread starts with its own copy of the calling thread's Spark
    local properties — in a `foreachBatch` body, the streaming query's
    job group — so its jobs belong to the query and `query.stop()`
    cancels them. No thread outlives the call.
    """
    with ThreadPoolExecutor(len(calls)) as pool:
        # one wrapper per call: each copies the properties, and a copy
        # must not be shared, since a thread's SQL executions write to it
        futures = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
    for f in futures:
        f.result()


def multi_sink_batch_writer(
    bronze_dir: str,
    devices_dir: str,
    telemetry_dir: str,
    tail_dir: str,
    devices_mode: str = "anti_join",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body over the raw event stream (F1-F4, F7).

    Per micro-batch k:

    1. bronze <- the raw rows; an `Observation` on that write yields the
       batch's max event time and its far-late count;
    2. rows older than the carried max (through batch k-1) minus
       LATE_TOLERANCE_SECONDS are dropped (counted in the tail's
       `_carry.json`);
    3. the on-time rows, unioned with tail k-1, are scored in one
       persisted window pass: `spike_dip_score` over the 60 s
       `trailing_window(ts_sec, user_id)`;
    4. telemetry and devices take the new rows of that pass, and tail k
       its rows within window + late tolerance of the new max, at most
       DEFAULT_HISTORY_SIZE (85) per key.

    Write order: bronze, telemetry and devices are independent and are
    issued concurrently, each from its own thread; tail k follows once
    all three are done, since it needs bronze's `Observation`. The
    threads inherit the query's job group (so `query.stop()` cancels
    their jobs) and end before the body returns; an error in any write
    is raised after the others finished. A fresh stream reads an empty
    tail and a new dimension an empty directory, so every batch is
    planned alike (adaptive execution still drops the anti-join against
    an empty dimension at run time).

    Scores equal the batch operator's over the whole on-time stream for
    input where rows sharing an epoch second arrive in one micro-batch
    and no key holds more than 85 rows in any window.

    Exactly-once per sink under micro-batch replay: Structured Streaming
    re-runs a batch after a crash, so each sink must absorb the same
    (batch_id, rows) twice. Bronze/telemetry do it by batch-id-scoped
    dynamic partition overwrite, the tail by its batch-id-scoped commit
    marker (replay re-reads tail k-1 and rewrites tail k), and the
    Devices upsert is idempotent in both modes. On a transactional store
    the equivalent is Delta `MERGE` / txn-log `txnAppId+txnVersion`.

    `devices_mode` selects the A4/F7 dimension sink:

    - ``"anti_join"`` (default, reference-faithful): first-write-wins
      append to a plain parquet dir — replayed keys are already stored
      and anti-join away. Read with ``spark.read.parquet``.
    - ``"merge"``: TRUE keyed MERGE (WHEN MATCHED UPDATE lastSeen,
      insert new) onto the manifest-committed ACID table
      (:func:`upsert_devices_merge` over ``sources/acid.py``) — the
      Delta-MERGE semantics the reference's PK'd SQL table gets from
      its upsert, with optimistic-concurrency commits and file-skipping
      rewrites. Read with ``acid.read_table``; idempotent under replay
      because re-merging identical rows lands identical values.

    Layout migration note: sinks written by the pre-batch-id layout
    (loose part files at the root) cannot be mixed with the partitioned
    layout — point new streams at fresh sink directories (or move old
    files under a `batch_id=-1/` subdir) before upgrading.
    """
    if devices_mode not in ("anti_join", "merge"):
        raise ValueError(f"unknown devices_mode: {devices_mode!r}")
    late_us = LATE_TOLERANCE_SECONDS * 1_000_000
    keep_s = DEFAULT_WINDOW_SECONDS + LATE_TOLERANCE_SECONDS
    w = trailing_window("ts_sec", key="user_id", window_seconds=DEFAULT_WINDOW_SECONDS)
    is_anom, score = spike_dip_score(F.col("value"), w)
    # rows of the key at or after this row's second: the history cap as
    # a frame over the scoring window's own ordering (same sort, no
    # row_number pass)
    newer = F.count(F.lit(1)).over(
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        tail, carried_us = _read_tail(spark, tail_dir, batch_id - 1)
        # a fresh stream cuts at the smallest long: the same plan, no row late
        cut_us = _MIN_LONG if carried_us is None else carried_us - late_us
        late = F.unix_micros("ts") < F.lit(cut_us)
        obs = Observation()
        fresh = (
            batch.filter(~late & F.col("user_id").isNotNull())
            .select("event_id", "ts", "user_id", "value", F.lit(True).alias("_new"))
            .unionByName(tail.withColumn("_new", F.lit(False)))
        )
        scored = with_epoch_seconds(fresh, "ts").select(
            "*", score.alias("Score"), is_anom.alias("Anomaly"), newer.alias("_newer")
        )
        curated = scored.filter("_new").select(
            F.col("event_id").alias("telemetryId"),
            F.concat(F.lit("dev-"), F.col("user_id").cast("string")).alias("deviceId"),
            F.col("ts").alias("enqueuedTime"),
            "Score",
            "Anomaly",
        )

        def bronze() -> None:  # A3 bronze raw
            _write_batch_scoped(
                batch.observe(
                    obs,
                    F.max(F.unix_micros("ts")).alias("max_us"),
                    F.count(F.when(late, 1)).alias("late_rows"),
                ),
                batch_id,
                bronze_dir,
            )

        def devices() -> None:  # A4/F7 dimension
            if devices_mode == "merge":
                upsert_devices_merge(curated, devices_dir)
            else:
                upsert_devices(curated, devices_dir)

        # one source scan and one scoring pass: whichever write reaches a
        # partition first fills the cache, the others wait for its block
        batch.persist()
        scored.persist()
        try:
            _concurrently(
                spark,
                bronze,
                lambda: _write_batch_scoped(curated, batch_id, telemetry_dir),  # A5 fact
                devices,
            )
            stats = obs.get
            max_us = max((v for v in (carried_us, stats["max_us"]) if v is not None), default=None)
            keep = F.col("_newer") <= DEFAULT_HISTORY_SIZE
            if max_us is not None:
                keep = keep & (F.col("ts_sec") >= max_us // 1_000_000 - keep_s)
            _commit_tail(
                scored.filter(keep).select("event_id", "ts", "user_id", "value"),
                tail_dir,
                batch_id,
                {"max_us": max_us, "late_rows": stats["late_rows"]},
            )
        finally:
            scored.unpersist()
            batch.unpersist()

    return write


def run_multi_sink(
    curated: DataFrame,
    bronze_dir: str,
    devices_dir: str,
    telemetry_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    trigger_interval: str = TRIGGER_INTERVAL,
    devices_mode: str = "anti_join",
) -> StreamingQuery:
    """Start the fan-out over `curated_stream(events)`; the scorer's tail
    lives under `<checkpoint_dir>/tail`."""
    writer = curated.writeStream.foreachBatch(
        multi_sink_batch_writer(
            bronze_dir,
            devices_dir,
            telemetry_dir,
            os.path.join(checkpoint_dir, "tail"),
            devices_mode=devices_mode,
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
