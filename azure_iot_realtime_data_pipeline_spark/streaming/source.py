"""File-replay streaming source for the `events` table (operator A1).

The reference consumes a 4-partition Event Hub
(reference terraform/main-example.tf:108-118;
iot-stream-analytics-query.sql:2-5). The local analog replays the
driver's `events` parquet through Spark's file stream source: the table
is staged into N chronological files, and the tests' setting
`maxFilesPerTrigger=1` makes each file one micro-batch — a deterministic
stand-in for partitioned, time-ordered hub delivery. The benchmark's
fleet reads without a bound (`max_files_per_trigger=None`), so a backlog
is one batch. In production this module is the one swap point:
`readStream.format("kafka")` with the same downstream plan.

Schema is always explicit (streaming sources never infer), mirroring the
reference's schema-on-read-with-declared-shape policy (SURVEY.md §1.3).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table


def _bucket_col(order_expr: Column, lo: int, span: int, num_files: int) -> Column:
    """Shared replay-bucket rule: proportional split of `order_expr`
    over [lo, lo+span] into `num_files` buckets, last bucket capped.
    One definition — every stager below uses it, so none drifts on the
    bucket-edge arithmetic."""
    return F.least(
        F.lit(num_files - 1),
        ((order_expr - F.lit(lo)) * num_files / span).cast("int"),
    )


def _write_replay_file(df: DataFrame, out_dir: str, i: int) -> None:
    """Write one replay file and stamp its mtime to `now + i`: the file
    stream source orders files by modification time, so the stamp IS
    the replay order. Shared by all stagers (review r7)."""
    part_dir = os.path.join(out_dir, f"bucket={i:02d}")
    df.coalesce(1).write.mode("overwrite").parquet(part_dir)
    now = time.time()
    for root, _dirs, files in os.walk(part_dir):
        for fn in files:
            os.utime(os.path.join(root, fn), (now + i, now + i))


def stage_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    num_files: int = 4,
    arrival_order: bool = False,
) -> str:
    """Stage `events` as `num_files` parquet files, replayed in bucket order.

    By default files split on event-time buckets (never inside a second),
    so replay order == event-time order and rows sharing a timestamp land
    in one micro-batch — the precondition for causal parity with the
    batch RANGE-frame oracle (see anomaly.py).

    `arrival_order=True` splits on `event_id` instead (the arrival
    sequence — event_id encodes the order the pipeline received each
    event), so replay order == arrival order even where event TIME is out
    of order. That is the precondition for parity with the batch
    arrival-order operators (F3 adjust_clamp / drop_late, which run over
    `ORDER BY event_id`): the reference's out-of-order policy is defined
    over arrival order (reference terraform/main-example.tf:133-136), not
    event time.

    File mtimes are set in bucket order because the file source sorts by
    modification time.
    """
    ev = load_table(spark, sf_dir, "events")
    order = F.col("event_id") if arrival_order else F.unix_timestamp("ts")
    bounds = ev.agg(F.min(order).alias("lo"), F.max(order).alias("hi")).collect()[0]
    lo = int(bounds["lo"])
    span = max(int(bounds["hi"]) - lo, 1)
    staged = ev.withColumn("_bucket", _bucket_col(order, lo, span, num_files))
    os.makedirs(out_dir, exist_ok=True)
    for i in range(num_files):
        _write_replay_file(
            staged.filter(F.col("_bucket") == i).drop("_bucket"), out_dir, i
        )
    return out_dir


def replay_events(
    spark: SparkSession, replay_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """readStream over a staged replay dir; one file per micro-batch."""
    schema = spark.read.parquet(os.path.join(replay_dir, "bucket=00")).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("recursiveFileLookup", "true").parquet(replay_dir)


def stage_replay_dir_delayed_builds(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    num_files: int = 4,
    delayed_type: str = "purchase",
    nudge_type: str = "click",
) -> str:
    """Stage `events` chronologically but DELAY every `delayed_type` row
    one file behind its event-time bucket — the production out-of-order
    case where the build side of a stream-stream as-of runs a whole
    micro-batch late (e.g. the hub partition carrying purchases lags).

    File i holds bucket-i rows of every other type plus bucket-(i-1)
    rows of `delayed_type`, so within each micro-batch the delayed
    side's event times are up to a full bucket-span OLDER than the rest:
    exactly what `asof_stream` (immediate emission) gets wrong and
    `asof_stream_watermarked` must absorb, provided the watermark delay
    covers one bucket span.

    Two trailing files each hold one far-future `nudge_type` row per
    user (negative event_ids, NULL value): the first advances the
    event-time watermark past all real data, the second delivers
    per-key input so a NoTimeout stateful operator is invoked once more
    UNDER that watermark and flushes its buffer. The nudges' own event
    time stays above every watermark they ever see, so they are never
    emitted themselves.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
    ).collect()[0]
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(hi - lo, 1)
    staged = ev.withColumn(
        "_bucket", _bucket_col(F.unix_timestamp("ts"), lo, span, num_files)
    )
    far_future = hi + 2 * span
    nudges = (
        ev.select("user_id")
        .distinct()
        .select(
            (-F.col("user_id") - 1).alias("event_id"),
            F.timestamp_seconds(F.lit(far_future)).alias("ts"),
            "user_id",
            F.lit(nudge_type).alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .select(*ev.columns)
    )
    os.makedirs(out_dir, exist_ok=True)
    for i in range(num_files + 2):
        parts = []
        if i < num_files:
            parts.append(
                staged.filter(
                    (F.col("_bucket") == i) & (F.col("event_type") != delayed_type)
                ).drop("_bucket")
            )
        if 1 <= i <= num_files:
            parts.append(
                staged.filter(
                    (F.col("_bucket") == i - 1)
                    & (F.col("event_type") == delayed_type)
                ).drop("_bucket")
            )
        if i >= num_files:
            parts.append(nudges)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        _write_replay_file(df, out_dir, i)
    return out_dir


# ---------------------------------------------------------------------------
# A1 production bindings: Kafka / Event Hubs (Kafka surface)
# ---------------------------------------------------------------------------

#: explicit wire schema of one event payload — streaming sources never
#: infer (SURVEY.md §1.3), and the parser below must agree with the
#: replay source's parquet schema so every downstream plan is
#: source-agnostic (FIXTURES.md `events`).
EVENTS_WIRE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

#: producer/consumer-agreed timestamp wire format: MICROSECOND
#: precision (Spark's to_json default is milliseconds, which silently
#: truncates event time — a 1000x loss of ordering resolution the
#: round-trip gate below would catch). Producers with a different
#: format pass their own `json_options`.
EVENTS_WIRE_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def parse_event_payloads(
    raw: DataFrame,
    value_col: str = "value",
    include_meta: bool = False,
    json_options: dict | None = None,
) -> DataFrame:
    """Broker rows -> typed event rows: cast the payload bytes to
    string, `from_json` against the EXPLICIT wire schema, unwrap. Rows
    whose payload fails the schema surface as all-NULL structs — route
    them through `functions/normalize.py`'s quarantine split (A2b)
    rather than dropping silently. `include_meta=True` keeps the
    broker's (topic, partition, offset, timestamp) columns for
    provenance auditing.

    Shared by the Kafka and Event Hubs bindings and testable WITHOUT a
    broker: the transformation is identical on a batch frame with a
    binary/string `value` column (gated in tests/test_streaming_ingest).
    """
    parsed = raw.withColumn(
        "_ev",
        F.from_json(
            F.col(value_col).cast("string"),
            EVENTS_WIRE_SCHEMA,
            json_options or {"timestampFormat": EVENTS_WIRE_TS_FORMAT},
        ),
    )
    cols = [F.col("_ev." + c).alias(c) for c in (
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )]
    if include_meta:
        cols += [
            F.col(c)
            for c in ("topic", "partition", "offset", "timestamp")
            if c in raw.columns
        ]
    return parsed.select(*cols)


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    extra_options: dict | None = None,
    include_meta: bool = False,
    json_options: dict | None = None,
) -> DataFrame:
    """A1 production binding: `readStream.format("kafka")` -> the same
    typed event frame the file-replay source yields, so the entire
    downstream topology (curated_stream, multi-sink fan-out, anomaly
    twins) is source-agnostic — swap THIS call for `replay_events` and
    nothing else changes (reference consumes a 4-partition hub,
    terraform/main-example.tf:108-118).

    `maxOffsetsPerTrigger` is the production backpressure dial (the
    replay source's `maxFilesPerTrigger` analog). Requires the
    spark-sql-kafka connector on the JVM classpath
    (`--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>`);
    absent from this sandbox, so construction raises a RuntimeError
    naming the package — the binding itself is real and gated, not a
    stub (tests pin the failure mode and the parser semantics).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option(
            "maxOffsetsPerTrigger", str(int(max_offsets_per_trigger))
        )
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:  # noqa: BLE001 - inspect, rebrand ONLY jar absence
        msg = str(e)
        if not (
            "Failed to find data source" in msg
            or "ClassNotFoundException" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
        ):
            raise  # real config/broker error: let the actual cause surface
        raise RuntimeError(
            "kafka streaming source unavailable: the spark-sql-kafka "
            "connector jar is not on the JVM classpath (add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via spark.jars."
            "packages). The downstream plan is source-agnostic — use "
            "replay_events for a broker-less run."
        ) from e
    return parse_event_payloads(
        raw, include_meta=include_meta, json_options=json_options
    )


def eventhubs_events_stream(
    spark: SparkSession,
    namespace: str,
    event_hub: str,
    connection_string: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    include_meta: bool = False,
) -> DataFrame:
    """A1 with the reference's actual broker: Azure Event Hubs exposes
    a public Kafka-protocol endpoint (`<namespace>.servicebus.windows.
    net:9093`, SASL_SSL/PLAIN with username `$ConnectionString` — the
    documented Kafka-surface contract), so the binding is the Kafka
    one plus auth options; the hub name is the topic
    (reference terraform/main-example.tf:108-118 provisions hub
    `iot-telemetry`, 4 partitions). Same sandbox gate as
    `kafka_events_stream`.
    """
    jaas = (
        "org.apache.kafka.common.security.plain.PlainLoginModule required "
        f'username="$ConnectionString" password="{connection_string}";'
    )
    return kafka_events_stream(
        spark,
        bootstrap_servers=f"{namespace}.servicebus.windows.net:9093",
        topic=event_hub,
        starting_offsets=starting_offsets,
        max_offsets_per_trigger=max_offsets_per_trigger,
        extra_options={
            "kafka.security.protocol": "SASL_SSL",
            "kafka.sasl.mechanism": "PLAIN",
            "kafka.sasl.jaas.config": jaas,
        },
        include_meta=include_meta,
    )
