"""Streaming K-op bindings (K1-K3, streaming form): bit-parity with the
batch oracle-checked results across micro-batch boundaries.

Each test replays the staged events stream (multiple micro-batches) in
`complete` output mode into a collecting sink and compares the final
emission against the batch form on the same data — the same
batch<->streaming equivalence contract the F2 anomaly operator tests
(test_streaming.py::test_streaming_anomaly_matches_batch_oracle).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.plans.queries import (
    q_hopping_agg,
    q_tumbling_agg,
)
from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table
from azure_iot_realtime_data_pipeline_spark.streaming import anomaly
from azure_iot_realtime_data_pipeline_spark.streaming import windows_stream as ws
from azure_iot_realtime_data_pipeline_spark.streaming.source import (
    replay_events,
    stage_replay_dir,
)
from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
    hopping_stream,
    session_stream,
    tumbling_stream,
)


@pytest.fixture(scope="module")
def replay_dir(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("replay_kops"))
    return stage_replay_dir(spark, sf_smoke, out, num_files=4)


def _run_complete(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive


def _as_set(df, cols):
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def test_tumbling_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    _run_complete(
        tumbling_stream(replay_events(spark, replay_dir), watermark=None),
        tmp_path,
        "tumbling",
    )
    got = spark.sql("select * from tumbling")
    want = q_tumbling_agg(spark, sf_smoke)
    cols = ["event_type", "window_start", "n", "sum_value"]
    assert _as_set(got, cols) == _as_set(want, cols)


def test_hopping_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    _run_complete(
        hopping_stream(replay_events(spark, replay_dir), watermark=None),
        tmp_path,
        "hopping",
    )
    got = spark.sql("select * from hopping")
    want = q_hopping_agg(spark, sf_smoke)
    cols = ["event_type", "window_start", "n", "sum_value"]
    assert _as_set(got, cols) == _as_set(want, cols)


def test_session_stream_matches_batch_session_window(
    spark, sf_smoke, replay_dir, tmp_path
):
    _run_complete(
        session_stream(replay_events(spark, replay_dir), watermark=None),
        tmp_path,
        "sessions",
    )
    got = spark.sql("select * from sessions")
    want = session_stream(load_table(spark, sf_smoke, "events"), watermark=None)
    cols = ["user_id", "session_start", "session_end_ts", "n_events"]
    assert _as_set(got, cols) == _as_set(want, cols)
    # sanity: sessions actually merged events (not one session per row)
    assert got.agg(F.max("n_events")).collect()[0][0] > 1


def test_session_stream_append_mode_with_watermark(spark, replay_dir, tmp_path):
    """Production shape: append mode + watermark runs and emits only
    closed sessions (every emitted session is final)."""
    stream = session_stream(replay_events(spark, replay_dir), watermark="60 seconds")
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_append")
        .option("checkpointLocation", str(tmp_path / "ckpt_append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.sql("select * from sessions_append")
    # the staged replay files are already in Spark's native timestamp
    # domain (written by stage_replay_dir), so a plain read is the batch
    # view of exactly what was streamed
    final = session_stream(spark.read.parquet(replay_dir), watermark=None)
    # every appended row must be one of the final sessions
    cols = ["user_id", "session_start", "session_end_ts", "n_events"]
    assert _as_set(emitted, cols) <= _as_set(final, cols)


def test_interval_join_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K7 stream-stream range join == the batch bucketized interval join
    on the same data (inner join emits every true match once)."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_interval_join
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        interval_join_stream,
    )

    stream = replay_events(spark, replay_dir)
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    q = (
        interval_join_stream(clicks, purchases)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from ij")
    want = q_interval_join(spark, sf_smoke)
    cols = ["user_id", "event_id", "ts", "event_id_b", "ts_b", "value_b"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() > 0


def test_asof_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K4 streaming twin: the stateful per-key carry == the batch
    union+carry merge-asof, across micro-batch boundaries (state cell
    survives between batches; in-order replay)."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_asof_join
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        asof_stream,
    )

    q = (
        asof_stream(replay_events(spark, replay_dir), watermark=None)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asof")
        .option("checkpointLocation", str(tmp_path / "ckpt_asof"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from asof")
    want = q_asof_join(spark, sf_smoke)
    cols = ["event_id", "user_id", "ts", "asof_purchase_value"]
    assert _as_set(got, cols) == _as_set(want, cols)
    # every probe row emitted exactly once, and real carries exist
    assert got.count() == want.count() > 0
    assert got.filter(F.col("asof_purchase_value").isNotNull()).count() > 0


def test_gaps_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """L3 streaming twin: the single-long-per-key carry == the batch lag
    window, across micro-batch boundaries (NULL first-event gaps
    included)."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_event_gaps
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        event_gaps_stream,
    )

    q = (
        event_gaps_stream(replay_events(spark, replay_dir), watermark=None)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gaps")
        .option("checkpointLocation", str(tmp_path / "ckpt_gaps"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from gaps")
    want = q_event_gaps(spark, sf_smoke)
    cols = ["event_id", "user_id", "gap_us"]
    assert _as_set(got, cols) == _as_set(want, cols)
    # every event emitted exactly once; first-per-key gaps are NULL
    assert got.count() == want.count() > 0
    assert got.filter(F.col("gap_us").isNull()).count() == want.filter(
        F.col("gap_us").isNull()
    ).count() > 0


def test_gaps_stream_nondefault_columns(spark, sf_smoke, replay_dir, tmp_path):
    """Regression: event_gaps_stream with renamed key/ts/id columns must
    run end-to-end (the fn and output schema are derived from the
    parameters; they used to hardcode user_id/ts/event_id and KeyError
    at runtime)."""
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        event_gaps_stream,
    )

    renamed = (
        replay_events(spark, replay_dir)
        .withColumnRenamed("user_id", "device")
        .withColumnRenamed("ts", "when_seen")
        .withColumnRenamed("event_id", "msg_id")
    )
    q = (
        event_gaps_stream(
            renamed, key_col="device", ts_col="when_seen", id_col="msg_id",
            watermark=None,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gaps_renamed")
        .option("checkpointLocation", str(tmp_path / "ckpt_gaps_r"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from gaps_renamed")
    assert got.columns == ["msg_id", "device", "when_seen", "gap_us"]
    n_events = load_table(spark, sf_smoke, "events").count()
    assert got.count() == n_events > 0


def test_kmv_stream_final_estimate_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """J30 streaming twin: the bounded k-longs-per-group sketch state,
    merged across micro-batches, lands on EXACTLY the batch operator's
    estimate (same portable hashes, same estimator arithmetic)."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        kmv_distinct,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        kmv_stream,
    )

    # k=8 < the ~15 distinct users per event type at sf0.001, so the
    # ESTIMATOR branch fires (k=64 would leave it dead here: every
    # group would take the exact-count branch and the final-emission
    # ordering below would never be load-bearing)
    q = (
        kmv_stream(replay_events(spark, replay_dir), k=8)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("kmv")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # one emission per (group, micro-batch); the LAST per group is the
    # full-stream sketch — n_kept is monotone, so max(n_kept) marks it.
    # Below k the estimate at equal n_kept is identical (exact count);
    # AT n_kept == k the k-th min hash only shrinks as more ids arrive,
    # so the estimate is NON-DECREASING across micro-batches and the
    # final sketch carries the MAX estimate — hence distinct_est DESC
    # (ascending would pick the EARLIEST full-k sketch, not the last)
    got = spark.sql(
        """
        SELECT event_type, n_kept, distinct_est FROM (
          SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY n_kept DESC, distinct_est DESC
          ) AS rn FROM kmv
        ) WHERE rn = 1
        """
    )
    want = kmv_distinct(
        load_table(spark, sf_smoke, "events"), "event_type", "user_id", k=8
    )
    cols = ["event_type", "n_kept", "distinct_est"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_dedup_stream_suppresses_redeliveries(spark, sf_smoke, tmp_path):
    """J1 streaming: a source that re-delivers every event (duplicated
    replay files) yields exactly the distinct event set."""
    import os
    import time as _time

    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        dedup_stream,
    )

    # stage a replay dir where every file is written TWICE (dup delivery);
    # deterministic filter, NOT limit() — an unordered limit can pick a
    # different row subset on each of the two executions
    src = load_table(spark, sf_smoke, "events").filter(F.col("event_id") < 500)
    dup_dir = str(tmp_path / "dup_replay")
    os.makedirs(dup_dir)
    for i in range(2):
        src.coalesce(1).write.mode("overwrite").parquet(f"{dup_dir}/copy={i}")
        now = _time.time()
        for root, _dirs, files in os.walk(f"{dup_dir}/copy={i}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (now + i, now + i))
    schema = spark.read.parquet(f"{dup_dir}/copy=0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(dup_dir)
    )
    q = (
        dedup_stream(stream, ["event_id"], watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select event_id from dedup_stream")
    assert got.count() == 500
    assert got.distinct().count() == 500


def test_qsketch_stream_final_estimates_match_batch(spark, sf_smoke, replay_dir, tmp_path):
    """L8 streaming twin: n_bins longs of state per group, merged across
    micro-batches, land on EXACTLY the batch operator's fixed-range
    estimates (same bucket arithmetic, same upper-edge estimator)."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        quantile_sketch,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        quantile_sketch_stream,
    )

    lo, width, n_bins = 0.0, 4.0, 256
    q = (
        quantile_sketch_stream(
            replay_events(spark, replay_dir), lo=lo, width=width, n_bins=n_bins
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qsketch")
        .option("checkpointLocation", str(tmp_path / "ckpt_qs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # one emission per (group, q, micro-batch); n_seen strictly grows, so
    # max n_seen marks the full-stream sketch
    got = spark.sql(
        """
        SELECT event_type, q, p_est FROM (
          SELECT *, row_number() OVER (
            PARTITION BY event_type, q ORDER BY n_seen DESC
          ) AS rn FROM qsketch
        ) WHERE rn = 1
        """
    )
    want = quantile_sketch(
        load_table(spark, sf_smoke, "events"),
        "event_type",
        "value",
        n_bins=n_bins,
        fixed_range=(lo, lo + width * n_bins),
    )
    cols = ["event_type", "q", "p_est"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() == 15  # 5 types x 3 quantiles


def test_qsketch_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the L8 sketch state: process the first
    half of the stream, STOP the query, restart from the same
    checkpoint over the full directory — the second run must resume the
    per-group bucket counts (not recount from zero) and the final
    estimates must equal the batch fixed-range operator over ALL
    events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        quantile_sketch,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        quantile_sketch_stream,
    )

    lo, width, n_bins = 0.0, 4.0, 256
    # staged replay buckets are chronological; copy the first two in,
    # run, then add the rest and resume from the same checkpoint
    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_qs_restart")

    emissions: list[tuple] = []

    def run_once():
        # memory sink cannot recover from a checkpoint; foreachBatch can
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append(
                    (r["event_type"], r["q"], r["p_est"], r["n_seen"])
                )

        q = (
            quantile_sketch_stream(
                replay_events(spark, half_dir), lo=lo, width=width, n_bins=n_bins
            )
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    n_after_half = max(e[3] for e in emissions)
    first_run_len = len(emissions)
    assert n_after_half > 0 and first_run_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    # the restart processed only the NEW buckets, with n_seen continuing
    # from the checkpointed state, never restarting at zero
    second = emissions[first_run_len:]
    assert second and min(e[3] for e in second) > n_after_half // 2
    assert max(e[3] for e in second) > n_after_half
    final = {}
    for etype, q_, est, n in emissions:
        if (etype, q_) not in final or n > final[(etype, q_)][1]:
            final[(etype, q_)] = (est, n)
    got = {(etype, q_, est) for (etype, q_), (est, _n) in final.items()}
    want = {
        (r["event_type"], r["q"], r["p_est"])
        for r in quantile_sketch(
            load_table(spark, sf_smoke, "events"),
            "event_type",
            "value",
            n_bins=n_bins,
            fixed_range=(lo, lo + width * n_bins),
        ).collect()
    }
    assert got == want


def test_latest_value_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """E5 streaming twin: running struct-max per key == the batch
    latest_value query after the full replay."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_latest_value
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        latest_value_stream,
    )

    _run_complete(
        latest_value_stream(replay_events(spark, replay_dir)),
        tmp_path,
        "latest",
    )
    got = spark.sql("select * from latest")
    want = q_latest_value(spark, sf_smoke)
    cols = ["event_type", "latest_value", "latest_ts"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_kmv_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the J30 sketch state: half the
    stream, stop, resume from the same checkpoint over the full
    directory — the kept-hash set must carry over and the final
    estimate must equal the batch operator over ALL events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        kmv_distinct,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        kmv_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_kmv")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_kmv_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append((r["event_type"], r["n_kept"], r["distinct_est"]))

        q = (
            kmv_stream(replay_events(spark, half_dir), k=8)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    # final sketch per group: max n_kept, then max estimate (the
    # estimate is non-decreasing once n_kept reaches k)
    final = {}
    for etype, n_kept, est in emissions:
        cur = final.get(etype)
        if cur is None or (n_kept, est) > cur:
            final[etype] = (n_kept, est)
    got = {(e, nk, est) for e, (nk, est) in final.items()}
    want = {
        (r["event_type"], r["n_kept"], r["distinct_est"])
        for r in kmv_distinct(
            load_table(spark, sf_smoke, "events"), "event_type", "user_id", k=8
        ).collect()
    }
    assert got == want


class _FakeGroupState:
    """Minimal GroupState double for unit-testing stateful closures."""

    def __init__(self, watermark_ms=None):
        self._v = None
        self._watermark_ms = watermark_ms

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def getCurrentWatermarkMs(self):
        return self._watermark_ms


def test_qsketch_fn_negative_estimate_rounds_half_up_like_batch():
    """ADVICE r4: the streaming qsketch rounded with int(x*1e4+0.5)/1e4,
    which truncates toward ZERO — for a fixed_range with negative lo the
    estimate diverged from the batch operator's floor-based
    round_half_up. lo=-10, width=1, one value in bucket 0 puts the p50
    estimate at exactly -9.0; the int() form yielded -8.9999."""
    import pandas as pd

    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        make_qsketch_fn,
    )

    fn = make_qsketch_fn(lo=-10.0, width=1.0, n_bins=4, quantiles=(0.5,))
    state = _FakeGroupState()
    out = list(fn(("t",), [pd.DataFrame({"value": [-9.5]})], state))
    assert len(out) == 1
    assert out[0]["p_est"].iloc[0] == -9.0


def test_adjust_clamp_stream_matches_batch(spark, sf_smoke, tmp_path):
    """F3 streaming clamp (r4 verdict item): the stateful
    running-high-watermark clamp must equal the batch/oracled
    q_adjust_clamp row-for-row across micro-batch boundaries, on an
    ARRIVAL-ordered replay (event_id buckets — the policy is defined
    over arrival order, and the ts-bucketed replay dir would reorder
    the out-of-order events the clamp exists to fix)."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_adjust_clamp
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        adjust_clamp_stream,
    )

    replay = stage_replay_dir(
        spark, sf_smoke, str(tmp_path / "replay_arrival"), num_files=4, arrival_order=True
    )
    q = (
        adjust_clamp_stream(replay_events(spark, replay), watermark=None)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("clamp")
        .option("checkpointLocation", str(tmp_path / "ckpt_clamp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from clamp")
    want = q_adjust_clamp(spark, sf_smoke)
    cols = ["event_id", "user_id", "adjusted_ts"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0
    # adjusted_ts never moves backward (the driver testdata is in-order
    # per key, so the clamp passes everything through here; the
    # out-of-order firing path is pinned by the synthetic test below)
    assert got.filter(F.col("adjusted_ts") < F.col("ts")).count() == 0


def test_adjust_clamp_stream_clamps_out_of_order_across_batches(spark, tmp_path):
    """The Adjust semantics proper, on injected out-of-order data the
    driver testdata lacks: an event whose ts regresses is clamped
    FORWARD to its key's running high-watermark — including when the
    regression arrives in a LATER micro-batch (state carry), and
    including a regression below Spark's would-be watermark (the row
    survives: Adjust keeps what a watermark would drop). Matches the
    batch operator on the same frame."""
    import datetime as dt
    import os
    import time as time_mod

    from azure_iot_realtime_data_pipeline_spark.operators.eventtime import (
        adjust_clamp,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        adjust_clamp_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # arrival order (event_id): u1 goes forward, back (clamp), forward;
    # u2's batch-2 event regresses 300s behind its batch-1 watermark
    batch1 = [(1, 100, ts(0)), (2, 100, ts(60)), (3, 200, ts(500))]
    batch2 = [
        (4, 100, ts(30)),   # out-of-order WITHIN u1's carry -> clamp to 60
        (5, 100, ts(90)),   # in-order again
        (6, 200, ts(200)),  # 300s late vs u2's hwm -> clamp to 500, NOT dropped
    ]
    schema = "event_id long, user_id long, ts timestamp"
    replay = tmp_path / "ooo_replay"
    for i, rows in enumerate((batch1, batch2)):
        part = str(replay / f"bucket={i:02d}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        now = time_mod.time()
        for root, _dirs, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn), (now + i, now + i))
    q = (
        adjust_clamp_stream(replay_events(spark, str(replay)), watermark=None)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("clamp_ooo")
        .option("checkpointLocation", str(tmp_path / "ckpt_clamp_ooo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.event_id: r.adjusted_ts for r in spark.sql("select * from clamp_ooo").collect()}
    batch_df = spark.createDataFrame(batch1 + batch2, schema)
    want = {r.event_id: r.adjusted_ts for r in adjust_clamp(batch_df).collect()}
    assert got == want
    assert got[4] == ts(60)   # clamped forward across the batch boundary
    assert got[6] == ts(500)  # late row kept and clamped, not dropped
    assert got[5] == ts(90)   # in-order rows pass through untouched


def test_eventtime_policy_stream_matches_batch_and_drops_late(spark, tmp_path):
    """F3 combined policy streaming twin: events beyond the tolerance
    are DROPPED (not clamped), surviving out-of-order events are
    clamped — equal to the batch `eventtime_policy` on the same frame,
    with the drop landing across a micro-batch boundary."""
    import datetime as dt
    import os
    import time as time_mod

    from azure_iot_realtime_data_pipeline_spark.operators.eventtime import (
        eventtime_policy,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        eventtime_policy_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    batch1 = [(1, 100, ts(0)), (2, 100, ts(60)), (3, 200, ts(500))]
    batch2 = [
        (4, 100, ts(30)),   # 30s behind hwm 60 -> inside tolerance, clamped
        (5, 100, ts(90)),   # in-order
        (6, 200, ts(200)),  # 300s behind u2's hwm 500 -> DROPPED
        (7, 200, ts(460)),  # 40s behind -> clamped to 500
    ]
    schema = "event_id long, user_id long, ts timestamp"
    replay = tmp_path / "policy_replay"
    for i, rows in enumerate((batch1, batch2)):
        part = str(replay / f"bucket={i:02d}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        now = time_mod.time()
        for root, _dirs, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn), (now + i, now + i))
    q = (
        eventtime_policy_stream(
            replay_events(spark, str(replay)), tolerance_seconds=60
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("policy_ooo")
        .option("checkpointLocation", str(tmp_path / "ckpt_policy"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r.event_id: r.adjusted_ts
        for r in spark.sql("select * from policy_ooo").collect()
    }
    batch_df = spark.createDataFrame(batch1 + batch2, schema)
    want = {
        r.event_id: r.adjusted_ts
        for r in eventtime_policy(batch_df, tolerance_seconds=60).collect()
    }
    assert got == want
    assert 6 not in got          # beyond tolerance: dropped
    assert got[4] == ts(60)      # inside tolerance: clamped
    assert got[7] == ts(500)     # inside tolerance: clamped
    assert got[5] == ts(90)      # in-order: untouched


def test_eventtime_policy_stream_matches_batch_on_replay(
    spark, sf_smoke, tmp_path
):
    """Replay parity for the combined policy on the driver testdata
    (in-order per key -> nothing drops, everything passes through;
    the firing paths are pinned by the synthetic test above)."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import (
        q_eventtime_policy,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        eventtime_policy_stream,
    )

    replay = stage_replay_dir(
        spark, sf_smoke, str(tmp_path / "replay_policy"), num_files=4, arrival_order=True
    )
    q = (
        eventtime_policy_stream(replay_events(spark, replay))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("policy_replay")
        .option("checkpointLocation", str(tmp_path / "ckpt_policy_r"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from policy_replay")
    want = q_eventtime_policy(spark, sf_smoke)
    cols = ["event_id", "user_id", "adjusted_ts"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_adjust_clamp_state_survives_restart(spark, tmp_path):
    """Crash/restart contract for the F3 clamp state: process the first
    micro-batch, stop, resume from the same checkpoint with new files —
    the carried high-watermark must clamp an out-of-order event that
    arrives only AFTER the restart."""
    import datetime as dt
    import os
    import time as time_mod

    from azure_iot_realtime_data_pipeline_spark.operators.eventtime import (
        adjust_clamp,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        adjust_clamp_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    batch1 = [(1, 100, ts(0)), (2, 100, ts(120))]
    batch2 = [(3, 100, ts(60))]  # out-of-order vs the PRE-restart hwm 120
    schema = "event_id long, user_id long, ts timestamp"
    replay = tmp_path / "clamp_restart_replay"
    ckpt = str(tmp_path / "ckpt_clamp_restart")
    got: dict[int, object] = {}

    def write_bucket(i, rows):
        part = str(replay / f"bucket={i:02d}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        now = time_mod.time()
        for root, _dirs, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn), (now + i, now + i))

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                got[r["event_id"]] = r["adjusted_ts"]

        q = (
            adjust_clamp_stream(replay_events(spark, str(replay)), watermark=None)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write_bucket(0, batch1)
    run_once()
    assert got == {1: ts(0), 2: ts(120)}
    write_bucket(1, batch2)
    run_once()
    assert got[3] == ts(120)  # clamped by the RESTORED watermark
    batch_df = spark.createDataFrame(batch1 + batch2, schema)
    want = {r.event_id: r.adjusted_ts for r in adjust_clamp(batch_df).collect()}
    assert got == want


def test_twa_stream_final_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K9 streaming twin: the five-longs-per-key carry cell, folded
    across micro-batches, lands exactly on the batch operator's
    (n_obs, span_us, twa_value) per key — same cents*us integer
    accumulation, same floor-rounded final division."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        time_weighted_avg,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        twa_stream,
    )

    q = (
        twa_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("twa")
        .option("checkpointLocation", str(tmp_path / "ckpt_twa"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # one emission per (key, micro-batch); n_obs is strictly increasing
    # across a key's emissions (a batch without rows for the key emits
    # nothing), so max(n_obs) marks the full-stream row
    got = spark.sql(
        """
        SELECT user_id, n_obs, span_us, twa_value FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n_obs DESC
          ) AS rn FROM twa
        ) WHERE rn = 1
        """
    )
    want = time_weighted_avg(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
    )
    cols = ["user_id", "n_obs", "span_us", "twa_value"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_twa_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the K9 carry cell: half the stream,
    stop, resume from the same checkpoint over the full directory — the
    (first_ts, prev_ts, prev_cents, wsum, n) state must carry over and
    the final running TWA must equal the batch operator over ALL
    events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        time_weighted_avg,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        twa_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_twa")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_twa_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append(
                    (r["user_id"], r["n_obs"], r["span_us"], r["twa_value"])
                )

        q = (
            twa_stream(replay_events(spark, half_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    # final row per key: max n_obs (strictly increasing per emission)
    final = {}
    for uid, n, span, twa in emissions:
        cur = final.get(uid)
        if cur is None or n > cur[0]:
            final[uid] = (n, span, twa)
    got = {(u, n, s, t) for u, (n, s, t) in final.items()}
    want = {
        (r["user_id"], r["n_obs"], r["span_us"], r["twa_value"])
        for r in time_weighted_avg(
            load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
        ).collect()
    }
    assert got == want


def test_ohlc_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """L9 streaming twin: complete-mode OHLC candles over the replayed
    stream equal the batch struct-min/max aggregate bit-for-bit
    (F.window's bucket start is epoch-aligned like the batch
    arithmetic bucket)."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        ohlc_downsample,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        ohlc_stream,
    )

    got = _run_complete(
        ohlc_stream(replay_events(spark, replay_dir), watermark=None),
        tmp_path,
        "ohlc",
    )
    want = ohlc_downsample(
        load_table(spark, sf_smoke, "events"), "event_type", "ts", "value",
        "event_id", 86400,
    )
    cols = ["event_type", "bucket_start", "open", "high", "low", "close", "n"]
    assert _as_set(spark.sql("SELECT * FROM ohlc"), cols) == _as_set(want, cols)


def test_rate_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K11 streaming twin: per-row rates across micro-batch boundaries
    equal the batch lag-window operator (same counter-reset rule, same
    floor-rounded arithmetic)."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        rate_of_change,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        rate_of_change_stream,
    )

    q = (
        rate_of_change_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rate")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT event_id, user_id, ts, rate_per_sec FROM rate")
    want = rate_of_change(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
    )
    cols = ["event_id", "user_id", "ts", "rate_per_sec"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_twa_fn_negative_and_all_null_match_batch(spark):
    """The review-found divergences, pinned: a NEGATIVE measurement
    weights correctly (no sentinel conflation) and an all-NULL key
    emits NULL (not 0.0) — both checked against the batch operator on
    the same rows."""
    import datetime as dtm

    import pandas as pd

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        time_weighted_avg,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        make_twa_fn,
    )

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        ("a", 1, t0, -5.0),
        ("a", 2, t0 + dtm.timedelta(seconds=10), 5.0),
        ("b", 3, t0, None),
        ("b", 4, t0 + dtm.timedelta(seconds=10), None),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id int, ts timestamp, value double"
    )
    want = {
        r.user_id: (r.n_obs, r.span_us, r.twa_value)
        for r in time_weighted_avg(df, "user_id", "ts", "value", "event_id").collect()
    }

    fn = make_twa_fn()
    got = {}
    for key in ("a", "b"):
        state = _FakeGroupState()
        pdf = pd.DataFrame(
            [
                {"user_id": k, "event_id": e, "ts": ts, "value": v}
                for (k, e, ts, v) in rows
                if k == key
            ]
        )
        out = next(fn((key,), iter([pdf]), state))
        got[key] = (
            int(out["n_obs"][0]),
            int(out["span_us"][0]),
            None if out["twa_value"][0] is None else float(out["twa_value"][0]),
        )
    assert got == want
    assert want["a"][2] == -5.0 and want["b"][2] is None


def test_enrich_stream_matches_batch_join(spark, sf_smoke, replay_dir, tmp_path):
    """Stream-static broadcast enrichment: the streamed fact rows carry
    the same dimension attributes as the batch broadcast join, and
    unmatched keys survive with NULLs (left semantics)."""
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        enrich_stream,
    )

    cust = load_table(spark, sf_smoke, "customer")
    q = (
        enrich_stream(replay_events(spark, replay_dir), cust)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT event_id, user_id, c_name, c_mktsegment FROM enriched")
    ev = load_table(spark, sf_smoke, "events")
    d = cust.select("c_custkey", "c_name", "c_mktsegment")
    want = ev.join(
        F.broadcast(d), ev["user_id"] == d["c_custkey"], "left"
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    cols = ["event_id", "user_id", "c_name", "c_mktsegment"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == ev.count()


def test_ewma_stream_final_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K13 streaming twin: the (count, unrounded level) carry cell,
    folded across micro-batches in (ts, id) order, lands exactly on the
    batch fold's (n_events, ewma) per key — identical IEEE double
    recurrence, rounding applied only at emission."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import ewma_per_key
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        ewma_stream,
    )

    q = (
        ewma_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma")
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        """
        SELECT user_id, n_events, ewma FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n_events DESC
          ) AS rn FROM ewma
        ) WHERE rn = 1
        """
    )
    want = ewma_per_key(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
    )
    cols = ["user_id", "n_events", "ewma"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_ewma_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the K13 carry cell: half the stream,
    stop, resume from the same checkpoint over the full directory — the
    carried (n, level) must continue the recurrence so the final
    running EWMA equals the batch fold over ALL events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import ewma_per_key
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        ewma_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_ewma")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_ewma_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append((r["user_id"], r["n_events"], r["ewma"]))

        q = (
            ewma_stream(replay_events(spark, half_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    final = {}
    for uid, n, level in emissions:
        cur = final.get(uid)
        if cur is None or n > cur[0]:
            final[uid] = (n, level)
    got = {(u, n, e) for u, (n, e) in final.items()}
    want = {
        (r["user_id"], r["n_events"], r["ewma"])
        for r in ewma_per_key(
            load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
        ).collect()
    }
    assert got == want


def test_holt_stream_final_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K18 streaming twin: the (count, level, trend) carry cell, folded
    across micro-batches in (ts, id) order, lands exactly on the batch
    struct fold's (n_events, level, trend, forecast) per key —
    identical IEEE double recurrence, rounding only at emission."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import holt_per_key
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        holt_stream,
    )

    q = (
        holt_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("holt")
        .option("checkpointLocation", str(tmp_path / "ckpt_holt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        """
        SELECT user_id, n_events, level, trend, forecast FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n_events DESC
          ) AS rn FROM holt
        ) WHERE rn = 1
        """
    )
    want = holt_per_key(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
    )
    cols = ["user_id", "n_events", "level", "trend", "forecast"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_holt_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the K18 carry cell: half the stream,
    stop, resume from the same checkpoint over the full directory — the
    carried (n, level, trend) must continue the recurrence so the final
    running pair equals the batch fold over ALL events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import holt_per_key
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        holt_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_holt")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_holt_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append(
                    (r["user_id"], r["n_events"], r["level"], r["trend"])
                )

        q = (
            holt_stream(replay_events(spark, half_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    final = {}
    for uid, n, level, trend in emissions:
        cur = final.get(uid)
        if cur is None or n > cur[0]:
            final[uid] = (n, level, trend)
    got = {(u, n, l, b) for u, (n, l, b) in final.items()}
    want = {
        (r["user_id"], r["n_events"], r["level"], r["trend"])
        for r in holt_per_key(
            load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
        ).collect()
    }
    assert got == want


def test_availability_stream_final_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K21 streaming twin: the four-long carry cell's final emission per
    key equals the batch availability report over the replayed data —
    identical integer-microsecond gap accounting."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        availability_per_key,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        availability_stream,
    )

    q = (
        availability_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("avail")
        .option("checkpointLocation", str(tmp_path / "ckpt_avail"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        """
        SELECT user_id, n_events, span_seconds, downtime_seconds,
               availability FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n_events DESC
          ) AS rn FROM avail
        ) WHERE rn = 1
        """
    )
    want = availability_per_key(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "event_id", 21600
    )
    cols = [
        "user_id", "n_events", "span_seconds", "downtime_seconds",
        "availability",
    ]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_availability_fn_skips_nat_timestamps():
    """Review regression: a NULL/NaT timestamp must be SKIPPED by the
    K21 carry fn (the batch form drops NULL ts) — without the guard the
    int64 cast turns NaT into INT64 min and poisons first/last/down."""
    import pandas as pd

    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        make_availability_fn,
    )

    fn = make_availability_fn(offline_gap_seconds=21600)
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", None, "2024-01-01 12:00:00"]
            ),
            "event_id": [1, 2, 3],
        }
    )
    st = _FakeGroupState()
    out = list(fn((1,), iter([pdf]), st))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["n_events"] == 2
    assert row["span_seconds"] == 12 * 3600.0
    assert row["downtime_seconds"] == 12 * 3600.0  # one 12-h gap > 6 h


def test_state_dur_and_alarm_fns_skip_nat_timestamps():
    """ADVICE r5: make_state_dur_fn / make_alarm_fn must drop NULL-ts
    rows like make_availability_fn (and the batch twins) do — without
    the guard astype('int64') turns NaT into INT64 min, emitting a
    hugely negative duration and poisoning the carried prev_ts."""
    import pandas as pd

    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        make_alarm_fn,
        make_state_dur_fn,
    )

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", None, "2024-01-01 01:00:00"]
            ),
            "event_id": [1, 2, 3],
            "event_type": ["a", "b", "c"],
            "value": [99.0, 99.0, 10.0],
        }
    )

    fn = make_state_dur_fn()
    st = _FakeGroupState()
    out = list(fn((1,), iter([pdf.copy()]), st))
    assert len(out) == 1
    r = out[0].iloc[0]
    # exactly ONE closed interval: a -> c (NaT row contributes nothing)
    assert len(out[0]) == 1 and r["state"] == "a" and r["dur_us"] == 3600 * 10**6
    assert st.get == (pd.Timestamp("2024-01-01 01:00:00").value // 1000, "c")

    # alarm fn: the NaT row (value 99 > threshold) must NOT extend the
    # run; run closes at the third event with n_events=1 (< min_events
    # without the NaT row, so nothing emits; state carries run closed)
    afn = make_alarm_fn(threshold=60.0, min_events=1)
    ast = _FakeGroupState()
    aout = list(afn((1,), iter([pdf.copy()]), ast))
    assert len(aout) == 1
    arow = aout[0].iloc[0]
    assert arow["n_events"] == 1  # NaT row excluded from the run
    assert arow["alarm_start"] == arow["alarm_end"] == pd.Timestamp(
        "2024-01-01 00:00:00"
    )


def test_trending_stream_closed_buckets_match_batch(spark, sf_smoke, replay_dir, tmp_path):
    """L30 streaming twin: every CLOSED bucket's (n, prev_n, growth)
    equals the batch operator's row; only each type's final (open)
    bucket is absent from the stream output."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        trending_counts,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        trending_stream,
    )

    q = (
        trending_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trending")
        .option("checkpointLocation", str(tmp_path / "ckpt_trending"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("trending")
    batch = trending_counts(
        load_table(spark, sf_smoke, "events"), "event_type", "ts", 3600
    )
    # exclude each type's final bucket from the batch side
    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    w = W.partitionBy("type")
    closed = batch.withColumn(
        "_mx", SF.max("bucket_start").over(w)
    ).filter(SF.col("bucket_start") < SF.col("_mx")).drop("_mx")
    cols = ["type", "bucket_start", "n", "prev_n", "growth"]
    assert _as_set(got, cols) == _as_set(closed, cols)
    assert got.count() == closed.count() > 0


def test_trending_fn_drops_late_bucket_arrivals():
    """Review regression (L30 twin): an arrival for a bucket EARLIER
    than the open one is dropped (append mode cannot amend an emitted
    bucket), never counted into the open bucket."""
    import pandas as pd

    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        make_trending_fn,
    )

    fn = make_trending_fn(bucket_seconds=3600)
    st = _FakeGroupState()
    b1 = pd.DataFrame(
        {"event_type": ["x"] * 2,
         "ts": pd.to_datetime(["2024-01-01 10:10", "2024-01-01 11:05"])}
    )
    out1 = list(fn(("x",), iter([b1]), st))
    # 10:00 bucket closed with n=1
    assert out1[0].iloc[0]["n"] == 1
    # late arrival for 10:59 in a later micro-batch: dropped
    b2 = pd.DataFrame(
        {"event_type": ["x", "x"],
         "ts": pd.to_datetime(["2024-01-01 10:59", "2024-01-01 12:01"])}
    )
    out2 = list(fn(("x",), iter([b2]), st))
    closed_11 = out2[0].iloc[0]
    assert closed_11["n"] == 1  # the 11:05 event only — late row NOT added
    assert closed_11["prev_n"] == 1 and closed_11["growth"] == 1.0


def test_availability_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the K21 carry cell: half the stream,
    stop, resume from the same checkpoint over the full directory — the
    carried (n, first, last, down) must continue the gap accounting so
    the final emission equals the batch report over ALL events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        availability_per_key,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        availability_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_avail")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_avail_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append(
                    (r["user_id"], r["n_events"], r["span_seconds"],
                     r["downtime_seconds"], r["availability"])
                )

        q = (
            availability_stream(replay_events(spark, half_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    final = {}
    for uid, n, sp, dn, av in emissions:
        cur = final.get(uid)
        if cur is None or n > cur[0]:
            final[uid] = (n, sp, dn, av)
    got = {(u, *v) for u, v in final.items()}
    want = {
        (r["user_id"], r["n_events"], r["span_seconds"],
         r["downtime_seconds"], r["availability"])
        for r in availability_per_key(
            load_table(spark, sf_smoke, "events"), "user_id", "ts",
            "event_id", 21600,
        ).collect()
    }
    assert got == want


def test_trending_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the L30 carry: half the stream, stop,
    resume from the same checkpoint — closed-bucket emissions across
    both runs must equal the batch operator minus each type's final
    open bucket."""
    import os
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        trending_counts,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        trending_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_tr")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_tr_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append(
                    (r["type"], r["bucket_start"], r["n"], r["prev_n"],
                     r["growth"])
                )

        q = (
            trending_stream(replay_events(spark, half_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    batch = trending_counts(
        load_table(spark, sf_smoke, "events"), "event_type", "ts", 3600
    )
    w = W.partitionBy("type")
    closed = batch.withColumn(
        "_mx", SF.max("bucket_start").over(w)
    ).filter(SF.col("bucket_start") < SF.col("_mx")).drop("_mx")
    want = {
        (r["type"], r["bucket_start"], r["n"], r["prev_n"], r["growth"])
        for r in closed.collect()
    }
    assert set(emissions) == want


def test_heavy_hitters_stream_mg_guarantees(spark, sf_smoke, replay_dir, tmp_path):
    """Misra-Gries invariants vs exact batch counts over the replayed
    events stream, per event_type group at k=8: (1) every item with
    true frequency > n/k appears in the final candidate set; (2) every
    surviving counter is a lower bound within n/k of its true count;
    (3) state never exceeds k counters."""
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        heavy_hitters_stream,
    )

    k = 8
    q = (
        heavy_hitters_stream(replay_events(spark, replay_dir), k=k)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mg")
        .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # final emission per group = rows carrying that group's max n_seen
    final = spark.sql(
        """
        SELECT group, item, count_lb, n_seen FROM (
          SELECT *, max(n_seen) OVER (PARTITION BY group) AS mx FROM mg
        ) WHERE n_seen = mx
        """
    ).collect()
    by_group: dict = {}
    for r in final:
        by_group.setdefault(r["group"], {})[r["item"]] = (r["count_lb"], r["n_seen"])
    assert by_group
    exact = (
        load_table(spark, sf_smoke, "events")
        .groupBy("event_type", F.col("user_id").cast("string").alias("item"))
        .count()
        .collect()
    )
    true_counts: dict = {}
    totals: dict = {}
    for r in exact:
        true_counts.setdefault(r["event_type"], {})[r["item"]] = r["count"]
        totals[r["event_type"]] = totals.get(r["event_type"], 0) + r["count"]
    for g, cands in by_group.items():
        n = totals[g]
        assert len(cands) <= k
        assert all(ns == n for (_, ns) in cands.values())
        for item, true_c in true_counts[g].items():
            if true_c > n / k:
                assert item in cands, (g, item, true_c, n)
        for item, (lb, _) in cands.items():
            true_c = true_counts[g].get(item, 0)
            assert lb <= true_c, (g, item, lb, true_c)
            assert true_c - lb <= n / k, (g, item, lb, true_c, n)


def test_transitions_stream_pair_multiset_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """L20 streaming twin: the carry cell emits the SAME (from, to)
    pair multiset as the batch lead window (lead emits at the
    predecessor, the carry at the successor), so aggregating the
    emissions reproduces the batch transition counts."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        event_transitions,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        transitions_stream,
    )

    q = (
        transitions_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans")
        .option("checkpointLocation", str(tmp_path / "ckpt_trans"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in spark.sql(
            "SELECT from_type, to_type, COUNT(*) AS n FROM trans GROUP BY 1, 2"
        ).collect()
    }
    want = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in event_transitions(
            load_table(spark, sf_smoke, "events"), "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_transitions_stream_null_types_match_batch_semantics(spark, tmp_path):
    """Review regression: NULL event types must behave exactly like the
    batch lead window — a NULL-type event emits no pair as successor,
    advances the carry, and appears as a REAL NULL from_type (never the
    string 'None')."""
    import datetime as _dt

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        event_transitions,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        transitions_stream,
    )

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (1, base + _dt.timedelta(seconds=1), 1, "A"),
        (2, base + _dt.timedelta(seconds=2), 1, None),
        (3, base + _dt.timedelta(seconds=3), 1, "B"),
        (4, base + _dt.timedelta(seconds=4), 1, "C"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    src = str(tmp_path / "null_type_src")
    df.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema).parquet(src)
    )
    q = (
        transitions_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_null")
        .option("checkpointLocation", str(tmp_path / "ckpt_trans_null"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["from_type"], r["to_type"])
        for r in spark.sql("SELECT from_type, to_type FROM trans_null").collect()
    }
    want = {
        (r["from_type"], r["to_type"])
        for r in event_transitions(df, "user_id", "ts", "event_type", "event_id")
        .select("from_type", "to_type")
        .collect()
    }
    # batch: (A -> NULL) dropped; (NULL -> B) kept with a REAL NULL;
    # (B -> C) kept
    assert want == {(None, "B"), ("B", "C")}
    assert got == want


def test_cusum_stream_final_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K15 streaming twin: the four-longs carry cell across micro-batches
    lands exactly on the batch closed form's (n, final, max, alarms) per
    key — same integer micro-unit deviations, same rounding."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import cusum_per_key
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        cusum_stream,
    )

    q = (
        cusum_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum")
        .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        """
        SELECT user_id, n, final_cusum, max_cusum, n_alarms FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n DESC
          ) AS rn FROM cusum
        ) WHERE rn = 1
        """
    )
    want = cusum_per_key(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id",
        target=50.0, slack=5.0, threshold=300.0,
    )
    cols = ["user_id", "n", "final_cusum", "max_cusum", "n_alarms"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_cusum_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the K15 carry cell: half the stream,
    stop, resume from the same checkpoint — the carried (statistic,
    max, counts) must continue the recurrence so the final emission
    equals the batch closed form over ALL events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import cusum_per_key
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        cusum_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_cusum")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_cusum_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append(
                    (r["user_id"], r["n"], r["final_cusum"], r["max_cusum"], r["n_alarms"])
                )

        q = (
            cusum_stream(replay_events(spark, half_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    final = {}
    for uid, n, fc, mx, al in emissions:
        cur = final.get(uid)
        if cur is None or n > cur[0]:
            final[uid] = (n, fc, mx, al)
    got = {(u, *v) for u, v in final.items()}
    want = {
        (r["user_id"], r["n"], r["final_cusum"], r["max_cusum"], r["n_alarms"])
        for r in cusum_per_key(
            load_table(spark, sf_smoke, "events"), "user_id", "ts", "value",
            "event_id", target=50.0, slack=5.0, threshold=300.0,
        ).collect()
    }
    assert got == want


def test_carry_twins_survive_arrow_chunking(spark, sf_smoke, replay_dir, tmp_path):
    """Review regression (one_frame): with arrow.maxRecordsPerBatch
    forced tiny, a key's micro-batch arrives as MANY pandas chunks —
    order-sensitive carries must still sort the whole batch once, or
    the CUSUM/EWMA series is silently permuted across chunk edges."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        cusum_per_key,
        ewma_per_key,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        cusum_stream,
        ewma_stream,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for name, stream_fn, batch_fn, cols in (
            ("chunked_ewma", ewma_stream, ewma_per_key, ["user_id", "n_events", "ewma"]),
            ("chunked_cusum", cusum_stream, cusum_per_key,
             ["user_id", "n", "final_cusum", "max_cusum", "n_alarms"]),
        ):
            q = (
                stream_fn(replay_events(spark, replay_dir))
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            nc = cols[1]
            got = spark.sql(
                f"""
                SELECT {', '.join(cols)} FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY {nc} DESC) AS rn FROM {name}
                ) WHERE rn = 1
                """
            )
            if batch_fn is ewma_per_key:
                want = batch_fn(
                    load_table(spark, sf_smoke, "events"),
                    "user_id", "ts", "value", "event_id",
                )
            else:
                want = batch_fn(
                    load_table(spark, sf_smoke, "events"),
                    "user_id", "ts", "value", "event_id",
                    target=50.0, slack=5.0, threshold=300.0,
                )
            assert _as_set(got, cols) == _as_set(want, cols), name
    finally:
        spark.conf.set(key, old)


def test_sustained_alarms_stream_matches_batch_on_closed_runs(spark, sf_smoke, tmp_path):
    """K17 streaming twin: with every run force-closed by a per-key
    below-threshold sentinel appended after the last event, the
    emitted run set equals the batch operator over the same augmented
    stream (cross-batch carry exercised by the 4-bucket replay)."""
    import os
    import time as _time

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        sustained_alarms,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        sustained_alarms_stream,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    sentinels = ev.groupBy("user_id").agg(
        (F.max("event_id") + 1_000_000).alias("event_id"),
        F.timestamp_seconds(F.unix_timestamp(F.max("ts")) + 10).alias("ts"),
        F.lit(0.0).alias("value"),
    ).select("event_id", "ts", "user_id", "value")
    aug = ev.unionByName(sentinels)
    # stage 4 chronological buckets (sentinels land in the last one)
    src = str(tmp_path / "alarm_replay")
    os.makedirs(src)
    b = ev.agg(F.min(F.unix_timestamp("ts")).alias("lo"), F.max(F.unix_timestamp("ts")).alias("hi")).collect()[0]
    span = max(int(b["hi"]) - int(b["lo"]), 1)
    bucket = F.least(F.lit(3), ((F.unix_timestamp("ts") - F.lit(int(b["lo"]))) * 4 / span).cast("int"))
    staged = aug.withColumn("_b", bucket)
    for i in range(4):
        part = os.path.join(src, f"bucket={i:02d}")
        staged.filter(F.col("_b") == i).drop("_b").coalesce(1).write.parquet(part)
        now = _time.time()
        for root, _d, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn), (now + i, now + i))
    stream = spark.readStream.schema(aug.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/bucket=*")
    q = (
        sustained_alarms_stream(stream, threshold=60.0, min_events=3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("alarms")
        .option("checkpointLocation", str(tmp_path / "ckpt_alarms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    cols = ["user_id", "alarm_start", "alarm_end", "n_events", "peak_value"]
    got = _as_set(spark.sql("SELECT * FROM alarms"), cols)
    want = _as_set(
        sustained_alarms(aug, "user_id", "ts", "value", "event_id",
                         threshold=60.0, min_events=3),
        cols,
    )
    assert got == want and len(got) > 0


def test_state_durations_stream_totals_match_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K16 streaming twin: aggregating the emitted closed intervals per
    (key, state) reproduces the batch LOCF totals exactly (the open
    final state emits in neither form)."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        state_durations,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        state_durations_stream,
    )

    q = (
        state_durations_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("state_dur")
        .option("checkpointLocation", str(tmp_path / "ckpt_state_dur"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        """
        SELECT user_id, state, COUNT(*) AS n_intervals,
               floor(CAST(SUM(dur_us) AS DOUBLE) / 1000000.0 * 10000 + 0.5)
                 / 10000 AS total_seconds
        FROM state_dur GROUP BY 1, 2
        """
    )
    want = state_durations(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "event_type", "event_id"
    )
    cols = ["user_id", "state", "n_intervals", "total_seconds"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_asof_stream_watermarked_survives_build_side_delay(
    spark, sf_smoke, tmp_path_factory, tmp_path
):
    """K4 two-sided watermark bound (r6 verdict item 6): the build side
    (purchases) is staged a FULL micro-batch behind its event-time
    bucket — the production interleaving `asof_stream`'s immediate
    emission cannot absorb — and the watermark-buffered twin must still
    match the batch as-of exactly. Watermark 200 h > the ~7.5-day bucket
    span, so no delayed build is ever late-dropped; the two trailing
    nudge files advance the watermark past all real data and trigger the
    final flush (see stage_replay_dir_delayed_builds)."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_asof_join
    from azure_iot_realtime_data_pipeline_spark.streaming.source import (
        stage_replay_dir_delayed_builds,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        asof_stream_watermarked,
    )

    out = str(tmp_path_factory.mktemp("replay_delayed_builds"))
    stage_replay_dir_delayed_builds(spark, sf_smoke, out, num_files=4)
    q = (
        asof_stream_watermarked(
            replay_events(spark, out), watermark="200 hours"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_wm")
        .option("checkpointLocation", str(tmp_path / "ckpt_asof_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive
    got = spark.sql("select * from asof_wm")
    want = q_asof_join(spark, sf_smoke)
    cols = ["event_id", "user_id", "ts", "asof_purchase_value"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.filter(F.col("asof_purchase_value").isNotNull()).count() > 0
    # adversarialness guard: the IN-ORDER twin must diverge on this
    # staging (measured: 294 differing carries at sf0.001) — otherwise a
    # staging bug (builds not actually delayed) makes the match above
    # vacuous
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        asof_stream,
    )

    q2 = (
        asof_stream(replay_events(spark, out), watermark=None)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_inorder_delayed")
        .option("checkpointLocation", str(tmp_path / "ckpt_asof_inorder"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    inorder = spark.sql(
        "select * from asof_inorder_delayed where event_id >= 0"
    )
    assert _as_set(inorder, cols) != _as_set(want, cols)


def test_asof_twins_ignore_null_valued_builds(spark, tmp_path):
    """Batch asof_join carries last(value, ignorenulls=True): a
    NULL-valued build must NOT reset the carry. Both streaming twins
    (in-order and watermark-buffered) must match on a synthetic series
    purchase(10.0) -> purchase(NULL) -> click, where the click carries
    10.0, not NULL (review r7 — testdata has no NULL purchase values so
    the replay parity tests never exercised this)."""
    import datetime as dt
    import os
    import time as time_mod

    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        asof_stream,
        asof_stream_watermarked,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "purchase", 10.0, None),
        (2, t0 + dt.timedelta(seconds=10), 7, "purchase", None, None),
        (3, t0 + dt.timedelta(seconds=20), 7, "click", 0.0, None),
        # far-future nudges for the watermark-buffered twin's flush
        (-1, t0 + dt.timedelta(days=10), 7, "click", 0.0, None),
        (-2, t0 + dt.timedelta(days=10), 7, "click", 0.0, None),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    staged = str(tmp_path / "null_build_replay")
    os.makedirs(staged)
    # one file per row, mtime-ordered -> one micro-batch each
    for i, r in enumerate(rows):
        part = os.path.join(staged, f"bucket={i:02d}")
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(part)
        now = time_mod.time()
        for root, _d, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn), (now + i, now + i))
    src_schema = spark.read.parquet(staged + "/bucket=00").schema
    stream = lambda: (  # noqa: E731
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    for name, df in (
        ("nb_inorder", asof_stream(stream(), watermark=None)),
        ("nb_wm", asof_stream_watermarked(stream(), watermark="60 seconds")),
    ):
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            r.event_id: r.asof_purchase_value
            for r in spark.sql(f"select * from {name}").collect()
        }
        assert got[3] == 10.0, (name, got)


def test_gaps_stream_watermarked_survives_out_of_order_arrival(
    spark, sf_smoke, tmp_path_factory, tmp_path
):
    """L3 two-sided watermark bound: purchases staged a FULL micro-batch
    behind their event-time bucket reorder the per-key series across
    batches — a late event changes its own gap AND its successor's. The
    watermark-buffered twin must still match the batch lag window
    exactly; the in-order twin must DIVERGE on the same staging (the
    vacuousness guard, as in the as-of test)."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_event_gaps
    from azure_iot_realtime_data_pipeline_spark.streaming.source import (
        stage_replay_dir_delayed_builds,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        event_gaps_stream,
        event_gaps_stream_watermarked,
    )

    out = str(tmp_path_factory.mktemp("replay_delayed_gaps"))
    stage_replay_dir_delayed_builds(spark, sf_smoke, out, num_files=4)
    q = (
        event_gaps_stream_watermarked(
            replay_events(spark, out), watermark="200 hours"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gaps_wm")
        .option("checkpointLocation", str(tmp_path / "ckpt_gaps_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from gaps_wm where event_id >= 0")
    want = q_event_gaps(spark, sf_smoke)
    cols = ["event_id", "user_id", "gap_us"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0

    q2 = (
        event_gaps_stream(replay_events(spark, out), watermark=None)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gaps_inorder_delayed")
        .option("checkpointLocation", str(tmp_path / "ckpt_gaps_inorder"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    inorder = spark.sql("select * from gaps_inorder_delayed where event_id >= 0")
    assert _as_set(inorder, cols) != _as_set(want, cols)


_ASOF_PROP_COUNTER = [0]


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=4, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),        # key
            st.booleans(),                                 # is_build
            st.integers(min_value=0, max_value=599),       # ts offset sec
            st.integers(min_value=0, max_value=999),       # value*10
            st.integers(min_value=0, max_value=2),         # file displacement
        ),
        min_size=10,
        max_size=30,
    )
)
def test_asof_watermarked_matches_batch_under_random_bounded_lateness(
    spark, tmp_path_factory, events
):
    """Property gate for the watermark-buffered as-of: under ANY
    interleaving where every event arrives at most two bucket-spans (300 s)
    late and the watermark delay (320 s) covers that, the twin must
    equal the batch asof_join bit-for-bit — random keys, sides, ties,
    and displacements, not just the one delayed-build staging."""
    import datetime as dt
    import os
    import time as time_mod

    from pyspark.sql import Window

    from azure_iot_realtime_data_pipeline_spark.operators import sessions
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        asof_stream_watermarked,
    )

    t0 = dt.datetime(2024, 1, 1)
    span = 150  # 4 base buckets over the 600-s range
    rows, files = [], {}
    for eid, (key, is_build, off, val10, disp) in enumerate(events, start=1):
        rows.append(
            (
                eid,
                t0 + dt.timedelta(seconds=off),
                key,
                "purchase" if is_build else "click",
                val10 / 10.0,
                None,
            )
        )
        files.setdefault(min(off // span + disp, 5), []).append(rows[-1])
    # trailing nudges: advance the watermark, then flush every key
    for j, fidx in enumerate((6, 7)):
        files[fidx] = [
            (-(k + 10 * j + 1), t0 + dt.timedelta(days=30), k, "click", 0.0, None)
            for k in (1, 2)
        ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    staged = str(tmp_path_factory.mktemp("asof_prop"))
    for i in sorted(files):
        part = os.path.join(staged, f"bucket={i:02d}")
        spark.createDataFrame(files[i], schema).coalesce(1).write.parquet(part)
        now = time_mod.time()
        for root, _d, fns in os.walk(part):
            for fn in fns:
                os.utime(os.path.join(root, fn), (now + i, now + i))
    first = sorted(files)[0]
    src_schema = spark.read.parquet(staged + f"/bucket={first:02d}").schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    _ASOF_PROP_COUNTER[0] += 1
    name = f"asof_prop_{_ASOF_PROP_COUNTER[0]}"
    q = (
        asof_stream_watermarked(stream, watermark="320 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path_factory.mktemp("ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.event_id, r.asof_purchase_value)
        for r in spark.sql(f"select * from {name} where event_id >= 0").collect()
    }
    # batch expectation: the q_asof_join construction on the same rows
    df = spark.createDataFrame(rows, schema)
    probe = df.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    build = (
        df.filter(F.col("event_type") == "purchase")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("user_id", "ts", F.col("value").alias("purchase_value"))
    )
    want = {
        (r.event_id, r.asof_purchase_value)
        for r in sessions.asof_join(
            probe,
            build,
            key="user_id",
            ts_col="ts",
            value_cols=["purchase_value"],
            probe_tiebreak="event_id",
        ).collect()
    }
    assert got == want


def test_cms_sketch_stream_equals_batch_sketch(spark, sf_smoke, replay_dir, tmp_path):
    """J61 twin: the incrementally-maintained CMS counter table over the
    replayed stream equals the batch sketch of the same events
    bit-for-bit — additivity makes the built-in streaming aggregation
    exact, with state bounded at depth*width rows by construction."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import cms_sketch
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        cms_sketch_stream,
    )

    q = (
        cms_sketch_stream(replay_events(spark, replay_dir), item_col="user_id")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["_r"], r["_bucket"]): r["_c"]
        for r in spark.sql("SELECT * FROM cms_stream").collect()
    }
    want = {
        (r["_r"], r["_bucket"]): r["_c"]
        for r in cms_sketch(
            load_table(spark, sf_smoke, "events").select(
                F.col("user_id").cast("string").alias("item")
            )
        ).collect()
    }
    assert got == want
    assert len(got) <= 4 * 16  # the state bound IS the sketch size


def test_trapezoid_stream_final_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """K19 streaming twin: the int64 micro accumulator, carried across
    micro-batches in (ts, id) order, lands exactly on the batch
    operator's final per-key running integral — the pin is applied
    per step on both paths, so there is no float drift to diverge."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        trapezoid_integral,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        trapezoid_stream,
    )

    q = (
        trapezoid_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trapz")
        .option("checkpointLocation", str(tmp_path / "ckpt_trapz"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        """
        SELECT user_id, energy FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n_events DESC
          ) AS rn FROM trapz
        ) WHERE rn = 1
        """
    )
    batch = trapezoid_integral(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
    )
    want = spark.sql(
        "SELECT user_id, energy FROM (SELECT *, row_number() OVER ("
        "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
        "FROM {b}) WHERE rn = 1",
        b=batch,
    )
    cols = ["user_id", "energy"]
    assert _as_set(got, cols) == _as_set(want, cols)
    assert got.count() == want.count() > 0


def test_trapezoid_stream_state_survives_restart(spark, sf_smoke, replay_dir, tmp_path):
    """Crash/restart contract for the K19 carry cell: half the stream,
    stop, resume from the same checkpoint over the full directory — the
    carried (n, prev_ep, prev_v, cum_micro) must continue the integral
    so the final running energy equals the batch operator over ALL
    events (the int64 accumulator makes this exact, not approximate)."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        trapezoid_integral,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        trapezoid_stream,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_trapz")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_trapz_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append((r["user_id"], r["n_events"], r["energy"]))

        q = (
            trapezoid_stream(replay_events(spark, half_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    final = {}
    for uid, n, energy in emissions:
        cur = final.get(uid)
        if cur is None or n > cur[0]:
            final[uid] = (n, energy)
    got = {(u, e) for u, (_n, e) in final.items()}
    batch = trapezoid_integral(
        load_table(spark, sf_smoke, "events"), "user_id", "ts", "value", "event_id"
    )
    want = {
        (r["user_id"], r["energy"])
        for r in spark.sql(
            "SELECT user_id, energy FROM (SELECT *, row_number() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM {b}) WHERE rn = 1",
            b=batch,
        ).collect()
    }
    assert got == want


def test_trapezoid_fn_skips_nat_timestamps():
    """ADVICE r7: make_trapezoid_fn guarded NULL values but not NULL
    timestamps — pd.Timestamp(NaT).value is INT64_MIN, which poisons
    ep-prev_ep and the carried integral PERMANENTLY (every later row
    inherits the poisoned prev_ep), where the batch operator's NULL-_ep
    rows contribute inc=0. A NaT-ts row must advance nothing."""
    import pandas as pd

    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        make_trapezoid_fn,
    )

    fn = make_trapezoid_fn()
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", None, "2024-01-01 00:00:10"]
            ),
            "event_id": [1, 2, 3],
            "value": [2.0, 1000.0, 4.0],
        }
    )
    st = _FakeGroupState()
    out = list(fn((1,), iter([pdf]), st))
    assert len(out) == 1
    row = out[0].iloc[0]
    # only the two timestamped rows integrate: (2+4)/2 * 10 s = 30.0
    assert row["n_events"] == 2
    assert row["energy"] == 30.0
    # carried state holds the LAST VALID (ep, v), not the NaT poison
    n, prev_ep, prev_v, cum = st.get
    assert prev_ep == pd.Timestamp("2024-01-01 00:00:10").value // 1000
    assert prev_v == 4.0 and cum == 30_000_000


_TIME_ORDERED_FOLDS = {
    "asof": ws.make_asof_fn,
    "asof_wm": ws.make_asof_wm_fn,
    "gaps": ws.make_gaps_fn,
    "gaps_wm": ws.make_gaps_wm_fn,
    "twa": ws.make_twa_fn,
    "rate": ws.make_rate_fn,
    "ewma": ws.make_ewma_fn,
    "holt": ws.make_holt_fn,
    "availability": ws.make_availability_fn,
    "trending": ws.make_trending_fn,
    "transitions": ws.make_transition_fn,
    "cusum": ws.make_cusum_fn,
    "alarm": lambda: ws.make_alarm_fn(min_events=1),
    "state_durations": ws.make_state_dur_fn,
    "trapezoid": ws.make_trapezoid_fn,
    "throttle": ws.make_throttle_fn,
    "funnel": lambda: ws.make_window_funnel_fn(("view", "click"), 3600),
    "spike_dip": anomaly.make_spike_dip_fn,
}


@pytest.mark.parametrize("fold", list(_TIME_ORDERED_FOLDS))
def test_time_ordered_folds_skip_nat_timestamps(fold):
    """Every time-ordered fold skips a NULL-ts row: a NaT row between two
    valid rows leaves the emitted rows and the carried state exactly as
    the run without it (no crash, no INT64-min carry, no extra row)."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", None, "2024-01-01 00:00:30"]
            ),
            "value": [10.0, 1000.0, 70.0],
            "event_type": ["view", "click", "click"],
            "_side": [0, 1, 1],
        }
    )
    # every row is final for the watermark-buffered folds
    wm_ms = int(pd.Timestamp("2024-01-01 01:00:00").value // 1_000_000)

    def run(pdf):
        state = _FakeGroupState(watermark_ms=wm_ms)
        out = list(_TIME_ORDERED_FOLDS[fold]()((1,), iter([pdf]), state))
        frame = pd.concat(out).reset_index(drop=True) if out else None
        return frame, state.get

    got, got_state = run(rows)
    want, want_state = run(rows.drop(index=1))
    assert (got is None) == (want is None)
    if want is not None:
        pd.testing.assert_frame_equal(got, want)
    assert got_state == want_state


def test_json_quarantine_runs_on_a_stream(spark, sf_smoke, replay_dir, tmp_path):
    """A2b is streaming-safe by construction (one parser expression per
    row, no state): drive it through readStream and check the dead-
    letter split matches the batch verdicts over the same data."""
    from azure_iot_realtime_data_pipeline_spark.functions.normalize import (
        parse_json_quarantine,
    )
    from azure_iot_realtime_data_pipeline_spark.plans.queries import (
        corrupt_json_feed as feed,
    )

    stream = parse_json_quarantine(
        feed(replay_events(spark, replay_dir)),
        "payload",
        "event_id LONG, event_type STRING",
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("quarantine_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_q"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.event_id, r.quarantined)
        for r in spark.sql(
            "SELECT event_id, quarantined FROM quarantine_stream"
        ).collect()
    }
    batch = parse_json_quarantine(
        feed(load_table(spark, sf_smoke, "events")),
        "payload",
        "event_id LONG, event_type STRING",
    )
    want = {
        (r.event_id, r.quarantined)
        for r in batch.select("event_id", "quarantined").collect()
    }
    assert got == want
    assert any(flag for _eid, flag in got)  # the corrupt rows exist


def test_throttle_stream_matches_batch_under_ordered_replay(
    spark, sf_smoke, replay_dir, tmp_path
):
    """K24 streaming twin: under in-order replay the admitted set equals
    the batch rank-based throttle exactly — the (bucket, count) carry
    survives micro-batch boundaries mid-window."""
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        throttle_per_key,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        throttle_stream,
    )

    q = (
        throttle_stream(replay_events(spark, replay_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("throttle_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_thr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r.event_id
        for r in spark.sql("SELECT event_id FROM throttle_stream").collect()
    }
    want = {
        r.event_id
        for r in throttle_per_key(
            load_table(spark, sf_smoke, "events"),
            "user_id",
            "ts",
            "event_id",
            n_per_window=2,
            window_seconds=86400,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_bloom_prefilter_runs_on_a_stream(spark, sf_smoke, replay_dir, tmp_path):
    """J65 production deployment shape: the Bloom word table builds
    ONCE from a static qualifying-key set and its probe condition is a
    stateless Column — applied to a readStream, survivors must be a
    superset of the true matches (no false negatives) and the exact
    stream-static semi join on them equals the batch semi join."""
    from azure_iot_realtime_data_pipeline_spark.operators.skew import (
        bloom_might_contain,
    )

    ev = load_table(spark, sf_smoke, "events")
    qualifying = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("_k")
    )
    keys = qualifying.distinct().localCheckpoint()
    cond = bloom_might_contain(keys, "_k", F.col("event_id"))
    survivors = replay_events(spark, replay_dir).filter(cond)
    exact = survivors.join(keys, F.col("event_id") == F.col("_k"), "left_semi")
    q = (
        exact.select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bloom_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r.event_id for r in spark.sql("SELECT event_id FROM bloom_stream").collect()
    }
    want = {
        r.event_id
        for r in ev.join(keys, ev["event_id"] == F.col("_k"), "left_semi")
        .select("event_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_hll_sketch_stream_equals_batch_sketch(spark, sf_smoke, replay_dir, tmp_path):
    """J74 twin: the incrementally-maintained HLL register table over
    the replayed stream equals the batch sketch of the same events
    bit-for-bit — per-register MAX is order-free and idempotent, so the
    built-in streaming aggregation is exact with state bounded at
    groups x 2^p rows by construction; the batch estimator over the
    final registers IS the batch estimate."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_sketch,
    )

    q = (
        hll_sketch(replay_events(spark, replay_dir), "event_type", "event_id")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["event_type"], r["_j"]): r["_mj"]
        for r in spark.sql("SELECT * FROM hll_stream").collect()
    }
    batch = load_table(spark, sf_smoke, "events")
    want = {
        (r["event_type"], r["_j"]): r["_mj"]
        for r in hll_sketch(batch, "event_type", "event_id").collect()
    }
    assert got == want
    n_groups = batch.select("event_type").distinct().count()
    assert len(got) <= n_groups * 256  # the state bound IS the sketch size
    est_stream = {
        r["event_type"]: r["distinct_est"]
        for r in hll_estimate(
            spark.sql("SELECT * FROM hll_stream"), "event_type"
        ).collect()
    }
    est_batch = {
        r["event_type"]: r["distinct_est"]
        for r in hll_distinct(batch, "event_type", "event_id").collect()
    }
    assert est_stream == est_batch


def test_window_funnel_stream_matches_batch(spark, sf_smoke, replay_dir, tmp_path):
    """L47 twin: per-user max funnel level maintained in bounded anchor
    state across micro-batches — distinct-user level counts over the
    final rows equal batch window_funnel on the same events, and the
    carried anchor list stays bounded."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        window_funnel,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        window_funnel_stream,
    )

    stages = ("view", "click", "purchase")
    w = 48 * 3600
    q = (
        window_funnel_stream(replay_events(spark, replay_dir), stages, w)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("wfunnel")
        .option("checkpointLocation", str(tmp_path / "ckpt_wf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    final = spark.sql(
        """
        SELECT user_id, max_level, n_active_anchors FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY max_level DESC
          ) AS rn FROM wfunnel
        ) WHERE rn = 1
        """
    ).collect()
    got = {
        k: sum(1 for r in final if r["max_level"] >= k)
        for k in (1, 2, 3)
    }
    batch = {
        r["stage_idx"]: r["n_users"]
        for r in window_funnel(
            load_table(spark, sf_smoke, "events"),
            "user_id", "ts", "event_type", list(stages), window_seconds=w,
        ).collect()
    }
    assert got == batch
    assert all(r["n_active_anchors"] <= 200 for r in final)


def test_window_funnel_stream_state_survives_restart(
    spark, sf_smoke, replay_dir, tmp_path
):
    """Crash/restart contract for the L47 anchor state: half the
    stream, stop, resume from the same checkpoint over the full
    directory — the carried anchor list (eps/levels/last_eps arrays)
    must continue mid-chain so the final per-user levels equal batch
    window_funnel over ALL events."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        window_funnel,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.windows_stream import (
        window_funnel_stream,
    )

    stages = ("view", "click", "purchase")
    w = 48 * 3600
    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_wf")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_wf_restart")
    emissions: list[tuple] = []

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emissions.append((r["user_id"], r["max_level"]))

        q = (
            window_funnel_stream(replay_events(spark, half_dir), stages, w)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first_len = len(emissions)
    assert first_len > 0
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    assert len(emissions) > first_len
    final: dict = {}
    for uid, lvl in emissions:
        final[uid] = max(final.get(uid, 0), lvl)
    got = {k: sum(1 for v in final.values() if v >= k) for k in (1, 2, 3)}
    want = {
        r["stage_idx"]: r["n_users"]
        for r in window_funnel(
            load_table(spark, sf_smoke, "events"),
            "user_id", "ts", "event_type", list(stages), window_seconds=w,
        ).collect()
    }
    assert got == want


def test_hll_sketch_stream_state_survives_restart(
    spark, sf_smoke, replay_dir, tmp_path
):
    """Crash/restart contract for the J74 register state: half the
    stream, stop, resume from the same checkpoint over the full
    directory — the carried (group, _j) -> _mj maxes must continue so
    the final register table (and therefore the estimate) equals the
    batch sketch over ALL events. Max is idempotent, so replayed rows
    at the resume boundary cannot corrupt state."""
    import os
    import shutil

    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )

    src_buckets = sorted(os.listdir(replay_dir))
    half_dir = str(tmp_path / "replay_half_hll")
    os.makedirs(half_dir)
    for b in src_buckets[:2]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    ckpt = str(tmp_path / "ckpt_hll_restart")
    latest: dict = {}

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                latest[(r["event_type"], r["_j"])] = (r["_mj"], r["_p"])

        q = (
            hll_sketch(replay_events(spark, half_dir), "event_type", "event_id")
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    assert latest
    for b in src_buckets[2:]:
        shutil.copytree(os.path.join(replay_dir, b), os.path.join(half_dir, b))
    run_once()
    got = {k: v[0] for k, v in latest.items()}
    batch = load_table(spark, sf_smoke, "events")
    want = {
        (r["event_type"], r["_j"]): r["_mj"]
        for r in hll_sketch(batch, "event_type", "event_id").collect()
    }
    assert got == want
    # and the estimate over the restart-built registers equals batch
    rows = [
        (k[0], k[1], v, p)
        for k, (v, p) in latest.items()
    ]
    regs = spark.createDataFrame(
        rows, "event_type string, _j int, _mj int, _p int"
    )
    est_stream = {
        r["event_type"]: r["distinct_est"]
        for r in hll_estimate(regs, "event_type").collect()
    }
    est_batch = {
        r["event_type"]: r["distinct_est"]
        for r in hll_estimate(
            hll_sketch(batch, "event_type", "event_id"), "event_type"
        ).collect()
    }
    assert est_stream == est_batch


def test_bigram_counts_stream_equals_batch_counts(spark, sf_smoke, tmp_path):
    """J54/J80 twin: the incrementally-maintained bigram count table
    over a multi-batch document stream equals the batch counts of the
    same corpus bit-for-bit — additivity makes the built-in streaming
    aggregation exact; J80's PMI computed from the final table matches
    the batch collocations output."""
    from azure_iot_realtime_data_pipeline_spark.operators.corpus import (
        bigram_counts,
    )

    docs = load_table(spark, sf_smoke, "documents")
    staged = str(tmp_path / "docs_stream_bi")
    docs.coalesce(3).write.mode("overwrite").parquet(staged)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q = (
        bigram_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("bigrams_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_bi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["w1"], r["w2"]): r["n"]
        for r in spark.sql("SELECT * FROM bigrams_stream").collect()
    }
    want = {
        (r["w1"], r["w2"]): r["n"] for r in bigram_counts(docs).collect()
    }
    assert got == want and got
