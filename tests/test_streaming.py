"""Phase 3 streaming tests: replay source, stateful anomaly parity with
the batch oracle, multi-sink fan-out invariants, HTTP push + watermark
commit protocol (SURVEY.md §5 streaming bullet)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.operators.windows import (
    spike_dip_score,
    trailing_window,
    with_epoch_seconds,
)
from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table
from azure_iot_realtime_data_pipeline_spark.streaming import http_sink
from azure_iot_realtime_data_pipeline_spark.streaming.anomaly import spike_dip_stream
from azure_iot_realtime_data_pipeline_spark.streaming.pipeline import (
    curated_stream,
    multi_sink_batch_writer,
    run_multi_sink,
    write_batch,
)
from azure_iot_realtime_data_pipeline_spark.streaming.source import (
    replay_events,
    stage_replay_dir,
)


@pytest.fixture(scope="module")
def replay_dir(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("replay"))
    return stage_replay_dir(spark, sf_smoke, out, num_files=4)


def _run_available_now(stream_df, sink_fn, checkpoint):
    q = (
        stream_df.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stage_event_files(spark, out_dir, files):
    """One replay file per list of (event_id, ts, user_id, value) rows,
    replayed in list order."""
    from azure_iot_realtime_data_pipeline_spark.streaming.source import (
        _write_replay_file,
    )

    for i, rows in enumerate(files):
        df = spark.createDataFrame(
            [(e, ts, u, "telemetry", v, None) for e, ts, u, v in rows], EVENTS_SCHEMA
        )
        _write_replay_file(df, out_dir, i)
    return out_dir


def test_replay_source_delivers_all_rows(spark, sf_smoke, replay_dir, tmp_path):
    total = load_table(spark, sf_smoke, "events").count()
    seen = {"rows": 0, "batches": 0}

    def sink(batch, _bid):
        seen["rows"] += batch.count()
        seen["batches"] += 1

    _run_available_now(
        replay_events(spark, replay_dir), sink, str(tmp_path / "ckpt")
    )
    assert seen["rows"] == total
    assert seen["batches"] >= 2  # maxFilesPerTrigger=1 -> multiple micro-batches


def test_streaming_anomaly_matches_batch_oracle(spark, sf_smoke, replay_dir, tmp_path):
    """Causal streaming evaluation == batch RANGE-frame computation, row
    by row, across micro-batch boundaries (in-order replay)."""
    stream = spike_dip_stream(
        replay_events(spark, replay_dir),
        key_col="user_id",
        window_seconds=60,
        history_size=None,
    )
    got = []

    def sink(batch, _bid):
        got.extend(batch.collect())

    _run_available_now(stream, sink, str(tmp_path / "ckpt"))

    ev = with_epoch_seconds(load_table(spark, sf_smoke, "events"), "ts")
    w = trailing_window("ts_sec", key="user_id", window_seconds=60)
    is_anom, score = spike_dip_score(F.col("value"), w)
    expected = {
        r["event_id"]: (r["score"], r["is_anomaly"])
        for r in ev.select(
            "event_id", score.alias("score"), is_anom.alias("is_anomaly")
        ).collect()
    }
    assert len(got) == len(expected)
    mismatches = [
        (r["event_id"], (r["score"], r["is_anomaly"]), expected[r["event_id"]])
        for r in got
        if (r["score"], r["is_anomaly"]) != expected[r["event_id"]]
    ]
    assert mismatches == []


def test_streaming_anomaly_state_bounded(spark, replay_dir, tmp_path):
    """historySize cap: with history_size=2 no window ever uses more than
    2 retained events + the current batch's same-window rows."""
    stream = spike_dip_stream(
        replay_events(spark, replay_dir),
        key_col="user_id",
        window_seconds=60,
        history_size=2,
    )
    rows = []

    def sink(batch, _bid):
        rows.extend(batch.collect())

    _run_available_now(stream, sink, str(tmp_path / "ckpt"))
    assert rows  # runs to completion with bounded state


def test_multi_sink_fanout(spark, sf_smoke, replay_dir, tmp_path):
    bronze = str(tmp_path / "bronze")
    devices = str(tmp_path / "devices")
    telemetry = str(tmp_path / "telemetry")
    # two replay files per micro-batch: several batches, each scanning two
    stream = curated_stream(replay_events(spark, replay_dir, max_files_per_trigger=2))
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    q = run_multi_sink(
        stream,
        bronze,
        devices,
        telemetry,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    # every job of every batch, the concurrent sink writes included, runs
    # in the query's job group, so stopping the query cancels it
    assert set(tracker.getJobIdsForGroup()) <= ungrouped
    assert tracker.getJobIdsForGroup(str(q.runId))

    events = load_table(spark, sf_smoke, "events")
    b = spark.read.parquet(bronze)
    d = spark.read.parquet(devices)
    t = spark.read.parquet(telemetry)
    # bronze is the raw input (reference sql:49-50): every row, every column
    assert b.count() == events.count()
    # one source scan per batch: the progress counts each input row once
    assert sum(p["numInputRows"] for p in q.recentProgress) == events.count()
    assert set(events.columns) < set(b.columns)
    # telemetry holds the on-time rows: the replay is in event-time
    # order, so that is every row with a device
    assert t.count() == events.filter(F.col("user_id").isNotNull()).count()
    # dimension: exactly one row per deviceId (PK semantics, F7)
    assert d.groupBy("deviceId").count().filter(F.col("count") > 1).count() == 0
    assert d.count() == t.select("deviceId").distinct().count()
    # fact keeps the anomaly flag column, 0/1 only
    flags = {r["Anomaly"] for r in t.select("Anomaly").distinct().collect()}
    assert flags <= {0, 1}


def test_multi_sink_replay_is_idempotent(spark, sf_smoke, tmp_path):
    """Crash-replay semantics: foreachBatch re-delivers a micro-batch
    after a failure between sink writes; re-running the SAME (batch_id,
    rows) through the writer must not duplicate rows in any sink, and
    re-reads the tail the first attempt read."""
    bronze = str(tmp_path / "b3")
    devices = str(tmp_path / "d3")
    telemetry = str(tmp_path / "t3")
    batch = load_table(spark, sf_smoke, "events").orderBy("ts").limit(200)
    write = multi_sink_batch_writer(bronze, devices, telemetry, str(tmp_path / "tail"))
    write(batch, 7)
    counts1 = [spark.read.parquet(p).count() for p in (bronze, devices, telemetry)]
    scores1 = spark.read.parquet(telemetry).collect()
    write(batch, 7)  # replay of the same micro-batch
    counts2 = [spark.read.parquet(p).count() for p in (bronze, devices, telemetry)]
    assert counts1 == counts2
    assert sorted(spark.read.parquet(telemetry).collect()) == sorted(scores1)
    write(batch.limit(50), 8)  # a NEW batch still appends
    assert spark.read.parquet(bronze).count() == counts1[0] + 50


def _dense_fleet(spark, sf_dir, seconds=600, seed=7):
    """A dense `events` table: device 0 sends every second, devices 1-5
    every few seconds (device 1 in same-second bursts), with spikes, so
    every micro-batch boundary cuts through live windows."""
    import datetime as dt

    import numpy as np

    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for sec in range(seconds):
        users = [0] + [u for u in range(1, 6) if rng.random() < 0.3]
        users += [1, 1] if 1 in users else []
        for u in users:
            v = float(np.round(rng.normal(50.0 + u, 2.0), 2))
            if rng.random() < 0.03:
                v = round(v * 3.0, 2)
            ts = t0 + dt.timedelta(seconds=sec, microseconds=int(rng.integers(0, 10**6)))
            rows.append((len(rows), ts, u, "telemetry", v, None))
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return sf_dir


def test_multi_sink_restart_soak(spark, tmp_path, monkeypatch):
    """Replay soak: a dense fleet through the full fan-out under a real
    StreamingQuery, with two injected crashes in batches whose carried
    tail is non-empty — one raised by the devices sink while the other
    sink writes, issued concurrently, are in flight, one after every
    sink but BEFORE the tail commit (tail files written, marker not) —
    each followed by a checkpoint restart. Bronze must equal the raw
    input, telemetry the batch `spike_dip_score` oracle row for row,
    devices the first sighting per device."""
    import threading

    from azure_iot_realtime_data_pipeline_spark.streaming import pipeline

    sf = _dense_fleet(spark, str(tmp_path / "sf"))
    replay = stage_replay_dir(spark, sf, str(tmp_path / "replay"), num_files=6)
    bronze, devices, telemetry = (str(tmp_path / n) for n in ("b", "d", "t"))
    ckpt = str(tmp_path / "ckpt")
    tail_dir = os.path.join(ckpt, "tail")
    crashes = []

    def assert_tail_carried(batch_id):
        tail, carried = pipeline._read_tail(spark, tail_dir, batch_id - 1)
        assert carried is not None and tail.count() > 0

    upsert = pipeline.upsert_devices
    upserts = []
    write_batch_ = pipeline.write_batch
    telemetry_started = threading.Event()

    def mark_telemetry_write(df, out_dir, batch_id):
        if out_dir == telemetry and batch_id == 2:
            telemetry_started.set()
        write_batch_(df, out_dir, batch_id)

    def crash_between_sinks(batch, devices_dir):
        upserts.append(1)
        if len(upserts) == 3:  # batch 2, first attempt
            assert_tail_carried(2)
            assert telemetry_started.wait(60)
            crashes.append("sinks")
            raise RuntimeError("injected crash between sink writes")
        upsert(batch, devices_dir)

    commit = pipeline._commit_tail

    def crash_before_tail_commit(tail, tail_dir_, batch_id, carry):
        if batch_id == 4 and "tail" not in crashes:
            assert_tail_carried(batch_id)
            crashes.append("tail")
            write_batch_(tail, tail_dir_, batch_id)
            raise RuntimeError("injected crash before the tail commit")
        commit(tail, tail_dir_, batch_id, carry)

    monkeypatch.setattr(pipeline, "write_batch", mark_telemetry_write)
    monkeypatch.setattr(pipeline, "upsert_devices", crash_between_sinks)
    monkeypatch.setattr(pipeline, "_commit_tail", crash_before_tail_commit)

    def run():
        q = run_multi_sink(
            curated_stream(replay_events(spark, replay)),
            bronze,
            devices,
            telemetry,
            ckpt,
            available_now=True,
        )
        try:
            q.awaitTermination(300)
        except Exception:  # noqa: BLE001 - the injected crash
            pass
        return q

    for want in (["sinks"], ["sinks", "tail"]):
        q = run()
        assert crashes == want and q.exception() is not None
    q = run()
    assert not q.isActive and q.exception() is None

    ev = load_table(spark, sf, "events")
    w = trailing_window("ts_sec", key="user_id", window_seconds=60)
    is_anom, score = spike_dip_score(F.col("value"), w)
    expected = with_epoch_seconds(ev, "ts").select(
        F.col("event_id").alias("telemetryId"),
        F.concat(F.lit("dev-"), F.col("user_id").cast("string")).alias("deviceId"),
        F.col("ts").alias("enqueuedTime"),
        score.alias("Score"),
        is_anom.alias("Anomaly"),
    )

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(spark.read.parquet(bronze), ev.columns) == rows(ev, ev.columns)
    tcols = expected.columns
    got = rows(spark.read.parquet(telemetry), tcols)
    assert len(got) == ev.count()
    assert got == rows(expected, tcols)
    assert sum(r[-1] for r in got) > 0  # the spikes flag
    d = spark.read.parquet(devices)
    assert d.groupBy("deviceId").count().filter(F.col("count") > 1).count() == 0
    assert rows(d, ["deviceId", "firstSeen"]) == rows(
        expected.groupBy("deviceId").agg(F.min("enqueuedTime").alias("firstSeen")),
        ["deviceId", "firstSeen"],
    )


def test_devices_upsert_is_first_write_wins(spark, replay_dir, tmp_path):
    """Re-running the stream against an existing dimension adds no rows
    and keeps the original firstSeen (F7 upsert, not append)."""
    bronze = str(tmp_path / "b2")
    devices = str(tmp_path / "d2")
    telemetry = str(tmp_path / "t2")
    for i in range(2):  # fresh checkpoint -> full replay, same dimension dir
        q = run_multi_sink(
            curated_stream(replay_events(spark, replay_dir)),
            bronze,
            devices,
            telemetry,
            str(tmp_path / f"ckpt{i}"),
            available_now=True,
        )
        q.awaitTermination(300)
    d = spark.read.parquet(devices)
    assert d.groupBy("deviceId").count().filter(F.col("count") > 1).count() == 0


def test_push_rows_chunks_and_preserves_order(spark, sf_smoke):
    df = (
        load_table(spark, sf_smoke, "events")
        .orderBy("ts", "event_id")
        .limit(120)
        .select("event_id", "event_type")
    )
    poster = http_sink.CollectingPoster()
    sent = http_sink.push_rows(df, poster, batch_size=50, pace_seconds=0.0)
    assert sent == 120
    assert [len(c) for c in poster.chunks] == [50, 50, 20]
    ids = [int(__import__("json").loads(r)["event_id"]) for r in poster.rows]
    expected = [r["event_id"] for r in df.collect()]
    assert ids == expected


def test_incremental_push_watermark_protocol(spark, sf_smoke, tmp_path):
    """F6: the cell (last pushed batch id) advances only after full
    success; a failed push leaves it untouched and the next tick
    redelivers (at-least-once)."""
    import json

    src = str(tmp_path / "fact")
    events = load_table(spark, sf_smoke, "events")
    for k in range(4):
        write_batch(
            events.filter(F.col("event_id") % 4 == k).select(
                "event_id", F.col("ts").alias("enqueuedTime"), "value"
            ),
            src,
            k,
        )
    state = str(tmp_path / "wm.json")

    # tick 1: initial load, everything delivered, cell commits
    ok = http_sink.CollectingPoster()
    n1 = http_sink.incremental_push(
        spark, src, state, ok, initial_load=True, pace_seconds=0.0
    )
    assert n1 == len(ok.rows) == spark.read.parquet(src).count() > 0
    assert http_sink.read_cell(state) == 3

    # tick 2: nothing new
    n2 = http_sink.incremental_push(spark, src, state, ok, pace_seconds=0.0)
    assert n2 == 0

    # regress the cell to simulate pending batches, then fail mid-push:
    # the cell must NOT advance
    http_sink.write_cell(state, 1)
    failing = http_sink.CollectingPoster(fail_times=1)
    with pytest.raises(ConnectionError):
        http_sink.incremental_push(
            spark, src, state, failing, batch_size=100, pace_seconds=0.0
        )
    assert http_sink.read_cell(state) == 1

    # retry tick: redelivers batches 2 and 3, in event-time order, and
    # commits to the last of them
    retry = http_sink.CollectingPoster()
    n3 = http_sink.incremental_push(spark, src, state, retry, pace_seconds=0.0)
    pending = spark.read.parquet(src).filter("batch_id > 1")
    assert n3 == pending.count()
    times = [json.loads(r)["enqueuedTime"] for r in retry.rows]
    assert times == sorted(times)
    assert http_sink.read_cell(state) == 3


def _commit_fact_batch(spark, src, batch_id, ids):
    """Telemetry batch `batch_id` of the sync tests: one row per id, the
    id as `telemetryId` and as the second of `enqueuedTime`."""
    import datetime as dt

    write_batch(
        spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1, 12, 0, i)) for i in ids],
            "telemetryId long, enqueuedTime timestamp",
        ),
        src,
        batch_id,
    )


def test_sync_tick_reads_only_new_batches(spark, tmp_path):
    """A tick with no batch above the cell lists one directory and runs
    no Spark job; a tick with new batches reads only their partitions."""
    import json

    src = str(tmp_path / "fact")
    state = str(tmp_path / "sync.json")

    _commit_fact_batch(spark, src, 0, range(0, 5))
    _commit_fact_batch(spark, src, 1, range(5, 10))
    first = http_sink.CollectingPoster()
    assert http_sink.incremental_push(spark, src, state, first, initial_load=True) == 10

    sc = spark.sparkContext
    sc.setJobGroup("empty-tick", "a tick with nothing new")
    try:
        assert http_sink.incremental_push(spark, src, state, first) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("empty-tick") == []

    # a pushed batch that can no longer be read: a tick that touched it fails
    with open(os.path.join(src, "batch_id=0", "part-garbage.parquet"), "w") as fh:
        fh.write("not parquet")
    _commit_fact_batch(spark, src, 2, range(10, 13))
    poster = http_sink.CollectingPoster()
    assert http_sink.incremental_push(spark, src, state, poster) == 3
    ids = [json.loads(r)["telemetryId"] for r in poster.rows]
    assert ids == [10, 11, 12]
    assert http_sink.read_cell(state) == 2


def test_sync_tick_skips_partition_without_success(spark, sf_smoke, tmp_path):
    """A `batch_id=` partition counts as committed only once Spark's
    `_SUCCESS` file is in it: the directory exists while its job still
    runs, and the tick neither reads it nor moves the cell past it."""
    import json

    src = str(tmp_path / "fact")
    state = str(tmp_path / "sync.json")

    _commit_fact_batch(spark, src, 0, range(0, 5))
    _commit_fact_batch(spark, src, 1, range(5, 10))
    first = http_sink.CollectingPoster()
    assert http_sink.incremental_push(spark, src, state, first, initial_load=True) == 10
    assert http_sink.read_cell(state) == 1

    # batch 2's parquet files are in place but its job has not committed
    _commit_fact_batch(spark, src, 2, range(10, 13))
    success = os.path.join(src, "batch_id=2", "_SUCCESS")
    os.remove(success)
    assert http_sink.incremental_push(spark, src, state, http_sink.CollectingPoster()) == 0
    assert http_sink.read_cell(state) == 1

    open(success, "w").close()
    poster = http_sink.CollectingPoster()
    assert http_sink.incremental_push(spark, src, state, poster) == 3
    assert [json.loads(r)["telemetryId"] for r in poster.rows] == [10, 11, 12]
    assert http_sink.read_cell(state) == 2

    # one fan-out call for batch k commits exactly that telemetry partition
    telemetry = str(tmp_path / "t")
    batch = load_table(spark, sf_smoke, "events").orderBy("ts").limit(50)
    write = multi_sink_batch_writer(
        str(tmp_path / "b"), str(tmp_path / "d"), telemetry, str(tmp_path / "tail")
    )
    write(batch, 5)
    assert http_sink.committed_batches(telemetry) == [5]


def test_serve_path_soak_ingest_to_push(spark, sf_oracle, tmp_path):
    """The full serve path end-to-end (r9 verdict #9): events arrive in
    three waves through the multi-sink pipeline (ONE checkpoint — batch
    ids continue across waves, only new files process), with an
    incremental_push tick after each wave, a mid-push POST failure
    injected on the second tick, and a simulated process restart (the
    push path's only state is the cell file — each tick starts from
    disk). Invariants, per the reference's commit protocol
    (PushTelemetryFunction.cs:140-157), with the cell holding the last
    pushed batch id: the cell is MONOTONE across every tick and
    untouched by the failed one; after the final tick the receiver
    holds EVERY curated row exactly once after at-least-once dedup by
    telemetryId; each tick pushes only rows of batches above the
    committed cell."""
    import json
    import shutil

    staged = stage_replay_dir(
        spark, sf_oracle, str(tmp_path / "staged"), num_files=6
    )
    live = str(tmp_path / "live")
    os.makedirs(live)
    bronze, devices, telemetry = (
        str(tmp_path / n) for n in ("sb", "sd", "st")
    )
    ckpt = str(tmp_path / "sckpt")
    state = str(tmp_path / "push_state.json")

    def ingest_wave(buckets: list[int]) -> None:
        for b in buckets:
            shutil.copytree(
                os.path.join(staged, f"bucket={b:02d}"),
                os.path.join(live, f"bucket={b:02d}"),
            )
        q = run_multi_sink(
            curated_stream(replay_events(spark, live)),
            bronze,
            devices,
            telemetry,
            ckpt,
            available_now=True,
        )
        q.awaitTermination(300)
        assert q.exception() is None

    def wm() -> int:
        return http_sink.read_cell(state)

    received: dict[str, int] = {}

    def absorb(poster: http_sink.CollectingPoster) -> None:
        for r in poster.rows:
            rid = json.loads(r)["telemetryId"]
            received[rid] = received.get(rid, 0) + 1

    # wave 1: backfill tick (F9 initial load)
    ingest_wave([0, 1])
    p1 = http_sink.CollectingPoster()
    n1 = http_sink.incremental_push(
        spark, telemetry, state, p1, initial_load=True,
        batch_size=1000, pace_seconds=0.0,
    )
    assert n1 == spark.read.parquet(telemetry).count() > 0
    w1 = wm()
    absorb(p1)

    # wave 2: mid-push failure -> cell untouched -> retry redelivers
    ingest_wave([2, 3])
    fail = http_sink.CollectingPoster(fail_times=2)  # dies on chunk 2
    with pytest.raises(ConnectionError):
        http_sink.incremental_push(
            spark, telemetry, state, fail,
            batch_size=500, pace_seconds=0.0,
        )
    assert wm() == w1  # failed tick committed nothing
    absorb(fail)  # chunk 1 WAS delivered: the at-least-once gap
    # process restart: only the state file carries over
    retry = http_sink.CollectingPoster()
    n2 = http_sink.incremental_push(
        spark, telemetry, state, retry, batch_size=1000, pace_seconds=0.0
    )
    assert n2 > 0
    w2 = wm()
    assert w2 > w1
    # the retry pushed ONLY rows of batches above the committed cell
    assert all(json.loads(r)["batch_id"] > w1 for r in retry.rows)
    absorb(retry)

    # wave 3: clean tick
    ingest_wave([4, 5])
    p3 = http_sink.CollectingPoster()
    n3 = http_sink.incremental_push(
        spark, telemetry, state, p3, batch_size=1000, pace_seconds=0.0
    )
    assert n3 > 0
    assert wm() > w2
    absorb(p3)

    # completeness: after dedup, the receiver holds exactly the curated set
    want = {
        r["telemetryId"]
        for r in spark.read.parquet(telemetry).select("telemetryId").collect()
    }
    assert set(received) == want
    # the only duplicates are the failed tick's delivered prefix
    dup = {k for k, v in received.items() if v > 1}
    prefix = {
        json.loads(r)["telemetryId"] for r in fail.rows
    }
    assert dup <= prefix


def test_far_late_row_reaches_bronze_only(spark, tmp_path):
    """Late policy: a row more than 60 s behind the max event time of the
    earlier micro-batches is archived in bronze (the raw input) but never
    reaches telemetry or devices; a row less late is still scored."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    first = [(i, t0 + dt.timedelta(seconds=i), 1, 10.0 + i) for i in range(10)]
    second = [(10 + i, t0 + dt.timedelta(seconds=10 + i), 1, 20.0 + i) for i in range(10)]
    second += [
        (100, t0 - dt.timedelta(seconds=120), 2, 5.0),  # far-late: > 60 s behind
        (101, t0 - dt.timedelta(seconds=30), 3, 6.0),  # late, inside the delay
    ]
    replay = _stage_event_files(spark, str(tmp_path / "replay"), [first, second])
    bronze, devices, telemetry = (str(tmp_path / n) for n in ("b", "d", "t"))
    q = run_multi_sink(
        curated_stream(replay_events(spark, replay)),
        bronze,
        devices,
        telemetry,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert q.exception() is None

    t_ids = {r["telemetryId"] for r in spark.read.parquet(telemetry).collect()}
    assert 100 not in t_ids
    assert t_ids == set(range(20)) | {101}
    d_ids = {r["deviceId"] for r in spark.read.parquet(devices).collect()}
    assert d_ids == {"dev-1", "dev-3"}
    b_ids = {r["event_id"] for r in spark.read.parquet(bronze).collect()}
    assert b_ids == set(range(20)) | {100, 101}


def test_out_of_order_row_is_delivered(spark, tmp_path):
    """A row that is on time but out of order commits in a later
    micro-batch with an `enqueuedTime` below rows an earlier sync tick
    already pushed; the tick after its batch must still deliver it."""
    import datetime as dt
    import json
    import shutil

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    first = [(i, t0 + dt.timedelta(seconds=i), 1, 10.0 + i) for i in range(10)]
    second = [(10 + i, t0 + dt.timedelta(seconds=10 + i), 1, 20.0 + i) for i in range(5)]
    second.append((99, t0 + dt.timedelta(seconds=5, milliseconds=500), 2, 7.0))
    staged = _stage_event_files(spark, str(tmp_path / "staged"), [first, second])
    live = str(tmp_path / "live")
    bronze, devices, telemetry = (str(tmp_path / n) for n in ("b", "d", "t"))
    state = str(tmp_path / "sync.json")
    received = []

    for i in range(2):
        shutil.copytree(
            os.path.join(staged, f"bucket={i:02d}"), os.path.join(live, f"bucket={i:02d}")
        )
        q = run_multi_sink(
            curated_stream(replay_events(spark, live)),
            bronze,
            devices,
            telemetry,
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(300)
        assert q.exception() is None
        poster = http_sink.CollectingPoster()
        http_sink.incremental_push(
            spark, telemetry, state, poster, initial_load=(i == 0), pace_seconds=0.0
        )
        received += [json.loads(r)["telemetryId"] for r in poster.rows]

    assert sorted(received) == list(range(15)) + [99]
