"""`fleet_wide`: an open-loop device fleet through stream -> sinks -> HTTP sync.

Topology (the reference's freshness path): a generator thread writes one
parquet file per wall-clock second into a watched directory; the
package's file source (`replay_events`) feeds `curated_stream` (watermark
+ per-device spike/dip state) into `run_multi_sink` (bronze, devices and
telemetry sinks); concurrently a sync loop calls `incremental_push`
once per second, which tail-reads the telemetry sink and POSTs rows in
the package's default 500-row chunks with 200 ms pacing to an HTTP
endpoint inside this process. Freshness is measured per event from its
due time (when the generator was scheduled to create it) to the moment
the endpoint received it.

The generator's schedule is fixed before the run and never waits for
Spark, so a slow engine shows as backlog and freshness, not as less load.

The stream runs on the package's default processing-time trigger
(`pipeline.TRIGGER_INTERVAL`, 10 s), which Spark aligns to multiples of
the interval since the epoch. The generator is phase-locked to that
grid: each file holds one whole epoch second of events (so rows sharing
a second reach the state operator in one micro-batch, as its parity
contract requires) and lands half a second after that second ends, off
the grid's whole seconds. The first file lands just after a grid point,
so the new query's first batch ends before the next one; one interval of
warm-up events later the measured window opens, one second before a grid
point, and its `--seconds` of events are exactly the input of the grid
batches that follow. An event's wait for its trigger is then fixed by its due
time; what the engine does shows as batch duration and sync delay on top.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import common, tracing

DEVICES = 5000  # uniform keys, a few events each per minute
HOT = 20  # keys at 1 event/s: enough history in a 60 s window to flag spikes and dips
RATE = 100  # events per second, HOT of them from the hot keys; well below the knee on 4 cores
SPIKE_SHARE = (0.01, 0.05)  # share of spikes and of dips, uniform keys / hot keys
FAR_LATE_SHARE = 0.01
FAR_LATE_S = (150.0, 240.0)  # > 2x the 60 s watermark delay
WRITE_DELAY_S = 0.5  # a slot's file lands this long after its second ends
SYNC_INTERVAL_S = 1.0
ORACLE_LEAD_S = 4.0  # the batch oracle runs before the stream when the grid is this far off
SETUP_REPS = 3  # the cold one and two warm ones; more fill the wait for the trigger grid
SETUP_REPS_MAX = 5
PRIMER_ROWS = 200

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


# ----------------------------------------------------------------- schedule


class Schedule:
    """Every event of the run, fixed by the seed before the run starts.

    Slot k holds the events due in [base+k, base+k+1) and its file is
    written at base+k+1+WRITE_DELAY_S, where `base` (a whole second) is the
    wall-clock start of slot 0. Slots from `warmup` on are the measured
    window. Timestamps are kept as microsecond offsets from `base`, so the
    same seed gives the same inputs whatever the wall clock is.
    """

    def __init__(self, seed: int, warmup: int, seconds: int) -> None:
        rng = np.random.default_rng(seed)
        slots = warmup + seconds
        n = slots * RATE
        self.slots = slots
        self.event_id = np.arange(n, dtype=np.int64)
        self.slot = np.repeat(np.arange(slots, dtype=np.int64), RATE)
        offsets = np.sort(rng.integers(0, 1_000_000, (slots, RATE)), axis=1)
        self.due_us = self.slot * 1_000_000 + offsets.reshape(-1)
        # each slot: one event per hot key and RATE - HOT uniform ones, shuffled
        keys = np.concatenate(
            [
                np.tile(np.arange(DEVICES, DEVICES + HOT), (slots, 1)),
                rng.integers(0, DEVICES, (slots, RATE - HOT)),
            ],
            axis=1,
        )
        self.user_id = rng.permuted(keys, axis=1).reshape(-1).astype(np.int64)
        self.hot = self.user_id >= DEVICES
        base = rng.uniform(20.0, 80.0, DEVICES + HOT)
        value = base[self.user_id] + rng.normal(0.0, 2.0, n)
        share = np.where(self.hot, SPIKE_SHARE[1], SPIKE_SHARE[0])
        kind = rng.random(n)
        value = np.where(kind < share, value * rng.uniform(2.0, 3.0, n), value)
        value = np.where(kind > 1 - share, value * rng.uniform(0.05, 0.3, n), value)
        self.value = np.maximum(np.round(value, 2), 0.01)
        # far-late events only once the stream and the sync watermark have
        # advanced (measured window), so the policy is what drops them
        late = (rng.random(n) < FAR_LATE_SHARE) & (self.slot >= warmup) & ~self.hot
        late_us = (rng.uniform(*FAR_LATE_S, n) * 1_000_000).astype(np.int64)
        self.late = late
        self.ts_us = self.due_us - np.where(late, late_us, 0)
        self.props = rng.integers(0, 100, n)

    def table(self, base_us: int, k: int) -> pa.Table:
        s = slice(k * RATE, (k + 1) * RATE)
        return pa.table(
            {
                "event_id": self.event_id[s],
                "ts": pa.array(base_us + self.ts_us[s], pa.timestamp("us", tz="UTC")),
                "user_id": self.user_id[s],
                "event_type": ["telemetry"] * RATE,
                "value": self.value[s],
                "props": [f'{{"k": {int(p)}}}' for p in self.props[s]],
            },
            schema=EVENT_SCHEMA,
        )


class Generator(threading.Thread):
    """Open loop: writes slot k at base+k+1+WRITE_DELAY_S whatever the
    engine is doing.

    Files are staged outside the watched directory and renamed in, so the
    file source never lists a partial file.
    """

    def __init__(self, sched: Schedule, base_us: int, watch: str, stage: str) -> None:
        super().__init__(name="generator", daemon=True)
        self.sched, self.base_us = sched, base_us
        self.watch = os.path.join(watch, "bucket=00")
        self.stage = stage
        os.makedirs(self.watch, exist_ok=True)
        os.makedirs(stage, exist_ok=True)
        self.log: list[tuple[int, float, float]] = []  # (slot, due, written)
        self.first_file = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k in range(self.sched.slots):
                due = self.base_us / 1e6 + k + 1 + WRITE_DELAY_S
                time.sleep(max(0.0, due - time.time()))
                name = f"slot-{k:05d}.parquet"
                pq.write_table(self.sched.table(self.base_us, k), os.path.join(self.stage, name))
                os.replace(os.path.join(self.stage, name), os.path.join(self.watch, name))
                self.log.append((k, due, time.time()))
                self.first_file.set()
        except BaseException as e:  # surfaced by the main thread
            self.error = e
            self.first_file.set()
            raise


# --------------------------------------------------------------- HTTP side


class Received:
    """What the HTTP endpoint got, indexed by telemetryId (= event_id)."""

    def __init__(self, n: int) -> None:
        self.lock = threading.Lock()
        self.first = np.full(n, np.nan)
        self.count = np.zeros(n, dtype=np.int64)
        self.score = np.full(n, np.nan)
        self.anomaly = np.full(n, -1, dtype=np.int64)
        self.rows = 0
        self.unknown = 0
        self.inconsistent = 0

    def add(self, now: float, rows: list[dict]) -> None:
        with self.lock:
            for r in rows:
                self.rows += 1
                i = r["telemetryId"]
                if not 0 <= i < len(self.count):
                    self.unknown += 1
                    continue
                if self.count[i] == 0:
                    self.first[i] = now
                    self.score[i] = r["Score"]
                    self.anomaly[i] = r["Anomaly"]
                elif self.score[i] != r["Score"] or self.anomaly[i] != r["Anomaly"]:
                    self.inconsistent += 1
                self.count[i] += 1


def start_endpoint(received: Received) -> ThreadingHTTPServer:
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self) -> None:  # noqa: N802 - http.server API
            body = self.rfile.read(int(self.headers["Content-Length"]))
            now = time.time()
            received.add(now, json.loads(body))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *args) -> None:
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, name="endpoint", daemon=True).start()
    return server


class HttpPoster:
    """The sync worker's poster: one JSON array per chunk, raises on non-2xx."""

    def __init__(self, url: str) -> None:
        self.url = url
        self.posts: list[tuple[float, float, int]] = []  # (start, end, rows)

    def __call__(self, rows: list[str]) -> None:
        body = ("[" + ",".join(rows) + "]").encode()
        req = urllib.request.Request(
            self.url, data=body, headers={"Content-Type": "application/json"}
        )
        start = time.time()
        with urllib.request.urlopen(req, timeout=60) as resp:
            resp.read()
        self.posts.append((start, time.time(), len(rows)))


class SyncLoop(threading.Thread):
    """Calls `incremental_push` every SYNC_INTERVAL_S (back to back when a
    tick overruns). A tick that raises is recorded and counted as failed."""

    def __init__(self, spark, telemetry_dir: str, state_path: str, poster: HttpPoster) -> None:
        super().__init__(name="sync", daemon=True)
        self.spark, self.telemetry_dir, self.state_path = spark, telemetry_dir, state_path
        self.poster = poster
        self.ticks: list[tuple[float, float, int, int]] = []  # (start, end, rows, posts)
        self.errors: list[tuple[float, str]] = []
        self.halt = threading.Event()

    def tick(self) -> None:
        from azure_iot_realtime_data_pipeline_spark.streaming.http_sink import incremental_push

        start = time.time()
        posts = len(self.poster.posts)
        try:
            rows = incremental_push(self.spark, self.telemetry_dir, self.state_path, self.poster)
        except Exception as e:  # noqa: BLE001 - a failed tick is a counted outcome
            self.errors.append((start, f"{type(e).__name__}: {str(e)[:300]}"))
            rows = -1
        self.ticks.append((start, time.time(), rows, len(self.poster.posts) - posts))

    def run(self) -> None:
        nxt = time.time()
        while not self.halt.is_set():
            self.tick()
            nxt = max(nxt + SYNC_INTERVAL_S, time.time())
            self.halt.wait(nxt - time.time())


# ------------------------------------------------------------------- stream


def start_stream(spark, base: str, watch: str, available_now: bool = False):
    """The package's topology with its default trigger interval."""
    from azure_iot_realtime_data_pipeline_spark.streaming.pipeline import (
        curated_stream,
        run_multi_sink,
    )
    from azure_iot_realtime_data_pipeline_spark.streaming.source import replay_events

    events = replay_events(spark, watch, max_files_per_trigger=None)
    return run_multi_sink(
        curated_stream(events),
        os.path.join(base, "bronze"),
        os.path.join(base, "devices"),
        os.path.join(base, "telemetry"),
        os.path.join(base, "checkpoint"),
        available_now=available_now,
    )


def setup_once(spark, work: str, rep: int, seed: int):
    """One start of the topology: a new stream on a fresh checkpoint takes a
    primer file to its first committed micro-batch, then one sync tick
    delivers it. The first set-up also starts the session (and the JVM).
    Returns (spark, seconds)."""
    from azure_iot_realtime_data_pipeline_spark.streaming.http_sink import (
        CollectingPoster,
        incremental_push,
    )

    base = os.path.join(work, f"setup-{rep}")
    watch = os.path.join(base, "watch", "bucket=00")
    os.makedirs(watch)
    rng = np.random.default_rng(seed + 1000 + rep)
    now_us = int(time.time()) * 1_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(PRIMER_ROWS, dtype=np.int64),
                "ts": pa.array(
                    now_us + np.sort(rng.integers(0, 1_000_000, PRIMER_ROWS)),
                    pa.timestamp("us", tz="UTC"),
                ),
                "user_id": rng.integers(0, 50, PRIMER_ROWS).astype(np.int64),
                "event_type": ["telemetry"] * PRIMER_ROWS,
                "value": np.round(rng.uniform(20, 80, PRIMER_ROWS), 2),
                "props": ['{"k": 0}'] * PRIMER_ROWS,
            },
            schema=EVENT_SCHEMA,
        ),
        os.path.join(watch, "primer.parquet"),
    )
    t = time.perf_counter()
    if spark is None:
        spark = common.new_spark(work)
    q = start_stream(spark, base, os.path.join(base, "watch"), available_now=True)
    q.awaitTermination()
    poster = CollectingPoster()
    incremental_push(spark, os.path.join(base, "telemetry"), os.path.join(base, "sync.json"), poster)
    took = time.perf_counter() - t
    if len(poster.rows) != PRIMER_ROWS:
        raise RuntimeError(f"setup primer delivered {len(poster.rows)} of {PRIMER_ROWS} rows")
    return spark, took


def trigger_seconds(interval: str) -> int:
    """'10 seconds' -> 10."""
    amount, unit = interval.split()
    if not unit.startswith("second"):
        raise ValueError(f"unsupported trigger interval {interval!r}")
    return int(amount)


def wait_idle(q, limit_s: float = 15.0) -> None:
    """Stopping a query mid-batch interrupts its stream thread; wait for
    the trigger to go idle first."""
    end = time.time() + limit_s
    while q.status["isTriggerActive"] and time.time() < end:
        time.sleep(0.05)


def record(progress: dict[int, dict], q) -> None:
    """Keep each batch's progress; an idle trigger reports again under the
    last batch id with no input rows and must not replace it."""
    for p in q.recentProgress:
        if p["numInputRows"] or p["batchId"] not in progress:
            progress[p["batchId"]] = p


def progress_time(p: dict) -> float:
    """Wall-clock start of a micro-batch from its progress record."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def end_time(p: dict) -> float:
    return progress_time(p) + p["durationMs"]["triggerExecution"] / 1000


# ------------------------------------------------------------------ oracle


def batch_scores(spark, sched: Schedule, base_us: int):
    """Batch `spike_dip_score` over `trailing_window(ts_sec, user_id, 60)`
    on the on-time events (the stream's state never keeps a far-late row
    inside any later row's window, so they are left out of both sides)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from azure_iot_realtime_data_pipeline_spark.operators.windows import (
        spike_dip_score,
        trailing_window,
        with_epoch_seconds,
    )

    keep = ~sched.late
    pdf = pd.DataFrame(
        {
            "event_id": sched.event_id[keep],
            "ts": pd.to_datetime(base_us + sched.ts_us[keep], unit="us", utc=True),
            "user_id": sched.user_id[keep],
            "value": sched.value[keep],
        }
    )
    ev = with_epoch_seconds(spark.createDataFrame(pdf), "ts")
    is_anom, score = spike_dip_score(
        F.col("value"), trailing_window("ts_sec", key="user_id", window_seconds=60)
    )
    out = ev.select("event_id", score.alias("score"), is_anom.alias("is_anomaly")).toPandas()
    return out.sort_values("event_id")


# --------------------------------------------------------------------- run


def run(spark_box: dict, work: str, seed: int, seconds: int, trace: bool) -> dict:
    from azure_iot_realtime_data_pipeline_spark.streaming import anomaly, pipeline

    phases = {"start": time.time()}
    setups, spark = [], None
    for rep in range(SETUP_REPS):
        spark, took = setup_once(spark, work, rep, seed)
        spark_box["spark"] = spark
        setups.append(took)

    phases["setup"] = time.time()
    # phase-lock to the trigger grid (module docstring): slot 0 is the
    # second before grid point g, so the first file lands at g + 0.5 and
    # the query starts just after g; the window opens at lo = g0 - 1 and is
    # read by the grid batches after g0 up to g_end, the first one after
    # the window's last file lands
    interval = trigger_seconds(pipeline.TRIGGER_INTERVAL)
    g = interval * math.ceil((time.time() + 0.1 - WRITE_DELAY_S) / interval)
    g0 = g + interval
    lo, hi = g0 - 1, g0 - 1 + seconds
    g_end = interval * math.ceil((hi + WRITE_DELAY_S) / interval)
    base_us = (g - 1) * 1_000_000
    sched = Schedule(seed, interval, seconds)
    # the batch oracle needs only the schedule: run it now if the wait for
    # the grid point leaves time, so it never overlaps the stream; then
    # spend what is left of the wait on more warm set-ups
    oracle = None
    if g - time.time() > ORACLE_LEAD_S:
        oracle = batch_scores(spark, sched, base_us)
    while len(setups) < SETUP_REPS_MAX and g - time.time() > 1.5 * max(setups[1:]) + 0.5:
        setups.append(setup_once(spark, work, len(setups), seed)[1])
    received = Received(len(sched.event_id))
    server = start_endpoint(received)
    poster = HttpPoster(f"http://127.0.0.1:{server.server_address[1]}/push")
    base = os.path.join(work, "run")
    telemetry, state_path = os.path.join(base, "telemetry"), os.path.join(base, "sync.json")
    spans = tracing.Spans()
    trace_dir = os.path.join(work, "trace")
    os.makedirs(trace_dir, exist_ok=True)

    gen = Generator(sched, base_us, os.path.join(base, "watch"), os.path.join(base, "stage"))
    sync = SyncLoop(spark, telemetry, state_path, poster)
    progress: dict[int, dict] = {}
    jiffies = before = None

    pipeline_writer = pipeline.multi_sink_batch_writer
    patches = []
    if trace:
        patches = [
            tracing.patched(
                anomaly,
                "make_spike_dip_fn",
                tracing.traced_state_fn_factory(anomaly.make_spike_dip_fn, trace_dir),
            ),
            tracing.patched(
                pipeline,
                "multi_sink_batch_writer",
                lambda *a, **kw: spans.wrap("fanout", pipeline_writer(*a, **kw)),
            ),
            tracing.patched(pipeline, "upsert_devices", spans.wrap("upsert_devices", pipeline.upsert_devices)),
        ]

    with common.MemorySampler() as mem, contextlib.ExitStack() as stack:
        gen.start()
        gen.first_file.wait()
        if gen.error is not None:
            raise RuntimeError("generator failed") from gen.error
        # the patches stay on while the query runs: the fan-out looks the
        # devices upsert up at every micro-batch
        for p in patches:
            stack.enter_context(p)
        q = start_stream(spark, base, os.path.join(base, "watch"))
        try:
            while gen.is_alive():
                gen.join(0.5)
                record(progress, q)
                if not sync.is_alive() and progress and os.path.isdir(telemetry):
                    sync.start()
                if jiffies is None and time.time() >= lo:
                    jiffies, before = common.cpu_jiffies(), common.spark_counters(spark)
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
            if gen.error is not None:
                raise RuntimeError("generator failed") from gen.error
            phases["generated"] = time.time()
            q.processAllAvailable()
            record(progress, q)
            drained = max(end_time(p) for p in progress.values())
            if not sync.is_alive():
                sync.start()
            # the final tick is the loop's first one to start after the last
            # batch committed
            while sync.is_alive() and not any(t[0] >= drained for t in sync.ticks):
                time.sleep(0.05)
            sync.halt.set()
            sync.join()
            end_jiffies, after = common.cpu_jiffies(), common.spark_counters(spark)
            wait_idle(q)
        finally:
            sync.halt.set()
            if sync.is_alive():
                sync.join()
            record(progress, q)
            q.stop()
            server.shutdown()
            server.server_close()
    phases["drained"] = time.time()

    return summarize(
        spark, sched, base_us, lo, hi, (g0, g_end, interval), received, gen, sync, poster, progress,
        spans, trace_dir if trace else None, setups, mem, before, after,
        common.steal_pct(jiffies, end_jiffies), os.path.join(base, "devices"), phases, oracle,
    )


def summarize(spark, sched, base_us, lo, hi, grid, received, gen, sync, poster,
              progress, spans, trace_dir, setups, mem, before, after, steal, devices_dir,
              phases, oracle) -> dict:
    from azure_iot_realtime_data_pipeline_spark.streaming.http_sink import PACE_SECONDS

    due = base_us / 1e6 + sched.due_us / 1e6
    in_window = (due >= lo) & (due < hi)
    on_time = in_window & ~sched.late
    got = received.count > 0
    fresh = (received.first - due)[on_time & got]

    batches = sorted(progress.values(), key=lambda p: p["batchId"])
    # the batches that read window events: the grid batches after g0 up to
    # g_end, and any that spill over when the engine falls behind
    g0, g_end, interval = grid
    after_g0 = g0 + WRITE_DELAY_S
    in_batches = [p for p in batches if progress_time(p) >= after_g0 and p["numInputRows"] > 0]
    # backlog (rows written but not yet committed) at each grid point from
    # g0 to g_end: one interval of rows every time when the engine keeps up
    ends = [(end_time(p), p["numInputRows"]) for p in batches]
    gen_times = np.array([w for _, _, w in gen.log])
    proc_t = np.array([e for e, _ in ends])
    proc_n = np.concatenate([[0], np.cumsum([n for _, n in ends])])
    marks = np.arange(g0, g_end + 1, interval)
    backlog = (
        np.searchsorted(gen_times, marks, side="right") * RATE
        - proc_n[np.searchsorted(proc_t, marks, side="right")]
    )
    backlog_growth = common.slope(marks, backlog)

    # ---- correctness
    errors = []
    if received.unknown:
        errors.append(f"{received.unknown} received rows with unknown telemetryId")
    if received.inconsistent:
        errors.append(f"{received.inconsistent} redelivered rows changed Score/Anomaly")
    late_delivered = int(np.sum(got & sched.late))
    if late_delivered:
        errors.append(f"{late_delivered} far-late events were delivered")
    dup_keys = (
        spark.read.parquet(devices_dir).groupBy("deviceId").count().filter("count > 1").count()
    )
    if dup_keys:
        errors.append(f"{dup_keys} duplicate deviceId keys in the devices dimension")
    # the state operator has no late-row filter under NoTimeout: far-late rows
    # reach the telemetry sink and only the sync tail's watermark holds them back
    stored = spark.read.parquet(os.path.join(os.path.dirname(devices_dir), "telemetry"))
    late_ids = sched.event_id[sched.late].tolist()
    far_late_stored = stored.filter(stored.telemetryId.isin(late_ids)).count() if late_ids else 0
    if oracle is None:
        oracle = batch_scores(spark, sched, base_us)
    ids = oracle["event_id"].to_numpy()
    delivered = got[ids]
    expect_anom = oracle["is_anomaly"].to_numpy()[delivered]
    score_ok = oracle["score"].to_numpy()[delivered] == received.score[ids][delivered]
    anom_ok = expect_anom == received.anomaly[ids][delivered]
    mismatched = int(np.sum(~(score_ok & anom_ok)))
    if mismatched:
        errors.append(f"{mismatched} delivered Score/Anomaly differ from batch spike_dip_score")

    ticks = [t for t in sync.ticks if lo <= t[0] < hi]
    redelivered = int(np.sum(np.maximum(received.count - 1, 0)))
    e2e = {
        "setup_s": common.median(setups[1:]),
        "peak_pss_mb": mem.peak_mb,
        "latency_p50_s": common.pct(fresh, 50),
        "latency_p99_s": common.pct(fresh, 99),
        "delivered_share": float(np.sum(on_time & got) / max(1, np.sum(on_time))),
    }
    detail = {
        "freshness_samples": int(len(fresh)),
        "backlog_growth_rows_per_s": backlog_growth,
        "duplicate_share": redelivered / max(1, received.rows),
        "anomalies_delivered": int(np.sum(expect_anom)),
        "anomalies_delivered_hot_keys": int(np.sum(expect_anom & sched.hot[ids][delivered])),
        "generator.late_s_max": max(w - d for _, d, w in gen.log),
        "host.cpu_steal_pct": steal,
        "steal_over_threshold": steal > common.STEAL_PCT,
        "batches_in_window": len(in_batches),
        "tick_errors": sync.errors[:5],
        "correctness_errors": errors,
        "setups_s": setups,
        "peak_pss_mb_by_process": {k: round(v) for k, v in mem.peak_by_name.items()},
        "freshness_p50_by_slot": [
            round(common.pct((received.first - due)[(sched.slot == k) & got & ~sched.late], 50), 2)
            for k in range(sched.slots)
        ],
        "batch_ms": [(round(progress_time(p) - lo, 1), p["durationMs"]["triggerExecution"], p["numInputRows"]) for p in batches],
    }
    phases["checked"] = time.time()
    steps = list(phases.items())
    detail["phases_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(steps, steps[1:])}

    def ms(key):
        return [p["durationMs"].get(key, 0) for p in in_batches]

    def state(key):
        return [p["stateOperators"][0][key] for p in in_batches if p.get("stateOperators")]

    tick_s = [e - s for s, e, _, _ in ticks]
    ok_ticks = [t for t in ticks if t[2] >= 0]
    posts = [p for p in poster.posts if lo <= p[0] < hi]
    layer = {
        "source.latest_offset_ms_p50": common.median(ms("latestOffset")),
        "source.get_batch_ms_p50": common.median(ms("getBatch")),
        "source.rows_per_batch_p50": common.median([p["numInputRows"] for p in in_batches]),
        "anomaly.state_rows_total": common.median(state("numRowsTotal")),
        "anomaly.state_memory_bytes": common.median(state("memoryUsedBytes")),
        "anomaly.state_update_ms_p50": common.median(state("allUpdatesTimeMs")),
        "anomaly.state_commit_ms_p50": common.median(state("commitTimeMs")),
        "anomaly.rows_dropped_by_watermark": float(sum(state("numRowsDroppedByWatermark"))),
        "anomaly.flags_delivered": float(detail["anomalies_delivered"]),
        "pipeline.batch_ms_p50": common.median(ms("triggerExecution")),
        "pipeline.add_batch_ms_p50": common.median(ms("addBatch")),
        "pipeline.wal_commit_ms_p50": common.median(ms("walCommit")),
        "pipeline.batches": float(len(in_batches)),
        "pipeline.sink_files_end": float(count_files(os.path.dirname(devices_dir))),
        "pipeline.far_late_rows_stored": float(far_late_stored),
        "http_sink.tick_s_p50": common.pct(tick_s, 50),
        "http_sink.tick_s_p99": common.pct(tick_s, 99),
        "http_sink.empty_tick_share": sum(1 for t in ok_ticks if t[2] == 0) / max(1, len(ok_ticks)),
        "http_sink.rows_per_tick_p50": common.median([t[2] for t in ok_ticks if t[2] > 0]),
        "http_sink.posts": float(len(posts)),
        "http_sink.post_s_p50": common.median([e - s for s, e, _ in posts]),
        "http_sink.pace_s": PACE_SECONDS * sum(max(0, t[3] - 1) for t in ok_ticks),
        "http_sink.tick_errors": float(len([e for e in sync.errors if lo <= e[0] < hi])),
        "generator.late_s_max": detail["generator.late_s_max"],
        "stream.backlog_growth_rows_per_s": backlog_growth,
        "stream.duplicate_share": detail["duplicate_share"],
        "stream.freshness_samples": float(len(fresh)),
        "setup.first_s": setups[0],
        "host.cpu_steal_pct": steal,
    }
    layer.update(common.counter_delta(before, after))
    if trace_dir is not None:
        # generation ends with the window: every state call after its first
        # batch starts belongs to the window batches
        calls = [c for c in tracing.read_worker_spans(trace_dir) if c[0] >= after_g0]
        layer.update(
            {
                "anomaly.fn_s": float(sum(c[1] for c in calls)),
                "anomaly.groups": float(len(calls)),
                "pipeline.fanout_s_p50": common.median(spans.durations("fanout", after_g0, math.inf)),
                "pipeline.upsert_devices_s_p50": common.median(
                    spans.durations("upsert_devices", after_g0, math.inf)
                ),
                "trace.latency_p50_s": e2e["latency_p50_s"],
                "trace.bookkeeping_s": spans.bookkeeping_s,
            }
        )
    return {
        "errors": errors,
        "attempted": len(sync.ticks),
        "failed": len(sync.errors),
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }


def count_files(path: str) -> int:
    return sum(
        1
        for d in ("bronze", "devices", "telemetry")
        for _, _, files in os.walk(os.path.join(path, d))
        for f in files
        if f.endswith(".parquet")
    )
