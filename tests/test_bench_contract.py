"""The benchmark (`perfbench/`) drives the package through a few names;
these tests pin them so a package change cannot silently break
`perfbench/run.py`."""

from __future__ import annotations

import inspect

from azure_iot_realtime_data_pipeline_spark.streaming import anomaly, http_sink, pipeline
from perfbench.fleet import trigger_seconds


def test_trigger_interval_is_whole_seconds():
    # fleet_wide phase-locks its generator to this grid
    assert trigger_seconds(pipeline.TRIGGER_INTERVAL) >= 1


def test_traced_names_resolve():
    # `--trace 1` swaps these by name for the run
    assert callable(anomaly.make_spike_dip_fn)
    assert callable(pipeline.multi_sink_batch_writer)
    assert callable(pipeline.upsert_devices)


def test_fleet_call_binds_with_defaults():
    # perfbench/fleet.py:start_stream
    inspect.signature(pipeline.run_multi_sink).bind(
        None, "bronze", "devices", "telemetry", "checkpoint", available_now=True
    )
    inspect.signature(pipeline.curated_stream).bind(None)


def test_sync_tick_binds_and_counts_rows(tmp_path):
    # perfbench/fleet.py:SyncLoop.tick; an empty tick needs no Spark at all
    args = (None, str(tmp_path / "telemetry"), str(tmp_path / "sync.json"), print)
    inspect.signature(http_sink.incremental_push).bind(*args)
    rows = http_sink.incremental_push(*args)
    assert type(rows) is int and rows == 0
