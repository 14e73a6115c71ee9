"""Structured Streaming layer (Phase 3, SURVEY.md §7).

Binds the batch-proven operator semantics to `readStream`:

- source.py    — file-replay source of the `events` table (A1 analog)
- anomaly.py   — standalone stateful spike/dip via applyInPandasWithState
                 (F1/F2); the pipeline no longer uses it
- pipeline.py  — single-pass multi-sink foreachBatch: raw bronze, far-late
                 drop, batch spike/dip over a retained tail, telemetry and
                 devices (F1-F5/F7)
- windows_stream.py — more than 20 streaming twins of batch operators
                 (session/tumbling/hopping K1-K3, as-of, dedup, sketches,
                 event-time policy and more), batch-equivalence tested
- http_sink.py — chunked, paced HTTP row push tailing the telemetry sink
                 by commit order, last-pushed-batch cell (A8/A9/F6/F8/F9)
"""
