"""Spans recorded from the benchmark's side around the package's public calls.

Calls that run in the benchmark process (the foreachBatch fan-out, the
devices upsert) are wrapped in place and their spans kept in memory. The
spike/dip state function runs in Spark's Python workers, so its wrapper
appends one line per group call to a per-process file that the benchmark
reads at the end.
"""

from __future__ import annotations

import contextlib
import glob
import os
import time


class Spans:
    """In-memory spans: (name, start, end) in wall-clock seconds."""

    def __init__(self) -> None:
        self.records: list[tuple[str, float, float]] = []
        self.bookkeeping_s = 0.0

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.time()
                self.records.append((name, start, end))
                self.bookkeeping_s += time.time() - end

        return traced

    def durations(self, name: str, lo: float, hi: float) -> list[float]:
        """Durations of `name` spans that started in [lo, hi)."""
        return [e - s for n, s, e in self.records if n == name and lo <= s < hi]


@contextlib.contextmanager
def patched(module, name: str, replacement):
    """Swap `module.name` for the duration of the block."""
    original = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield original
    finally:
        setattr(module, name, original)


_WORKER_FILES: dict[str, object] = {}


def _worker_append(path: str, line: str) -> None:
    fh = _WORKER_FILES.get(path)
    if fh is None:
        fh = _WORKER_FILES[path] = open(path, "a", buffering=1)
    fh.write(line)


def traced_state_fn_factory(factory, trace_dir: str):
    """Wrap `make_spike_dip_fn`: the built callable logs, per group call,
    its wall-clock start, its duration and the rows it emitted."""

    def make(*args, **kwargs):
        fn = factory(*args, **kwargs)

        def traced(key, pdfs, state):
            start = time.time()
            t0 = time.perf_counter()
            out = list(fn(key, pdfs, state))
            took = time.perf_counter() - t0
            rows = sum(len(o) for o in out)
            _worker_append(
                os.path.join(trace_dir, f"state-fn-{os.getpid()}.tsv"),
                f"{start}\t{took}\t{rows}\n",
            )
            yield from out

        return traced

    return make


def read_worker_spans(trace_dir: str) -> list[tuple[float, float, int]]:
    """(start, duration, rows) of every traced state-function call."""
    out = []
    for path in glob.glob(os.path.join(trace_dir, "state-fn-*.tsv")):
        with open(path) as fh:
            for line in fh:
                start, took, rows = line.split("\t")
                out.append((float(start), float(took), int(rows)))
    return out
