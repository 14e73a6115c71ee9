"""Stateful streaming spike/dip anomaly (operators F1+F2, streaming form).

The reference applies `AnomalyDetection_SpikeAndDip(value, 95, 85,
'spikesanddips') OVER (LIMIT DURATION(second, 60))` inside the ASA job
(reference stream-analytics/iot-stream-analytics-query.sql:33-44;
params README.MD:152-154). This module is the streaming binding of the
deterministic stand-in spec defined in operators/windows.py — SAME
numbers, different execution: `applyInPandasWithState` carrying a
bounded per-key history instead of a Catalyst RANGE window.

Parity contract (tested): for in-order input where rows sharing an
epoch second arrive in one micro-batch AND no key has more than
`history_size` events inside any `window_seconds` span (always true
when `history_size=None`), every (score, is_anomaly) is bit-identical
to the batch `spike_dip_score` over
`trailing_window(key, window_seconds)`. The density bound exists
because the batch RANGE frame is unbounded within the window while
streaming state keeps at most `history_size` events (the reference's
own 85-event cap, README.MD:152-154): denser-than-85/window keys score
from a truncated history after the first batch boundary. Run with
`history_size=None` when batch parity matters more than the bounded-
state guarantee. The replicated arithmetic:

  dec(v)  = decimal(18,2) HALF_UP of the double's shortest repr
            (Spark's double->decimal cast)
  s1, s2  = exact decimal sums over the window [t-W, t] (ties at t
            included), then cast to double
  mean    = s1/n;  var = (s2 - s1*mean)/(n-1) clamped >= 0
  score   = floor(((x-mean)/sd)*1e4 + 0.5)/1e4;  0.0 when n<=1 or sd=0
  flag    = |score| > 3.0

Scale notes:
- State is bounded: events older than `window_seconds` are pruned each
  batch and history is capped at `history_size` (reference bound 85) —
  O(window) memory per key regardless of stream length.
- Key choice is the scalability decision: the reference window is
  GLOBAL (no PARTITION BY) which serializes state through one task;
  `key_col` defaults to per-device, and global mode is an explicit
  constant-key opt-in (SURVEY.md §7 hard part 1).
- Late rows within the retained window still score correctly (their
  trailing window is a filter over retained history). Nothing drops
  rows later than the watermark: under `GroupStateTimeout.NoTimeout`
  Spark applies no late-row filter to this operator's input, so a
  far-late row is scored from whatever history its key retains. The
  pipeline (streaming/pipeline.py) no longer runs this operator: it
  scores each micro-batch with the batch operator over a retained tail
  and drops far-late rows itself. This module stays as the standalone
  stateful form (tests pin its parity; the benchmark's tracer wraps
  `make_spike_dip_fn` by name).
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import TYPE_CHECKING

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
    DoubleType,
    ArrayType,
)

if TYPE_CHECKING:  # pragma: no cover
    pass

WINDOW_SECONDS = 60
HISTORY_SIZE = 85
Z_THRESHOLD = 3.0

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("score", DoubleType()),
        StructField("is_anomaly", IntegerType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("ts_secs", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
    ]
)

_CENT = Decimal("0.01")


def _dec2(v: float) -> Decimal:
    """Spark's cast(double as decimal(18,2)): HALF_UP on the shortest
    decimal representation (repr(float) == Double.toString)."""
    return Decimal(repr(v)).quantize(_CENT, rounding=ROUND_HALF_UP)


#: same degenerate-window rule as the batch operator (see
#: operators/windows.py:DEGENERATE_REL_SD) — flat windows must score 0
#: identically in all three implementations.
DEGENERATE_REL_SD = 1e-6


def _score_one(x: float, window_vals: list[Decimal]) -> tuple[float, int]:
    n = len(window_vals)
    if n <= 1:
        return 0.0, 0
    s1 = float(sum(window_vals))
    s2 = float(sum(v * v for v in window_vals))
    mean = s1 / n
    var = max((s2 - s1 * mean) / (n - 1), 0.0)
    sd = math.sqrt(var)
    if sd <= abs(mean) * DEGENERATE_REL_SD:
        return 0.0, 0
    raw = (x - mean) / sd
    score = math.floor(raw * 10000.0 + 0.5) / 10000.0
    return score, int(abs(score) > Z_THRESHOLD)


def make_spike_dip_fn(
    window_seconds: int = WINDOW_SECONDS,
    history_size: int | None = HISTORY_SIZE,
):
    """Build the applyInPandasWithState function (picklable closure)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_hist, val_hist = state.get
            hist: list[tuple[int, float]] = list(zip(ts_hist, val_hist))
        else:
            hist = []

        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="stable")
            secs = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
            vals = pdf["value"].to_numpy()
            scores = [0.0] * len(pdf)
            flags = [0] * len(pdf)
            # group by distinct second: admit ALL rows of a second into
            # history before scoring any of them — this is what makes the
            # causal evaluation match the batch RANGE frame's tie handling
            i = 0
            while i < len(pdf):
                j = i
                sec = int(secs[i])
                while j < len(pdf) and int(secs[j]) == sec:
                    hist.append((sec, float(vals[j])))
                    j += 1
                lo = sec - window_seconds
                window = [_dec2(v) for (s, v) in hist if lo <= s <= sec]
                for k in range(i, j):
                    scores[k], flags[k] = _score_one(float(vals[k]), window)
                i = j
            out = pdf[["event_id", "user_id", "ts", "value"]].copy()
            out["score"] = scores
            out["is_anomaly"] = flags
            yield out

        if hist:
            hist.sort(key=lambda e: e[0])
            hi = hist[-1][0]
            hist = [e for e in hist if e[0] >= hi - window_seconds]
            if history_size is not None and len(hist) > history_size:
                hist = hist[-history_size:]
            state.update((
                [int(s) for s, _ in hist],
                [float(v) for _, v in hist],
            ))

    return fn


def spike_dip_stream(
    events: DataFrame,
    key_col: str = "user_id",
    window_seconds: int = WINDOW_SECONDS,
    history_size: int | None = HISTORY_SIZE,
) -> DataFrame:
    """Score a streaming events frame; one state cell per key.

    `events` must have (event_id, ts, user_id, value); grouping on
    `key_col` shuffles once to the state partitioning, which then also
    serves the sink writes.
    """
    return events.groupBy(key_col).applyInPandasWithState(
        make_spike_dip_fn(window_seconds, history_size),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
