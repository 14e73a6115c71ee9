"""The per-key state kernel behind every stateful streaming operator.

Each stateful twin in `windows_stream.py` and `anomaly.py` is a FOLD: an
initial carry, a declared row order, and a step that folds one key's
rows of one micro-batch into the carry and returns the rows to emit.
This module does everything around the step, once:

- `fold` builds the ``(key, pdfs, state)`` callable Spark calls. Per key
  and micro-batch it reads the state (or the fold's initial carry),
  concatenates the key's Arrow chunks into one frame, drops NULL-event-
  time rows and sorts when the fold is time-ordered, converts the event
  time to microseconds, calls the step, writes the carry back and
  yields the step's rows.
- `fold_stream` is the package's only ``applyInPandasWithState`` call.

The declared order decides the row handling:

- ``order`` starting with the event-time column (time-ordered folds):
  NULL-event-time rows are dropped, since a fold cannot place them in
  time, then the WHOLE micro-batch is sorted. Spark delivers a key's
  batch as several Arrow chunks above
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (default 10k), so a
  chunk-local sort would permute the series across chunk edges.
- ``order`` on another column (the arrival-ordered event-time clamp):
  the whole batch is sorted by it and NULL-event-time rows are kept,
  as the batch `eventtime.adjust_clamp` keeps them.
- ``order=None`` (order-free sketches): the step receives the chunks as
  they arrive, so the fold's memory stays bounded by its sketch.

Every operator runs under ``GroupStateTimeout.NoTimeout``: Spark calls
a fold only for keys with rows in the micro-batch, so an idle key's
state never expires, a quiet key's buffered rows wait for its next row,
and no late-row filter runs on the fold's input. A different timeout
policy or executor is a change to `fold_stream` alone.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def one_frame(pdfs: Iterable[pd.DataFrame]) -> pd.DataFrame | None:
    """Concatenate a key's Arrow chunks into ONE frame (None when empty)."""
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return None
    return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)


def round4(x: float) -> float:
    """Half-up to 4 decimals with `math.floor`, bit-matching the batch
    operators' ``F.floor(x * 10000 + 0.5) / 10000`` for either sign
    (``int()`` would truncate toward zero)."""
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def fold(
    step: Callable,
    init: tuple,
    order: tuple[str, ...] | None = None,
    ts_col: str | None = None,
    watermarked: bool = False,
) -> Callable[[tuple, Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]]:
    """Build the ``(key, pdfs, state)`` callable for one fold.

    ``step(key, rows, ts_us, carry)`` returns ``(carry, out)``: the new
    carry tuple and a frame of rows to emit (or None). ``rows`` is the
    key's micro-batch as one frame in ``order`` (``ts_us`` its event
    times in microseconds), or the chunk iterator when ``order`` is None
    (``ts_us`` is then None). A ``watermarked`` step takes the current
    watermark in microseconds as a fifth argument. A micro-batch whose
    rows are all NULL-event-time still reaches the step, as an empty
    frame, so summary folds emit their running value.
    """
    timed = order is not None and order[0] == ts_col

    def fn(key, pdfs, state):
        carry = tuple(state.get) if state.exists else init
        rows, ts_us = pdfs, None
        if order is not None:
            rows = one_frame(pdfs)
            if rows is None:
                return
            if timed:
                rows = rows[rows[ts_col].notna()]
            rows = rows.sort_values(list(order), kind="stable")
            ts = rows[ts_col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            # wall-clock epoch microseconds; a kept NULL becomes INT64 min
            ts_us = ts.astype("datetime64[us]").astype("int64").tolist()
        extra = (state.getCurrentWatermarkMs() * 1000,) if watermarked else ()
        carry, out = step(key, rows, ts_us, carry, *extra)
        state.update(carry)
        if out is not None and len(out):
            yield out

    return fn


def fold_stream(
    frame: DataFrame,
    key_col: str,
    fn: Callable,
    output_schema: StructType,
    state_schema: StructType,
    output_mode: str = "append",
) -> DataFrame:
    """Run a fold callable per key of a streaming frame."""
    return frame.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
