"""Structured Streaming Renko operator: the incremental twin of the
batch `renko()` (reference `RenkoWS.add_prices`, renkodf.py:513-690),
hosted in `applyInPandasWithState`.

Per-key value state is exactly the reference's scalar state
(renkodf.py:504-511): (last_close, last_direction, wick_min, wick_max,
volume) plus our explicit `brick_seq` counter. Completed bricks are
emitted in append mode; `renko_stream_animate` adds the forming bar
(reference `renko_animate`) as an update-mode side output.

Semantics notes, matching the reference and `renkodf_spark.live`:
- cold start seeds one synthetic brick at the grid anchor with
  direction=1 (so a first move *down* needs a 2-brick traversal —
  renkodf.py:504-508 behavior, `kernel.stream_cold_start`).
- warm start: pass `initial_state` (the `to_rws()` export, collected to
  pandas) — each key resumes from its last exported brick
  (`kernel.warm_start`).
- arrival order: events are replayed in event-time order *within* a
  micro-batch (stable sort here); across micro-batches the source order
  governs, as in the reference (it assumes in-order ticks). A watermark
  on the source upstream of this operator is the drop-late policy.

Scale: state is O(1) per symbol; per-micro-batch work is O(events in
batch); parallelism across symbols — identical posture to the batch
operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from renkodf_spark.kernel import forming_bar, run_segment, stream_cold_start, warm_start
from renkodf_spark.operators.renko import clean_ticks
from renkodf_spark.schema import MODE_SOURCES, MODES, STREAM_SCHEMA

# (last_close, last_dir, wick_min, wick_max, volume, next brick_seq)
_STATE_SCHEMA = (
    "last_close double, last_dir long, wick_min double, wick_max double, "
    "volume long, seq long"
)

_OUT_COLUMNS = [f.name for f in STREAM_SCHEMA.fields]
_VALUE_COLUMNS = [c for c in _OUT_COLUMNS if c not in ("symbol", "brick_seq", "event_time")]


def warm_table(initial_state: pd.DataFrame | None, *extra: str) -> dict:
    """``{symbol: stored state}`` from a ``to_rws()`` export: each key
    resumes from its last exported brick, with ``brick_seq`` continuing
    after it; ``extra`` columns of that row are appended as floats."""
    if initial_state is None:
        return {}
    tail = initial_state.sort_values("brick_seq").groupby("symbol", sort=False).tail(1)
    warm = {}
    for row in tail.to_dict("records"):
        ks = warm_start(row)
        warm[str(row["symbol"])] = (*ks[:5], int(row["brick_seq"]) + 1, *(float(row[c]) for c in extra))
    return warm


def stream_batch(pdfs, brick: float, prior: tuple | None, emit_seed: bool):
    """One key's micro-batch: concat and stable-sort the events, start
    from the stored state ``prior`` (cold when ``None``), run the
    segment. Returns ``None`` for an empty batch, else ``(seq0, cols,
    state, price, ts)``: ``cols`` holds ``event_time`` and the stream
    value columns of the completed bricks (the seed row first on a cold
    start with ``emit_seed``) numbered from ``seq0``, ``state`` is the
    new stored state, ``(price, ts)`` the batch's last tick."""
    events = pd.concat(list(pdfs), ignore_index=True).sort_values("__time", kind="mergesort")
    times = events["__time"].to_numpy()
    prices = events["__price"].to_numpy()
    if not len(prices):
        return None
    if prior is None:
        seed, kstate = stream_cold_start(times[0], float(prices[0]), brick)
        seq0, start = 0, 1
    else:
        kstate, seq0, seed, start = [*prior[:5], 0], prior[5], None, 0
    ev, arrs = run_segment(times, prices, brick, kstate, start)
    head = seed is not None and emit_seed
    cols = {"event_time": np.concatenate([times[:1], ev]) if head else ev}
    for c in _VALUE_COLUMNS:
        cols[c] = np.concatenate([[seed[c]], arrs[c]]) if head else arrs[c]
    n = len(cols["close"])
    state = (float(kstate[0]), int(kstate[1]), float(kstate[2]), float(kstate[3]), int(kstate[4]), int(seq0 + n))
    return seq0, cols, state, float(prices[-1]), times[-1]


def brick_frame(symbol, seq0: int, cols: dict) -> pd.DataFrame:
    """The stream output frame for ``stream_batch`` columns."""
    n = len(cols["close"])
    return pd.DataFrame({"symbol": symbol, "brick_seq": np.arange(seq0, seq0 + n, dtype=np.int64), **cols})[
        _OUT_COLUMNS
    ]


def renko_stream(
    ticks: DataFrame,
    brick_size: float,
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    initial_state: pd.DataFrame | None = None,
    emit_seed: bool = True,
) -> DataFrame:
    """Build the streaming wide-brick DataFrame from a streaming tick
    DataFrame. Output mode: append (completed bricks only).

    ``initial_state``: optional warm-start table in ``to_rws()`` shape
    (columns: symbol, brick_seq, close, direction, volume, brick_size,
    timestamp, ...). Must be small (one tail row per symbol is enough);
    it is captured in the task closure like a broadcast dim.
    """
    slim = clean_ticks(ticks, brick_size, symbol_col, time_col, price_col)
    warm = warm_table(initial_state)

    def process(key, pdfs, state):
        symbol = key[0]
        step = stream_batch(pdfs, brick_size, state.get if state.exists else warm.get(symbol), emit_seed)
        if step is None:
            return
        seq0, cols, new_state, _, _ = step
        state.update(new_state)
        if len(cols["close"]):
            yield brick_frame(symbol, seq0, cols)

    return slim.groupBy("symbol").applyInPandasWithState(
        process,
        outputStructType=STREAM_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


_FORMING_SCHEMA = T.StructType(
    list(STREAM_SCHEMA.fields) + [T.StructField("is_forming", T.IntegerType())]
)

# extended state: + the last brick's mode-projected open (the forming
# bar's retrace branches need the previous brick's open AND close)
_ANIMATE_STATE_SCHEMA = _STATE_SCHEMA + ", last_open double"


def renko_stream_animate(
    ticks: DataFrame,
    brick_size: float,
    mode: str = "wicks",
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    initial_state: pd.DataFrame | None = None,
) -> DataFrame:
    """Streaming twin of the reference's `renko_animate`
    (renkodf.py:767-858): completed bricks plus one in-progress bar per
    key per micro-batch, flagged ``is_forming = 1`` with
    ``brick_seq = next_seq`` as the natural upsert key.

    Requires **update** output mode (the forming row for a key is
    re-emitted every batch). The forming bar's open/high/low follow the
    chosen ``mode``'s rules (reference computes them after mode
    projection); its values are written into every variant column, so
    only the chosen mode's projection of the forming row is meaningful.
    """
    slim = clean_ticks(ticks, brick_size, symbol_col, time_col, price_col)
    if mode not in MODES:
        raise ValueError(f"Only {list(MODES)} options are valid.")
    open_src = MODE_SOURCES[mode][0]
    warm = warm_table(initial_state, open_src)

    def process(key, pdfs, state):
        symbol = key[0]
        stored = state.get if state.exists else warm.get(symbol)
        prior, last_open = (stored[:6], stored[6]) if stored is not None else (None, None)
        step = stream_batch(pdfs, brick_size, prior, emit_seed=True)
        if step is None:
            return
        seq0, cols, new_state, price, ts = step
        if len(cols["close"]):
            last_open = float(cols[open_src][-1])
        state.update((*new_state, last_open))

        last_close, _, wick_min, wick_max, volume, next_seq = new_state
        o, h, lo, direction = forming_bar(mode, price, last_open, last_close, wick_min, wick_max)
        forming = {"event_time": ts, "close": price, "volume": volume, "direction": direction, "is_reversal": 0}
        for o_src, h_src, l_src in MODE_SOURCES.values():
            forming.update({o_src: o, h_src: h, l_src: lo})
        cols = {c: np.append(v, forming[c]) for c, v in cols.items()}
        res = brick_frame(symbol, seq0, cols)
        res["is_forming"] = (res["brick_seq"] == next_seq).astype(np.int32)
        yield res

    return slim.groupBy("symbol").applyInPandasWithState(
        process,
        outputStructType=_FORMING_SCHEMA,
        stateStructType=_ANIMATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
