"""Spark 4 `transformWithStateInPandas` variant of the streaming Renko
operator — same semantics and the same per-micro-batch step as
`renko_stream` (applyInPandasWithState), hosted in the newer
StatefulProcessor API, which carries the warm-start table as a
first-class `initialState` GroupedData (SURVEY §1.4 maps the
reference's RenkoWS state to exactly this) instead of a task closure,
so the warm table scales past what a closure can capture.

Use this one when running on Spark 4 clusters; `renko_stream` remains
for 3.4+ compatibility. Both are differential-tested against each other
and against `RenkoLive`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import StatefulProcessor, StatefulProcessorHandle

from renkodf_spark.operators.renko import clean_ticks
from renkodf_spark.schema import STREAM_SCHEMA
from renkodf_spark.streaming.renko_stream import _STATE_SCHEMA, brick_frame, stream_batch, warm_table


class RenkoProcessor(StatefulProcessor):
    """Per-symbol Renko state machine (reference RenkoWS scalar state,
    renkodf.py:504-511, plus the brick_seq counter) over the cleaned
    ``symbol, __time, __price`` ticks."""

    def __init__(self, brick_size: float, emit_seed: bool = True):
        self._brick = float(brick_size)
        self._emit_seed = emit_seed

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("renko", _STATE_SCHEMA)

    def handleInitialState(self, key, initialState: pd.DataFrame, timerValues) -> None:
        self._state.update(warm_table(initialState)[str(key[0])])

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        prior = self._state.get() if self._state.exists() else None
        step = stream_batch(rows, self._brick, prior, self._emit_seed)
        if step is None:
            return
        seq0, cols, state, _, _ = step
        self._state.update(state)
        if len(cols["close"]):
            yield brick_frame(key[0], seq0, cols)

    def close(self) -> None:
        pass


def renko_stream_tws(
    ticks: DataFrame,
    brick_size: float,
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    initial_state: DataFrame | None = None,
    emit_seed: bool = True,
) -> DataFrame:
    """Streaming wide-brick DataFrame via transformWithStateInPandas.

    ``initial_state``: optional warm-start DataFrame in ``to_rws()``
    shape (must contain symbol, brick_seq, close, direction, volume)."""
    slim = clean_ticks(ticks, brick_size, symbol_col, time_col, price_col)
    try:  # the TWS state-server protocol needs protobuf on driver+workers
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package; "
            "use renkodf_spark.streaming.renko_stream (applyInPandasWithState) "
            "on environments without it"
        ) from e
    init = initial_state.groupBy("symbol") if initial_state is not None else None
    return slim.groupBy("symbol").transformWithStateInPandas(
        RenkoProcessor(brick_size, emit_seed),
        outputStructType=STREAM_SCHEMA,
        outputMode="Append",
        timeMode="None",
        initialState=init,
    )
