"""Single-process incremental Renko engine (`RenkoLive`) — the local
counterpart of the reference's `RenkoWS` (renkodf.py:423-858), built on
the same kernel as the batch operator.

This class exists for three reasons:
 1. API parity — a user of the reference can drive one price at a time
    and read `renko_df()` / `renko_animate()` exactly as before.
 2. It is the differential-test oracle half for the Structured
    Streaming operator (`renkodf_spark.streaming`), which holds the same
    state vector per key inside `applyInPandasWithState`.
 3. It documents the cold-start semantics the streaming operator
    reproduces: the seed row (all OHLC = grid anchor, volume=1,
    direction=1, is_reversal=1, renkodf.py:468-499) — note the seed sets
    last_direction=1 (renkodf.py:508), unlike the batch kernel's 0, so a
    first move *down* needs a 2-brick traversal in streaming; the
    reference's own batch-vs-ws tests drop the seed + first bar for this
    reason (test/test_ws.py:39).
"""

from __future__ import annotations

import pandas as pd

from renkodf_spark.kernel import (
    WIDE_VALUE_COLUMNS,
    check_brick,
    forming_bar,
    new_output,
    scan_ticks,
    stream_cold_start,
    warm_start,
)
from renkodf_spark.schema import MODE_SOURCES, MODES

# streaming wide table = batch wide minus the tick-index columns
# (reference renkodf.py:489-496)
_LIVE_COLUMNS = tuple(c for c in WIDE_VALUE_COLUMNS if not c.startswith("tick_index_"))


class RenkoLive:
    def __init__(
        self,
        ws_timestamp: int | None = None,
        ws_price: float | None = None,
        brick_size: float | None = None,
        external_df: pd.DataFrame | None = None,
        ts_unit: str = "us",
    ):
        self._ts_unit = ts_unit
        if external_df is None:
            check_brick(brick_size)
            if ws_price is None:
                raise ValueError("ws_price cannot be 'None'")
            if ws_timestamp is None:
                raise ValueError("ws_timestamp cannot be 'None'")
            self._brick_size = float(brick_size)
            seed, self._state = stream_cold_start(int(ws_timestamp), ws_price, brick_size)
            self._buf = {"timestamp": [seed["event_time"]]}
            for c in _LIVE_COLUMNS:
                self._buf[c] = [seed[c]]
        else:
            ext = external_df
            self._brick_size = float(ext["brick_size"].iloc[0])
            self._buf = {"timestamp": ext["timestamp"].astype("int64").tolist()}
            for c in _LIVE_COLUMNS:
                self._buf[c] = ext[c].tolist()
            self._state = warm_start({c: ext[c].iloc[-1] for c in ("close", "direction", "volume")})

        self._initial_df = self._wide_frame()
        self._ws_timestamp = ws_timestamp if ws_timestamp is not None else self._buf["timestamp"][-1]
        self._ws_price = ws_price if ws_price is not None else self._buf["close"][-1]

    # -- ingestion ---------------------------------------------------

    def add_prices(self, ws_timestamp: int, ws_price: float, gap_tolerance: int = 200) -> None:
        """Feed one price; append 0..k completed bricks (reference
        add_prices, renkodf.py:513-690).

        ``gap_tolerance`` enforces the reference's per-event brick cap
        (renkodf.py:541-542: pre-allocated arrays of that length, so a
        single tick gapping more than `gap_tolerance` bricks raises
        IndexError there). Same contract here — a memory guard against a
        malicious/bogus tick — with two deliberate differences: the
        check runs before any state is committed (the reference's
        internal state is left part-advanced on overflow), and passing
        ``gap_tolerance=None`` disables the cap (buffers grow)."""
        self._ws_timestamp = int(ws_timestamp)
        self._ws_price = float(ws_price)
        out = new_output()
        state = list(self._state)
        scan_ticks([int(ws_timestamp)], [float(ws_price)], 0, self._brick_size, state, out)
        if gap_tolerance is not None and len(out["event_time"]) > gap_tolerance:
            raise IndexError(
                f"single event at price {ws_price} emits {len(out['event_time'])} "
                f"bricks > gap_tolerance={gap_tolerance} (reference parity, "
                "renkodf.py:541-550); pass a larger gap_tolerance or None"
            )
        self._state[:] = state
        if out["event_time"]:
            self._buf["timestamp"].extend(out["event_time"])
            for c in _LIVE_COLUMNS:
                self._buf[c].extend(out[c])

    # -- readers -----------------------------------------------------

    def _wide_frame(self) -> pd.DataFrame:
        df = pd.DataFrame({"timestamp": self._buf["timestamp"]})
        for c in _LIVE_COLUMNS:
            df[c] = self._buf[c]
        df.index = pd.DatetimeIndex(pd.to_datetime(df["timestamp"], unit=self._ts_unit))
        df.index.name = "datetime"
        return df

    def renko_df(self, mode: str = "wicks", utils_columns: bool = True) -> pd.DataFrame:
        """Completed bricks, projected to one mode (reference
        RenkoWS.renko_df, renkodf.py:692-765)."""
        if mode not in MODES:
            raise ValueError(f"Only {list(MODES)} options are valid.")
        open_src, high_src, low_src = MODE_SOURCES[mode]
        wide = self._wide_frame()
        out = pd.DataFrame(
            {
                "timestamp": wide["timestamp"],
                "open": wide[open_src],
                "high": wide[high_src],
                "low": wide[low_src],
                "close": wide["close"],
                "volume": wide["volume"],
            },
            index=wide.index,
        )
        if utils_columns:
            out["direction"] = wide["direction"]
            out["is_reversal"] = wide["is_reversal"]
        return out

    def renko_animate(self, mode: str = "wicks", max_len: int = 500, keep: int = 250) -> pd.DataFrame:
        """Completed bricks + one synthesized in-progress bar
        (reference renko_animate, renkodf.py:767-858), including its
        quirks: the running wick excludes the price that completed the
        last brick, and `normal` mode pins the forming high/low to the
        raw price."""
        df = self.renko_df(mode)
        df_length = len(df)

        ws_timestamp = self._ws_timestamp
        ws_price = self._ws_price
        last_close, _dir, wick_min, wick_max, volume, _t = self._state

        forming = {
            "timestamp": [ws_timestamp],
            "open": [ws_price],
            "high": [ws_price],
            "low": [ws_price],
            "close": [ws_price],
            "volume": volume,
            "direction": [0],
            "is_reversal": [0],
        }

        if df_length < 1:
            forming["open"][-1] = self._initial_df["close"].iloc[-1]
            forming["high"][-1] = wick_max
            forming["low"][-1] = wick_min
            df_ws = pd.DataFrame(forming)
            df_ws.index = pd.DatetimeIndex(pd.to_datetime(df_ws["timestamp"], unit=self._ts_unit))
            df_ws.index.name = "datetime"
            df_ws = df_ws.drop(columns=["timestamp"])
            return pd.concat([self._initial_df, df_ws])

        o, h, lo, direction = forming_bar(
            mode, ws_price, df["open"].iloc[-1], df["close"].iloc[-1], wick_min, wick_max
        )
        forming.update(open=[o], high=[h], low=[lo], direction=[direction])

        df_ws = pd.DataFrame(forming)
        df_ws.index = pd.DatetimeIndex(pd.to_datetime(df_ws["timestamp"], unit=self._ts_unit))
        df_ws.index.name = "datetime"

        if max_len != 0 and df_length >= max_len:
            cut = max_len - keep
            self._buf["timestamp"] = self._buf["timestamp"][cut:]
            for c in _LIVE_COLUMNS:
                self._buf[c] = self._buf[c][cut:]

        return pd.concat([df, df_ws])
