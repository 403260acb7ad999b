"""The kernel-state protocol without a Spark session: the carry row
round-trips bit for bit through Arrow, and the transformWithState host
(whose Spark run needs protobuf) replays like `RenkoLive` when driven
through a stand-in state handle."""

import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from renkodf_spark.kernel import CARRY_FIELDS, pack_carry, unpack_carry
from renkodf_spark.live import RenkoLive
from tests.test_streaming import _two_symbol_ticks, _us

_SCHEMA = T.StructType([T.StructField("symbol", T.StringType())] + CARRY_FIELDS)


def _bits(v):
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, np.datetime64):
        return ("t", str(v.dtype), int(v.view("int64")))
    return (type(v).__name__, v)


@pytest.mark.parametrize(
    "carry, tz",
    [
        ([101.25, 1, 100.0000000000001, 102.5, 7, 12345, 40, 99999, np.datetime64(1_700_000_000_123_456, "us")], "UTC"),
        ([-0.0, -1, 0.1 + 0.2, 1e300, 1, 0, 0, 0, None], "America/New_York"),
        ([99.75, -1, 98.5, 101.0, 3, 2**40, 2**33, 2**41, np.datetime64("1969-12-31T23:59:59.999999", "us")], "Asia/Kolkata"),
    ],
)
def test_carry_pack_unpack_round_trip(carry, tz):
    ts_type = pa.timestamp("us", tz=tz)
    tbl = pack_carry(_SCHEMA, ts_type, "S", carry)
    assert tbl.schema.field("__st_first_ts").type == ts_type
    got = unpack_carry(tbl)
    assert [_bits(v) for v in got] == [_bits(v) for v in carry]


def test_carry_unpack_reads_row_i():
    ts_type = pa.timestamp("us", tz="Europe/Berlin")
    rows = [
        [1.5, 1, 1.0, 2.0, 4, 9, 3, 10, None],
        [2.5, -1, 2.0, 3.0, 5, 19, 6, 20, np.datetime64(86_400_000_000, "us")],
    ]
    tbl = pa.concat_tables([pack_carry(_SCHEMA, ts_type, "S", c) for c in rows])
    for i, c in enumerate(rows):
        assert [_bits(v) for v in unpack_carry(tbl, i)] == [_bits(v) for v in c]


class _ValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _Handle:
    def getValueState(self, name, schema):
        return _ValueState()


def _slim(pdf):
    return pdf.rename(columns={"event_time": "__time", "close": "__price"})[["symbol", "__time", "__price"]]


def test_tws_processor_matches_live_replay():
    from renkodf_spark.streaming.renko_tws import RenkoProcessor

    pdf = _two_symbol_ticks(n=500)
    sym = "AAA"
    sub = pdf[pdf["symbol"] == sym].reset_index(drop=True)
    proc = RenkoProcessor(1.0)
    proc.init(_Handle())
    frames = []
    for idx in np.array_split(np.arange(len(sub)), 3):
        frames += list(proc.handleInputRows((sym,), iter([_slim(sub.iloc[idx])]), None))
    got = pd.concat(frames, ignore_index=True)

    ts = _us(sub["event_time"])
    live = RenkoLive(int(ts[0]), float(sub["close"].iloc[0]), brick_size=1.0)
    for t, p in zip(ts[1:], sub["close"].iloc[1:]):
        live.add_prices(int(t), float(p))
    want = live._wide_frame().reset_index(drop=True)
    assert got["brick_seq"].tolist() == list(range(len(want)))
    np.testing.assert_array_equal(_us(got["event_time"]), want["timestamp"].to_numpy())
    for col in ["open", "high", "low", "close", "volume", "direction", "is_reversal", "nongap_open", "fake_low"]:
        np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=col)

    # warm start from a to_rws-shaped tail: resume the seq and the state
    resumed = RenkoProcessor(1.0, emit_seed=False)
    resumed.init(_Handle())
    export = want.assign(symbol=sym, brick_seq=np.arange(len(want)), brick_size=1.0)
    resumed.handleInitialState((sym,), export.drop(columns=["timestamp"]), None)
    last = want.iloc[-1]
    close = float(last["close"])
    assert resumed._state.get() == (close, int(last["direction"]), close, close, int(last["volume"]), len(want))
