"""Bad-input contract of the shared tick-cleaning step: infinite prices
are dropped like NaN, and TIMESTAMP_NTZ time columns are read as
TIMESTAMP, for every host that runs it."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from renkodf_spark.operators.renko import renko
from renkodf_spark.operators.renko_chunked import renko_chunked
from tests.test_streaming import _run_stream, _two_symbol_ticks

BRICK = 1.0


def _with_infs(pdf: pd.DataFrame) -> pd.DataFrame:
    """``pdf`` plus +-inf ticks: at a symbol's first and last tick time,
    between ticks, and as a same-timestamp twin of a real tick."""
    rows = []
    for sym, g in pdf.groupby("symbol"):
        t = g["event_time"].to_numpy()
        for k, when in enumerate([t[0], t[len(t) // 3], t[len(t) // 2] + np.timedelta64(1, "us"), t[-1]]):
            rows.append({"symbol": sym, "event_time": when, "close": np.inf if k % 2 == 0 else -np.inf})
    dirty = pd.concat([pd.DataFrame(rows), pdf], ignore_index=True)
    dirty["event_time"] = dirty["event_time"].astype("datetime64[us]")  # parquet µs, not ns
    return dirty.sort_values("event_time", kind="mergesort").reset_index(drop=True)


def _sorted(df):
    return df.orderBy("symbol", "brick_seq").toPandas()


def _assert_same(got: pd.DataFrame, want: pd.DataFrame):
    assert len(want) > 0
    assert list(got.columns) == list(want.columns)
    for col in want.columns:
        np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=col)


def test_infinite_prices_dropped_in_batch(spark):
    clean = _two_symbol_ticks(n=300)
    dirty = _with_infs(clean)
    assert np.isinf(dirty["close"]).sum() == 8
    want = _sorted(renko(spark.createDataFrame(clean), BRICK))
    _assert_same(_sorted(renko(spark.createDataFrame(dirty), BRICK)), want)
    got = _sorted(renko_chunked(spark.createDataFrame(dirty), BRICK, window="20 seconds"))
    _assert_same(got, want)


def test_infinite_prices_dropped_in_stream(spark, tmp_path):
    clean = _two_symbol_ticks(n=300)
    want = _run_stream(spark, str(tmp_path / "clean"), clean, n_files=2)
    got = _run_stream(spark, str(tmp_path / "dirty"), _with_infs(clean), n_files=2)
    _assert_same(got, want)


def test_timestamp_ntz_input_matches_utc(spark, tmp_path):
    pdf = _two_symbol_ticks(n=300)
    micros = pdf["event_time"].astype("int64").to_numpy()
    paths = {}
    for name, ts_type in [("ntz", pa.timestamp("us")), ("utc", pa.timestamp("us", tz="UTC"))]:
        tbl = pa.table(
            {
                "symbol": pa.array(pdf["symbol"].tolist(), pa.string()),
                "event_time": pa.array(micros, pa.int64()).cast(ts_type),
                "close": pa.array(pdf["close"].to_numpy()),
            }
        )
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    ntz = spark.read.parquet(paths["ntz"])
    utc = spark.read.parquet(paths["utc"])
    assert dict(ntz.dtypes)["event_time"] == "timestamp_ntz"
    assert dict(utc.dtypes)["event_time"] == "timestamp"

    want = _sorted(renko(utc, BRICK))
    _assert_same(_sorted(renko(ntz, BRICK)), want)
    _assert_same(_sorted(renko_chunked(ntz, BRICK, window="20 seconds")), want)
