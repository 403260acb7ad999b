"""Structured Streaming operator: multi-batch file-source replay must
equal the single-process RenkoLive replay (which is itself bit-equal to
the reference RenkoWS, tests/test_vs_reference.py), including the seed
row, across keys and micro-batch boundaries; warm start resumes from a
to_rws export."""

import os

import numpy as np
import pandas as pd
import pytest

from renkodf_spark.live import RenkoLive
from renkodf_spark.streaming import renko_stream
from tests.test_vs_reference import make_ticks

BRICK = 1.0


def _two_symbol_ticks(n=1200):
    frames = []
    for i, sym in enumerate(["AAA", "BBB"]):
        t = make_ticks(seed=40 + i, n=n).reset_index(drop=True)
        t = t.rename(columns={"datetime": "event_time"})
        t["event_time"] = t["event_time"].astype("datetime64[us]")  # parquet µs, not ns
        t["symbol"] = sym
        frames.append(t)
    return pd.concat(frames, ignore_index=True).sort_values("event_time", kind="mergesort")


def _us(col):
    return pd.DatetimeIndex(col).astype("datetime64[us]").asi8


def _live_replay(pdf, sym):
    sub = pdf[pdf["symbol"] == sym].sort_values("event_time", kind="mergesort")
    ts = _us(sub["event_time"])
    live = RenkoLive(int(ts[0]), float(sub["close"].iloc[0]), brick_size=BRICK)
    for t, p in zip(ts[1:], sub["close"].iloc[1:]):
        live.add_prices(int(t), float(p))
    return live


def _run_stream(spark, tmpdir, pdf, n_files=4, initial_state=None, emit_seed=True):
    src = os.path.join(tmpdir, "src")
    os.makedirs(src, exist_ok=True)
    # chronological file split -> deterministic multi-batch replay
    bounds = np.array_split(np.arange(len(pdf)), n_files)
    for i, idx in enumerate(bounds):
        pdf.iloc[idx].to_parquet(os.path.join(src, f"part-{i:04d}.parquet"), index=False)
        os.utime(os.path.join(src, f"part-{i:04d}.parquet"), (1e9 + i, 1e9 + i))

    schema = spark.createDataFrame(pdf.head(2)).schema
    ticks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    bricks = renko_stream(ticks, BRICK, initial_state=initial_state, emit_seed=emit_seed)
    q = (
        bricks.writeStream.outputMode("append")
        .format("memory")
        .queryName("renko_out")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    out = spark.sql("SELECT * FROM renko_out").toPandas()
    q.stop()
    return out.sort_values(["symbol", "brick_seq"]).reset_index(drop=True)


def _sparse_one_symbol(n=6000):
    """One symbol whose ticks move ~1% of a brick each: one micro-batch
    of it takes the kernel's skip-scan branch."""
    rng = np.random.default_rng(5)
    drift = np.where(np.arange(n) < n // 2, 0.002, -0.003)
    close = 100.0 + np.cumsum(rng.normal(0, 0.01, n) + drift)
    t = pd.date_range("2024-01-01", periods=n, freq="1s").astype("datetime64[us]")
    return pd.DataFrame({"event_time": t, "close": close, "symbol": "SPARSE"})


def test_stream_matches_live_replay(spark, tmp_path):
    from renkodf_spark.kernel import choose_scan

    sparse = _sparse_one_symbol()
    assert choose_scan(sparse["close"].to_numpy(), BRICK)
    # (input, micro-batches): dense multi-batch replay, and >= 4096
    # sparse ticks of one symbol in a single micro-batch
    for i, (pdf, n_files) in enumerate([(_two_symbol_ticks(), 4), (sparse, 1)]):
        out = _run_stream(spark, str(tmp_path / str(i)), pdf, n_files=n_files)

        assert set(out["symbol"]) == set(pdf["symbol"])
        for sym in set(pdf["symbol"]):
            live = _live_replay(pdf, sym)
            want = live._wide_frame().reset_index(drop=True)
            got = out[out["symbol"] == sym].reset_index(drop=True)
            assert len(got) == len(want), sym
            assert len(want) > 3, sym
            assert got["brick_seq"].tolist() == list(range(len(want)))
            np.testing.assert_array_equal(
                _us(got["event_time"]), want["timestamp"].to_numpy(), err_msg=f"{sym}.ts"
            )
            for col in ["open", "high", "low", "close", "volume", "direction", "is_reversal",
                        "normal_high", "nongap_open", "reverse_high", "fake_low"]:
                np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=f"{sym}.{col}")


def test_stream_warm_start_resumes(spark, tmp_path):
    from renkodf_spark.operators.renko import renko, to_rws

    pdf = _two_symbol_ticks()
    split_t = pdf["event_time"].quantile(0.6)
    head = pdf[pdf["event_time"] <= split_t]
    tail = pdf[pdf["event_time"] > split_t]

    wide = renko(spark.createDataFrame(head), BRICK, drop_first=False)
    export = to_rws(wide, BRICK).toPandas()

    out = _run_stream(
        spark, str(tmp_path), tail, n_files=2, initial_state=export, emit_seed=False
    )

    # warm-started stream must continue exactly like a RenkoLive warm start
    for sym in ["AAA", "BBB"]:
        ext = export[export["symbol"] == sym].sort_values("brick_seq")
        live = RenkoLive(external_df=ext.drop(columns=["symbol", "brick_seq"]), ts_unit="us")
        sub = tail[tail["symbol"] == sym].sort_values("event_time", kind="mergesort")
        ts = _us(sub["event_time"])
        for t, p in zip(ts, sub["close"]):
            live.add_prices(int(t), float(p))
        want = live._wide_frame().reset_index(drop=True).iloc[len(ext):]  # new bricks only
        got = out[out["symbol"] == sym].reset_index(drop=True)
        assert len(got) == len(want), sym
        assert got["brick_seq"].iloc[0] == ext["brick_seq"].max() + 1
        for col in ["open", "high", "low", "close", "volume", "direction", "is_reversal"]:
            np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=f"{sym}.{col}")


def test_stream_validation():
    with pytest.raises(ValueError):
        renko_stream(None, 0)


def test_stream_many_symbols(spark, tmp_path):
    """State-store scaling smoke: 40 keys in one stream, each resumes
    correctly across micro-batches."""
    import os

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(17)
    frames = []
    for i in range(40):
        n = 80
        t = pd.date_range("2024-01-01", periods=n, freq="1s").astype("datetime64[us]")
        frames.append(
            pd.DataFrame(
                {
                    "symbol": f"S{i:03d}",
                    "event_time": t,
                    "close": 100 + np.cumsum(rng.normal(0, 0.8, n)),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True).sort_values("event_time", kind="mergesort")
    out = _run_stream(spark, str(tmp_path), pdf, n_files=3)
    assert out["symbol"].nunique() == 40
    for sym in ["S000", "S017", "S039"]:
        live = _live_replay(pdf, sym)
        want = live._wide_frame().reset_index(drop=True)
        got = out[out["symbol"] == sym].reset_index(drop=True)
        assert len(got) == len(want), sym
        np.testing.assert_array_equal(got["close"].to_numpy(), want["close"].to_numpy(), err_msg=sym)
