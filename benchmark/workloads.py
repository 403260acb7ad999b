"""The benchmark's workloads: what the untimed warm-up, one timed pass and
the output checks do for each.

A workload is a list of parts (one per program layer it drives) plus a
``RenkoLive`` replay.  Every call into the program goes through
``Spans.span`` so it is timed from outside and its Spark jobs carry the
layer's job group.  A pass returns its timings plus the outputs the
checks need; checks run after the timed region.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from measure import Spans

# Queries of the mix: a driver-bound build whose eager jobs feed
# interpreted folds (pq_adc_topk) and a shuffle-bound snowflake join
# (q5_region_revenue).
QUERY_MIX = ("pq_adc_topk", "q5_region_revenue")

# ticks replayed one call at a time through RenkoLive.add_prices per pass
LIVE_TICKS = 20_000

# The DuckDB fold checks a prefix of one symbol: at least this many
# ticks, and up to the first brick kept after the first-brick drop.  The
# fold's cost grows faster than the prefix (about 4 s for 3,500 ticks), so
# the symbol whose first kept brick comes earliest is checked.
ORACLE_PREFIX_MIN_TICKS = 200


class Ctx:
    """What a workload needs during a run."""

    def __init__(self, spark, work: str, inputs: dict, spans: Spans):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.spans = spans
        self.n_dirs = 0
        self.kernel = {"core_s": 0.0, "bricks": 0}  # the checked inputs' kernel replays
        self.stream_bricks = None

    def fresh_dir(self, kind: str) -> str:
        self.n_dirs += 1
        path = os.path.join(self.work, kind, f"{self.n_dirs:04d}")
        shutil.rmtree(path, ignore_errors=True)
        return path


def _layer(name: str, kind: str) -> str:
    """Span and job-group name: set-up warm-ups are kept apart from the
    timed passes' layers."""
    return name if kind == "pass" else "setup"


# --------------------------------------------------------------- kernel


def replay_batch(series, brick: float, path: str | None = None):
    """Per-symbol driver-side kernel replay of ``renko()``: the expected
    wide table (first-brick label drop applied) and the kernel's own
    time.  ``path`` forces ``"scalar"`` or ``"skip"``; by default each
    symbol takes the path ``choose_scan`` picks, as the hosts do."""
    from renkodf_spark.kernel import (
        WIDE_VALUE_COLUMNS,
        choose_scan,
        new_output,
        new_state,
        output_arrays,
        scan_ticks,
        scan_ticks_vectorized,
    )

    cols: dict[str, list] = {"symbol": [], "brick_seq": [], "event_time": []}
    cols.update({c: [] for c in WIDE_VALUE_COLUMNS})
    kernel_s, bricks = 0.0, 0
    for name, t, p in sorted(series, key=lambda s: s[0]):
        out = new_output()
        state = new_state(float(p[0]), brick)
        skip = choose_scan(p, brick) if path is None else path == "skip"
        prices = p if skip else p.tolist()
        t0 = time.perf_counter()
        if skip:
            scan_ticks_vectorized(t, prices, 1, brick, state, out)
        else:
            scan_ticks(t, prices, 1, brick, state, out)
        kernel_s += time.perf_counter() - t0
        arrs = output_arrays(out)
        ev = t[arrs["tick_index_close"]]
        bricks += len(ev)
        cut = int(np.searchsorted(ev, ev[0], side="right")) if len(ev) else 0
        m = len(ev) - cut
        cols["symbol"].append(np.full(m, name, dtype=object))
        cols["brick_seq"].append(np.arange(m, dtype=np.int64))
        cols["event_time"].append(ev[cut:])
        for c in WIDE_VALUE_COLUMNS:
            cols[c].append(arrs[c][cut:])
    table = {c: np.concatenate(v) if v else np.empty(0) for c, v in cols.items()}
    return table, kernel_s, bricks


def replay_stream(series, brick: float):
    """Kernel replay under the streaming cold start (``RenkoLive`` and
    ``renko_stream``): a seed row at the grid anchor, state
    ``[anchor, 1, anchor, anchor, 1, 0]``, scan from the second tick."""
    from renkodf_spark.kernel import WIDE_VALUE_COLUMNS, grid_anchor, new_output, output_arrays, scan_ticks

    value_cols = [c for c in WIDE_VALUE_COLUMNS if not c.startswith("tick_index_")]
    cols: dict[str, list] = {c: [] for c in ["symbol", "brick_seq", "event_time", *value_cols]}
    kernel_s, bricks = 0.0, 0
    for name, t, p in sorted(series, key=lambda s: s[0]):
        anchor = grid_anchor(float(p[0]), brick)
        state = [anchor, 1, anchor, anchor, 1, 0]
        out = new_output()
        t0 = time.perf_counter()
        scan_ticks(t, p.tolist(), 1, brick, state, out)
        kernel_s += time.perf_counter() - t0
        arrs = output_arrays(out)
        n = len(arrs["close"])
        bricks += n
        cols["symbol"].append(np.full(n + 1, name, dtype=object))
        cols["brick_seq"].append(np.arange(n + 1, dtype=np.int64))
        cols["event_time"].append(np.concatenate([[t[0]], np.asarray(out["event_time"], dtype=np.int64)]))
        for c in value_cols:
            seed = {"volume": 1, "direction": 1, "is_reversal": 1}.get(c, anchor)
            cols[c].append(np.concatenate([np.asarray([seed], dtype=arrs[c].dtype), arrs[c]]))
    return {c: np.concatenate(v) for c, v in cols.items()}, kernel_s, bricks


def _arrow_columns(tbl) -> dict:
    """Arrow table -> numpy columns sorted by (symbol, brick_seq),
    timestamps as int64 microseconds."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = tbl.sort_by([("symbol", "ascending"), ("brick_seq", "ascending")])
    out = {}
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        out[name] = col.to_numpy(zero_copy_only=False)
    return out


def _epoch_us(col) -> np.ndarray:
    """pandas timestamps (naive = UTC, or tz-aware) -> int64 microseconds."""
    import pandas as pd

    return pd.to_datetime(col, utc=True).dt.tz_localize(None).to_numpy("datetime64[us]").astype(np.int64)


def diff_columns(actual: dict, expected: dict, columns) -> list[str]:
    """Bit-for-bit comparison (floats compare their IEEE bits)."""
    problems = []
    for c in columns:
        a, e = np.asarray(actual[c]), np.asarray(expected[c])
        if len(a) != len(e):
            problems.append(f"{c}: {len(a)} rows vs {len(e)} expected")
            continue
        if a.dtype.kind == "f" or e.dtype.kind == "f":
            same = a.astype(np.float64).view(np.int64) == e.astype(np.float64).view(np.int64)
        else:
            same = a == e
        if not np.all(same):
            i = int(np.argmin(same))
            problems.append(f"{c}: row {i} is {a[i]!r}, expected {e[i]!r}")
    return problems


def oracle_prefix_check(series, brick: float, replay: dict) -> list[str]:
    """The kernel replay (``replay``, the series' expected table) of one
    symbol's prefix against the independent DuckDB ``list_reduce`` fold
    in ``queries/renko_oracle.py``.  The prefix reaches the symbol's first
    brick kept after the first-brick drop (and at least
    ``ORACLE_PREFIX_MIN_TICKS`` ticks), so sparse symbols are checked on a
    real brick too."""
    import duckdb
    import pyarrow as pa

    from renkodf_spark.kernel import WIDE_VALUE_COLUMNS
    from renkodf_spark.queries.renko_oracle import build_renko_oracle_sql

    first_kept: dict[str, int] = {}
    for sym, close_at in zip(replay["symbol"], replay["tick_index_close"]):
        first_kept.setdefault(sym, int(close_at))
    if not first_kept:
        return ["no symbol keeps a brick; the check would be vacuous"]
    name = min(first_kept, key=first_kept.get)
    _, t, p = next(s for s in series if s[0] == name)
    n = max(ORACLE_PREFIX_MIN_TICKS, first_kept[name] + 1)
    t, p = t[:n], p[:n]
    expected, _, _ = replay_batch([(name, t, p)], brick)
    ticks = pa.table({"symbol": [name] * len(t), "ts": pa.array(t, pa.timestamp("us")), "close": p})
    con = duckdb.connect()
    try:
        con.register("bench_ticks", ticks)
        got = con.sql(
            build_renko_oracle_sql(brick, "SELECT symbol, ts, close FROM bench_ticks")
        ).arrow()
    finally:
        con.close()
    got = _arrow_columns(got)
    if len(got["close"]) == 0:
        return ["oracle prefix emitted no bricks; the check would be vacuous"]
    return diff_columns(got, expected, ["brick_seq", "event_time", *WIDE_VALUE_COLUMNS])


def live_replay(ctx: Ctx, series_one, brick: float, kind: str):
    """Feed one symbol's ticks to ``RenkoLive`` one call at a time;
    per-call latencies in microseconds."""
    from renkodf_spark.live import RenkoLive

    _, t, p = series_one
    ts, ps = t[:LIVE_TICKS].tolist(), p[:LIVE_TICKS].tolist()
    with ctx.spans.span(_layer("live", kind), None, f"{kind}:replay"):
        live = RenkoLive(ws_timestamp=ts[0], ws_price=ps[0], brick_size=brick)
        lat = np.empty(len(ts) - 1, dtype=np.int64)
        clock = time.perf_counter_ns
        add = live.add_prices
        for i in range(1, len(ts)):
            c0 = clock()
            add(ts[i], ps[i])
            lat[i - 1] = clock() - c0
    return {"live_lat_us": lat / 1e3, "live": live, "live_ticks": len(ts) - 1}


def live_check(live, expected: dict, symbol: str) -> list[str]:
    """Every mode projection of the live engine's bricks against the
    cold-start rows of ``symbol`` in ``expected``."""
    from renkodf_spark.schema import MODE_SOURCES

    mask = expected["symbol"] == symbol
    problems = []
    for mode, (o, h, lo) in MODE_SOURCES.items():
        frame = live.renko_df(mode)
        want = {
            "timestamp": expected["event_time"][mask],
            "open": expected[o][mask],
            "high": expected[h][mask],
            "low": expected[lo][mask],
            "close": expected["close"][mask],
            "volume": expected["volume"][mask],
            "direction": expected["direction"][mask],
            "is_reversal": expected["is_reversal"][mask],
        }
        got = {c: frame[c].to_numpy() for c in want}
        problems += [f"{mode}: {p}" for p in diff_columns(got, want, list(want))]
    return problems


# ------------------------------------------------------------------ parts


class TicksBatch:
    """One batch host call over a whole tick set, fully collected:
    ``renko()`` (``host="renko"``) or ``renko_chunked`` (``"chunked"``)."""

    def __init__(self, host: str, key: str):
        self.host = host
        self.key = key

    def run(self, ctx: Ctx, inputs: dict, kind: str) -> dict:
        from renkodf_spark.operators.renko import renko
        from renkodf_spark.operators.renko_chunked import renko_chunked

        spark = ctx.spark
        layer = _layer(self.host, kind)
        with ctx.spans.span(layer, spark, f"{kind}:build") as b:
            ticks = spark.read.parquet(inputs["dir"])
            if self.host == "renko":
                wide = renko(ticks, inputs["brick"])
            else:
                # its defaults: the hot symbol stays below the sub-chunk
                # threshold, whose repair pass crashes on driftless sparse
                # walks (README, "Known defects")
                wide = renko_chunked(ticks, inputs["brick"], staging_dir=ctx.fresh_dir("stage"))
        with ctx.spans.span(layer, spark, f"{kind}:execute") as x:
            table = wide.toArrow()
        wall = b["dur_s"] + x["dur_s"]
        return {
            "wall_s": wall,
            "build_s": b["dur_s"],
            "execute_s": x["dur_s"],
            "tick_rows": inputs["input_rows"],
            "tick_s": wall,
            "output": table,
            "ops": 1,
        }

    def check(self, ctx: Ctx, inputs: dict, res: dict) -> dict[str, list[str]]:
        from renkodf_spark.kernel import WIDE_VALUE_COLUMNS

        expected, kernel_s, bricks = inputs["replay"]
        ctx.kernel["core_s"] += kernel_s
        ctx.kernel["bricks"] += bricks
        actual = _arrow_columns(res["output"])
        sym_ok = list(actual["symbol"]) == list(expected["symbol"])
        return {
            f"{self.host}_vs_kernel_replay": (
                ([] if sym_ok else ["symbol column differs"])
                + diff_columns(actual, expected, ["brick_seq", "event_time", *WIDE_VALUE_COLUMNS])
            ),
            f"{self.key}_prefix_kernel_vs_duckdb_fold": oracle_prefix_check(inputs["series"], inputs["brick"], expected),
        }


class StreamEpoch:
    """Closed-loop file replay, one file per trigger: through
    ``renko_stream`` into a memory sink, then through
    ``merge_writer(keys=["symbol"])`` (a last-price table)."""

    key = "stream"

    def run(self, ctx: Ctx, inputs: dict, kind: str) -> dict:
        from pyspark.sql import functions as F

        from renkodf_spark.streaming.merge_stream import merge_writer
        from renkodf_spark.streaming.renko_stream import renko_stream

        spark = ctx.spark
        tick_dir = inputs["dir"]
        schema = spark.read.parquet(tick_dir).schema

        def source():
            return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(tick_dir)

        ck = ctx.fresh_dir("ckpt")
        table = f"bricks_{ctx.n_dirs}"
        with ctx.spans.span(_layer("stream", kind), spark, f"{kind}:drain") as sp:
            q = (
                renko_stream(source(), inputs["brick"])
                .writeStream.format("memory")
                .queryName(table)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        stream_prog = [p for p in q.recentProgress if p["numInputRows"] > 0]

        ck = ctx.fresh_dir("ckpt")
        state = ctx.fresh_dir("epoch")
        with ctx.spans.span(_layer("epoch", kind), spark, f"{kind}:drain") as ep:
            q = (
                source()
                .select("symbol", "event_time", "close", F.col("seq").alias("__seq"))
                .writeStream.foreachBatch(merge_writer(state, keys=["symbol"]))
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        epoch_prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "wall_s": sp["dur_s"] + ep["dur_s"],
            "tick_rows": inputs["input_rows"],
            "tick_s": sp["dur_s"],
            "stream_progress": stream_prog,
            "epoch_progress": epoch_prog,
            "bricks_table": table,
            "state_dir": state,
            "ops": len(stream_prog) + len(epoch_prog),
        }

    def check(self, ctx: Ctx, inputs: dict, res: dict) -> dict[str, list[str]]:
        import pyarrow.parquet as pq

        from renkodf_spark.streaming.merge_stream import read_current_state

        spark = ctx.spark
        expected, kernel_s, bricks = inputs["replay"]
        ctx.kernel["core_s"] += kernel_s
        ctx.kernel["bricks"] += bricks
        actual = _arrow_columns(spark.table(res["bricks_table"]).toArrow())
        ctx.stream_bricks = actual
        checks = {
            "stream_vs_kernel_replay": (
                ([] if list(actual["symbol"]) == list(expected["symbol"]) else ["symbol column differs"])
                + diff_columns(actual, expected, [c for c in expected if c != "symbol"])
            )
        }

        got = read_current_state(spark, res["state_dir"]).select("symbol", "event_time", "close").toPandas()
        ticks = pq.read_table(inputs["dir"]).to_pandas()
        want = ticks.sort_values("seq").groupby("symbol", as_index=False).last()
        got, want = (f.sort_values("symbol").reset_index(drop=True) for f in (got, want))
        if list(got["symbol"]) != list(want["symbol"]):
            checks["last_price_vs_pandas"] = [f"{len(got)} symbols vs {len(want)} expected"]
        else:
            checks["last_price_vs_pandas"] = diff_columns(
                {"event_time": _epoch_us(got["event_time"]), "close": got["close"].to_numpy()},
                {"event_time": _epoch_us(want["event_time"]), "close": want["close"].to_numpy()},
                ["event_time", "close"],
            )
        return checks


class Queries:
    """The query mix: each registered query built, then collected."""

    key = "tables"

    def run(self, ctx: Ctx, inputs: dict, kind: str) -> dict:
        from renkodf_spark.queries import queries

        build = queries()
        spark = ctx.spark
        out, wall = {}, 0.0
        for q in QUERY_MIX:
            layer = _layer(f"query.{q}", kind)
            with ctx.spans.span(layer, spark, f"{kind}:build") as b:
                df = build[q](spark, inputs["dir"])
            with ctx.spans.span(layer, spark, f"{kind}:execute") as x:
                pdf = df.toPandas()
            out[q] = {"build_s": b["dur_s"], "execute_s": x["dur_s"], "rows": pdf}
            wall += b["dur_s"] + x["dur_s"]
        return {"wall_s": wall, "tick_rows": 0, "tick_s": 0.0, "queries": out, "ops": len(out)}

    def check(self, ctx: Ctx, inputs: dict, res: dict) -> dict[str, list[str]]:
        import duckdb
        from check_entry import compare

        from renkodf_spark.queries import oracle_sql

        oracles = oracle_sql()
        checks = {}
        con = duckdb.connect()
        try:
            for name in inputs["rows"]:
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(inputs['dir'], name)}.parquet'")
            for q, r in res["queries"].items():
                checks[f"query.{q}_vs_oracle"] = compare(q, r["rows"], con.sql(oracles[q]).df())
        finally:
            con.close()
        return checks


# -------------------------------------------------------------- workloads


class Workload:
    """Parts run in order within one pass; ``live_key`` names the input
    whose first symbol is replayed through ``RenkoLive``; ``warm_passes``
    untimed passes precede the timed ones; ``nominal_pass_s`` (about one
    pass's wall time on a 4-core box) turns ``--seconds`` into a fixed
    number of timed passes."""

    def __init__(self, parts: list, live_key: str, warm_passes: int, nominal_pass_s: float):
        self.parts = parts
        self.live_key = live_key
        self.warm_passes = warm_passes
        self.nominal_pass_s = nominal_pass_s

    def warm(self, ctx: Ctx):
        """Untimed passes over the same inputs: the JIT and Spark's
        generated-code cache are warm for the timed passes."""
        for _ in range(self.warm_passes):
            self.run_pass(ctx, "warm")

    def run_pass(self, ctx: Ctx, kind: str = "pass") -> dict:
        res = {"wall_s": 0.0, "tick_rows": 0, "tick_s": 0.0, "ops": 0, "parts": {}}
        for part in self.parts:
            r = part.run(ctx, ctx.inputs[part.key], kind)
            res["parts"][part.key] = r
            for k in ("wall_s", "tick_rows", "tick_s", "ops"):
                res[k] += r[k]
        inp = ctx.inputs[self.live_key]
        res.update(live_replay(ctx, inp["series"][0], inp["brick"], kind))
        return res

    def check(self, ctx: Ctx, last: dict) -> dict[str, list[str]]:
        checks: dict[str, list[str]] = {}
        for part in self.parts:
            checks.update(part.check(ctx, ctx.inputs[part.key], last["parts"][part.key]))
        inp = ctx.inputs[self.live_key]
        name, t, p = inp["series"][0]
        if len(t) <= LIVE_TICKS and ctx.stream_bricks is not None:
            # the live engine against the stream's own bricks for that symbol
            checks["live_vs_stream"] = live_check(last["live"], ctx.stream_bricks, name)
        else:
            expected, _, _ = replay_stream([(name, t[:LIVE_TICKS], p[:LIVE_TICKS])], inp["brick"])
            checks["live_vs_kernel_replay"] = live_check(last["live"], expected, name)
        return checks


WORKLOADS = {
    # CPU per renko() pass keeps falling for the first few passes (the
    # first pass after two warm-ups still costs ~20% more than the
    # plateau), so warm three times
    "ticks_dense": Workload([TicksBatch("renko", "dense")], live_key="dense", warm_passes=3, nominal_pass_s=2.0),
    # one pass is longer than --seconds: a run times one, the second call
    "sparse_stream_query": Workload(
        [TicksBatch("chunked", "sparse"), StreamEpoch(), Queries()], live_key="stream", warm_passes=1,
        nominal_pass_s=13.0,
    ),
}
