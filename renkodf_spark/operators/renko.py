"""Batch Renko operator: ticks DataFrame -> wide brick DataFrame -> mode
projections.

Spark-first layout (SURVEY.md §1.4 / §2 O-5): the brick-ification
recurrence is non-associative (every brick depends on the running
`last_close` over the whole prefix), so it cannot be a join/window
composition. It runs as a grouped-map Pandas UDF — parallel across
symbols, sequential within a symbol, exactly the reference's
parallelism model (the reference is single-threaded per instrument).
Everything around the kernel (projection, export, slicing) is plain
DataFrame API so Catalyst prunes/pushes as usual.

Reference semantics reproduced: `Renko.__init__` validation
(renkodf.py:42-49), `_create_renko` (renkodf.py:71-252), first-brick
label drop (renkodf.py:69), `renko_df` projection (renkodf.py:291-387),
`to_rws` export (renkodf.py:389-420).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from renkodf_spark.kernel import (
    WIDE_VALUE_COLUMNS,
    brick_columns,
    check_brick,
    label_run,
    new_state,
    run_segment,
    sorted_group,
)
from renkodf_spark.schema import (
    MODE_SOURCES,
    MODES,
    UTILS_COLUMNS,
    WIDE_COLUMN_NAMES,
    WIDE_SCHEMA,
)


def clean_ticks(
    ticks: DataFrame, brick_size: float, symbol_col: str, time_col: str, price_col: str
) -> DataFrame:
    """The tick-cleaning step every Spark host runs first: eager
    validation (before any Spark job runs), then the slim projection
    ``symbol`` (string; ``"0"`` when the column is absent), ``__time``
    (cast to TIMESTAMP, so TIMESTAMP_NTZ input works) and ``__price``
    (double).

    Ticks with a null time or a null, NaN or infinite price are dropped:
    the recurrence would silently absorb NaN into the wick state (the
    reference has no guard and corrupts) and an infinite move has no
    brick count (``int(inf)`` raises in the worker)."""
    check_brick(brick_size)
    if price_col not in ticks.columns:
        raise ValueError(f"Column '{price_col}' doesn't exist!")
    if time_col not in ticks.columns:
        raise ValueError(f"Column '{time_col}' doesn't exist!")
    symbol = (
        F.col(symbol_col).cast("string") if symbol_col in ticks.columns else F.lit("0")
    )
    price = F.col("__price")
    return ticks.select(
        symbol.alias("symbol"),
        F.col(time_col).cast("timestamp").alias("__time"),
        F.col(price_col).cast("double").alias("__price"),
    ).filter(
        F.col("__time").isNotNull()
        & price.isNotNull()
        & ~F.isnan(price)
        & (F.abs(price) != F.lit(float("inf")))
    )


def renko_pandas(
    pdf: pd.DataFrame,
    brick_size: float,
    *,
    time_col: str = "event_time",
    price_col: str = "close",
    drop_first: bool = True,
) -> pd.DataFrame:
    """Run the Renko kernel over one already-sorted pandas tick frame.

    Returns the wide brick table (without `symbol`/`brick_seq`; the
    Spark wrapper adds those). Used inside `applyInPandas` and directly
    by unit tests.
    """
    times = pdf[time_col].to_numpy()
    prices = pdf[price_col].to_numpy()
    state = new_state(float(prices[0]), brick_size) if len(prices) else None
    ev, arrs = run_segment(times, prices, brick_size, state, 1)
    res = pd.DataFrame({"event_time": ev, **{c: arrs[c] for c in WIDE_VALUE_COLUMNS}})

    if drop_first and len(res):
        # reference drops by index label (renkodf.py:69): every brick
        # sharing the first brick's close timestamp goes away
        res = res[res["event_time"] != res["event_time"].iloc[0]].reset_index(drop=True)
    return res


def renko(
    ticks: DataFrame,
    brick_size: float,
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    drop_first: bool = True,
    value_columns: tuple | None = None,
) -> DataFrame:
    """Compress a tick DataFrame into the wide Renko brick table.

    Scale model: one shuffle on `symbol`, then each symbol's ticks are
    compressed sequentially inside a single Arrow-batched Python worker
    call. At 100 TB the parallel axis is symbols (x days via the
    warm-start splitter); there is no other shuffle in the plan.

    Column pruning happens on both sides of the kernel: only
    (symbol, time, price) travel in, and `value_columns` trims what
    travels out (Catalyst cannot prune through a grouped-map UDF's
    output schema, so callers that want one mode pass just its columns
    — `renko_mode` does this automatically)."""
    slim = clean_ticks(ticks, brick_size, symbol_col, time_col, price_col)

    if value_columns is None:
        out_schema = WIDE_SCHEMA
        out_columns = list(WIDE_COLUMN_NAMES)
    else:
        unknown = set(value_columns) - set(WIDE_VALUE_COLUMNS)
        if unknown:
            raise ValueError(f"unknown wide columns: {sorted(unknown)}")
        keep = {"symbol", "brick_seq", "event_time", *value_columns}
        out_schema = T.StructType([f for f in WIDE_SCHEMA.fields if f.name in keep])
        out_columns = [f.name for f in out_schema.fields]

    # Deterministic intra-timestamp order: capture input order before the
    # shuffle so equal-timestamp ticks replay in file order.
    slim = slim.withColumn("__seq", F.monotonically_increasing_id())

    # Arrow-native kernel host (r8): the old applyInPandas run paid,
    # per group, a pandas mergesort (5x slower than lexsort+take at
    # 10M rows), a BlockManager-consolidating DataFrame build, a
    # boolean-mask first-drop copy, and a column-reorder copy — then
    # Spark converted the frame back to Arrow anyway. applyInArrow
    # hands the group in as a pa.Table (primitive columns view as
    # numpy zero-copy) and takes arrays back zero-copy: measured 5x
    # end-to-end on a 10M-tick group at ~0.15 bricks/tick.
    def run_arrow(tbl: "pa.Table") -> "pa.Table":
        import pyarrow as pa

        ts_type = tbl.schema.field("__time").type
        sym, t, p = sorted_group(tbl)
        ev, arrs = run_segment(t, p, brick_size, new_state(float(p[0]), brick_size), 1)
        # ev is nondecreasing, so the first-label run is a prefix slice
        lo, hi = label_run(ev, ev[0] if drop_first and len(ev) else None)
        cols = brick_columns(sym, ev, arrs, 0, ts_type, lo, hi)
        return pa.table({c: cols[c] for c in out_columns})

    return slim.groupBy("symbol").applyInArrow(run_arrow, out_schema)


def renko_df(
    wide: DataFrame,
    mode: str = "wicks",
    utils_columns: bool = True,
    *,
    keys: tuple = ("symbol", "brick_seq", "event_time"),
    utils: tuple = UTILS_COLUMNS,
) -> DataFrame:
    """Project the wide brick table into one of the 7 OHLC modes
    (reference renko_df, renkodf.py:291-387). Pure `select`; Catalyst
    column-prunes the unused variants all the way into the kernel
    boundary."""
    if mode not in MODES:
        raise ValueError(f"Only {list(MODES)} options are valid.")
    open_src, high_src, low_src = MODE_SOURCES[mode]
    cols = [F.col(k) for k in keys if k in wide.columns]
    cols += [
        F.col(open_src).alias("open"),
        F.col(high_src).alias("high"),
        F.col(low_src).alias("low"),
        F.col("close"),
        F.col("volume"),
    ]
    if utils_columns:
        cols += [F.col(u) for u in utils if u in wide.columns]
    return wide.select(*cols)


def renko_mode(
    ticks: DataFrame,
    brick_size: float,
    mode: str = "wicks",
    utils_columns: bool = True,
    **renko_kwargs,
) -> DataFrame:
    """End-to-end single-mode Renko with pushdown: only the mode's
    variant columns cross the kernel's Arrow boundary (a grouped-map
    UDF's output schema is opaque to Catalyst's column pruning, so the
    pruning is explicit here)."""
    if mode not in MODES:
        raise ValueError(f"Only {list(MODES)} options are valid.")
    open_src, high_src, low_src = MODE_SOURCES[mode]
    needed = {open_src, high_src, low_src, "close", "volume"}
    if utils_columns:
        needed |= set(UTILS_COLUMNS)
    wide = renko(ticks, brick_size, value_columns=tuple(needed), **renko_kwargs)
    return renko_df(wide, mode, utils_columns)


def to_rws(wide: DataFrame, brick_size: float, use_iloc: int | None = None) -> DataFrame:
    """State-export table (reference to_rws, renkodf.py:389-420): wide
    table minus tick indexes, plus a `brick_size` literal and an int64
    microsecond `timestamp`. Feed it back via
    `renkodf_spark.live.RenkoLive(external_df=...)` or as the initial
    state of the streaming operator."""
    cols = [c for c in wide.columns if not c.startswith("tick_index_")]
    out = wide.select(
        *[F.col(c) for c in cols],
        F.lit(float(brick_size)).alias("brick_size"),
        F.unix_micros(F.col("event_time")).alias("timestamp"),
    ).drop("event_time")
    if use_iloc is not None:
        w = Window.partitionBy("symbol")
        if use_iloc < 0:
            rn = F.row_number().over(w.orderBy(F.desc("brick_seq")))
            out = out.withColumn("__rn", rn).filter(F.col("__rn") <= -use_iloc).drop("__rn")
        else:
            rn = F.row_number().over(w.orderBy(F.asc("brick_seq")))
            out = out.withColumn("__rn", rn).filter(F.col("__rn") <= use_iloc).drop("__rn")
    return out
