"""Sequential Renko compression kernel and the one state protocol every
Renko host speaks: the batch operators (`operators.renko`,
`operators.renko_chunked`, `operators.renko_subchunk`), the streaming
operators (`streaming.renko_stream`, `streaming.renko_tws`) and the
single-process engine (`live.RenkoLive`).

Semantics reproduce srlcarlg/renkodf (reference at
``/root/reference/src/renkodf/renkodf.py``):

- grid anchor = ``(first_price // brick) * brick`` (renkodf.py:88, :469)
- a brick closes when price moves >= 1 brick from the last brick close in
  the same direction, or >= 2 bricks against it (renkodf.py:109-131);
  the direction-reversing brick spans ``2 * brick`` and carries
  ``is_reversal = 1`` (renkodf.py:129-183)
- a multi-brick move ("gap") emits synthetic fill bricks with volume 1
  (renkodf.py:183-244)
- all seven mode column variants (normal / wicks / nongap /
  reverse-wicks / reverse-nongap / fake-r-wicks / fake-r-nongap) are
  computed for every brick in the same pass (renkodf.py:148-167); a
  "mode" is later a pure projection
- floating-point evaluation order is kept identical to the reference
  (reciprocal multiply renkodf.py:98, ``last + (dir * mult) * brick``
  renkodf.py:131, truncation-toward-zero brick count renkodf.py:185) so
  results are bit-equal, not merely close

The implementation is original, not a copy: output buffers grow
(the reference pre-allocates ``len(ticks)/divide_by`` rows and raises
IndexError when a gap emits more bricks than that — SURVEY.md §2 O-6 —
a cap we deliberately do not inherit) and there is a single emission
block instead of two duplicated branch bodies.

State protocol
--------------
*Kernel state* is the mutable list ``[last_close, last_dir, wick_min,
wick_max, volume, tick_open]`` — the scalar state of RenkoWS
(renkodf.py:504-508) plus the batch-only tick_open position
(renkodf.py:92). Bit-equal state in, bit-equal bricks out: that is what
lets every host cut the tick stream anywhere.

*Carry* is what crosses a Spark boundary (window to window in
``renko_chunked``, sub-chunk to repair in ``renko_subchunk``): the
kernel state with a global ``tick_open``, plus ``next_seq`` (the next
``brick_seq``), ``tick_offset`` (ticks already consumed) and
``first_ts`` (the first brick's label, for the first-label drop). Its
columns are ``CARRY_FIELDS``; ``pack_carry``/``unpack_carry`` move one
carry in and out of an Arrow row bit for bit.

*Starts* — a segment begins from one of three states:

- batch cold start, ``new_state``: anchor, direction 0, scan from the
  second tick;
- streaming cold start, ``stream_cold_start``: the seed row plus
  ``[anchor, 1, anchor, anchor, 1, 0]`` (the reference seeds direction
  1, renkodf.py:504-508), scan from the second tick;
- warm start from the last row of a ``to_rws`` export, ``warm_start``.

*Segment*: ``run_segment`` scans one sorted run of ticks from a start
state with the density-appropriate kernel (``choose_scan``) and returns
the bricks' event times and value arrays. ``sorted_group``,
``label_run`` and ``brick_columns`` read a host's Arrow tick group in
canonical order, find the first-label run and build the output columns.
Every host is then a way of scheduling segments over this state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

# Canonical wide-table value columns, in order. The batch operator adds
# `symbol`, `brick_seq` and `event_time` around these; the streaming
# operator uses the same minus the two tick-index columns
# (reference keeps 17 columns in the ws table, renkodf.py:489-496).
WIDE_VALUE_COLUMNS = (
    "open",
    "high",
    "low",
    "close",
    "volume",
    "direction",
    "is_reversal",
    "tick_index_open",
    "tick_index_close",
    "normal_high",
    "normal_low",
    "nongap_open",
    "reverse_nongap_open",
    "reverse_fake_nongap_open",
    "reverse_high",
    "reverse_low",
    "fake_high",
    "fake_low",
)

def grid_anchor(price: float, brick: float) -> float:
    """Initial reference price: floor of the first price to the brick
    grid (reference renkodf.py:88)."""
    return (price // brick) * brick


def new_state(first_price: float, brick: float) -> list:
    """Fresh kernel state anchored at the first tick's grid price."""
    anchor = grid_anchor(first_price, brick)
    return [anchor, 0, anchor, anchor, 1, 1]


_INT_VALUE_COLUMNS = frozenset(
    ("volume", "direction", "is_reversal", "tick_index_open", "tick_index_close")
)


def new_output() -> dict:
    """Growable column buffers for emitted bricks ('event_time' + wide
    value columns). Numeric columns use array-module buffers: appends
    cost the same as list appends but `output_arrays` converts them to
    numpy zero-copy (list->ndarray conversion dominated the operator
    cost before: ~30ms per 174k-row column x 18 columns)."""
    from array import array

    out = {"event_time": []}
    for name in WIDE_VALUE_COLUMNS:
        out[name] = array("q") if name in _INT_VALUE_COLUMNS else array("d")
    return out


def output_arrays(out: dict) -> dict:
    """Zero-copy numpy views over the output buffers (event_time stays
    a list: batch callers rebuild it from tick_index_close, streaming
    callers pass int64 epochs)."""
    res = {"event_time": out["event_time"]}
    for name in WIDE_VALUE_COLUMNS:
        buf = out[name]
        res[name] = (
            np.frombuffer(buf, dtype=np.int64 if buf.typecode == "q" else np.float64)
            if len(buf)
            else np.empty(0, dtype=np.int64 if buf.typecode == "q" else np.float64)
        )
    return res


def seed_row(timestamp, anchor: float) -> dict:
    """The streaming cold-start row: one synthetic brick at the anchor
    price, every OHLC/mode column = anchor, volume=1, direction=1,
    is_reversal=1 (reference renkodf.py:468-499; verified empirically,
    SURVEY.md §2 O-12). Tick indexes are 0 (absent in the reference's
    ws table)."""
    row = {"event_time": timestamp}
    for name in WIDE_VALUE_COLUMNS:
        row[name] = anchor
    row["volume"] = 1
    row["direction"] = 1
    row["is_reversal"] = 1
    row["tick_index_open"] = 0
    row["tick_index_close"] = 0
    return row


def stream_cold_start(timestamp, first_price: float, brick: float) -> tuple[dict, list]:
    """Streaming cold start: the seed row and the kernel state that
    mirrors it (direction 1, renkodf.py:504-508), so a first move *down*
    needs a 2-brick traversal. Scan from the second tick."""
    anchor = grid_anchor(first_price, brick)
    return seed_row(timestamp, anchor), [anchor, 1, anchor, anchor, 1, 0]


def warm_start(row) -> list:
    """Kernel state resumed from the last row of a ``to_rws`` export
    (anything indexable by column name): the wick restarts at the last
    close, volume and direction carry over."""
    close = float(row["close"])
    return [close, int(row["direction"]), close, close, int(row["volume"]), 0]


def scan_ticks(times, prices, start: int, brick: float, state: list, out: dict, stop: int | None = None) -> int:
    """Run the Renko recurrence over ``times/prices[start:]``, mutating
    ``state`` and appending one entry per emitted brick to ``out``.

    ``times`` and ``prices`` must be plain Python sequences (lists are
    fastest); the loop is the hot path (~2-3 M ticks/s/core) so
    everything lives in locals. Returns the number of bricks emitted.

    Semantics: per-tick wick/volume accumulation (renkodf.py:104-107),
    brick trigger and 2-brick reversal threshold (renkodf.py:109-131),
    per-brick mode variants (renkodf.py:148-167), state reset
    (renkodf.py:169-183).
    """
    last_close, last_dir, wick_min, wick_max, volume, tick_open = state
    inv_brick = 1.0 / brick  # reciprocal multiply, renkodf.py:98

    t_out = out["event_time"]
    o_out = out["open"]
    h_out = out["high"]
    l_out = out["low"]
    c_out = out["close"]
    v_out = out["volume"]
    d_out = out["direction"]
    rev_out = out["is_reversal"]
    tio_out = out["tick_index_open"]
    tic_out = out["tick_index_close"]
    nh_out = out["normal_high"]
    nl_out = out["normal_low"]
    ng_out = out["nongap_open"]
    rng_out = out["reverse_nongap_open"]
    rfng_out = out["reverse_fake_nongap_open"]
    rh_out = out["reverse_high"]
    rl_out = out["reverse_low"]
    fh_out = out["fake_high"]
    fl_out = out["fake_low"]

    emitted = 0
    n = len(prices) if stop is None else stop
    for i in range(start, n):
        price = prices[i]
        if price < wick_min:
            wick_min = price
        if price > wick_max:
            wick_max = price
        volume += 1

        moved = (price - last_close) * inv_brick
        if -1.0 < moved < 1.0:
            continue

        if moved > 0.0:
            direction = 1
            abs_moved = moved
        else:
            direction = -1
            abs_moved = -moved

        reversing = direction * last_dir < 0
        if reversing:
            # against the trend: need a full 2-brick traversal
            # (renkodf.py:129); the reversal brick consumes 2 bricks of
            # travel, the remainder fills one brick each
            if abs_moved < 2.0:
                continue
            n_bricks = int(abs_moved) - 1
        else:
            n_bricks = int(abs_moved)  # truncation toward zero, renkodf.py:185

        ts = times[i]
        up = direction > 0
        for j in range(n_bricks):
            is_rev = reversing and j == 0
            mult = 2 if is_rev else 1
            close_px = last_close + (direction * mult) * brick
            if up:
                open_px = close_px - brick
                wick = wick_min
                hi = close_px
                lo = wick
                body_hi = close_px
                body_lo = open_px
                nongap = wick if open_px > lo else open_px
            else:
                open_px = close_px + brick
                wick = wick_max
                hi = wick
                lo = close_px
                body_hi = open_px
                body_lo = close_px
                nongap = wick if open_px < hi else open_px

            # previous brick close doubles as the "fake" wick
            # (renkodf.py:164-167)
            fake_wick = last_close

            t_out.append(ts)
            o_out.append(open_px)
            h_out.append(hi)
            l_out.append(lo)
            c_out.append(close_px)
            v_out.append(volume)
            d_out.append(direction)
            rev_out.append(1 if is_rev else 0)
            tio_out.append(tick_open)
            tic_out.append(i)
            nh_out.append(body_hi)
            nl_out.append(body_lo)
            ng_out.append(nongap)
            if is_rev:
                rng_out.append(nongap)
                rfng_out.append(fake_wick)
                rh_out.append(hi)
                rl_out.append(lo)
                fh_out.append(fake_wick if not up else body_hi)
                fl_out.append(fake_wick if up else body_lo)
            else:
                rng_out.append(open_px)
                rfng_out.append(open_px)
                rh_out.append(body_hi)
                rl_out.append(body_lo)
                fh_out.append(body_hi)
                fl_out.append(body_lo)

            # reset running state (renkodf.py:169-183): wick restarts at
            # the open on a reversal, at the close otherwise
            wick_min = wick_max = open_px if is_rev else close_px
            tick_open = i
            volume = 1
            last_dir = direction
            last_close = close_px
            emitted += 1

    state[0] = last_close
    state[1] = last_dir
    state[2] = wick_min
    state[3] = wick_max
    state[4] = volume
    state[5] = tick_open
    return emitted


def scan_ticks_vectorized(times, prices_np, start: int, brick: float, state: list, out: dict) -> int:
    """Skip-scan variant for sparse-emission streams (realistic market
    ticks: the reference's EURGBP set emits ~1 brick per 1400 ticks).

    Between bricks `last_close` is constant, so the next candidate tick
    is the first with |price - last_close| >= brick — found with a
    vectorized block mask; the skipped span contributes only wick
    min/max and volume (numpy reductions). Candidate ticks (emissions
    AND the 1..2-brick reversal dead zone) run through the exact scalar
    `scan_ticks` step, so results are bit-identical to the plain loop.

    ~20-40x faster than the scalar loop when emission density is low;
    slower when nearly every tick emits — callers pick via
    `choose_scan` (renko_pandas does)."""
    emitted = 0
    n = len(prices_np)
    i = start
    block = 8192

    def absorb(lo: int, hi_: int) -> None:
        span = prices_np[lo:hi_]
        smin = float(span.min())
        smax = float(span.max())
        if smin < state[2]:
            state[2] = smin
        if smax > state[3]:
            state[3] = smax
        state[4] += hi_ - lo

    # Candidate thresholds are *directional*: with the trend one brick
    # suffices, against it two (the reversal threshold). Ticks inside
    # the dead zone never change state beyond wick/volume, so they are
    # absorbed by the span reductions. A tiny margin keeps the mask a
    # superset of the kernel's (p-lc)*inv_brick test under FP rounding;
    # flagged-but-non-emitting ticks just take the exact scalar step.
    margin = brick * 1e-9
    while i < n:
        lc0 = state[0]
        last_dir = state[1]
        up_thr = lc0 + (brick if last_dir >= 0 else 2.0 * brick) - margin
        dn_thr = lc0 - (brick if last_dir <= 0 else 2.0 * brick) + margin
        hi = min(i + block, n)
        chunk = prices_np[i:hi]
        candidates = np.nonzero((chunk >= up_thr) | (chunk <= dn_thr))[0]
        pos = i
        for j_rel in candidates.tolist():
            j = i + j_rel
            if j > pos:
                absorb(pos, j)
            emitted += scan_ticks(times, prices_np, j, brick, state, out, stop=j + 1)
            pos = j + 1
            if state[0] != lc0:
                break  # last_close moved: thresholds are stale
        else:
            if hi > pos:
                absorb(pos, hi)
                pos = hi
        i = pos
    return emitted


def choose_scan(prices_np, brick: float) -> bool:
    """True -> use the vectorized skip-scan (sparse emissions)."""
    n = len(prices_np)
    if n < 4096:
        return False
    # mean |tick-to-tick move| from a few contiguous windows (strided
    # sampling would inflate diffs by ~sqrt(stride) on a random walk)
    win = 2048
    starts = np.linspace(0, n - win, num=min(8, max(1, n // win)), dtype=np.int64)
    diffs = [np.abs(np.diff(prices_np[s : s + win])) for s in starts]
    density = float(np.mean(np.concatenate(diffs))) / brick
    # vectorized wins ~10x below this; the scalar loop wins above it
    # (measured: 0.013 -> 70 vs 7 M ticks/s; 0.04 -> 7.1 vs 8.5)
    return density < 0.02


def check_brick(brick_size) -> None:
    """Eager brick-size validation shared by every host (reference
    Renko.__init__, renkodf.py:42-49)."""
    if brick_size is None or brick_size <= 0:
        raise ValueError("brick_size cannot be 'None' or '<= 0'")


# ------------------------------------------------------------- segment


def run_segment(times, prices, brick: float, state: list, start: int):
    """Scan ``prices[start:]`` (numpy, already in tick order) from
    ``state`` with the density-appropriate kernel, mutating ``state``.
    Returns ``(event_time, arrays)``: each brick's close time (its
    closing tick's timestamp, fancy-indexed from ``times``) and the wide
    value arrays from ``output_arrays``. Tick indexes are local to
    ``times``."""
    out = new_output()
    if len(prices):
        if choose_scan(prices, brick):
            scan_ticks_vectorized(times, prices, start, brick, state, out)
        else:
            # python-list indexing is ~2x faster than numpy scalar access
            scan_ticks(times, prices.tolist(), start, brick, state, out)
    arrs = output_arrays(out)
    if not len(times):
        return np.empty(0, dtype="datetime64[us]"), arrs
    return times[arrs["tick_index_close"]], arrs


def sorted_group(tbl):
    """``(symbol, times, prices)`` of one Arrow tick group (columns
    ``symbol``, ``__time``, ``__price``, ``__seq``) in the canonical
    stable order: time, then input sequence. Non-empty groups only."""
    tbl = tbl.combine_chunks()
    t = tbl.column("__time").to_numpy(zero_copy_only=False)
    p = tbl.column("__price").to_numpy(zero_copy_only=False)
    s = tbl.column("__seq").to_numpy(zero_copy_only=False)
    order = np.lexsort((s, t.view("int64")))
    return tbl.column("symbol")[0].as_py(), t[order], p[order]


def label_run(ev, first_ts) -> tuple[int, int]:
    """``[lo, hi)`` of the bricks labelled ``first_ts`` in the
    nondecreasing ``ev`` — the reference drops the first brick by index
    label (renkodf.py:69), so every brick sharing its close time goes.
    ``(0, 0)`` when there is no label yet."""
    if first_ts is None:
        return 0, 0
    return int(np.searchsorted(ev, first_ts, side="left")), int(
        np.searchsorted(ev, first_ts, side="right")
    )


def _const_str_array(value: str, n: int):
    """Length-``n`` constant string column without an O(n) Python-object
    pass: a dictionary array over one value, cast to plain string."""
    import pyarrow as pa

    if n == 0:
        return pa.array([], pa.string())
    return pa.DictionaryArray.from_arrays(
        pa.array(np.zeros(n, dtype=np.int32)), pa.array([value], pa.string())
    ).cast(pa.string())


def brick_columns(sym: str, ev, arrs: dict, seq0: int, ts_type, lo: int = 0, hi: int = 0) -> dict:
    """Arrow columns ``symbol``, ``brick_seq`` (from ``seq0``),
    ``event_time`` and every wide value column for a segment's bricks,
    minus the run ``[lo, hi)``."""
    import pyarrow as pa

    def cut(a):
        if hi <= lo:
            return a
        return a[hi:] if lo == 0 else np.concatenate([a[:lo], a[hi:]])

    ev = cut(ev)
    m = len(ev)
    cols = {
        "symbol": _const_str_array(sym, m),
        "brick_seq": pa.array(np.arange(seq0, seq0 + m, dtype=np.int64)),
        "event_time": pa.array(ev).cast(ts_type),
    }
    for name in WIDE_VALUE_COLUMNS:
        cols[name] = pa.array(cut(arrs[name]))
    return cols


# --------------------------------------------------------------- carry

# Carry row columns, in carry-list order:
#   [last_close, last_dir, wick_min, wick_max, volume, tick_open(global),
#    next_seq, tick_offset, first_ts]
CARRY_FIELDS = [
    T.StructField("__st_last_close", T.DoubleType()),
    T.StructField("__st_last_dir", T.LongType()),
    T.StructField("__st_wick_min", T.DoubleType()),
    T.StructField("__st_wick_max", T.DoubleType()),
    T.StructField("__st_volume", T.LongType()),
    T.StructField("__st_tick_open", T.LongType()),
    T.StructField("__st_next_seq", T.LongType()),
    T.StructField("__st_tick_offset", T.LongType()),
    T.StructField("__st_first_ts", T.TimestampType()),
]
CARRY_COLS = [f.name for f in CARRY_FIELDS]


def arrow_type(dt, ts_type):
    """Spark type -> the exact Arrow type ``applyInArrow`` validates
    against; timestamps carry the session timezone the input columns
    arrive with (``ts_type``)."""
    import pyarrow as pa

    if isinstance(dt, T.TimestampType):
        return ts_type
    return {
        T.StringType: pa.string(),
        T.LongType: pa.int64(),
        T.DoubleType: pa.float64(),
        T.IntegerType: pa.int32(),
        T.BinaryType: pa.binary(),
    }[type(dt)]


def padded_table(schema, ts_type, cols: dict, m: int):
    """A ``schema``-shaped Arrow table of ``m`` rows: ``cols`` supplies
    the present columns, every other column is typed nulls."""
    import pyarrow as pa

    return pa.table(
        [
            cols[f.name] if f.name in cols else pa.nulls(m, arrow_type(f.dataType, ts_type))
            for f in schema.fields
        ],
        names=[f.name for f in schema.fields],
    )


def pack_carry(schema, ts_type, sym: str, carry: list, **extra):
    """One ``schema``-shaped Arrow row: ``sym``, the carry in its
    ``CARRY_COLS`` (``None`` -> null; ``first_ts`` a ``datetime64`` UTC
    instant), the length-1 ``extra`` columns, every other column null."""
    import pyarrow as pa

    cols = {"symbol": pa.array([sym], pa.string()), **extra}
    for f, v in zip(CARRY_FIELDS, carry):
        at = arrow_type(f.dataType, ts_type)
        cols[f.name] = pa.nulls(1, at) if v is None else pa.array([v]).cast(at)
    return padded_table(schema, ts_type, cols, 1)


def unpack_carry(tbl, i: int = 0) -> list:
    """Row ``i``'s carry columns back as the carry list. ``first_ts``
    comes back as ``datetime64[us]`` (a UTC instant on the same basis as
    the kernel's event times) or ``None``: ``as_py`` would hand back a
    session-timezone ``datetime`` instead."""
    carry = [tbl.column(c)[i].as_py() for c in CARRY_COLS[:-1]]
    ft = tbl.column(CARRY_COLS[-1]).slice(i, 1).to_numpy(zero_copy_only=False)[0]
    carry.append(None if np.isnat(ft) else ft.astype("datetime64[us]"))
    return carry


# --------------------------------------------------------- forming bar


def forming_bar(mode: str, price: float, last_open: float, last_close: float, wick_min: float, wick_max: float):
    """The in-progress bar's ``(open, high, low, direction)`` after the
    last completed brick (``last_open`` is its ``mode``-projected open),
    with the reference's renko_animate branching and quirks
    (renkodf.py:817-849): ``normal`` pins high/low to the raw price, and
    a move past the last brick opens at its close (at the running wick
    under the nongap modes)."""
    normal = mode == "normal"
    nongap = mode in ("nongap", "reverse-nongap", "fake-r-nongap")
    o = price
    h = price if normal else wick_max
    lo = price if normal else wick_min
    if last_close > last_open:  # previous brick was up
        if price > last_close:
            o = wick_min if nongap else last_close
            if normal:
                lo = last_close
        elif price < last_open:
            o = wick_max if nongap else last_open
            if normal:
                h = last_open
    else:
        if price < last_close:
            o = wick_max if nongap else last_close
            if normal:
                h = last_close
        elif price > last_open:
            o = wick_min if nongap else last_open
            if normal:
                lo = last_open
    direction = 1 if price > o else -1 if price < o else 0
    return o, h, lo, direction
