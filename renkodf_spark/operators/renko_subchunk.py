"""Skew-aware sub-window chunking for ``renko_chunked`` hot symbols.

The Renko recurrence is sequential per symbol, so a symbol that carries
half of a window's ticks pins the whole window to ONE task (measured at
the x100 skew bench: achieved parallelism ~6/32, the hot task ~20 s of
a 24 s window — VERDICT r8 item 3).  This module breaks that serial
floor with *speculative* sub-chunk scans plus a cheap sequential
stitch, while keeping the output bit-identical to the one-shot scan:

1. **Spec pass** (parallel, one task per (symbol, sub-chunk)): the hot
   symbol's window is split into time-contiguous sub-chunks (quantile
   boundaries, so ticks with equal timestamps never straddle a cut).
   Sub-chunk 0 scans from the true incoming state — its bricks are
   final.  Sub-chunks i>0 scan speculatively from a cold grid-anchored
   state; besides their (provisional) bricks they emit a compact
   summary: the final kernel state plus a *sync blob* — for each of the
   first ``SYNC_CAP`` emitting ticks, the post-tick
   ``(tick, last_close, last_dir, is_reversal, cum_bricks)``.

2. **Repair pass** (one task per hot symbol, receives the window's full
   tick group = the built-in exact fallback): walks the boundaries
   sequentially.  For sub-chunk i it rescans the chunk *prefix* from
   the true state in growing blocks until the true post-emission state
   matches a spec sync candidate **bitwise** (same tick, bit-equal
   ``last_close``, same direction and reversal flag — the wick/volume/
   tick_open components reset deterministically at every emission, so
   bit-equality of those four implies bit-equality of the full state
   and therefore of every subsequent brick).  It emits the prefix
   bricks, a per-chunk splice decision ``(keep_from, seq_base,
   tick_shift)``, and the symbol's final window state.  If no candidate
   matches within the spec horizon it simply keeps scanning to the
   chunk end — correct, serial for that chunk only.

3. **Assembly** (declarative): spec bricks join the broadcast decisions
   on (symbol, sub), drop ``local_seq < keep_from``, and shift their
   brick_seq / tick indexes; union with the repair bricks.

Why bitwise convergence is the right test: grid levels are built by the
reference's own sequential FP accumulation ``L += (dir*mult)*brick``
(renkodf.py:131), so two scans agree forever iff their states are
bit-equal once.  When brick and price arithmetic is exact in float64
(dyadic brick sizes — e.g. the 5.0-brick / 2-decimal-price bench
regime), every same-lattice path yields identical bits and convergence
fires within a few emissions.  When accumulation is inexact the match
simply never fires and the repair scan degrades to today's serial
behaviour — still bit-exact, no speedup, no wrong answer.

Reference parity: the stitch is the same warm-start handoff the
reference proves in test_ws_ext.py:39-58, except the *entire* scalar
state crosses the splice, so there is no one-bar wick/volume
discrepancy to forgive.

Memory bound (VERDICT r9 item 7): a SPEC task holds one sub-chunk —
O(``subchunk_target``) ticks — but a REPAIR task receives the hot
symbol's ENTIRE window group (it is the built-in exact fallback, so it
must be able to scan to any chunk's end), i.e. per-repair-task input =
O(ticks of that symbol in that window) as Arrow columns (~16 B/tick)
plus the emitted-brick buffers. Size the chunking window so the
hottest symbol's per-window tick count fits one executor's task
memory: at the default 500k-tick sub-chunks, a 1 GiB task budget
comfortably covers ~30 M hot-symbol ticks per window; if one symbol
exceeds that, shrink ``window`` (more windows, state carried across
them by renko_chunked) rather than ``subchunk_target``, which only
changes spec-task granularity, not the repair bound.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import types as T

from renkodf_spark.kernel import (
    CARRY_FIELDS,
    WIDE_VALUE_COLUMNS,
    brick_columns,
    choose_scan,
    grid_anchor,
    label_run,
    new_output,
    new_state,
    output_arrays,
    pack_carry,
    padded_table,
    run_segment,
    scan_ticks,
    scan_ticks_vectorized,
    sorted_group,
    unpack_carry,
)
from renkodf_spark.schema import WIDE_SCHEMA

# sync-candidate horizon: emitting ticks recorded per speculative chunk
# (~34 B each -> <=560 KB per chunk). Convergence normally lands within
# the first handful of emissions; past the horizon the repair pass
# falls back to a full serial scan of that one chunk.
SYNC_CAP = 16384

# row kinds in the shared spec/repair output schema
KIND_BRICK = 0
KIND_STATE = 1
KIND_DECISION = 2
KIND_SUMMARY = 3

_EXTRA_FIELDS = (
    [T.StructField("__row_kind", T.IntegerType()), T.StructField("__sub", T.LongType())]
    + CARRY_FIELDS
    + [
        T.StructField("__n_bricks", T.LongType()),
        T.StructField("__keep_from", T.LongType()),
        T.StructField("__seq_base", T.LongType()),
        T.StructField("__tick_shift", T.LongType()),
        T.StructField("__sync_ticks", T.BinaryType()),
        T.StructField("__sync_close", T.BinaryType()),
        T.StructField("__sync_dir", T.BinaryType()),
        T.StructField("__sync_rev", T.BinaryType()),
        T.StructField("__sync_cum", T.BinaryType()),
    ]
)

# one shared output schema for both passes: brick rows, summary rows,
# decision rows and state rows null-pad whatever they don't carry
SUB_SCHEMA = T.StructType(list(WIDE_SCHEMA.fields) + _EXTRA_FIELDS)


def _emission_sync(arrs, n_prev: int, n_now: int):
    """Per-emitting-tick post-state over bricks [n_prev:n_now): arrays
    (tick, last_close, last_dir, is_rev_of_last_brick, cum_bricks).
    A tick's bricks are always contiguous, so 'last brick per tick' is
    the position before each tick change."""
    tic = arrs["tick_index_close"][n_prev:n_now]
    if len(tic) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, np.empty(0), np.empty(0, np.int64), np.empty(0, np.int64), z
    last = np.nonzero(np.diff(tic))[0]
    last = np.concatenate([last, [len(tic) - 1]])
    return (
        tic[last],
        arrs["close"][n_prev:n_now][last],
        arrs["direction"][n_prev:n_now][last],
        arrs["is_reversal"][n_prev:n_now][last],
        np.int64(n_prev) + last + 1,  # cum bricks through that tick
    )


def _pack_sync(ticks, close, dirs, rev, cum):
    import pyarrow as pa

    k = min(len(ticks), SYNC_CAP)
    return {
        c: pa.array([a[:k].astype(dt).tobytes()], pa.binary())
        for c, a, dt in (
            ("__sync_ticks", ticks, np.int64),
            ("__sync_close", close, np.float64),
            ("__sync_dir", dirs, np.int8),
            ("__sync_rev", rev, np.int8),
            ("__sync_cum", cum, np.int64),
        )
    }


def _unpack_sync(tbl, i: int):
    return tuple(
        np.frombuffer(tbl.column(c)[i].as_py() or b"", dtype=dt)
        for c, dt in (
            ("__sync_ticks", np.int64),
            ("__sync_close", np.float64),
            ("__sync_dir", np.int8),
            ("__sync_rev", np.int8),
            ("__sync_cum", np.int64),
        )
    )


def make_spec_runner(
    brick: float, drop_first: bool, first_ids: dict, acc_py=None, acc_kernel=None
):
    """Cogroup body for the parallel pass over (symbol, __sub) groups.

    The first chunk (``first_ids[symbol]`` — sub-chunk ids are chosen
    for collision-free shuffle placement, see renko_chunked._hot_plan —
    cogrouped with the carry-state row) runs the exact scan: the same
    recurrence as renko_chunked._run_body, emitting chunk-LOCAL
    brick_seq / tick indexes plus a KIND_SUMMARY row with its exact
    final state.  Later chunks run speculatively from a cold grid
    anchor and additionally pack the sync blob.
    """

    def run(tick_tbl, state_tbl):
        t0 = time.perf_counter() if acc_py is not None else 0.0
        try:
            return _run(tick_tbl, state_tbl)
        finally:
            if acc_py is not None:
                acc_py.add(time.perf_counter() - t0)

    def _run(tick_tbl, state_tbl):
        import pyarrow as pa

        ts_type = tick_tbl.schema.field("__time").type
        if tick_tbl.num_rows == 0:
            # state row for a sub-chunk with no ticks can't happen for
            # hot symbols (hot => ticks present); return empty
            return padded_table(SUB_SCHEMA, ts_type, {}, 0)

        sub = int(tick_tbl.column("__sub")[0].as_py())
        sym, times, prices = sorted_group(tick_tbl)
        exact = sub == first_ids.get(sym, 0)
        extra = {}
        if exact:
            # ---- exact chunk-0 scan (bit-for-bit _run_body semantics,
            # local indexing; offset handling moves to the repair pass)
            if state_tbl.num_rows:
                carry = unpack_carry(state_tbl)
                kstate, (next_seq, offset, first_ts) = carry[:6], carry[6:]
                kstate[5] -= offset  # window-local == chunk-local (chunk 0)
                start = 0
            else:
                kstate, next_seq, first_ts = new_state(float(prices[0]), brick), 0, None
                start = 1
        else:
            # ---- speculative sub>0 scan from a cold grid anchor; in exact
            # FP regimes this lattice is bit-identical to the true one, so
            # the repair pass can verify convergence bitwise
            anchor = grid_anchor(float(prices[0]), brick)
            kstate, next_seq, first_ts = [anchor, 0, anchor, anchor, 1, 0], 0, None
            start = 0
        tk = time.perf_counter() if acc_kernel is not None else 0.0
        ev, arrs = run_segment(times, prices, brick, kstate, start)
        if acc_kernel is not None:
            acc_kernel.add(time.perf_counter() - tk)

        lo = hi = 0
        if exact:
            if len(ev) and first_ts is None:
                first_ts = ev[0]
            lo, hi = label_run(ev, first_ts if drop_first else None)
        else:
            extra = _pack_sync(*_emission_sync(arrs, 0, len(ev)))
        cols = brick_columns(sym, ev, arrs, 0, ts_type, lo, hi)
        m = len(cols["brick_seq"])
        cols["__row_kind"] = pa.array(np.full(m, KIND_BRICK, dtype=np.int32))
        cols["__sub"] = pa.array(np.full(m, sub, dtype=np.int64))
        # chunk-local tick_open; the incoming next_seq (repair renumbers)
        summary = pack_carry(
            SUB_SCHEMA, ts_type, sym, [*kstate, next_seq, 0, first_ts],
            __row_kind=pa.array([KIND_SUMMARY], pa.int32()),
            __sub=pa.array([sub], pa.int64()),
            __n_bricks=pa.array([m], pa.int64()),
            **extra,
        )
        return pa.concat_tables([padded_table(SUB_SCHEMA, ts_type, cols, m), summary])

    return run


def make_repair_runner(
    brick: float,
    drop_first: bool,
    plans_by_symbol: dict,
    acc_py=None,
    acc_kernel=None,
    acc_converged=None,
    acc_fallback=None,
    acc_repair_ticks=None,
):
    """Cogroup body for the sequential stitch: left = the hot symbol's
    FULL window tick group (the universal exact fallback), right = the
    spec summaries plus the incoming carry-state row.

    ``plans_by_symbol``: {symbol: {"bnds": [boundary micros...],
    "ids": [chunk ids...]}} — the same quantile cuts and chosen chunk
    ids the Spark-side ``__sub`` expression used, so ``searchsorted``
    on the boundaries reproduces the assignment and ``ids[k]`` keys the
    k-th chunk's spec summary and splice decision."""
    plans_plain = {
        s: ([int(b) for b in p["bnds"]], [int(i) for i in p["ids"]])
        for s, p in plans_by_symbol.items()
    }

    def run(tick_tbl, side_tbl):
        t0 = time.perf_counter() if acc_py is not None else 0.0
        try:
            return _run(tick_tbl, side_tbl)
        finally:
            if acc_py is not None:
                acc_py.add(time.perf_counter() - t0)

    def _run(tick_tbl, side_tbl):
        import pyarrow as pa

        ts_type = tick_tbl.schema.field("__time").type
        if tick_tbl.num_rows == 0:
            return padded_table(SUB_SCHEMA, ts_type, {}, 0)
        sym, times, prices = sorted_group(tick_tbl)
        n = len(prices)
        bnds_l, ids = plans_plain.get(sym, ([], [0]))
        bnds = np.asarray(bnds_l, dtype=np.int64)
        t_us = times.astype("datetime64[us]").view("int64")
        # chunk spans: [cut[i], cut[i+1]) — identical to the Spark-side
        # size(filter(boundaries <= t)) assignment
        cuts = [0] + [int(np.searchsorted(t_us, b, side="left")) for b in bnds] + [n]

        side = side_tbl.combine_chunks()
        kind = side.column("__row_kind").to_numpy(zero_copy_only=False)
        summaries = {}  # sub id -> (carry, n_bricks, sync arrays)
        cur = None
        win_offset, running_seq, first_ts = 0, 0, None
        for i in range(side.num_rows):
            if kind[i] == KIND_SUMMARY:
                summaries[side.column("__sub")[i].as_py()] = (
                    unpack_carry(side, i),
                    side.column("__n_bricks")[i].as_py(),
                    _unpack_sync(side, i),
                )
            elif kind[i] == KIND_STATE:
                # incoming window state (global tick_open)
                carry = unpack_carry(side, i)
                cur, (running_seq, win_offset, first_ts) = carry[:6], carry[6:]

        brick_tables = []
        dec = {"sub": [], "keep_from": [], "seq_base": [], "tick_shift": []}

        for sub in range(len(cuts) - 1):
            lo, hi = cuts[sub], cuts[sub + 1]
            if hi <= lo:
                continue
            sub_id = ids[sub]
            assert sub_id in summaries, f"missing spec summary for {sym} sub={sub_id}"
            summ, n_spec, sync = summaries[sub_id]
            shift = win_offset + lo
            # the spec state in window-global tick indexes
            spec_state = [*summ[:5], summ[5] + shift]

            if sub == 0:
                # chunk 0 ran exactly in the spec pass: adopt its output
                dec["sub"].append(sub_id)
                dec["keep_from"].append(0)
                dec["seq_base"].append(running_seq)
                dec["tick_shift"].append(shift)
                running_seq += n_spec
                cur = spec_state
                if first_ts is None:
                    first_ts = summ[8]
                continue

            # ---- repair scan of chunk `sub` from the true state
            ct = times[lo:hi]
            cp = prices[lo:hi]
            if cur is None:
                # cold symbol whose sub-0 span was empty (boundary tie at
                # the min timestamp): this chunk IS the cold start — same
                # anchor/start=1 seeding as the one-shot scan; the spec
                # scan of this chunk remains splice-able via convergence
                kstate = new_state(float(cp[0]), brick)
                pos0 = 1
            else:
                kstate = [cur[0], cur[1], cur[2], cur[3], cur[4], cur[5] - shift]
                pos0 = 0
            s_ticks, s_close, s_dir, s_rev, s_cum = sync
            horizon = int(s_ticks[-1]) if len(s_ticks) else -1

            out = new_output()
            pos, blk = pos0, 1024
            jstar = -1
            keep_from = n_spec  # default: no spec bricks survive
            m = hi - lo
            vec = choose_scan(cp, brick)
            cp_list: list = []  # scalar-path prefix, extended lazily
            while pos < m and horizon >= 0:
                stop = min(pos + blk, m)
                n_prev = len(out["close"])
                tk = time.perf_counter() if acc_kernel is not None else 0.0
                if vec:
                    # sliced views keep tick indexes chunk-local
                    scan_ticks_vectorized(ct[:stop], cp[:stop], pos, brick, kstate, out)
                else:
                    if len(cp_list) < stop:
                        cp_list.extend(cp[len(cp_list) : stop].tolist())
                    scan_ticks(ct, cp_list, pos, brick, kstate, out, stop=stop)
                if acc_kernel is not None:
                    acc_kernel.add(time.perf_counter() - tk)
                if acc_repair_ticks is not None:
                    acc_repair_ticks.add(stop - pos)
                arrs = output_arrays(out)
                tticks, tclose, tdir, trev, _ = _emission_sync(arrs, n_prev, len(arrs["close"]))
                if len(tticks):
                    common, ti, si = np.intersect1d(
                        tticks, s_ticks, assume_unique=True, return_indices=True
                    )
                    if len(common):
                        ok = (
                            (tclose[ti].view(np.int64) == s_close[si].view(np.int64))
                            & (tdir[ti] == s_dir[si])
                            & (trev[ti] == s_rev[si])
                        )
                        w = np.nonzero(ok)[0]
                        if len(w):
                            k = w[0]
                            jstar = int(common[k])
                            keep_from = int(s_cum[si[k]])
                            break
                pos = stop
                blk = min(blk * 8, 262144)
                if pos > horizon:
                    horizon = -1  # past the spec sync horizon: no splice possible
            arrs = output_arrays(out)
            if jstar >= 0:
                if acc_converged is not None:
                    acc_converged.add(1)
                # keep true bricks through j*, then adopt the spec tail
                n_true = int(np.searchsorted(arrs["tick_index_close"], jstar, side="right"))
                final_state = spec_state
            else:
                if acc_fallback is not None:
                    acc_fallback.add(1)
                # no convergence possible: finish the chunk with the
                # full-speed exact scan (vectorized or list-backed)
                if pos < m:
                    tk = time.perf_counter() if acc_kernel is not None else 0.0
                    if choose_scan(cp, brick):
                        scan_ticks_vectorized(ct, cp, pos, brick, kstate, out)
                    else:
                        if len(cp_list) < m:
                            cp_list.extend(cp[len(cp_list) :].tolist())
                        scan_ticks(ct, cp_list, pos, brick, kstate, out)
                    if acc_kernel is not None:
                        acc_kernel.add(time.perf_counter() - tk)
                    if acc_repair_ticks is not None:
                        acc_repair_ticks.add(m - pos)
                arrs = output_arrays(out)
                n_true = len(arrs["close"])
                keep_from = n_spec
                final_state = [kstate[0], kstate[1], kstate[2], kstate[3], kstate[4], kstate[5] + shift]

            # first-brick label drop can reach into this chunk only when
            # nothing earlier in the symbol's history emitted (first_ts
            # unset): the run is at the head of the resolved stream
            ev_true = ct[arrs["tick_index_close"][:n_true]]
            drop_lo = drop_spec = 0
            if n_true and first_ts is None:
                first_ts = ev_true[0]
                if drop_first:
                    drop_lo = label_run(ev_true, first_ts)[1]
                    if drop_lo == n_true and keep_from < n_spec and len(s_ticks):
                        # run may extend into the adopted spec tail: count
                        # kept spec bricks whose event time equals first_ts
                        s_ev = ct[s_ticks]
                        pos_k = int(np.searchsorted(s_cum, keep_from, side="right"))
                        while pos_k < len(s_ticks) and s_ev[pos_k] == first_ts:
                            drop_spec += int(s_cum[pos_k] - max(keep_from, s_cum[pos_k - 1] if pos_k else 0))
                            pos_k += 1

            if n_true - drop_lo > 0:
                true = {c: arrs[c][:n_true] for c in WIDE_VALUE_COLUMNS}
                # globalize tick indexes
                true["tick_index_open"] = true["tick_index_open"] + shift
                true["tick_index_close"] = true["tick_index_close"] + shift
                cols = brick_columns(sym, ev_true, true, running_seq, ts_type, 0, drop_lo)
                cols["__row_kind"] = pa.array(np.full(n_true - drop_lo, KIND_BRICK, dtype=np.int32))
                brick_tables.append(padded_table(SUB_SCHEMA, ts_type, cols, n_true - drop_lo))
            running_seq += n_true - drop_lo

            dec["sub"].append(sub_id)
            dec["keep_from"].append(keep_from + drop_spec)
            dec["seq_base"].append(running_seq)
            dec["tick_shift"].append(shift)
            running_seq += n_spec - keep_from - drop_spec
            cur = final_state

        # ---- decisions + final state
        nd = len(dec["sub"])
        dcols = {
            "symbol": pa.array([sym] * nd, pa.string()),
            "__row_kind": pa.array(np.full(nd, KIND_DECISION, dtype=np.int32)),
        }
        for k, v in dec.items():
            dcols[f"__{k}"] = pa.array(np.asarray(v, dtype=np.int64))
        state = pack_carry(
            SUB_SCHEMA, ts_type, sym, [*cur, running_seq, win_offset + n, first_ts],
            __row_kind=pa.array([KIND_STATE], pa.int32()),
        )
        return pa.concat_tables(brick_tables + [padded_table(SUB_SCHEMA, ts_type, dcols, nd), state])

    return run
