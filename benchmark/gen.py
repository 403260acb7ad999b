"""Seeded input generator for the benchmark.

One process, one ``numpy.random.Generator`` per (workload, seed): the
same seed always writes byte-identical parquet.  The program under test
only ever sees these files.

Tick tables carry ``symbol`` (string), ``event_time`` (timestamp, us,
UTC-adjusted -- Spark reads it as ``TIMESTAMP``, the type
``sources.tables.ticks_from_events`` produces), ``close`` (double) and
``seq`` (int64, global arrival order).  Naive timestamps would be read as
``TIMESTAMP_NTZ``, which ``renko()`` rejects with
``RESULT_COLUMN_TYPES_MISMATCH`` (see README, "Known defects").

Query tables follow the committed testdata's schemas (TPC-H-ish star
schema, a 31-word ``documents`` corpus with planted near-duplicates, and
unit-norm 64-d ``embeddings`` in 10 labelled clusters) at a size chosen
so one pass of the mix fits the run.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
WEEK_US = 7 * 86_400 * 1_000_000

# Per-workload shapes.  "full" is what the benchmark measures; "tiny"
# keeps every code path for the self-tests; "setup" is the set-up warm-up
# pass every workload shares.
SHAPES = {
    "ticks_dense": {
        "full": {"symbols": 64, "ticks_per_symbol": 24_000, "files": 8},
        "tiny": {"symbols": 16, "ticks_per_symbol": 2_000, "files": 2},
        "setup": {"symbols": 8, "ticks_per_symbol": 1_000, "files": 2},
    },
    "ticks_sparse_long": {
        # the hot symbol's ticks fall inside one default renko_chunked
        # window (1 week), below its default sub-chunk threshold (README,
        # "Known defects")
        "full": {"hot_ticks": 150_000, "cold_symbols": 2, "cold_ticks": 15_000, "files": 8},
        "tiny": {"hot_ticks": 50_000, "cold_symbols": 2, "cold_ticks": 5_000, "files": 2},
    },
    "stream_replay": {
        "full": {"symbols": 32, "ticks_per_symbol": 1_000, "files": 2},
        "tiny": {"symbols": 8, "ticks_per_symbol": 400, "files": 2},
    },
    "query_mix": {
        "full": {"customers": 1_500, "orders": 15_000, "lineitems": 60_000,
                 "suppliers": 100, "documents": 500, "vectors": 200},
        "tiny": {"customers": 150, "orders": 1_500, "lineitems": 6_000,
                 "suppliers": 20, "documents": 120, "vectors": 60},
    },
}

# Brick sizes are powers of two so every brick close is exact in
# float64: the DuckDB fold oracle and the speculative sub-chunk repair
# both rely on exact grid arithmetic.
DENSE_BRICK = 0.125
SPARSE_TICK = 2.0 ** -14  # FX-like price grid (~0.6 pip)
SPARSE_BRICK = 32 * SPARSE_TICK
# the sparse walk's steps in grid ticks, and their probabilities: driftless,
# four ticks in five repeat the price
SPARSE_STEPS = np.array([-3, -1, 0, 1, 3])
SPARSE_STEP_P = [0.05, 0.05, 0.8, 0.05, 0.05]
STREAM_BRICK = 0.125

_TICK_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("close", pa.float64()),
        ("seq", pa.int64()),
    ]
)


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), salt])


def _dense_walk(rng, prefix: str, n_sym: int, n_per: int) -> list:
    """Cent-grid random walks, one per symbol, with sub-second arrivals."""
    series = []
    for k in range(n_sym):
        start = int(rng.integers(5_000, 20_000))  # cents
        steps = np.rint(rng.normal(0.0, 5.0, n_per)).astype(np.int64)
        steps[0] = 0
        gaps = 1 + rng.exponential(200_000.0, n_per).astype(np.int64)
        series.append((f"{prefix}{k:03d}", T0_US + np.cumsum(gaps), (start + np.cumsum(steps)) / 100.0))
    return series


def _sparse_walk(rng, n: int, start_ticks: int) -> np.ndarray:
    """Driftless integer-tick walk on the FX grid (``SPARSE_STEPS``)."""
    steps = rng.choice(SPARSE_STEPS, size=n, p=SPARSE_STEP_P)
    steps[0] = 0
    return (start_ticks + np.cumsum(steps)) * SPARSE_TICK


def _arrivals(rng, n: int, span_us: int) -> np.ndarray:
    """``n`` strictly increasing offsets spread over ``[0, span_us)``."""
    gaps = 1 + rng.exponential(span_us / (n + 1) - 1, n).astype(np.int64)
    return np.minimum(np.cumsum(gaps), span_us - n + np.arange(n))


def gen_ticks_dense(rng, shape: dict):
    return _dense_walk(rng, "D", shape["symbols"], shape["ticks_per_symbol"]), DENSE_BRICK


def gen_ticks_sparse_long(rng, shape: dict):
    """One hot symbol and a few thin cold symbols, all inside one default
    ``renko_chunked`` window (1 week)."""
    w0 = (T0_US // WEEK_US + 1) * WEEK_US  # a window boundary
    hot_n = shape["hot_ticks"]
    # hot: [w0 + 1h, w0 + 6d)
    hot_span = 6 * 86_400 * 1_000_000 - 3_600_000_000
    hot_t = w0 + 3_600_000_000 + _arrivals(rng, hot_n, hot_span)
    series = [("HOT", hot_t, _sparse_walk(rng, hot_n, int(0.86 / SPARSE_TICK)))]
    for k in range(shape["cold_symbols"]):
        n = shape["cold_ticks"]
        t = w0 + _arrivals(rng, n, WEEK_US)
        series.append((f"C{k:02d}", t, _sparse_walk(rng, n, int(rng.uniform(0.6, 1.4) / SPARSE_TICK))))
    return series, SPARSE_BRICK


def gen_stream_replay(rng, shape: dict):
    return _dense_walk(rng, "S", shape["symbols"], shape["ticks_per_symbol"]), STREAM_BRICK


def ticks_table(series: list) -> pa.Table:
    """All symbols interleaved in arrival order; ``seq`` numbers it."""
    names = pa.array([name for name, _, _ in series], pa.string())
    sym = np.concatenate([np.full(len(t), k, dtype=np.int32) for k, (_, t, _) in enumerate(series)])
    times = np.concatenate([t for _, t, _ in series])
    prices = np.concatenate([p for _, _, p in series])
    order = np.lexsort((sym, times))
    return pa.table(
        {
            "symbol": pa.DictionaryArray.from_arrays(pa.array(sym[order]), names).cast(pa.string()),
            "event_time": pa.array(times[order], pa.timestamp("us", tz="UTC")),
            "close": pa.array(prices[order], pa.float64()),
            "seq": pa.array(np.arange(len(order), dtype=np.int64)),
        },
        schema=_TICK_SCHEMA,
    )


def _write_files(tbl: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Equal time-ordered slices, one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(np.int64)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]), p, compression="zstd")
        # distinct, increasing mtimes: the streaming file source replays
        # files oldest first
        os.utime(p, ns=(T0_US * 1000 + i * 10**9, T0_US * 1000 + i * 10**9))
        paths.append(p)
    return paths


# ------------------------------------------------------------ query tables

_VOCAB = (
    "a the data spark stream table column row key value hash join merge "
    "group agg sort filter scan query window batch order part line vector "
    "customer fast slow small big"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY_US = 86_400 * 1_000_000
EMBED_DIM = 64
EMBED_LABELS = 10
_D1995 = 788_918_400_000_000  # 1995-01-01


def gen_query_tables(rng, shape: dict) -> dict[str, pa.Table]:
    n_c, n_o, n_l, n_s = shape["customers"], shape["orders"], shape["lineitems"], shape["suppliers"]
    ts = pa.timestamp("us")  # the committed testdata stores naive timestamps
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": np.asarray(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_c)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_o)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_o), 2),
            "o_orderdate": pa.array(_D1995 + rng.integers(0, 2405, n_o) * _DAY_US, ts),
            "o_orderpriority": np.asarray(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_o)],
        }),
    }
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, 20_000, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_l)],
        "l_linestatus": np.asarray(["F", "O"], dtype=object)[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(_D1995 + rng.integers(1, 2500, n_l) * _DAY_US, ts),
    })
    tables["documents"] = _documents(rng, shape["documents"])
    tables["embeddings"] = _embeddings(rng, shape["vectors"])
    return tables


def _documents(rng, n: int) -> pa.Table:
    """Random 31-word texts; one in eight is a light edit of an earlier
    document, so the similarity joins have true pairs to find."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    langs = np.asarray(["en", "de", "es", "fr", "zh"], dtype=object)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 5, n)],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    label = rng.integers(0, EMBED_LABELS, n)
    v = centers[label] + rng.normal(0.0, 0.6, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


# ---------------------------------------------------------------- driver

_TICK_GENERATORS = {
    "ticks_dense": gen_ticks_dense,
    "ticks_sparse_long": gen_ticks_sparse_long,
    "stream_replay": gen_stream_replay,
}


def generate(workload: str, seed: int, out_dir: str, size: str = "full") -> dict:
    """Write the workload's inputs under ``out_dir``; return a manifest
    (paths, brick, traffic stats, a content hash of the inputs and, for
    tick workloads, the per-symbol ``(name, times, prices)`` series and
    their kernel replay ``(expected table, kernel seconds, bricks)``, the
    output checks' reference)."""
    from workloads import replay_batch, replay_stream

    shape = SHAPES[workload][size]
    rng = _rng(workload, seed)
    manifest: dict = {"workload": workload, "seed": int(seed), "size": size}
    if workload == "query_mix":
        tables = gen_query_tables(rng, shape)
        os.makedirs(out_dir, exist_ok=True)
        for name, tbl in tables.items():
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        manifest["dir"] = out_dir
        manifest["rows"] = {name: t.num_rows for name, t in tables.items()}
        manifest["input_rows"] = sum(manifest["rows"].values())
    else:
        series, brick = _TICK_GENERATORS[workload](rng, shape)
        tbl = ticks_table(series)
        manifest["dir"] = out_dir
        manifest["files"] = _write_files(tbl, out_dir, shape["files"])
        manifest["brick"] = brick
        manifest["input_rows"] = tbl.num_rows
        replay = replay_stream if workload == "stream_replay" else replay_batch
        manifest["replay"] = replay(series, brick)
        manifest["traffic"] = tick_traffic(series, brick, manifest["replay"][2])
        manifest["series"] = series
    manifest["input_hash"] = input_hash(out_dir)
    return manifest


def tick_traffic(series: list, brick: float, bricks: int) -> dict:
    """What the program will see: sizes, skew, the scan path the
    kernel's own ``choose_scan`` picks per symbol, and the ``bricks`` the
    kernel replay emits."""
    from renkodf_spark.kernel import choose_scan

    ticks = int(sum(len(t) for _, t, _ in series))
    per_win = [np.unique(t // WEEK_US, return_counts=True)[1].max() for _, t, _ in series]
    skip = sum(bool(choose_scan(p, brick)) for _, _, p in series)
    return {
        "ticks": ticks,
        "symbols": len(series),
        "max_ticks_per_symbol": int(max(len(t) for _, t, _ in series)),
        "max_ticks_per_symbol_window": int(max(per_win)),
        "scan_path_symbols": {"skip": skip, "scalar": len(series) - skip},
        "bricks": int(bricks),
        "bricks_per_tick": bricks / ticks,
    }


def input_hash(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()
