"""Benchmark entry point.

    python3 benchmark/run.py --workload ticks_dense --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  One invocation generates the
workload's inputs from ``--seed`` (inside ``.bench_work/``), starts a
``local[<cores>]`` Spark session, sets up three times (session start plus
one untimed warm-up pass), runs a fixed number of timed passes set by
``--seconds`` (``timed_passes``), checks the outputs outside the timed
region, and prints one JSON object as the last line of stdout:

* ``--trace 0``: the end-to-end metrics (``END_TO_END``);
* ``--trace 1``: the per-layer metrics (``_per_layer_units``), folded from
  the Spark event log and streaming progress of a traced session.

``--workload all`` runs every workload in turn (one process each) and
prints their summaries.  ``--size tiny`` shrinks every input (self-tests).
A human-readable report goes to ``.bench_out/<workload>-<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOAD_NAMES = ("ticks_dense", "sparse_stream_query")
SETUP_REPS = 3
DRIVER_MEMORY = "2g"
KERNEL_RATE_TICKS = 400_000

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

_HOST_ROW = {
    "build_s": "s",
    "execute_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "max_task_s": "s",
    "parallelism": "ratio",
    "shuffle_write_mb": "MB",
    "fetch_wait_s": "s",
    "python_s": "s",
    "to_python_mb": "MB",
    "from_python_mb": "MB",
    "gc_s": "s",
    "spill_mb": "MB",
}
_QUERY_ROW = ("build_s", "execute_s", "jobs", "executor_run_s", "parallelism", "shuffle_write_mb", "python_s")


def _per_layer_units() -> dict[str, str]:
    from workloads import QUERY_MIX

    units = {
        "pass.wall_s": "s",
        "pass.rows_per_s": "1/s",
        "session.start_s": "s",
        "session.warm_pass_s": "s",
        "session.peak_rss_mb": "MB",
        "sources.scan_s": "s",
        "sources.bytes_read_mb": "MB",
        "kernel.scalar_ticks_per_s": "1/s",
        "kernel.skip_ticks_per_s": "1/s",
        "kernel.ticks_in": "count",
        "kernel.bricks_out": "count",
        "kernel.share": "ratio",
    }
    units.update({f"renko.{k}": u for k, u in _HOST_ROW.items()})
    units.update({f"chunked.{k}": u for k, u in _HOST_ROW.items()})
    units["chunked.stage_write_mb"] = "MB"
    units.update(
        {
            "stream.trigger_ms": "ms",
            "stream.trigger_tail_ms": "ms",
            "stream.addbatch_ms": "ms",
            "stream.planning_ms": "ms",
            "stream.walcommit_ms": "ms",
            "stream.state_rows": "count",
            "stream.state_mem_bytes": "bytes",
            "stream.state_commit_ms": "ms",
            "stream.state_update_ms": "ms",
            "stream.bricks_out": "count",
            "stream.python_s": "s",
            "epoch.trigger_ms": "ms",
            "epoch.trigger_tail_ms": "ms",
            "epoch.addbatch_ms": "ms",
            "epoch.jobs_per_batch": "count",
            "epoch.bytes_written_mb": "MB",
            "epoch.state_disk_mb": "MB",
            "epoch.state_files": "count",
            "live.ticks": "count",
            "live.bricks_out": "count",
            "live.add_prices_us": "us",
            "live.add_prices_tail_us": "us",
        }
    )
    for q in QUERY_MIX:
        units.update({f"query.{q}.{k}": _HOST_ROW[k] for k in _QUERY_ROW})
    units["trace.overhead_ratio"] = "ratio"
    return units


# ------------------------------------------------------------------ inputs


# input key -> generator workload, per benchmark workload
INPUT_PARTS = {
    "ticks_dense": {"dense": "ticks_dense"},
    "sparse_stream_query": {"sparse": "ticks_sparse_long", "stream": "stream_replay", "tables": "query_mix"},
}


def make_inputs(workload: str, seed: int, size: str, out_dir: str) -> dict:
    """Generate one input set: one manifest per input key, plus a hash
    over all of them."""
    import hashlib

    import gen

    inputs = {
        key: gen.generate(part, seed, os.path.join(out_dir, key), size)
        for key, part in INPUT_PARTS[workload].items()
    }
    digest = hashlib.sha256("".join(m["input_hash"] for m in inputs.values()).encode()).hexdigest()
    return {**inputs, "input_hash": digest}


# ----------------------------------------------------------------- session


def start_session(work: str, cores: int, trace: bool):
    from renkodf_spark.session import build_session

    os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
    }
    spark = build_session("renkodf-bench", cores=cores, driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -------------------------------------------------------------------- run


class Run:
    """One invocation: three set-ups (session start plus the shared
    warm-up pass), untimed warm-up passes of the workload over its
    inputs, then ``timed_passes`` timed passes; checks afterwards."""

    def __init__(self, args, work: str):
        from measure import Spans
        from workloads import WORKLOADS, Ctx, TicksBatch

        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload]
        data = os.path.join(work, "data")
        t0 = time.perf_counter()
        self.inputs = make_inputs(args.workload, args.seed, args.size, os.path.join(data, "run"))
        self.setup_inputs = make_inputs("ticks_dense", args.seed + 2_000_003, "setup", os.path.join(data, "setup"))
        self.setup_pass = TicksBatch("renko", "dense")
        self.phase_s = {"generate": time.perf_counter() - t0}
        self.spans = Spans()
        self.ctx = Ctx(None, work, self.inputs, self.spans)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.trace_from = 0  # first span of the traced session

    def _set_up(self, trace: bool) -> dict:
        """Session start plus one untimed warm-up pass (``renko()`` over
        the shared set-up ticks), the same for every workload."""
        if self.ctx.spark is not None:
            self.ctx.spark.stop()
        t0 = time.perf_counter()
        self.ctx.spark = start_session(self.work, self.cores, trace)
        t1 = time.perf_counter()
        self.setup_pass.run(self.ctx, self.setup_inputs["dense"], "warm")
        t2 = time.perf_counter()
        return {"setup_s": t2 - t0, "start_s": t1 - t0, "warm_pass_s": t2 - t1}

    def _warm_workload(self) -> float:
        t0 = time.perf_counter()
        self.wl.warm(self.ctx)
        return time.perf_counter() - t0

    def _passes(self, count: int) -> list[dict]:
        from measure import tree_cpu_s

        passes = []
        for _ in range(count):
            self.attempted += 1
            cpu0 = tree_cpu_s()
            try:
                res = self.wl.run_pass(self.ctx)
            except Exception as exc:  # a failed pass counts against fail_ratio
                self.failed += 1
                self.failures.append(f"pass: {type(exc).__name__}: {str(exc).strip()[:300]}")
                res = None
            if res is not None:
                res["cpu_s"] = tree_cpu_s() - cpu0
                self.attempted += res["ops"] - 1
                passes.append(res)
        return passes

    def execute(self) -> dict:
        from measure import RssSampler, box_steal_s

        trace = bool(self.args.trace)
        setups = [self._set_up(trace=False) for _ in range(SETUP_REPS - 1)]
        self.trace_from = len(self.spans.items)
        setups.append(self._set_up(trace=trace))
        workload_warm_s = self._warm_workload()
        count = timed_passes(self.wl, self.args.seconds)
        steal0 = box_steal_s()
        # the RSS peak is a per-layer row: sample only in traced runs, so
        # the sampler's reads stay out of the untraced runs' cpu_s
        with RssSampler() if trace else contextlib.nullcontext() as rss:
            passes = self._passes(count)
        steal_s = box_steal_s() - steal0
        if not passes:
            return {"passes": [], "setups": setups}
        checks = {}
        t0 = time.perf_counter()
        try:
            checks = self.wl.check(self.ctx, passes[-1])
        except Exception as exc:
            checks = {"checks": [f"{type(exc).__name__}: {str(exc).strip()[:300]}"]}
        self.phase_s["checks"] = time.perf_counter() - t0
        for name, problems in checks.items():
            self.attempted += 1
            if problems:
                self.failed += 1
                self.failures.append(f"check {name}: {'; '.join(problems)[:300]}")
        return {
            "passes": passes,
            "setups": setups,
            "workload_warm_s": workload_warm_s,
            "rss": rss.peak_bytes if trace else None,
            "steal_s": steal_s,
            "checks": checks,
        }


def timed_passes(wl, seconds: float) -> int:
    """How many passes a run times: ``--seconds`` worth of the workload's
    nominal pass time, at least one.  The count depends on ``--seconds``
    only, never on how fast the box is, so every run's median is over the
    same passes."""
    return max(1, round(seconds / wl.nominal_pass_s))


def end_to_end(run: Run, res: dict) -> dict:
    from measure import median

    passes = res["passes"]
    values = {
        "setup_s": median(s["setup_s"] for s in res["setups"]),
        "cpu_s": median(p["cpu_s"] for p in passes),
    }
    return {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}


def pass_wall(passes: list) -> dict:
    """Wall time and tick throughput of a pass: printed, and per-layer
    rows of the traced run, but not bounded (see README)."""
    from measure import median

    return {
        "wall_s": median(p["wall_s"] for p in passes),
        "rows_per_s": median(p["tick_rows"] / p["tick_s"] for p in passes),
    }


def per_layer(run: Run, res: dict) -> dict:
    """Per-layer rows from the traced session.  Layers the workload does
    not drive read 0."""
    import numpy as np

    import eventlog
    from measure import median, tail
    from workloads import QUERY_MIX, replay_batch

    units = _per_layer_units()
    v = dict.fromkeys(units, 0.0)
    passes = res["passes"]
    n = len(passes)
    spans = [s for s in run.spans.items[run.trace_from :] if "end_ms" in s]
    rows = eventlog.fold_dir(
        os.path.join(run.work, "eventlog"),
        [(s["name"], s["start_ms"], s["end_ms"]) for s in spans],
    )

    def row(layer):
        return rows.get(layer, dict.fromkeys(eventlog.ROW_KEYS, 0.0))

    wall = pass_wall(passes)
    v["pass.wall_s"] = wall["wall_s"]
    v["pass.rows_per_s"] = wall["rows_per_s"]
    v["session.start_s"] = median(s["start_s"] for s in res["setups"])
    v["session.warm_pass_s"] = median(s["warm_pass_s"] for s in res["setups"])
    v["session.peak_rss_mb"] = res["rss"] / 1e6
    pass_layers = {s["name"] for s in spans if s["desc"].startswith("pass")}
    v["sources.scan_s"] = sum(row(layer)["scan_s"] for layer in pass_layers) / n
    v["sources.bytes_read_mb"] = sum(row(layer)["files_read_mb"] for layer in pass_layers) / n

    parts = run.inputs.keys() - {"input_hash"}
    series = [x for key in parts if "series" in run.inputs[key] for x in run.inputs[key]["series"]]
    hosts = {"dense": "renko", "sparse": "chunked", "stream": "stream"}
    v["kernel.ticks_in"] = sum(len(t) for _, t, _ in series)
    v["kernel.bricks_out"] = run.ctx.kernel["bricks"]
    host_run_s = sum(row(hosts[k])["executor_run_s"] for k in parts if k in hosts) / n
    v["kernel.share"] = run.ctx.kernel["core_s"] / host_run_s
    # both scan paths, single core, on the batch host's own per-symbol
    # arrays (the first KERNEL_RATE_TICKS of them)
    batch = run.inputs["dense" if "dense" in parts else "sparse"]
    sample, left = [], KERNEL_RATE_TICKS
    for name, t, p in batch["series"]:
        if left > 0:
            sample.append((name, t[:left], p[:left]))
            left -= len(sample[-1][1])
    for path in ("scalar", "skip"):
        core_s = replay_batch(sample, batch["brick"], path=path)[1]
        v[f"kernel.{path}_ticks_per_s"] = sum(len(t) for _, t, _ in sample) / core_s

    for key, host in (("dense", "renko"), ("sparse", "chunked")):
        if key not in parts:
            continue
        r = row(host)
        results = [p["parts"][key] for p in passes]
        v[f"{host}.build_s"] = median(x["build_s"] for x in results)
        v[f"{host}.execute_s"] = median(x["execute_s"] for x in results)
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_mb", "fetch_wait_s",
                  "python_s", "to_python_mb", "from_python_mb", "gc_s", "spill_mb"):
            v[f"{host}.{k}"] = r[k] / n
        v[f"{host}.max_task_s"] = r["max_task_s"]
        v[f"{host}.parallelism"] = (r["executor_run_s"] / n) / median(x["wall_s"] for x in results)
        if host == "chunked":
            v["chunked.stage_write_mb"] = r["output_mb"] / n

    if "stream" in parts:
        results = [p["parts"]["stream"] for p in passes]
        prog = [p for x in results for p in x["stream_progress"]]
        trig = [p["durationMs"]["triggerExecution"] for p in prog]
        ops = [p["stateOperators"][0] for p in prog]
        v["stream.trigger_ms"] = median(trig)
        v["stream.trigger_tail_ms"] = tail(trig)[0]
        v["stream.addbatch_ms"] = median(p["durationMs"].get("addBatch", 0) for p in prog)
        v["stream.planning_ms"] = median(p["durationMs"].get("queryPlanning", 0) for p in prog)
        v["stream.walcommit_ms"] = median(p["durationMs"].get("walCommit", 0) for p in prog)
        v["stream.state_rows"] = ops[-1]["numRowsTotal"]
        v["stream.state_mem_bytes"] = ops[-1]["memoryUsedBytes"]
        v["stream.state_commit_ms"] = median(o["commitTimeMs"] for o in ops)
        v["stream.state_update_ms"] = median(o["allUpdatesTimeMs"] for o in ops)
        v["stream.bricks_out"] = sum(p["sink"]["numOutputRows"] for p in prog) / n
        v["stream.python_s"] = row("stream")["python_s"] / n
        eprog = [p for x in results for p in x["epoch_progress"]]
        etrig = [p["durationMs"]["triggerExecution"] for p in eprog]
        v["epoch.trigger_ms"] = median(etrig)
        v["epoch.trigger_tail_ms"] = tail(etrig)[0]
        v["epoch.addbatch_ms"] = median(p["durationMs"].get("addBatch", 0) for p in eprog)
        v["epoch.jobs_per_batch"] = row("epoch")["jobs"] / len(eprog)
        v["epoch.bytes_written_mb"] = row("epoch")["output_mb"] / n
        state_files = [os.path.join(d, f) for d, _, fs in os.walk(results[-1]["state_dir"]) for f in fs]
        v["epoch.state_disk_mb"] = sum(os.path.getsize(f) for f in state_files) / 1e6
        v["epoch.state_files"] = len(state_files)

    if "tables" in parts:
        for q in QUERY_MIX:
            r = row(f"query.{q}")
            results = [p["parts"]["tables"]["queries"][q] for p in passes]
            build = median(x["build_s"] for x in results)
            execute = median(x["execute_s"] for x in results)
            v[f"query.{q}.build_s"] = build
            v[f"query.{q}.execute_s"] = execute
            v[f"query.{q}.jobs"] = r["jobs"] / n
            v[f"query.{q}.executor_run_s"] = r["executor_run_s"] / n
            v[f"query.{q}.parallelism"] = (r["executor_run_s"] / n) / (build + execute)
            v[f"query.{q}.shuffle_write_mb"] = r["shuffle_write_mb"] / n
            v[f"query.{q}.python_s"] = r["python_s"] / n

    lat = np.concatenate([p["live_lat_us"] for p in passes])
    v["live.ticks"] = passes[-1]["live_ticks"]
    v["live.bricks_out"] = len(passes[-1]["live"].renko_df("wicks")) - 1
    v["live.add_prices_us"] = float(np.median(lat))
    v["live.add_prices_tail_us"] = tail(lat)[0]
    # the set-up warm-up pass, traced (last set-up) over untraced (the one
    # before it; the first set-up also starts the JVM)
    v["trace.overhead_ratio"] = res["setups"][-1]["warm_pass_s"] / res["setups"][-2]["warm_pass_s"]
    return {k: {"value": float(v[k]), "unit": units[k]} for k in units}


def report(run: Run, res: dict, metrics: dict) -> dict:
    from measure import tail

    passes = res["passes"]
    rep = {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "seconds": run.args.seconds,
        "trace": run.args.trace,
        "cores": run.cores,
        "input_hash": run.inputs["input_hash"],
        "traffic": {k: m["traffic"] for k, m in run.inputs.items() if isinstance(m, dict) and "traffic" in m},
        "passes": len(passes),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "setups": res["setups"],
        "workload_warm_s": res.get("workload_warm_s"),
        "phase_s": run.phase_s,
        "checks": {k: ("ok" if not v else v) for k, v in res.get("checks", {}).items()},
        "failures": run.failures,
        "metrics": metrics,
    }
    if passes and "stream" in passes[0]["parts"]:
        for kind in ("stream", "epoch"):
            trig = [p["durationMs"]["triggerExecution"] for x in passes for p in x["parts"]["stream"][f"{kind}_progress"]]
            t, pct = tail(trig)
            rep[f"{kind}_trigger_ms"] = {"n": len(trig), "tail_pct": pct, "tail": t}
    if passes:
        lat = [x for p in passes for x in p["live_lat_us"]]
        t, pct = tail(lat)
        rep["live_tick_us"] = {"n": len(lat), "tail_pct": pct, "tail": t}
    rep["box_steal_s_during_passes"] = res.get("steal_s")
    by_layer: dict[str, list] = {}
    for s in run.spans.items:
        if "dur_s" in s:
            by_layer.setdefault(f"{s['name']} {s['desc']}", []).append(round(s["dur_s"], 4))
    rep["span_s"] = by_layer
    if run.args.trace:
        rep["spans"] = [s for s in run.spans.items if "end_ms" in s]
    return rep


# ------------------------------------------------------------------- main


def run_one(args) -> int:
    work = str(ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no perf-data file, temp files in the work dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    )
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "scripts")]
    run = None
    try:
        run = Run(args, work)
        res = run.execute()
        if not res["passes"]:
            print("benchmark: no pass completed:", *run.failures, sep="\n  ", file=sys.stderr)
            return 1
        metrics = per_layer(run, res) if args.trace else end_to_end(run, res)
        rep = report(run, res, metrics)
    finally:
        if run is not None and run.ctx.spark is not None:
            stop_spark(run.ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-{args.seed}-trace{args.trace}.json").write_text(json.dumps(rep, indent=1, default=str))
    for k, m in metrics.items():
        print(f"{args.workload:20s} {k:40s} {m['value']:14.6g} {m['unit']}")
    if not args.trace:
        wall = pass_wall(res["passes"])
        print(f"{args.workload:20s} {'wall_s (unbounded)':40s} {wall['wall_s']:14.6g} s")
        print(f"{args.workload:20s} {'rows_per_s (unbounded)':40s} {wall['rows_per_s']:14.6g} 1/s")
    print(f"{args.workload:20s} {'fail_ratio':40s} {run.failed / run.attempted:14.6g} ratio"
          f"  ({run.failed} of {run.attempted} operations)")
    for f in run.failures:
        print(f"{args.workload:20s} FAILED {f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; one summary object at the end."""
    summary = {}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__)), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"benchmark: workload {w} exited {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        summary[w] = json.loads(lines[-1])
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="renkodf_spark benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)
    if not (ROOT / "renkodf_spark" / "__init__.py").is_file():
        print(f"benchmark: no renkodf_spark package under {ROOT}; run it from a full checkout", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
