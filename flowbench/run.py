"""Order-flow engine benchmark: one command, two workloads.

    python3 flowbench/run.py --workload orderflow_stream --seed 1 \\
        --seconds 16 --trace 0

Run from the repository root.  Every input is generated from ``--seed``
under ``.flowbench_work/`` and removed at the end; outputs are checked
against plain-Python and DuckDB oracles.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``); with
``--trace 1`` they are the per-layer ones (``PER_LAYER``), and the spans
are written to ``.flowbench_out/``.  The line before it records the run's
provenance.  The exit code is nonzero when any check fails.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "live_market_data_orderflow_analysis_big_data_project__spark"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "throughput_per_s": "1/s",
}

_QUERY_KEYS = ("q111", "q175", "q121", "q124", "q146")
_QUERY_FIELDS = {"build_s": "s", "build_jobs": "count", "exec_s": "s",
                 "exec_jobs": "count", "stages": "count",
                 "shuffle_bytes": "bytes", "executor_cpu_s": "s",
                 "plan_ms": "ms"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "memory.peak_rss_mb": "MB",
    "memory.jvm_rss_mb": "MB",
    "memory.python_rss_mb": "MB",
    "failed_ratio": "ratio",
    "tracing.untraced_throughput_per_s": "1/s",
    "tracing.traced_throughput_per_s": "1/s",
    "tracing.overhead_ratio": "ratio",
    **{f"self.{n}_s": "s" for n in ("get_spark", "warmup", "replay", "live",
                                    "trigger", "pass", "build", "exec")},
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.input_rows": "count",
    "operators.ticks.parse_s": "s",
    "operators.ticks.classify_s": "s",
    "operators.candles.agg_s": "s",
    "operators.candles.state_rows_max": "count",
    "operators.candles.state_bytes_max": "bytes",
    "operators.candles.state_commit_ms_p50": "ms",
    "streaming.core.batches": "count",
    "streaming.core.trigger_ms_p50": "ms",
    "streaming.core.add_batch_ms_p50": "ms",
    "streaming.core.fixed_ms_p50": "ms",
    "streaming.core.archive_trigger_ms_p50": "ms",
    "streaming.core.replay_trigger_ms_p50": "ms",
    "streaming.core.archive_files": "count",
    "streaming.core.archive_bytes": "bytes",
    "stream.candle_latency_p50_ms": "ms",
    "stream.candle_latency_p99_ms": "ms",
    "stream.archive_latency_p50_ms": "ms",
    "stream.archive_latency_p99_ms": "ms",
    "stream.late_tick_share": "ratio",
    "stream.live_ticks": "count",
    "stream.local1_ticks_per_s": "1/s",
    "generator.late_ms_max": "ms",
    **{f"queries.{k}.{f}": u for k in _QUERY_KEYS
       for f, u in _QUERY_FIELDS.items()},
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_jobs": "count",
    "batch.iterative_s": "s",
    "batch.similarity_s": "s",
    "batch.pass_s_p50": "s",
}


class Context:
    """What a workload needs from the run: its seed and time budget,
    scratch directory, tracer, and the correctness tally."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        import spans

        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = spans.Tracer(trace)
        self.attempted = 0
        self.failures: list[str] = []

    def attempt(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failures.append(f"{name}: " + "; ".join(problems))
            print(f"flowbench: FAIL {name}: {'; '.join(problems)}",
                  file=sys.stderr)


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _memory(spark) -> dict[str, float]:
    """Peak resident memory of the driver JVM and the driver Python
    process.  It is a per-layer number, not an end-to-end one: G1's heap
    expansion makes it bimodal from run to run (on a shared 4-core VM,
    1.33-1.88 GB over ten runs of one workload, a quartile spread of
    0.19 of the median)."""
    jvm = _rss_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    py = _rss_mb("self")
    return {"memory.peak_rss_mb": jvm + py, "memory.jvm_rss_mb": jvm,
            "memory.python_rss_mb": py}


def spark_cores() -> int:
    """Task slots for ``local[N]``: half the CPUs this process may use.
    The driver JVM's scheduler, GC and JIT threads, the Python driver
    and the tick generator need CPUs of their own; with a slot on every
    CPU, run-to-run spread tracked how busy the host's other tenants
    were rather than the engine."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _session(master: str | None = None):
    from live_market_data_orderflow_analysis_big_data_project__spark import (
        get_spark,
    )

    spark = get_spark("flowbench", master=master,
                      shuffle_partitions=1 if master == "local[1]" else None)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _collect_garbage(spark) -> None:
    """Start the timed phases from a collected driver heap, so the
    set-up's garbage does not land in them."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def run_stream(ctx: Context) -> tuple[dict, dict]:
    import spans
    import stream

    wl = stream.StreamWorkload(ctx)
    t_gen = time.time()
    wl.prepare()
    gen_s = time.time() - t_gen
    tr = ctx.tracer
    with tr.span("setup"):
        t0 = time.time()
        with tr.span("get_spark"):
            spark = _session()
        t1 = time.time()
        if ctx.trace:
            wl.listener = spans.progress_listener(tr)
            spark.streams.addListener(wl.listener)
        with tr.span("warmup"):
            wl.warm_up(spark)
            _collect_garbage(spark)
    ready = time.time()
    e2e, layers = {"setup_s": ready - T_START - gen_s}, {
        "session.get_spark_s": t1 - t0, "session.warmup_s": ready - t1}
    # live first: its small batches carry the JIT warm-up on, so the
    # replay after it is not timed on the steep part of that curve
    live = wl.live(spark)
    e2e["latency_p50_ms"] = live["latency_p50_ms"]
    e2e["latency_p99_ms"] = live["latency_p99_ms"]
    if ctx.trace:
        # untraced drains before and after the traced one, so a warm-up
        # trend across drains cancels out of the overhead
        spark.streams.removeListener(wl.listener)
        before = wl.replay(spark, "replay_untraced0")
        spark.streams.addListener(wl.listener)
    e2e["throughput_per_s"] = wl.replay(spark, "replay")
    if ctx.trace:
        spark.streams.removeListener(wl.listener)
        untraced = (before + wl.replay(spark, "replay_untraced1")) / 2
        spark.streams.addListener(wl.listener)
    if not ctx.trace:
        spark.stop()
        return e2e, layers
    layers.update(_memory(spark))
    layers.update({
        "tracing.untraced_throughput_per_s": untraced,
        "tracing.traced_throughput_per_s": e2e["throughput_per_s"],
        "tracing.overhead_ratio": untraced / e2e["throughput_per_s"] - 1,
        "generator.late_ms_max": live["generator_late_ms_max"],
        "stream.live_ticks": live["live_ticks"],
        "stream.late_tick_share": live["late_tick_share"],
        **{f"stream.{k}": live[k] for k in (
            "candle_latency_p50_ms", "candle_latency_p99_ms",
            "archive_latency_p50_ms", "archive_latency_p99_ms")},
    })
    layers.update(_stream_layers(wl))
    layers.update(_prefix_cuts(spark, wl))
    spark.stop()
    with tr.span("local1"):
        spark1 = _session("local[1]")
        layers["stream.local1_ticks_per_s"] = wl.replay(
            spark1, "replay_local1", n_files=stream.LOCAL1_FILES)
        spark1.stop()
    return e2e, layers


def _stream_layers(wl) -> dict:
    """Layer numbers from the listener's progress events: the live
    candle query for sources and trigger costs, the replay candle query
    for state, the live archive query for the Parquet sink."""
    import stream

    live_c = stream.progress_layers(wl.progress("live", "candles"))
    live_a = stream.progress_layers(wl.progress("live", "archive"))
    rep_c = stream.progress_layers(wl.progress("replay", "candles"))
    out = {f"sources.{k}": live_c.get(k, 0.0) for k in (
        "latest_offset_ms_p50", "get_batch_ms_p50", "input_rows")}
    out.update({f"streaming.core.{k}": live_c.get(k, 0.0) for k in (
        "trigger_ms_p50", "add_batch_ms_p50", "fixed_ms_p50")})
    out["streaming.core.batches"] = live_c.get("batches", 0.0) + live_a.get(
        "batches", 0.0)
    out["streaming.core.archive_trigger_ms_p50"] = live_a.get(
        "trigger_ms_p50", 0.0)
    out["streaming.core.replay_trigger_ms_p50"] = rep_c.get(
        "trigger_ms_p50", 0.0)
    out.update({f"operators.candles.{k}": rep_c.get(k, 0.0) for k in (
        "state_rows_max", "state_bytes_max", "state_commit_ms_p50")})
    files = [os.path.join(d, f) for d, _, fs in os.walk(
        os.path.join(wl.work, "live_out", "archive"))
        for f in fs if f.endswith(".parquet")]
    out["streaming.core.archive_files"] = float(len(files))
    out["streaming.core.archive_bytes"] = float(
        sum(os.path.getsize(f) for f in files))
    return out


def _prefix_cuts(spark, wl) -> dict:
    """Batch prefix cuts over the replay backlog read twice (100k ticks,
    so parsing stands clear of the timing noise): read, +parse,
    +best_bid_ask/classify, +candle aggregation, the best of two runs
    each.  A layer's time is the difference between consecutive cuts."""
    from functools import reduce

    import stream
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    raw = reduce(DataFrame.unionAll, [
        spark.read.text(wl.replay_src(stream.REPLAY_FILES))] * 2)
    cuts = [raw, stream.parse_ticks(raw)]
    cuts.append(stream.classify_aggressor(stream.best_bid_ask(cuts[-1])))
    cuts.append(stream.ohlc_candles(cuts[-1], extra_last=("tbq", "tsq")))
    times = []
    for df in cuts:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            # summing a hash of every column forces the cut's columns to
            # be computed without writing them anywhere; a fresh frame per
            # run, because a second action on one frame reuses its
            # finished shuffle stages
            df.agg(F.sum(F.hash(*df.columns))).collect()
            best = min(best, time.time() - t0)
        times.append(best)
    return {"operators.ticks.parse_s": times[1] - times[0],
            "operators.ticks.classify_s": times[2] - times[1],
            "operators.candles.agg_s": times[3] - times[2]}


def run_batch(ctx: Context) -> tuple[dict, dict]:
    import batch
    import spans

    wl = batch.BatchWorkload(ctx)
    t_gen = time.time()
    wl.prepare()
    gen_s = time.time() - t_gen
    tr = ctx.tracer
    with tr.span("setup"):
        t0 = time.time()
        with tr.span("get_spark"):
            spark = _session()
        t1 = time.time()
        with tr.span("warmup"):
            wl.warm_up(spark)
            _collect_garbage(spark)
    ready = time.time()
    e2e = {"setup_s": ready - T_START - gen_s}
    layers = {"session.get_spark_s": t1 - t0, "session.warmup_s": ready - t1}
    walls, traced_walls, traced = [], [], []
    t_measure = time.time()
    n = 0
    min_passes = batch.MIN_PASSES * (2 if ctx.trace else 1)
    # start another pass only while it should end inside ``--seconds``
    while n < min_passes or (
            (time.time() - t_measure) * (n + 1) / n <= ctx.seconds):
        # the traced run alternates untraced and traced passes, so the
        # two sides see the same JIT warm-up trend
        is_traced = ctx.trace and n % 2 == 1
        wall, per = wl.run_pass(spark, n, is_traced)
        if is_traced:
            traced_walls.append(wall)
            traced.append(per)
        else:
            walls.append(wall)
        n += 1
        # each pass starts from a collected heap, so one pass does not
        # pay for the old-generation garbage of the one before
        _collect_garbage(spark)
    # the client's request is one pass over the mix; percentiles over the
    # entries instead would jump between entries of different cost
    e2e.update({
        "latency_p50_ms": statistics.median(walls) * 1000,
        "latency_p99_ms": spans.percentile(walls, 99) * 1000,
        "throughput_per_s": len(batch.MIX) * len(walls) / sum(walls),
    })
    wl.check()
    if ctx.trace:
        layers.update(batch.summarize(traced))
        layers.update(_memory(spark))
        per_q = len(batch.MIX)
        layers.update({
            "batch.pass_s_p50": statistics.median(walls),
            "tracing.untraced_throughput_per_s": per_q * len(walls) / sum(walls),
            "tracing.traced_throughput_per_s":
                per_q * len(traced_walls) / sum(traced_walls),
        })
        layers["tracing.overhead_ratio"] = (
            layers["tracing.untraced_throughput_per_s"]
            / layers["tracing.traced_throughput_per_s"] - 1)
    spark.stop()
    return e2e, layers


WORKLOADS = {"orderflow_stream": run_stream, "batch_mix": run_batch}


def _provenance(seed: int, load_start: tuple, versions: dict) -> dict:
    return {"provenance": {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": spark_cores(),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "git_commit": _git_commit(), "seed": seed, **versions}}


def _stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the driver JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="order-flow engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"flowbench: engine package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    work = os.path.join(ROOT, ".flowbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # The engine's modules must be importable by the Python workers Spark
    # forks, whatever the working directory; scratch stays in the checkout.
    paths = [ROOT, HERE, os.path.join(ROOT, "tools")]
    sys.path[:0] = paths
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                 if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    ctx = Context(args.seed, args.seconds, bool(args.trace), work)
    e2e, layers, versions = {}, {}, {}
    try:
        e2e, layers = WORKLOADS[args.workload](ctx)
        from pyspark import SparkContext, __version__

        versions = {"spark": __version__, "java": SparkContext._jvm.java.lang
                    .System.getProperty("java.version")}
    except Exception:  # a failed phase is reported, not fatal to the output
        traceback.print_exc()
        ctx.attempt(args.workload, ["run aborted"])
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    failed = len(ctx.failures)
    if args.trace:
        out_dir = os.path.join(ROOT, ".flowbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}.json"))
        self_s = ctx.tracer.self_times()
        layers.update({f"self.{k}_s": v for k, v in self_s.items()
                       if f"self.{k}_s" in PER_LAYER})
        layers["failed_ratio"] = failed / max(1, ctx.attempted)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items() if k in e2e}
    print(json.dumps(_provenance(args.seed, load_start, versions)))
    print(json.dumps({"correct": failed == 0,
                      "attempted": max(1, ctx.attempted),
                      "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
