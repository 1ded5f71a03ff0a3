"""The ``orderflow_stream`` workload: the paper's two streaming consumers,
first draining a backlog (closed loop), then fed live (open loop).

Both consumers read Upstox JSON tick files from one directory, as the
reference's processor and tick_to_hdfs jobs read one Kafka topic:

- candles: ``parse_ticks -> best_bid_ask -> classify_aggressor ->
  ohlc_candles(watermark="5 minutes") -> kafka_sink_capture``;
- archive: ``parse_ticks -> parquet_sink`` partitioned by date.

The replay phase drains ``REPLAY_FILES`` pre-written files of
``REPLAY_FILE_TICKS`` ticks each, one file per trigger: large batches,
so per-tick CPU dominates and the phase yields the sustained throughput
that the live rate sits under.
The live phase runs a separate generator process writing 2000 ticks/s
as one file per 2 s, the reference's micro-batch cadence: each file is
one small batch, so the fixed per-trigger cost dominates the engine's
share of tick latency.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

import spans
import tickgen
from live_market_data_orderflow_analysis_big_data_project__spark.operators.candles import (  # noqa: E501
    ohlc_candles,
)
from live_market_data_orderflow_analysis_big_data_project__spark.operators.ticks import (  # noqa: E501
    best_bid_ask,
    classify_aggressor,
    parse_ticks,
)
from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (  # noqa: E501
    kafka_sink_capture,
    parquet_sink,
)

REPLAY_FILES = 10
REPLAY_FILE_TICKS = 5000
LATE_MS = 5000
WARM_FILES = 3
LOCAL1_FILES = 3
DRAIN_TIMEOUT_S = 120


def _raw(spark, src: str, max_files: int | None):
    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.load(src)


def candle_frame(raw):
    return ohlc_candles(classify_aggressor(best_bid_ask(parse_ticks(raw))),
                        watermark="5 minutes", extra_last=("tbq", "tsq"))


def start_consumers(spark, src: str, out: str, available_now: bool,
                    max_files: int | None) -> dict:
    """Start both consumers on ``src``; outputs and checkpoints go under
    ``out``.  Returns {"candles": query, "archive": query}."""
    cq = kafka_sink_capture(
        candle_frame(_raw(spark, src, max_files)), os.path.join(out, "candles"),
        os.path.join(out, "ck_candles"), key_col="instrument",
        available_now=available_now)
    archive = parse_ticks(_raw(spark, src, max_files)).withColumn(
        "date", F.to_date("event_time"))
    aq = parquet_sink(archive, os.path.join(out, "archive"),
                      os.path.join(out, "ck_archive"), partition_by=("date",),
                      available_now=available_now)
    return {"candles": cq, "archive": aq}


def await_drained(queries: dict, timeout_s: float) -> None:
    """Wait for AvailableNow queries; ``awaitTermination`` returns False
    on timeout with the query still running, so check it and raise."""
    deadline = time.time() + timeout_s
    for name, q in queries.items():
        if not q.awaitTermination(max(1.0, deadline - time.time())):
            for other in queries.values():
                other.stop()
            raise TimeoutError(f"{name} drain did not finish in {timeout_s}s")
        if q.exception() is not None:
            raise RuntimeError(f"{name} drain failed: {q.exception()}")


def write_backlog(src: str, files: list[list[tickgen.Tick]]) -> None:
    """Files with strictly increasing modification times, so the file
    source replays them in event-time order."""
    os.makedirs(src, exist_ok=True)
    t0 = time.time() - len(files) - 10
    for i, ticks in enumerate(files):
        path = os.path.join(src, f"b{i:04d}.json")
        tickgen.write_file(path, ticks)
        os.utime(path, (t0 + i, t0 + i))


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.  The file source
    logs each file under its own offset, which falls behind the query's
    batch ids once a no-data batch (run only to advance the watermark)
    has run; the query's offset log maps the one to the other."""
    source = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    source[os.path.basename(e["path"])] = e["batchId"]
    # (batch id, the source offset it read up to), from lines "v1",
    # batch metadata, then the file source's {"logOffset": n}
    ends = []
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as f:
                lines = f.read().splitlines()
            ends.append((int(name), json.loads(lines[2])["logOffset"]))
    ends.sort()
    out = {}
    for name, k in source.items():
        # a file listed before its batch's offsets were logged is not
        # in a batch yet
        batch = next((b for b, end in ends if end >= k), None)
        if batch is not None:
            out[name] = batch
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit-log entry was written."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime_ns / 1e9
    return out


def committed_files(ckpt: str) -> int:
    """How many files the query has consumed in committed micro-batches."""
    commits = commit_times(ckpt)
    return sum(1 for b in file_batches(ckpt).values() if b in commits)


def read_candles(out: str) -> tuple[dict, int]:
    """Emitted candles keyed like ``tickgen.expected_candles``, and the
    number of emitted rows (a window emitted twice shows as a surplus)."""
    import duckdb

    rows = duckdb.sql(
        "SELECT value FROM read_parquet(?)",
        params=[os.path.join(out, "candles", "*", "*.parquet")],
    ).fetchall()
    got = {}
    for (value,) in rows:
        c = json.loads(value)
        start = datetime.fromisoformat(c["window_start"].replace("Z", "+00:00"))
        got[(int(start.timestamp() * 1000), c["instrument"])] = (
            c["open"], c["high"], c["low"], c["close"], c["buy_volume"],
            c["sell_volume"], c["total_volume"], c["delta"], c["tbq"], c["tsq"])
    return got, len(rows)


def archive_rows(out: str) -> list[tuple]:
    import duckdb

    return sorted(duckdb.sql(
        "SELECT instrument, epoch_ms(event_time), ltp, ltq, tbq, tsq,"
        " len(bidAskQuote), CAST(date AS VARCHAR)"
        " FROM read_parquet(?, hive_partitioning = true)",
        params=[os.path.join(out, "archive", "*", "*.parquet")],
    ).fetchall())


def expected_archive(ticks: list[tickgen.Tick]) -> list[tuple]:
    return sorted(
        (t.instrument, t.ltt, t.ltp, t.ltq, t.tbq, t.tsq, len(t.ladder),
         datetime.fromtimestamp(t.ltt / 1000, timezone.utc).date().isoformat())
        for t in ticks)


def check_outputs(out: str, ticks: list[tickgen.Tick]) -> list[str]:
    """Problems found in one phase's outputs; empty when both sinks match
    the oracle.  ``ticks`` includes the closing tick."""
    problems = []
    want = tickgen.expected_candles(ticks, tickgen.final_watermark(ticks))
    got, n_rows = read_candles(out)
    closed = {k: v for k, v in got.items()
              if k[0] + tickgen.WINDOW_MS <= tickgen.final_watermark(ticks)}
    if closed != want or n_rows != len(got):
        bad = sum(1 for k in want if closed.get(k) != want[k])
        problems.append(f"candles: {bad} of {len(want)} windows differ, "
                        f"{len(closed)} closed and {n_rows} rows emitted")
    if archive_rows(out) != expected_archive(ticks):
        problems.append("archive: rows differ from the generated ticks")
    return problems


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Per-trigger durations and state metrics of one query's progress
    events, summarised as medians and maxima."""
    data = [p for p in progress if p["numInputRows"] > 0] or progress
    if not data:
        return {}
    d = [p["durationMs"] for p in data]
    fixed = [sum(x.get(k, 0) for k in ("latestOffset", "getBatch",
                                        "queryPlanning", "walCommit",
                                        "commitOffsets")) for x in d]
    state = [s for p in progress for s in p.get("stateOperators", [])]
    med = statistics.median
    out = {
        "batches": float(len(progress)),
        "trigger_ms_p50": med([x.get("triggerExecution", 0) for x in d]),
        "add_batch_ms_p50": med([x.get("addBatch", 0) for x in d]),
        "fixed_ms_p50": med(fixed),
        "latest_offset_ms_p50": med([x.get("latestOffset", 0) for x in d]),
        "get_batch_ms_p50": med([x.get("getBatch", 0) for x in d]),
        "input_rows": float(sum(p["numInputRows"] for p in progress)),
    }
    if state:
        out["state_rows_max"] = float(max(s["numRowsTotal"] for s in state))
        out["state_bytes_max"] = float(max(s["memoryUsedBytes"] for s in state))
        out["state_commit_ms_p50"] = med(
            [s.get("commitTimeMs", 0) for s in state])
    return out


def _chunks(ticks: list[tickgen.Tick]) -> list[list[tickgen.Tick]]:
    """Replay files of ``REPLAY_FILE_TICKS``, the last one ending with the
    closing tick."""
    files = [ticks[i:i + REPLAY_FILE_TICKS]
             for i in range(0, len(ticks), REPLAY_FILE_TICKS)]
    files[-1] = files[-1] + [tickgen.close_tick(ticks)]
    return files


class StreamWorkload:
    """One run: warm-up, replay, live, with outputs checked after each."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = ctx.work
        self.listener = None
        self.backlog: list[tickgen.Tick] = []
        self.query_ids: dict[tuple[str, str], str] = {}

    # -- phases ---------------------------------------------------------
    def prepare(self) -> None:
        """Write the warm-up input and the replay backlog, and for a
        traced run the ``local[1]`` one (not timed)."""
        warm = tickgen.make_ticks(self.ctx.seed + 1_000_003,
                                  WARM_FILES * REPLAY_FILE_TICKS)
        write_backlog(os.path.join(self.work, "warm_src"), _chunks(warm))
        self.backlog = tickgen.make_ticks(self.ctx.seed,
                                          REPLAY_FILES * REPLAY_FILE_TICKS)
        for n_files in {REPLAY_FILES, LOCAL1_FILES} if self.ctx.trace else {
                REPLAY_FILES}:
            write_backlog(self.replay_src(n_files),
                          _chunks(self.replay_ticks(n_files)))

    def replay_ticks(self, n_files: int) -> list[tickgen.Tick]:
        """The first ``n_files`` files of the backlog."""
        return self.backlog[:n_files * REPLAY_FILE_TICKS]

    def replay_src(self, n_files: int) -> str:
        return os.path.join(self.work, f"replay_src_{n_files}")

    def warm_up(self, spark) -> None:
        """Drain both consumers once over an input of their own, so code
        generation, JIT compilation and first-trigger costs land in
        set-up."""
        await_drained(start_consumers(
            spark, os.path.join(self.work, "warm_src"),
            os.path.join(self.work, "warm_out"), True, 1), DRAIN_TIMEOUT_S)

    def replay(self, spark, name: str, n_files: int = REPLAY_FILES) -> float:
        """Drain the backlog once over fresh outputs and checkpoints, and
        return the sustained rate in ticks per second: ticks per file over
        the median interval between the commits of consecutive file
        batches, for the slower consumer.  A median over the drain's
        batches, unlike its total wall time, is not moved by a stall of
        one or two batches.  The drain's span is named ``name``, so the
        untraced and ``local[1]`` drains stay out of ``self.replay_s``."""
        out = os.path.join(self.work, name)
        with self.ctx.tracer.span(name):
            qs = start_consumers(spark, self.replay_src(n_files), out, True, 1)
            self._adopt(qs, name)
            await_drained(qs, DRAIN_TIMEOUT_S)
        ticks = self.replay_ticks(n_files)
        self.ctx.attempt(name, check_outputs(
            out, ticks + [tickgen.close_tick(ticks)]))
        slowest = 0.0
        for k in qs:
            ck = os.path.join(out, f"ck_{k}")
            commit = commit_times(ck)
            done = sorted(commit[b] for b in set(file_batches(ck).values()))
            slowest = max(slowest, statistics.median(
                [b - a for a, b in zip(done, done[1:])]))
        return REPLAY_FILE_TICKS / slowest

    def live(self, spark) -> dict[str, float]:
        """Open loop: the generator writes on its own schedule while both
        consumers run with the default (as-soon-as-possible) trigger."""
        seconds = self.ctx.seconds
        src = os.path.join(self.work, "live_src")
        out = os.path.join(self.work, "live_out")
        os.makedirs(src)
        files = tickgen.live_files(self.ctx.seed, seconds)
        ticks = [t for f in files for t in f]
        manifest = os.path.join(self.work, "live_manifest.json")
        tr = self.ctx.tracer
        with tr.span("live"):
            qs = start_consumers(spark, src, out, False, None)
            self._adopt(qs, "live")
            start_at = time.time() + 1.0
            gen = subprocess.Popen([
                sys.executable, tickgen.__file__, "--out", src,
                "--manifest", manifest, "--seed", str(self.ctx.seed),
                "--seconds", str(seconds), "--start-at", repr(start_at)])
            try:
                gen_rc = gen.wait(timeout=seconds + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if gen_rc != 0:
                raise RuntimeError(f"tick generator exited with {gen_rc}")
            self._await_live_drain(qs, out, len(files), ticks)
        with open(manifest) as f:
            man = json.load(f)
        lat = self._live_latencies(out, files, man)
        self.ctx.attempt("live", check_outputs(out, ticks))
        both = [max(c, a) for c, a in zip(lat["candles"], lat["archive"])]
        late_gen = [w - tickgen.file_due(man["start_at"], i)
                    for i, w in enumerate(man["written"][:-1])]
        return {
            "latency_p50_ms": spans.percentile(both, 50),
            "latency_p99_ms": spans.percentile(both, 99),
            "candle_latency_p50_ms": spans.percentile(lat["candles"], 50),
            "candle_latency_p99_ms": spans.percentile(lat["candles"], 99),
            "archive_latency_p50_ms": spans.percentile(lat["archive"], 50),
            "archive_latency_p99_ms": spans.percentile(lat["archive"], 99),
            "late_tick_share": sum(1 for x in both if x > LATE_MS) / len(both),
            "generator_late_ms_max": max(0.0, max(late_gen) * 1000),
            "live_ticks": float(len(both)),
        }

    # -- helpers ----------------------------------------------------------
    def _adopt(self, qs: dict, phase: str) -> None:
        """Hang the listener's trigger spans under the current span and
        remember which phase and consumer each query id belongs to."""
        if self.listener is not None:
            parent = self.ctx.tracer.current()
            for k, q in qs.items():
                self.listener.parents[str(q.id)] = parent
                self.query_ids[(phase, k)] = str(q.id)

    def progress(self, phase: str, consumer: str) -> list[dict]:
        """The listener's progress events of one phase's consumer."""
        qid = self.query_ids.get((phase, consumer))
        return self.listener.progress.get(qid, []) if qid else []

    def _await_live_drain(self, qs: dict, out: str, n_files: int,
                          ticks: list) -> None:
        """Poll, after the timed window, until both consumers committed
        every file and the candle consumer ran with the final watermark
        (so it emitted every closed window); then stop both."""
        want_wm = tickgen.final_watermark(ticks)
        deadline = time.time() + DRAIN_TIMEOUT_S
        try:
            while True:
                took = [committed_files(os.path.join(out, f"ck_{k}"))
                        for k in qs]
                prog = qs["candles"].lastProgress or {}
                wm = prog.get("eventTime", {}).get("watermark")
                wm_ms = spans._epoch(wm) * 1000 if wm else 0
                if min(took) >= n_files and wm_ms >= want_wm:
                    break
                for k, q in qs.items():
                    if q.exception() is not None:
                        raise RuntimeError(f"{k} failed: {q.exception()}")
                if time.time() > deadline:
                    raise TimeoutError(
                        f"live drain: committed {took} of {n_files} files, "
                        f"watermark {wm} in {DRAIN_TIMEOUT_S}s")
                time.sleep(0.1)
        finally:
            for q in qs.values():
                q.stop()

    def _live_latencies(self, out: str, files: list, man: dict) -> dict:
        """Per tick, ms from its creation time to the commit of the
        micro-batch that consumed it, for each consumer.  The closing
        tick is sent after the timed window and is left out."""
        lat = {}
        for k in ("candles", "archive"):
            ck = os.path.join(out, f"ck_{k}")
            batch, commit = file_batches(ck), commit_times(ck)
            vals = []
            for i, ticks in enumerate(files[:-1]):
                done = commit[batch[f"t{i:06d}.json"]] - man["start_at"]
                vals.extend((done - t.seq / tickgen.RATE) * 1000
                            for t in ticks)
            lat[k] = vals
        return lat
