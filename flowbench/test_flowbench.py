"""Tests of the benchmark's own helpers: the tick generator and its
oracle, and the percentile and self-time arithmetic.

    python3 -m pytest flowbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import spans  # noqa: E402
import tickgen  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = tickgen.make_ticks(7, 3000)
    assert a == tickgen.make_ticks(7, 3000)
    assert a != tickgen.make_ticks(8, 3000)
    assert tickgen.live_files(7, 5) == tickgen.live_files(7, 5)
    assert [tickgen.to_json(t) for t in a[:50]] == [
        tickgen.to_json(t) for t in tickgen.make_ticks(7, 50)]


def test_generator_traffic_mix():
    ticks = tickgen.make_ticks(3, 20_000)
    n = len(ticks)
    empty = sum(1 for t in ticks if not t.ladder) / n
    assert 0.005 < empty < 0.02
    late = [t for t in ticks
            if t.ltt < tickgen.EVENT_BASE_MS + t.seq * 1000 // tickgen.RATE]
    assert 0.01 < len(late) / n < 0.03
    # every out-of-order tick stays far inside the watermark
    assert all(tickgen.EVENT_BASE_MS + t.seq * 1000 // tickgen.RATE - t.ltt
               < tickgen.WATERMARK_MS / 2 for t in late)
    by_inst: dict[str, list[int]] = {}
    for t in ticks:
        by_inst.setdefault(t.instrument, []).append(t.ltt)
    assert all(len(v) == len(set(v)) for v in by_inst.values())
    counts = sorted((len(v) for v in by_inst.values()), reverse=True)
    assert len(counts) == tickgen.N_INSTRUMENTS and counts[0] > 5 * counts[-1]
    assert all(len(t.ladder) == tickgen.LEVELS for t in ticks if t.ladder)


def test_close_tick_closes_every_window():
    ticks = tickgen.make_ticks(5, 4000)
    closing = tickgen.close_tick(ticks)
    wm = tickgen.final_watermark(ticks + [closing])
    windows = {t.ltt - t.ltt % tickgen.WINDOW_MS for t in ticks}
    assert all(w + tickgen.WINDOW_MS <= wm for w in windows)
    assert set(tickgen.expected_candles(ticks + [closing], wm)) == {
        (t.ltt - t.ltt % tickgen.WINDOW_MS, t.instrument) for t in ticks}


def test_file_batches_skips_no_data_batches(tmp_path):
    import stream

    def write(rel, lines):
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("v1\n" + "\n".join(json.dumps(x) for x in lines))

    for k in range(3):
        write(f"sources/0/{k}", [{"path": f"file:///src/t{k:06d}.json",
                                  "timestamp": k, "batchId": k}])
    write("offsets/0", [{}, {"logOffset": 0}])
    write("offsets/1", [{}, {"logOffset": 0}])  # a no-data batch
    write("offsets/2", [{}, {"logOffset": 1}])
    # t000002 is listed by the source but not yet in a batch
    assert stream.file_batches(str(tmp_path)) == {
        "t000000.json": 0, "t000001.json": 2}


@pytest.fixture(scope="module")
def spark():
    from live_market_data_orderflow_analysis_big_data_project__spark import (
        get_spark,
    )

    s = get_spark("flowbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_oracle_matches_batch_candles(spark):
    import stream

    ticks = tickgen.make_ticks(11, 3000)
    raw = spark.createDataFrame([(tickgen.to_json(t),) for t in ticks],
                                "value string")
    got = {}
    for r in stream.candle_frame(raw).collect():
        start = int(r.window_start.timestamp() * 1000)
        got[(start, r.instrument)] = (
            r.open, r.high, r.low, r.close, r.buy_volume, r.sell_volume,
            r.total_volume, r.delta, r.tbq, r.tsq)
    want = tickgen.expected_candles(ticks, float("inf"))
    assert got == want
    assert any(v[4] and v[5] for v in want.values())  # both sides occur


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert spans.percentile(xs, 50) == 50
    assert spans.percentile(xs, 99) == 99
    assert spans.percentile(xs, 100) == 100
    assert spans.percentile([4.0], 99) == 4.0
    assert spans.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        spans.percentile([], 50)


def test_covered_merges_overlaps():
    assert spans.covered([]) == 0
    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_the_union_of_children():
    tr = spans.Tracer(True)
    root = tr.add("drain", 0.0, 10.0)
    tr.add("trigger", 1.0, 4.0, root)
    tr.add("trigger", 3.0, 5.0, root)  # overlaps its sibling
    tr.add("trigger", 9.0, 12.0, root)  # runs past its parent's end
    st = tr.self_times()
    assert st["drain"] == pytest.approx(10 - 4 - 1)
    assert st["trigger"] == pytest.approx(3 + 2 + 3)


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("x") as sid:
        assert sid is None
    assert tr.spans == []


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
