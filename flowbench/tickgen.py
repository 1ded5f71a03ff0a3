"""Seeded Upstox-shaped tick generator and its plain-Python candle oracle.

The traffic mix is fixed so that runs differ only by seed:

- 40 instruments, Zipf-weighted (exponent 1), at 2000 ticks/s in total,
  the reference's 50 ticks/s per instrument;
- a 5-level bid/ask ladder on every tick, except 1% empty ladders, which
  take the engine's NULL-side path;
- 2% out-of-order ticks, stamped 1-60 s in the past.  That is far inside
  the pipeline's 5-minute watermark, so no tick is ever dropped and the
  expected candles do not depend on how ticks fall into micro-batches.

Event time (``ltt``) is the tick's creation time on a session clock that
starts at ``EVENT_BASE_MS``: tick ``seq`` is created ``seq / RATE`` seconds
into the session.  Every instrument's ``ltt`` values are distinct, so
``min_by``/``max_by`` open and close have no ties to break.

Run as a program, this module is the live workload's load generator: it
writes the ticks into a watched directory on a fixed schedule, from its
own process, and records when each file was due and when it was written.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import sys
import time
from collections import namedtuple

N_INSTRUMENTS = 40
RATE = 2000  # ticks per second over all instruments
EMPTY_LADDER_SHARE = 0.01
OUT_OF_ORDER_SHARE = 0.02
MAX_DISORDER_MS = 60_000
LEVELS = 5
EVENT_BASE_MS = 1_704_187_800_000  # 2024-01-02 09:30:00 UTC
WATERMARK_MS = 5 * 60_000
WINDOW_MS = 60_000
CLOSE_INSTRUMENT = "NSE_EQ|CLOSE"
LIVE_FILE_MS = 2000  # the live generator writes one file per 2 s of ticks

Tick = namedtuple("Tick", "seq instrument ltt ltp ltq ladder tbq tsq")


def instruments() -> list[str]:
    return [f"NSE_EQ|INE{i:06d}" for i in range(N_INSTRUMENTS)]


def make_ticks(seed: int, n: int) -> list[Tick]:
    """``n`` ticks in creation order; a pure function of its arguments,
    and the first ``m`` ticks do not depend on ``n``."""
    rng = random.Random(seed)
    names = instruments()
    cum = list(itertools.accumulate(1.0 / (i + 1) for i in range(N_INSTRUMENTS)))
    # prices in paise, so every price is an exact two-decimal value
    price = [10_000 + 2_500 * i for i in range(N_INSTRUMENTS)]
    used: list[set[int]] = [set() for _ in range(N_INSTRUMENTS)]
    newest = [EVENT_BASE_MS - MAX_DISORDER_MS] * N_INSTRUMENTS
    out = []
    for seq in range(n):
        k = rng.choices(range(N_INSTRUMENTS), cum_weights=cum)[0]
        price[k] = max(100, price[k] + rng.randint(-5, 5))
        created = EVENT_BASE_MS + seq * 1000 // RATE
        if rng.random() < OUT_OF_ORDER_SHARE:
            ltt = created - rng.randint(1000, MAX_DISORDER_MS)
            while ltt in used[k]:
                ltt -= 1
        else:
            ltt = max(created, newest[k] + 1)
        used[k].add(ltt)
        newest[k] = max(newest[k], ltt)
        ladder = []
        if rng.random() >= EMPTY_LADDER_SHARE:
            mid = price[k] + rng.randint(-3, 3)
            for lvl in range(1, LEVELS + 1):
                ladder.append((
                    str(rng.randint(1, 500)), (mid - lvl) / 100,
                    str(rng.randint(1, 500)), (mid + lvl) / 100,
                ))
        out.append(Tick(seq, names[k], ltt, price[k] / 100,
                        rng.randint(1, 200), ladder,
                        float(rng.randint(1_000, 90_000)),
                        float(rng.randint(1_000, 90_000))))
    return out


def close_tick(ticks: list[Tick]) -> Tick:
    """One tick six event-minutes past the newest, so the watermark it
    raises closes every window the ``ticks`` touched."""
    ltt = max(t.ltt for t in ticks) + WATERMARK_MS + WINDOW_MS + 1000
    seq = ticks[-1].seq + 1
    return Tick(seq, CLOSE_INSTRUMENT, ltt, 100.0, 1,
                [("1", 99.99, "1", 100.01)], 1.0, 1.0)


def to_json(t: Tick) -> str:
    """One Upstox "full" feed message (schemas.TICK_SCHEMA) for ``t``."""
    return json.dumps({
        "type": "live_feed",
        "currentTs": str(t.ltt),
        "feeds": {t.instrument: {"fullFeed": {
            "requestMode": "full_d5",
            "marketFF": {
                "ltpc": {"ltp": t.ltp, "ltt": str(t.ltt), "ltq": str(t.ltq),
                         "cp": t.ltp},
                "marketLevel": {"bidAskQuote": [
                    {"bidQ": bq, "bidP": bp, "askQ": aq, "askP": ap}
                    for bq, bp, aq, ap in t.ladder]},
                "optionGreeks": {},
                "marketOHLC": {"ohlc": []},
                "atp": t.ltp,
                "vtt": "0",
                "tbq": t.tbq,
                "tsq": t.tsq,
            },
        }}},
    }, separators=(",", ":"))


def side(t: Tick) -> str | None:
    """The engine's aggressor rule, restated: NULL on an empty ladder,
    else buy iff the trade is at least as close to the ask as to the bid."""
    if not t.ladder:
        return None
    best_bid = max(lvl[1] for lvl in t.ladder)
    best_ask = min(lvl[3] for lvl in t.ladder)
    return "buy" if abs(t.ltp - best_ask) <= abs(t.ltp - best_bid) else "sell"


def expected_candles(ticks: list[Tick], watermark_ms: int) -> dict:
    """(window_start_ms, instrument) -> candle tuple, for every window
    whose end is at or before ``watermark_ms``.  The tuple is
    (open, high, low, close, buy, sell, total, delta, tbq, tsq)."""
    groups: dict = {}
    for t in ticks:
        start = t.ltt - t.ltt % WINDOW_MS
        if start + WINDOW_MS <= watermark_ms:
            groups.setdefault((start, t.instrument), []).append(t)
    out = {}
    for key, ts in groups.items():
        first = min(ts, key=lambda t: t.ltt)
        last = max(ts, key=lambda t: t.ltt)
        buy = sum(t.ltq for t in ts if side(t) == "buy")
        sell = sum(t.ltq for t in ts if side(t) == "sell")
        out[key] = (first.ltp, max(t.ltp for t in ts), min(t.ltp for t in ts),
                    last.ltp, buy, sell, sum(t.ltq for t in ts), buy - sell,
                    last.tbq, last.tsq)
    return out


def final_watermark(ticks: list[Tick]) -> int:
    return max(t.ltt for t in ticks) - WATERMARK_MS


def write_file(path: str, ticks: list[Tick]) -> None:
    """Write atomically: Spark's file source skips dot-files, so the
    rename is the moment the file appears to the stream."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(to_json(t) for t in ticks))
        f.write("\n")
    os.rename(tmp, path)


def live_files(seed: int, seconds: float) -> list[list[Tick]]:
    """The live stream cut into one file per ``LIVE_FILE_MS`` of creation
    time, followed by the closing tick in a file of its own."""
    per_file = RATE * LIVE_FILE_MS // 1000
    n = int(seconds * 1000 // LIVE_FILE_MS) * per_file
    ticks = make_ticks(seed, n)
    files = [ticks[i:i + per_file] for i in range(0, n, per_file)]
    return files + [[close_tick(ticks)]]


def file_due(start_at: float, i: int) -> float:
    """When live file ``i`` is due: when its newest tick is created."""
    return start_at + (i + 1) * LIVE_FILE_MS / 1000


def run_generator(out_dir: str, manifest: str, seed: int, seconds: float,
                  start_at: float) -> None:
    """Write the live files on schedule, then the manifest.  The closing
    tick goes out right after the last file."""
    files = live_files(seed, seconds)
    written = []
    for i, ticks in enumerate(files):
        delay = file_due(start_at, min(i, len(files) - 2)) - time.time()
        if delay > 0:
            time.sleep(delay)
        write_file(os.path.join(out_dir, f"t{i:06d}.json"), ticks)
        written.append(time.time())
    with open(manifest, "w") as f:
        json.dump({"start_at": start_at, "written": written,
                   "n_ticks": [len(t) for t in files]}, f)


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start-at", type=float, required=True)
    a = ap.parse_args(argv)
    run_generator(a.out, a.manifest, a.seed, a.seconds, a.start_at)


if __name__ == "__main__":
    main(sys.argv[1:])
