"""Event generator: one process, one thread, seeded JSON documents.

Writes one JSON-lines file per tick into a spool directory. Each file is
written under a dot-name (which Spark's file sources skip) and renamed
into place, so a reader never sees a half-written file.

Two modes:

* ``backlog`` writes every tick at once, as fast as it can (a preloaded
  backlog for a drain phase);
* ``paced`` writes tick ``i`` when it is due, at ``t0 + i * period``, on
  a schedule that does not slow down when the reader does (open loop).

Every document carries its tick, its event time ``ts`` (logical, from
the tick number) and ``due``, the wall-clock time in epoch ms at which
its tick was due. The document contents depend only on the seed and the
tick number, never on the mode or the clock (apart from ``due``).

On exit it prints one JSON line: ticks, rows, when each tick's file was
written and how late the writer ran (``late_ms_max``).

    python3 gen.py --spool DIR --seed 7 --ticks 100 --rows-per-tick 500 \\
        --period-ms 100 --mode paced
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

KINDS = ("view", "click", "purchase", "signup", "error")
TAGS = ("red", "green", "blue", "fast", "slow", "new", "old", "hot")
#: event time of tick 0: 2024-01-01T00:00:00Z in epoch ms
TS0_MS = 1_704_067_200_000
KEYS = 32
#: a paced run's first tick is due this long after the generator starts
START_DELAY_MS = 300


def tick_docs(seed: int, tick: int, rows: int, period_ms: int,
              due_ms: int) -> list[str]:
    """The JSON lines of one tick. Same (seed, tick, rows) gives the same
    documents, apart from the ``due`` stamp."""
    rng = random.Random(seed * 1_000_003 + tick)
    out = []
    base_id = tick * rows
    for j in range(rows):
        ts_ms = TS0_MS + tick * period_ms + (j * period_ms) // rows
        ntags = rng.randrange(5)
        doc = {
            "id": base_id + j,
            "key": "k%03d" % rng.randrange(KEYS),
            "kind": KINDS[rng.randrange(len(KINDS))],
            "value": rng.randrange(1000),
            "tags": [TAGS[rng.randrange(len(TAGS))] for _ in range(ntags)],
            "ts": _iso(ts_ms),
            "tick": tick,
            "due": due_ms,
        }
        out.append(json.dumps(doc, separators=(",", ":")))
    return out


def _iso(ms: int) -> str:
    s, frac = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + ".%03dZ" % frac


def write_tick(spool: str, tick: int, lines: list[str]) -> None:
    name = "t%08d.jsonl" % tick
    tmp = os.path.join(spool, "." + name)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(spool, name))


def run(args) -> dict:
    os.makedirs(args.spool, exist_ok=True)
    first, ticks, rows = args.first_tick, args.ticks, args.rows_per_tick
    period = args.period_ms
    written: dict[int, int] = {}
    late_max = 0.0
    if args.mode == "backlog":
        now = int(time.time() * 1000)
        for t in range(first, first + ticks):
            write_tick(args.spool, t, tick_docs(args.seed, t, rows, period, now))
            written[t] = int(time.time() * 1000)
    else:
        t0 = int(time.time() * 1000) + START_DELAY_MS
        for i, t in enumerate(range(first, first + ticks)):
            d = t0 + i * period
            lines = tick_docs(args.seed, t, rows, period, d)
            wait = d / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            write_tick(args.spool, t, lines)
            w = time.time() * 1000
            written[t] = int(w)
            late_max = max(late_max, w - d)
    span_s = max(ticks * period / 1000.0, 1e-9)
    return {
        "mode": args.mode,
        "ticks": ticks,
        "rows": ticks * rows,
        "written_ms": written,
        "late_ms_max": late_max,
        "offered_rows_per_s": rows * ticks / span_s,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--spool", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--mode", choices=("backlog", "paced"), required=True)
    p.add_argument("--first-tick", type=int, default=0)
    p.add_argument("--ticks", type=int, required=True)
    p.add_argument("--rows-per-tick", type=int, required=True)
    p.add_argument("--period-ms", type=int, default=100)
    args = p.parse_args(argv)
    print(json.dumps(run(args)))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
