"""The ``stream_window`` workload: a YAML stream pipeline from a spool
of JSON files through a keyed tumbling window to the ``drop`` output.

    input json (declared schema, bounded files per trigger)
      -> mapping (trivial) -> window_agg (tumbling, keyed,
         allowed_lateness) -> output drop

A run, all in one JVM after its set-up:

1. set-up: session start (``get_spark``) and ``build_pipeline``, then an
   untimed warm-up: one drain of the backlog.
2. a drain, a paced phase and a second drain:

   * drain: a preloaded backlog of fixed size is read to its end. Its
     rate is its rows over the span from the first micro-batch's start
     to the last one's end, both taken from the query's progress events.
   * paced: an open-loop generator process writes one file per 50 ms
     tick at a fixed rate for ``--seconds``. A result's latency is its
     emission time (the end of the micro-batch that wrote it) minus the
     due time of the last event in its window; the run reports
     percentiles over all of them.

   The run reports the median drain rate.

A traced run makes four rounds instead, untraced, traced, traced,
untraced, each a drain and a paced phase of half the length.

Outputs are checked outside the timed phases: a ``df.observe`` on the
pipeline's output counts the emitted windows and sums an
order-independent checksum of them per micro-batch, and a DuckDB
``GROUP BY`` over the same spool computes the windows the watermark has
closed.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import time

import common as C
from gen import TS0_MS

HERE = os.path.dirname(os.path.abspath(__file__))
#: backlog: 160 files of 500 rows, each 100 ms of event time
BACKLOG_TICKS = 160
BACKLOG_ROWS_PER_TICK = 500
BACKLOG_PERIOD_MS = 100
#: paced phase: one 100-row file every 50 ms, 2k rows/s offered
PACED_ROWS_PER_TICK = 100
PACED_PERIOD_MS = 50
#: paced ticks of round k start at PACED_FIRST_TICK + k * PACED_TICK_STRIDE,
#: so ids never repeat across spools
PACED_FIRST_TICK = 100_000
PACED_TICK_STRIDE = 1_000
WINDOW_MS = 250
LATENESS_MS = 250

JSON_COLUMNS = ("{id:'BIGINT', key:'VARCHAR', kind:'VARCHAR', value:'BIGINT', "
                "tags:'VARCHAR[]', ts:'VARCHAR', tick:'BIGINT', due:'BIGINT'}")
SCHEMA_DDL = ("id BIGINT, key STRING, kind STRING, value BIGINT, "
              "tags ARRAY<STRING>, ts TIMESTAMP, tick BIGINT, due BIGINT")

_seq = itertools.count()


def config(spool: str, ckpt: str) -> str:
    return f"""
input:
  json:
    path: {spool}
    stream: true
    schema: "{SCHEMA_DDL}"
    options:
      maxFilesPerTrigger: 40
pipeline:
  processors:
    - mapping: |
        root = this
        root.amount = this.value * 2
    - window_agg:
        timestamp: ts
        size: {WINDOW_MS} milliseconds
        keys: [key]
        allowed_lateness: {LATENESS_MS} milliseconds
        aggs:
          - "count(*) AS n"
          - "sum(amount) AS total"
          - "max(due) AS last_due"
          - "max(id) AS max_id"
output:
  drop:
    checkpoint: {ckpt}
"""


def _md5_32(expr):
    """The first 32 bits of md5(expr) as a bigint."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(expr), 1, 8), 16, 10).cast("bigint")


def observe(df):
    """Per micro-batch: emitted windows, their checksum and the due time
    of each window's last event."""
    from pyspark.sql import functions as F

    row = F.concat_ws(
        "|", F.unix_millis("window_start").cast("string"), F.col("key"),
        F.col("n").cast("string"), F.col("total").cast("bigint").cast("string"),
        F.col("max_id").cast("string"),
    )
    return df.observe(
        "bench",
        F.count(F.lit(1)).alias("rows"),
        F.sum(_md5_32(row)).alias("cs"),
        F.collect_list(F.col("last_due")).alias("last_due"),
    )


def got(batches: list[dict]) -> dict:
    return {"windows": sum(b["rows"] for b in batches),
            "checksum": sum(b["cs"] or 0 for b in batches)}


def expected(spool: str) -> dict:
    """The windows the final watermark (max event time seen minus the
    allowed lateness) has closed, computed by DuckDB over the spool."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        n, cs = con.execute(f"""
            WITH d AS (
              SELECT *, epoch_ms(strptime(ts, '%Y-%m-%dT%H:%M:%S.%gZ')) AS ts_ms
              FROM read_json('{spool}/*.jsonl', format='newline_delimited',
                             columns={JSON_COLUMNS})),
            w AS (
              SELECT ts_ms - ts_ms % {WINDOW_MS} AS ws, key, count(*) AS n,
                     sum(value * 2) AS total, max(id) AS max_id
              FROM d GROUP BY ALL)
            SELECT count(*),
                   sum(('0x' || substr(md5(concat_ws('|', ws, key, n, total,
                                                     max_id)), 1, 8))::BIGINT)
            FROM w
            WHERE ws + {WINDOW_MS} <= (SELECT max(ts_ms) FROM d) - {LATENESS_MS}
        """).fetchone()
    finally:
        con.close()
    return {"windows": n, "checksum": int(cs or 0)}


# -- generator ----------------------------------------------------------


def generate(spool, seed, mode, first, ticks, rows, period_ms):
    """Start the generator process; wait for it with ``finish``."""
    argv = [sys.executable, os.path.join(HERE, "gen.py"), "--spool", spool,
            "--seed", str(seed), "--mode", mode, "--first-tick", str(first),
            "--ticks", str(ticks), "--rows-per-tick", str(rows),
            "--period-ms", str(period_ms)]
    return subprocess.Popen(argv, stdout=subprocess.PIPE, text=True)


def finish(proc) -> dict:
    try:
        out, _ = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"generator exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


# -- phases -------------------------------------------------------------


def build(spark, work: str, spool: str):
    """``build_pipeline`` with a fresh checkpoint, plus the observer."""
    from bento_spark.plans.pipeline import build_pipeline

    ckpt = os.path.join(work, f"ckpt{next(_seq)}")
    pipe = build_pipeline(spark, config(spool, ckpt))
    pipe.df = observe(pipe.df)
    return pipe


def setup(work: str, spool: str, cpus: int | None = None):
    """Session start + ``build_pipeline``: (session, pipeline, seconds)."""
    t0 = time.perf_counter()
    spark = C.start_spark(cpus)
    pipe = build(spark, work, spool)
    return spark, pipe, time.perf_counter() - t0


def drain(pipe) -> tuple[list[dict], str]:
    """Run a pipeline over a complete spool to its end;
    (progress events, run id)."""
    query = pipe.run()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return C.progress(query), str(query.runId)


def paced(spark, work: str, seed: int, k: int, seconds: int) -> dict:
    """Round ``k``'s paced phase over a fresh spool."""
    spool = os.path.join(work, f"paced{k}")
    os.makedirs(spool)
    query = build(spark, work, spool).run()
    try:
        gen = generate(spool, seed, "paced", PACED_FIRST_TICK + k * PACED_TICK_STRIDE,
                       seconds * 1000 // PACED_PERIOD_MS, PACED_ROWS_PER_TICK,
                       PACED_PERIOD_MS)
        summary = finish(gen)
        query.processAllAvailable()
    finally:
        query.stop()
    return {"events": C.progress(query), "run": str(query.runId), "gen": summary,
            "spool": spool}


def one_round(spark, work: str, seed: int, backlog: str, k: int, seconds: int,
              tracer: C.Tracer | None = None) -> dict:
    """A drain and, unless ``seconds`` is 0, a paced phase; with
    ``tracer``, with the engine's build functions patched."""
    if tracer is not None:
        C.patch_engine(tracer)
    t0 = time.perf_counter()
    try:
        d_events, d_run = drain(build(spark, work, backlog))
        p = paced(spark, work, seed, k, seconds) if seconds else None
    finally:
        if tracer is not None:
            tracer.close()
    return {"traced": tracer is not None, "paced": p, "drain": d_events,
            "drain_run": d_run, "wall": time.perf_counter() - t0}


def run(work: str, seed: int, seconds: int, trace: bool) -> dict:
    backlog = os.path.join(work, "backlog")
    # inputs first: generation belongs to the benchmark, not to set-up
    finish(generate(backlog, seed, "backlog", 0, BACKLOG_TICKS,
                    BACKLOG_ROWS_PER_TICK, BACKLOG_PERIOD_MS))
    spark, pipe, setup_s = setup(work, backlog)
    t0 = time.perf_counter()
    drain(pipe)
    warmup = time.perf_counter() - t0
    fallbacks0 = C.interp_fallbacks()

    tracer = C.Tracer()
    if trace:
        rounds = [one_round(spark, work, seed, backlog, k, max(seconds // 2, 1),
                            tracer if traced else None)
                  for k, traced in enumerate(C.ABBA)]
    else:
        rounds = [one_round(spark, work, seed, backlog, 0, seconds),
                  one_round(spark, work, seed, backlog, 1, 0)]

    untraced = _score([r for r in rounds if not r["traced"]])
    want = expected(backlog)
    checks = [(got(C.observed(r["drain"])), want) for r in rounds]
    paced_phases = [r["paced"] for r in rounds if r["paced"]]
    checks += [(got(C.observed(p["events"])), expected(p["spool"])) for p in paced_phases]
    gens = [p["gen"] for p in paced_phases]
    res = {
        "data": backlog,
        "setup_s": setup_s,
        "untraced": untraced,
        "attempted": len(checks),
        "failed": sum(1 for g, e in checks if g != e),
        "info": {
            "stream_drain_rows_per_s": untraced["throughput_per_s"],
            "drain_rates": untraced["rates"],
            "drain_rows": BACKLOG_TICKS * BACKLOG_ROWS_PER_TICK,
            "stream_latency_p50_ms": untraced["latency_p50_ms"],
            "stream_latency_p90_ms": untraced["latency_p90_ms"],
            "latency_samples": untraced["samples"],
            "rounds": len(rounds),
            "round_s": [r["wall"] for r in rounds],
            "gen.late_ms_max": max(g["late_ms_max"] for g in gens),
            "gen.offered_rows_per_s": C.median([g["offered_rows_per_s"] for g in gens]),
            "warmup_s": warmup,
            "host": C.host_record(spark, seed),
            "checks": [{"got": g, "expected": e} for g, e in checks],
        },
    }
    if not trace:
        spark.stop()
        return res

    traced = [r for r in rounds if r["traced"]]
    res["traced"] = _score(traced)
    layers = _layers(traced)
    layers["bloblang.interp_fallbacks"] = C.interp_fallbacks() - fallbacks0
    # Catalyst planning of a stream runs once per trigger
    layers["plans.catalyst_ms"] = sum(
        p["durationMs"].get("queryPlanning", 0)
        for r in traced for p in r["paced"]["events"] + r["drain"])
    wall = sum(r["wall"] for r in traced)
    groups = [g for r in traced for g in (r["paced"]["run"], r["drain_run"])]
    layers.update(C.ledger(spark, groups, wall, C.CPUS))
    layers["trace.wall_s"] = wall
    layers["trace.wall_x_cores_s"] = wall * C.CPUS
    layers.update(C.canaries(spark))
    # one drain on one core: the single-threaded baseline (JIT warm)
    spark.stop()
    spark, pipe, _ = setup(work, backlog, cpus=1)
    one = C.drain_rate(drain(pipe)[0])
    layers["scaling.speedup_1core"] = untraced["throughput_per_s"] / one
    spark.stop()
    res["layers"] = layers
    return res


def _score(rounds: list[dict]) -> dict:
    rates = [C.drain_rate(r["drain"]) for r in rounds]
    samples = [b["_end_ms"] - d for r in rounds if r["paced"]
               for b in C.observed(r["paced"]["events"]) for d in b["last_due"]]
    return {
        "throughput_per_s": C.median(rates),
        "latency_p50_ms": C.pct(samples, 50),
        "latency_p90_ms": C.pct(samples, 90),
        "rates": rates,
        "samples": len(samples),
    }


def _layers(rounds: list[dict]) -> dict:
    """Per-trigger layer figures from the traced rounds' progress events:
    medians over the paced phases' triggers, state size at the end of
    the last drain, counts over every phase."""
    data, lags = [], []
    for r in rounds:
        events = C.data_events(r["paced"]["events"])
        data += events
        written = sorted((w, int(t)) for t, w in r["paced"]["gen"]["written_ms"].items())
        for p in events:
            # newest file written by the trigger's start vs newest file
            # read, in due time (ticks are PACED_PERIOD_MS apart)
            newest = max((t for w, t in written if w <= C.event_start_ms(p)), default=None)
            read = _max_tick(p)
            if newest is not None and read is not None:
                lags.append(max(newest - read, 0) * PACED_PERIOD_MS)
    dur = [p["durationMs"] for p in data]
    every = [p for r in rounds for p in r["paced"]["events"] + r["drain"]]
    states = [op for p in every for op in p.get("stateOperators", [])]
    last = [op for p in rounds[-1]["drain"][-1:] for op in p.get("stateOperators", [])]
    return {
        "plans.query_planning_ms_p50": C.pct([d.get("queryPlanning", 0) for d in dur], 50),
        "sources.latest_offset_ms_p50": C.pct([d.get("latestOffset", 0) for d in dur], 50),
        "sources.get_batch_ms_p50": C.pct([d.get("getBatch", 0) for d in dur], 50),
        "sources.read_lag_ms_p90": C.pct(lags, 90),
        "sources.rows_per_trigger_p50": C.pct([p["numInputRows"] for p in data], 50),
        "streaming.triggers": len(C.data_events(every)),
        "streaming.trigger_overhead_ms_p50": C.pct(
            [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur], 50),
        "streaming.wal_commit_ms_p50": C.pct(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur], 50),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last),
        "streaming.state_memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in last),
        "streaming.state_commit_ms_p50": C.pct([op.get("commitTimeMs", 0) for op in states], 50),
        "streaming.late_rows_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in states),
        "sinks.add_batch_ms_p50": C.pct([d.get("addBatch", 0) for d in dur], 50),
    }


def _max_tick(p: dict) -> int | None:
    """Newest paced tick a micro-batch read, from the maximum event time
    Spark reports for its input."""
    mx = (p.get("eventTime") or {}).get("max")
    if not mx:
        return None
    ms = C.event_start_ms({"timestamp": mx})
    return int(ms - TS0_MS) // PACED_PERIOD_MS
