"""Windowing queries over `events` — the system_window buffer semantics
(buffer_system_window.go:137) in batch mode. The window-assignment
expressions are mode-independent, so these oracle-checked batch runs
also pin down the streaming behavior (tests/test_streaming.py runs the
same ops through readStream + availableNow and asserts equality).

Window-boundary parity: Spark's window() aligns to the epoch; DuckDB's
time_bucket aligns to 2000-01-01 — both are whole-unit aligned for
hour/day sizes, and the sliding case is built from 15-minute buckets
(epoch-divisible), so boundaries coincide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bento_spark.queries import query
from bento_spark.queries.relational import _t
from bento_spark.streaming import windows as W
from bento_spark.streaming.start import state_partitions, streaming_start


@query(
    "window_tumbling_hour",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def window_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window x event_type — the reference's three-stage
    window/group/fold idiom as one agg (SURVEY §2.5)."""
    ev = _t(spark, sf_dir, "events")
    out = W.windowed_agg(
        ev,
        "ts",
        W.tumbling("ts", "1 hour"),
        [F.col("event_type")],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        ],
    )
    return out.select(
        "window_start", "window_end", "event_type", "n", "total_value"
    ).orderBy("window_start", "event_type")


@query(
    "window_sliding_hour",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - unnest([0,1,2,3]) * INTERVAL '15 minutes' AS window_start,
             value
      FROM events
    )
    SELECT window_start,
           window_start + INTERVAL '1 hour' AS window_end,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM buckets
    GROUP BY 1, 2 ORDER BY window_start
    """,
)
def window_sliding_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 hour every 15 minutes (system_window `slide`,
    buffer_system_window.go config :16-75). Each event lands in 4
    windows; the oracle enumerates them with unnest."""
    ev = _t(spark, sf_dir, "events")
    out = W.windowed_agg(
        ev,
        "ts",
        W.sliding("ts", "1 hour", "15 minutes"),
        [],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        ],
    )
    return out.select("window_start", "window_end", "n", "total_value").orderBy(
        "window_start"
    )


@query(
    "window_session_user",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n
    FROM sessions GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
)
def window_session_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — capability SUPERSET: the
    reference has no session windows (SURVEY §2.5). Oracle is the
    classic gaps-and-islands construction."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy(W.session("ts", "30 minutes").alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n",
        )
    )
    return out.orderBy("user_id", "session_start")


@query(
    "dedupe_within_window",
    oracle="""
    SELECT user_id, event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_id AS first_event_id
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type,
                                            time_bucket(INTERVAL '1 hour', ts)
                               ORDER BY ts, event_id) = 1
    ORDER BY user_id, event_type, window_start
    """,
)
def dedupe_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded dedup — the batch analog of streaming
    dropDuplicatesWithinWatermark (SURVEY §2.5 stateful ops): one
    survivor per key per hour, deterministic first-by-time."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as Wnd

    win = F.window("ts", "1 hour")
    w = Wnd.partitionBy("user_id", "event_type", win).orderBy("ts", "event_id")
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            win["start"].alias("window_start"),
            F.col("event_id").alias("first_event_id"),
        )
        .orderBy("user_id", "event_type", "window_start")
    )


def _stage_time_slices(
    spark: SparkSession, ev: DataFrame, base: str,
    n_slices: int = 6, sentinel: tuple | None = None,
):
    """Stage a batch DataFrame as n time-ranged parquet files (plus an
    optional far-future sentinel row) under ``base``/input, ordered by
    both mtime and lexicographic name so FileStreamSource processes
    them monotonically in event time. Returns (input dir, staged row
    count) — the count sizes the run's state partitions."""
    import datetime
    import os
    import shutil
    import time as _time

    shutil.rmtree(base, ignore_errors=True)
    in_dir = f"{base}/input"
    os.makedirs(in_dir)
    # row count rides the same bounds job — it sizes the run's state
    # partitions (see state_partitions)
    lo, hi, n_rows = ev.agg(
        F.min("ts"), F.max("ts"), F.count(F.lit(1))
    ).first()
    span = (hi - lo).total_seconds() + 1
    # Slice boundaries computed in Python exactly as the per-slice filter
    # form did (same datetime literals, same >=/< semantics), but staged
    # with ONE partitioned write instead of n_slices filtered scans: the
    # old loop re-scanned the events table once per slice (6-8 jobs per
    # streaming gate row; staging alone was ~8s of stream_recovery's
    # wall-clock at sf0.01). Row-to-file assignment is identical; row
    # order WITHIN a slice file changes, which no consumer observes
    # (every windowed/keyed aggregate and the interval join are
    # order-insensitive, and the gate hashes explicitly ordered output).
    bounds = [
        lo + datetime.timedelta(seconds=span * i / n_slices)
        for i in range(1, n_slices)
    ]
    idx = F.lit(n_slices - 1)
    for i, b in reversed(list(enumerate(bounds))):
        idx = F.when(F.col("ts") < F.lit(b), F.lit(i)).otherwise(idx)
    staged = ev.withColumn("__slice", idx.cast("int"))
    if sentinel is not None:
        flush = spark.createDataFrame([sentinel], schema=ev.schema)
        staged = staged.unionByName(
            flush.withColumn("__slice", F.lit(99).cast("int"))
        )
    tmp = f"{base}/tmp_stage"
    (
        staged.repartition(n_slices + 1, "__slice")
        .write.mode("overwrite")
        .partitionBy("__slice")
        .parquet(tmp)
    )
    for i in list(range(n_slices)) + ([99] if sentinel is not None else []):
        name = f"{i:02d}.parquet" if i != 99 else "99_flush.parquet"
        sdir = f"{tmp}/__slice={i}"
        if os.path.isdir(sdir):
            parts = sorted(
                f for f in os.listdir(sdir) if f.endswith(".parquet")
            )
            os.rename(f"{sdir}/{parts[0]}", f"{in_dir}/{name}")
        else:  # empty slice: stage an empty file so batch order is kept
            etmp = f"{base}/tmp_empty"
            ev.limit(0).coalesce(1).write.mode("overwrite").parquet(etmp)
            src = next(f for f in os.listdir(etmp) if f.endswith(".parquet"))
            os.rename(f"{etmp}/{src}", f"{in_dir}/{name}")
            shutil.rmtree(etmp)
    shutil.rmtree(tmp)
    t0 = _time.time()
    for i, name in enumerate(sorted(os.listdir(in_dir))):
        os.utime(f"{in_dir}/{name}", (t0 + 10 * i, t0 + 10 * i))
    return in_dir, n_rows


@query(
    "stream_recovery_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def stream_recovery_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run inside the gate: file source ->
    watermark -> tumbling window agg -> parquet sink with checkpoint,
    KILLED mid-stream and RESTARTED from the checkpoint, the recovered
    sink hash-matched against the batch oracle.

    This is the engine's delivery contract made checkable (SURVEY §1.1:
    the reference's transaction/ack model maps to checkpoint +
    exactly-once file sink): state restore + the sink's _spark_metadata
    transaction log must together yield exactly the batch answer even
    though the first attempt died between microbatches.

    Mechanics: events are staged as six TIME-RANGED files (watermark
    advances monotonically file to file; mtime + lexicographic name fix
    the FileStreamSource order) plus a far-future sentinel row whose
    arrival pushes the watermark past every real window so append mode
    emits them all; the sentinel's own window stays unemitted. Run 1
    processes one file per trigger and is stopped after >=2 committed
    batches; run 2 resumes availableNow from the checkpoint."""
    import datetime
    import os
    import time as _time

    base = f"/tmp/bento_spark_gate/stream_recovery_{os.path.basename(sf_dir.rstrip('/'))}"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    # withWatermark requires TIMESTAMP (not NTZ) — normalize explicitly
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    hi = ev.agg(F.max("ts")).first()[0]
    in_dir, n_staged = _stage_time_slices(
        spark, ev, base,
        sentinel=(hi + datetime.timedelta(hours=3), "__flush", 0.0),
    )

    def build_stream():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        win = F.window("ts", "1 hour")
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(win.alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                "total_value",
            )
        )

    # ~100s of window x event_type keys; each invocation wipes `base`,
    # so the sticky checkpoint partition count never carries across runs.
    partitions = state_partitions(spark, n_staged // 6)

    def start(**trigger):
        with streaming_start(spark, ckpt, partitions):
            return (
                build_stream()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(**trigger)
                .start()
            )

    # run 1: live trigger, killed after the second committed batch
    q1 = start(processingTime="500 milliseconds")
    deadline = _time.time() + 120
    while _time.time() < deadline:
        p = q1.lastProgress
        if p is not None and p["batchId"] >= 1:
            break
        _time.sleep(0.1)
    q1.stop()
    q1.awaitTermination(30)

    # run 2: recover from the checkpoint, drain everything, terminate
    q2 = start(availableNow=True)
    q2.awaitTermination(300)

    out = spark.read.parquet(sink).filter(F.col("event_type") != "__flush")
    return out.orderBy("window_start", "event_type")


@query(
    "stream_join_interval",
    oracle="""
    SELECT a.user_id,
           a.event_id AS view_event,
           b.event_id AS purchase_event
    FROM events a JOIN events b ON a.user_id = b.user_id
     AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
     AND a.ts BETWEEN b.ts - INTERVAL 30 MINUTE AND b.ts
    ORDER BY a.user_id, view_event, purchase_event
    """,
)
def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join in the gate (SURVEY §2.6 — the
    reference's cache-set/cache-get two-stream cookbook pattern as a
    native watermarked join): even events ("views") and odd events
    ("purchases") arrive as TWO independent file streams; each purchase
    joins the same user's views from the preceding 30 minutes.

    The purchase stream's files are OFFSET ONE TRIGGER SLOT behind the
    view stream (a neutral never-matching row pads its first file), so
    when purchase slice i arrives, its matching view slice i was
    processed one micro-batch earlier — every match can only come out
    of the join's persisted state store, never a same-batch shortcut.
    The global watermark is min() of both sides, so the lagging
    purchase watermark provably retains exactly the view state the
    offset requires. Output is all-integer (no float hashing risk) and
    must equal the batch self-join oracle row for row."""
    import datetime
    import os
    import shutil

    base = (
        "/tmp/bento_spark_gate/stream_join_"
        + os.path.basename(sf_dir.rstrip("/"))
    )
    # memory sinks don't support checkpoint recovery — every invocation
    # is a fresh run (the staging helper only wipes its own subdirs)
    shutil.rmtree(base, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_id"
    )
    lo = ev.agg(F.min("ts")).first()[0]
    views = ev.filter(F.col("event_id") % 2 == 0)
    buys = ev.filter(F.col("event_id") % 2 == 1)
    a_dir, n_a = _stage_time_slices(spark, views, f"{base}/a", n_slices=4)
    # pad the purchase stream: a lone neutral row occupies its first
    # per-trigger file slot, shifting every real slice one batch later
    b_dir, n_b = _stage_time_slices(spark, buys, f"{base}/b", n_slices=4)
    pad = spark.createDataFrame(
        [(lo - datetime.timedelta(hours=1), -1, -1)], schema=ev.schema
    )
    pad_tmp = f"{base}/b_pad"
    pad.coalesce(1).write.mode("overwrite").parquet(pad_tmp)
    src = next(f for f in os.listdir(pad_tmp) if f.endswith(".parquet"))
    os.rename(f"{pad_tmp}/{src}", f"{b_dir}/00_pad.parquet")
    import shutil as _sh
    import time as _time

    _sh.rmtree(pad_tmp)
    t0 = _time.time() - 1000
    for i, name in enumerate(sorted(os.listdir(b_dir))):
        os.utime(f"{b_dir}/{name}", (t0 + 10 * i, t0 + 10 * i))

    sa = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(a_dir)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_event"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "1 hour")
    )
    sb = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(b_dir)
        .select(
            F.col("user_id").alias("user_b"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "1 hour")
    )
    joined = sa.join(
        sb,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_a") >= F.col("ts_b") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("ts_a") <= F.col("ts_b")),
        "inner",
    ).select("user_id", "view_event", "purchase_event")
    _STATEFUL_RUN[0] += 1
    qname = f"stream_join_{_STATEFUL_RUN[0]}"
    # the join keys ~120 surviving pairs
    ckpt = f"{base}/ckpt"
    with streaming_start(
        spark, ckpt, state_partitions(spark, (n_a + n_b) // 4)
    ):
        q = (
            joined.writeStream.format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(300)
    return spark.table(qname).orderBy(
        "user_id", "view_event", "purchase_event"
    )


@query(
    "stream_kafka_wire",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_kafka_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The from-scratch Kafka WIRE PROTOCOL driven end-to-end inside the
    gate: every events row is produced through the repo's distributed
    kafka transport (Produce v3, message-format-v2 batches) into an
    in-process broker whose independent parser CRC32C-verifies every
    batch before accepting it, then read back as a REAL Structured
    Streaming run through the bento_kafka DataSourceStreamReader
    (Metadata/ListOffsets/Fetch; one InputPartition per Kafka
    partition). Production happens in TWO waves — the second lands
    mid-stream — so the per-partition offset cursors must advance
    across micro-batches for the drain to complete. The drained rows
    aggregate to the batch oracle over the events table: a dropped,
    duplicated, or corrupted record anywhere in produce -> broker ->
    fetch -> decode breaks the hash."""
    import time as _time

    from bento_spark.sinks.connector import deliver
    from bento_spark.sources.kafka_source import register
    from bento_spark.testing.kafka_broker import InProcessKafkaBroker

    from bento_spark.operators.dedup import ensure_parallelism

    # deliberately NOT spread: the broker is one in-process GIL, so
    # producer fan-in beyond ~4 clients makes produce SLOWER (A/B at
    # sf1: scan-partitioned ~7s, width=4 5.5-7s, width=32 10-12s) —
    # the scan's natural row-group splits are the sweet spot
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.floor("value").cast("long").alias("value")
    )
    n_total = ev.count()
    broker = InProcessKafkaBroker(topic="gate")
    # page Fetch responses at 5000 records and produce at 4000-record
    # batches: the wire work is per-RECORD either way, but 1000-record
    # framing meant one synchronous socket round trip per 1000 records
    # — 2000 serialized produce acks + 1000 fetch pages per million
    # records (pagination/acking stay exercised: sf1 still drains ~200
    # pages and acks ~250 batches)
    broker.fetch_page = 5000
    _STATEFUL_RUN[0] += 1
    qname = f"kafka_wire_{_STATEFUL_RUN[0]}"
    conf = {"host": "127.0.0.1", "port": broker.port, "topic": "gate"}
    try:
        wave1 = ev.filter(F.col("event_id") % 2 == 0)
        wave2 = ev.filter(F.col("event_id") % 2 == 1)
        n1 = wave1.count()
        stats = deliver(wave1, "kafka", conf, batch_size=4000)
        assert stats["delivered"] == n1 and stats["dead"] == 0, stats

        register(spark)
        sdf = (
            spark.readStream.format("bento_kafka")
            .option("host", "127.0.0.1")
            .option("port", str(broker.port))
            .option("topic", "gate")
            .load()
        )
        with streaming_start(spark):
            q = (
                sdf.select("value")
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .trigger(processingTime="300 milliseconds")
                .start()
            )

        def drained() -> int:
            return spark.table(qname).count()

        try:
            deadline = _time.time() + 120
            while _time.time() < deadline and drained() < n1:
                _time.sleep(0.3)
            # second wave lands MID-STREAM: the next offset ranges must
            # pick it up from the advanced cursors
            stats2 = deliver(wave2, "kafka", conf, batch_size=4000)
            assert stats2["delivered"] == n_total - n1, stats2
            deadline = _time.time() + 120
            while _time.time() < deadline and drained() < n_total:
                _time.sleep(0.3)
        finally:
            q.stop()
            q.awaitTermination(30)

        # the memory sink's table is a driver-local relation: without a
        # redistribution the 1M-row JSON parse + aggregate runs nearly
        # serial (A/B at sf1: 13s -> ~5s with the spread)
        parsed = ensure_parallelism(spark.table(qname)).select(
            F.from_json(
                F.col("value"), "event_id long, user_id long, value long"
            ).alias("r")
        )
        return (
            parsed.groupBy(F.col("r.user_id").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("r.value").alias("total"),
            )
            .orderBy("user_id")
        )
    finally:
        broker.stop()


_STATEFUL_RUN = [0]  # memory-sink query names must be unique per process


@query(
    "stream_stateful_totals",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS key,
           count(*) AS n,
           CAST(sum(floor(value)) AS DOUBLE) AS total
    FROM events GROUP BY 1 ORDER BY key
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming in the gate: applyInPandasWithState
    (streaming/stateful.keyed_totals — the reference's cache-counter
    processor shape, SURVEY §2.5) over six time-sliced files processed
    one per micro-batch, update-mode emissions into a memory sink; the
    LAST emission per key must equal the batch groupBy — which can only
    happen if per-key state genuinely persists across micro-batches in
    the checkpoint.

    Exactness: per-row addends are floor(value) — integer-valued
    doubles, whose sum is IEEE-exact in ANY accumulation order — so the
    incremental pandas accumulation hash-matches the oracle's one-shot
    SQL sum with no decimal shield."""
    import os

    from bento_spark.streaming.stateful import keyed_totals

    base = (
        "/tmp/bento_spark_gate/stream_stateful_"
        + os.path.basename(sf_dir.rstrip("/"))
    )
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        F.floor("value").alias("value"),
    )
    in_dir, n_staged = _stage_time_slices(spark, ev, base)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    totals = keyed_totals(stream, "user_id", "value")
    _STATEFUL_RUN[0] += 1
    qname = f"stateful_totals_{_STATEFUL_RUN[0]}"
    # ~100s of user keys; _stage_time_slices wipes `base`, so the
    # checkpoint's sticky partition count never carries across runs.
    ckpt = f"{base}/ckpt"
    with streaming_start(spark, ckpt, state_partitions(spark, n_staged // 6)):
        q = (
            totals.writeStream.format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(300)
    from pyspark.sql import Window as Wnd

    emissions = spark.table(qname)
    w = Wnd.partitionBy("key").orderBy(F.desc("n"))
    return (
        emissions.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", "n", "total")
        .orderBy("key")
    )


@query(
    "stream_late_data_drop",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE event_id % 50 <> 0
    GROUP BY 1 ORDER BY window_start
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics certified end-to-end: every 50th
    event is WITHHELD from its time slice and re-injected in the final
    file — by then the watermark (30-minute delay over a month-scale
    stream) sits far past their windows, so Structured Streaming must
    DROP every straggler. The emitted windows therefore hash-match a
    batch aggregate that excludes exactly the withheld rows; if the
    engine admitted any late row, its window count would differ. The
    far-future sentinel (stream_recovery pattern) pushes the watermark
    past every real window so append mode emits them all."""
    import datetime
    import os
    import shutil

    base = (
        "/tmp/bento_spark_gate/late_drop_"
        + os.path.basename(sf_dir.rstrip("/"))
    )
    shutil.rmtree(base, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    on_time = ev.filter(F.col("event_id") % 50 != 0)
    late = ev.filter(F.col("event_id") % 50 == 0)
    hi = ev.agg(F.max("ts")).first()[0]
    in_dir, n_staged = _stage_time_slices(
        spark, on_time, base, n_slices=3,
        sentinel=(hi + datetime.timedelta(hours=3), -1),
    )

    def build_agg():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        win = F.window("ts", "1 hour")
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(win.alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )

    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    partitions = state_partitions(spark, n_staged // 3)

    def run_once():
        with streaming_start(spark, ckpt, partitions):
            q = (
                build_agg()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        done = q.awaitTermination(600)
        if not done:
            # NEVER leave the query running: a second start on the same
            # checkpoint while this one lives deadlocks the row
            q.stop()
            q.awaitTermination(60)
            raise RuntimeError("late-drop run did not drain in 600s")

    # run 1 drains the on-time slices + the sentinel, committing a
    # watermark of end-of-stream+3h-30min into the checkpoint
    run_once()
    # stragglers arrive in a SECOND run against the same checkpoint:
    # the persisted watermark guarantees their batch starts far past
    # every real window, whatever the file-batch granularity (at
    # larger SFs the source may group trailing files into one batch,
    # which would leave the sentinel's watermark un-committed before
    # the late rows — two runs make the ordering structural)
    tmp = f"{base}/tmp_late"
    late.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(f"{tmp}/{src}", f"{in_dir}/zz_late.parquet")
    shutil.rmtree(tmp)
    run_once()
    hi_floor = hi.replace(minute=0, second=0, microsecond=0)
    return (
        spark.read.parquet(sink)
        # the sentinel's own far-future window may or may not emit
        # depending on the final-batch watermark; it is not part of
        # the data under test either way
        .filter(F.col("window_start") <= hi_floor)
        .orderBy("window_start")
        .localCheckpoint(eager=True)
    )
