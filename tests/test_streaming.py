"""Streaming-mode equivalence: the SAME window/dedupe operators that the
oracle checks in batch mode produce identical results through
readStream + availableNow — pinning the Structured Streaming path
(SURVEY §2.5 system_window; watermark = allowed_lateness)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, fix_ts


def _events_stream(spark):
    path = os.path.join(SF_DIR, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    # the file stream source requires a directory; glob-filter one table
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )
    return fix_ts(sdf)


def _events_batch(spark):
    from bento_spark.queries.relational import _t

    return _t(spark, SF_DIR, "events")


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "streaming query timed out"


def test_streaming_tumbling_window_matches_batch(spark):
    from bento_spark.streaming import windows as W

    keys = [F.col("event_type")]
    aggs = [F.count(F.lit(1)).alias("n")]

    batch = W.windowed_agg(
        _events_batch(spark), "ts", W.tumbling("ts", "1 hour"), keys, aggs
    )
    expected = sorted(
        (r["window_start"], r["event_type"], r["n"]) for r in batch.collect()
    )

    stream = W.windowed_agg(
        _events_stream(spark),
        "ts",
        W.tumbling("ts", "1 hour"),
        keys,
        aggs,
        watermark="1 hour",
    )
    _run_to_memory(stream, "t_win_tumble", "complete")
    got = sorted(
        (r["window_start"], r["event_type"], r["n"])
        for r in spark.sql("SELECT * FROM t_win_tumble").collect()
    )
    assert got == expected


def test_streaming_dedupe_within_watermark(spark):
    stream = _events_stream(spark).withWatermark("ts", "1 hour")
    deduped = stream.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    _run_to_memory(deduped, "t_dedupe_wm", "append")
    got = spark.sql("SELECT count(*) AS n FROM t_dedupe_wm").collect()[0]["n"]
    exact = (
        _events_batch(spark).select("user_id", "event_type").distinct().count()
    )
    # within-watermark dedup can keep extra rows across watermark gaps,
    # never fewer than the exact distinct count
    assert got >= exact
    assert got <= _events_batch(spark).count()


def test_streaming_generate_rate_source(spark):
    """`generate` input (input_generate.go:87) -> rate source mapping."""
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    )
    mapped = rate.select(
        F.col("value").alias("seq"),
        (F.col("value") % 5).alias("bucket"),
    )
    q = (
        mapped.writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 30
    n = 0
    while time.time() < deadline:
        n = spark.sql("SELECT count(*) AS n FROM t_rate").collect()[0]["n"]
        if n > 0:
            break
        time.sleep(1)
    q.stop()
    assert n > 0


def test_stream_run_confs_set_and_restore(spark):
    """The shared streaming start policy pins the derived state partition
    count a caller passes for the start and restores the session
    afterwards, leaving Spark 4.1's checkpoint checksums at the
    session's value; without a count the session's stays."""
    from bento_spark.streaming.start import state_partitions, streaming_start

    ck = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(ck, "true")
    with streaming_start(spark, partitions=state_partitions(spark)):
        # derived, not a literal: floor 4 locally, par//8 on clusters,
        # SPARK_GRAFT_STREAM_PARTITIONS overrides
        assert (
            spark.conf.get("spark.sql.shuffle.partitions")
            == state_partitions(spark)
            == "4"  # cpus=4 test session: max(4, 4//8)
        )
        assert spark.conf.get(ck) == "true"
    os.environ["SPARK_GRAFT_STREAM_PARTITIONS"] = "16"
    try:
        with streaming_start(spark, partitions=state_partitions(spark)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    finally:
        del os.environ["SPARK_GRAFT_STREAM_PARTITIONS"]
    with streaming_start(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert spark.conf.get(ck) == "true"
    spark.conf.unset(ck)
