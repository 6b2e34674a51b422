"""The one start policy for streaming queries (streaming/start.py): what
a started query carries, what the caller's session keeps, and the
per-query checkpoint of the discarding outputs."""

from __future__ import annotations

import json
import sys
import threading

import pytest

from bento_spark.streaming.start import (
    CHECKPOINT_MANAGER,
    FS_MANAGER,
    PARTITIONS,
    state_partitions,
    streaming_start,
)

KEYS = (PARTITIONS, CHECKPOINT_MANAGER)


def _spool(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    (path / "part0.json").write_text(
        "".join(json.dumps(r) + "\n" for r in rows)
    )
    return str(path)


def _stream(spark, spool):
    return spark.readStream.schema("k STRING, v BIGINT").json(spool)


def _confs(spark):
    return {k: spark.conf.get(k, None) for k in KEYS}


def _field(obj, name: str):
    """A JVM object's field whose (possibly mangled) name contains
    ``name``, read by reflection."""
    cls = obj.getClass()
    while cls is not None:
        for f in cls.getDeclaredFields():
            if name in f.getName():
                f.setAccessible(True)
                return f.get(obj)
        cls = cls.getSuperclass()
    raise AttributeError(name)


def _run_capturing(spark, spool, ckpt, partitions=None):
    """Start a foreachBatch query under the policy, drain it, and return
    the confs its micro-batch session carried, plus the class of the
    checkpoint manager its file source's metadata log writes through."""
    seen = {}

    def grab(bdf, _bid):
        seen.update(_confs(bdf.sparkSession))

    with streaming_start(spark, ckpt, partitions):
        q = (
            _stream(spark, spool)
            .writeStream.foreachBatch(grab)
            .option("checkpointLocation", ckpt)
            .start()
        )
    try:
        # the scope outlasts the query thread's source initialization
        latch = _field(q._jsq.streamingQuery(), "initializationLatch")
        seen["initialized_at_exit"] = latch.getCount() == 0
        q.processAllAvailable()
        source = q._jsq.streamingQuery().sources().apply(0)
        log = _field(source, "metadataLog")
        seen["source_log"] = _field(log, "fileManager").getClass().getName()
    finally:
        q.stop()
    return seen


def test_yaml_window_agg_stream_keeps_session_partitions(spark, tmp_path):
    from bento_spark.plans.pipeline import build_pipeline

    spool = _spool(tmp_path / "in", [
        {"k": f"k{i % 3}", "v": i, "ts": f"2026-01-01T00:00:0{i}Z"}
        for i in range(6)
    ])
    pipe = build_pipeline(spark, f"""
input:
  json:
    path: {spool}
    stream: true
    schema: "k STRING, v BIGINT, ts TIMESTAMP"
pipeline:
  processors:
    - window_agg:
        timestamp: ts
        size: 2 seconds
        keys: [k]
        allowed_lateness: 1 second
        aggs: ["count(*) AS n"]
output:
  drop:
    checkpoint: {tmp_path / "ckpt"}
""")
    before = _confs(spark)
    q = pipe.run()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    assert ops
    # the session's count, max(cpus, 8) = 8 here, not the derived 4 the
    # gate's rows pass: one state task per core made the stream's
    # drain rate swing from run to run
    assert spark.conf.get(PARTITIONS) == "8"
    assert state_partitions(spark) == "4"
    assert {op["numShufflePartitions"] for op in ops} == {8}
    assert _confs(spark) == before


def test_started_query_session_carries_fs_manager(spark, tmp_path):
    spool = _spool(tmp_path / "in", [{"k": "a", "v": 1}])
    seen = _run_capturing(spark, spool, str(tmp_path / "ckpt"))
    assert seen[CHECKPOINT_MANAGER] == FS_MANAGER
    assert seen[PARTITIONS] == spark.conf.get(PARTITIONS)
    seen = _run_capturing(
        spark, spool, str(tmp_path / "ckpt2"), state_partitions(spark)
    )
    assert seen[PARTITIONS] == state_partitions(spark) != spark.conf.get(
        PARTITIONS
    )
    # the file source builds its log through the CALLER's session, in
    # the query thread after .start() returns: the scope must outlast it
    assert seen["initialized_at_exit"]
    assert seen["source_log"] == FS_MANAGER


def test_caller_session_unchanged_after_start(spark, tmp_path):
    spool = _spool(tmp_path / "in", [{"k": "a", "v": 1}])
    before = _confs(spark)
    assert before[CHECKPOINT_MANAGER] is None
    _run_capturing(spark, spool, f"file://{tmp_path / 'ckpt'}")
    assert _confs(spark) == before


def test_remote_checkpoint_keeps_default_manager(spark):
    for remote in ("hdfs://namenode:8020/ckpt", "s3a://bucket/ckpt"):
        with streaming_start(spark, remote):
            assert spark.conf.get(CHECKPOINT_MANAGER, None) is None
        # a composite sink's child with a remote checkpoint gets the
        # caller's manager back, not its parent scope's
        with streaming_start(spark):
            assert spark.conf.get(CHECKPOINT_MANAGER) == FS_MANAGER
            with streaming_start(spark, remote):
                assert spark.conf.get(CHECKPOINT_MANAGER, None) is None
            assert spark.conf.get(CHECKPOINT_MANAGER) == FS_MANAGER
    with streaming_start(spark, "file:///tmp/ckpt"):
        assert spark.conf.get(CHECKPOINT_MANAGER) == FS_MANAGER
    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None


def test_concurrent_starts_leave_session_restored(spark, tmp_path):
    """More starting threads than cores, switching often: every query
    keeps its own start's partition count and the session ends as it
    began."""
    n = 6
    before = _confs(spark)
    barrier = threading.Barrier(n)
    seen: dict[int, dict] = {}
    errors: list[BaseException] = []

    def worker(i):
        try:
            spool = _spool(tmp_path / f"in{i}", [{"k": str(i), "v": i}])
            barrier.wait(timeout=30)
            seen[i] = _run_capturing(
                spark, spool, str(tmp_path / f"ckpt{i}"), partitions=str(2 + i)
            )
        except Exception as ex:  # noqa: BLE001 - asserted below
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(180)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert _confs(spark) == before
    assert {i: s[PARTITIONS] for i, s in seen.items()} == {
        i: str(2 + i) for i in range(n)
    }


@pytest.mark.parametrize("output", ["drop", "sync_response"])
def test_discarding_output_gets_fresh_checkpoint_per_query(
    spark, tmp_path, output
):
    """Two queries over the same input, neither with a configured
    checkpoint: the second reads everything again instead of resuming
    from the first one's offsets."""
    from bento_spark.sinks import run_sink

    spool = _spool(tmp_path / "in", [{"k": "a", "v": i} for i in range(5)])
    for _ in range(2):
        q = run_sink(_stream(spark, spool), True, output, {})
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sum(p["numInputRows"] for p in q.recentProgress) == 5
