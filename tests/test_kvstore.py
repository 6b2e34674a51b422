"""KV lookup/write contract tests (operators/kvstore.py): sqlite backend
roundtrips cross-process, enrichment misses are NULL, pipeline `kv`
processor wiring."""

from __future__ import annotations

import os

import pytest

from bento_spark.operators.kvstore import (
    MemoryKV,
    SqliteKV,
    kv_enrich,
    kv_write,
    load_cache_from_kv,
)


def test_sqlite_kv_roundtrip(tmp_path):
    kv = SqliteKV(str(tmp_path / "s.db"))
    kv.mset([("a", "1"), ("b", "2")])
    kv.mset([("b", "3")])  # upsert
    assert kv.mget(["a", "b", "zz"]) == ["1", "3", None]
    # >500 keys crosses the IN-clause chunking boundary
    kv.mset([(f"k{i}", str(i)) for i in range(1200)])
    got = kv.mget([f"k{i}" for i in range(1200)])
    assert got == [str(i) for i in range(1200)]
    kv.close()


def test_kv_enrich_hits_and_misses(spark, tmp_path):
    path = str(tmp_path / "e.db")
    kv = SqliteKV(path)
    kv.mset([("1", "one"), ("3", "three")])
    kv.close()
    df = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    out = {r.k: r.v for r in
           kv_enrich(df, lambda: SqliteKV(path), "k", "v").collect()}
    assert out == {1: "one", 2: None, 3: "three"}


def test_kv_write_visible_to_enrich(spark, tmp_path):
    path = str(tmp_path / "w.db")
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    ).repartition(4)
    kv_write(src, lambda: SqliteKV(path), "k", "v", batch_size=7)
    probe = spark.createDataFrame([(i,) for i in range(50)], "k long")
    out = kv_enrich(probe, lambda: SqliteKV(path), "k", "got").collect()
    assert all(r.got == f"v{r.k}" for r in out)


def test_kv_enrich_retries_dropped_connection(spark):
    """A ConnectionResetError mid-MGET is retried on a FRESH client
    (MGET is a pure read — same rationale as the kafka source's fetch
    retry). Regression pin for the sf1-gate flake: a reset from the
    in-process store failed the whole query at local maxFailures=1."""

    class _Flaky:
        dropped = False  # class-level: shared across factory() calls

        def mget(self, keys):
            if not _Flaky.dropped:
                _Flaky.dropped = True
                raise ConnectionResetError("peer reset")
            return [f"v{k}" for k in keys]

        def close(self):
            pass

    df = spark.createDataFrame([(1,), (2,)], "k long").coalesce(1)
    out = {r.k: r.v for r in kv_enrich(df, _Flaky, "k", "v").collect()}
    assert out == {1: "v1", 2: "v2"}


def test_kv_enrich_does_not_retry_non_connection_errors(spark):
    """Only connection failures are retried: a PermissionError from the
    client surfaces on the first MGET, without building a second
    client (and without the retry sleeps)."""

    class _Denied:
        built = 0  # class-level: shared across factory() calls

        def __init__(self):
            _Denied.built += 1

        def mget(self, keys):
            raise PermissionError(f"denied on client {_Denied.built}")

        def close(self):
            pass

    df = spark.createDataFrame([(1,), (2,)], "k long").coalesce(1)
    with pytest.raises(Exception) as ei:
        kv_enrich(df, _Denied, "k", "v").collect()
    assert "PermissionError: denied on client 1" in str(ei.value)
    assert "on client 2" not in str(ei.value)


def test_memory_kv_snapshot(spark):
    snap = {"10": "x"}
    df = spark.createDataFrame([(10,), (11,)], "k long")
    out = {r.k: r.v for r in
           kv_enrich(df, lambda: MemoryKV(snap), "k", "v").collect()}
    assert out == {10: "x", 11: None}


def test_pipeline_kv_processor(spark, tmp_path):
    from bento_spark.plans.pipeline import PROCESSORS

    path = str(tmp_path / "p.db")
    kv = SqliteKV(path)
    kv.mset([("7", "seven")])
    kv.close()
    df = spark.createDataFrame([(7,)], "uid long")
    out = PROCESSORS["kv"](
        df, {"url": f"sqlite://{path}", "key": "uid", "result_column": "name"}
    ).collect()
    assert out[0].name == "seven"
    assert "redis" in PROCESSORS  # alias registered


def test_pipeline_redis_command_args_mapping(spark):
    """`redis` command form: args_mapping resolves to the ARGUMENT LIST
    (one pipelined command per message) — the mapping result itself,
    not the (result, meta) interpreter tuple (regression: args arrived
    as [\"['k1']\", '{}'])."""
    from bento_spark.plans.pipeline import PROCESSORS
    from bento_spark.testing.resp_server import InProcessRespServer

    srv = InProcessRespServer()
    try:
        srv.data.setdefault(0, {}).update({"k1": "v1", "k2": "v2"})
        df = spark.createDataFrame(
            [('{"key": "k1"}',), ('{"key": "k2"}',), ('{"key": "zz"}',)],
            "content string",
        )
        out = PROCESSORS["redis"](
            df,
            {
                "url": f"redis://127.0.0.1:{srv.port}",
                "command": "get",
                "args_mapping": "root = [ this.key ]",
                "result_column": "val",
            },
        ).select("content", "val").collect()
        got = {r.content: r.val for r in out}
        assert got['{"key": "k1"}'] == "v1"
        assert got['{"key": "k2"}'] == "v2"
        assert got['{"key": "zz"}'] is None
    finally:
        srv.stop()


def test_load_cache_from_kv(tmp_path):
    from bento_spark.bloblang.stdlib_ext import CACHE_RESOURCES

    path = str(tmp_path / "c.db")
    kv = SqliteKV(path)
    kv.mset([("cc", "vv")])
    kv.close()
    name = "kvtest_cache"
    try:
        cache = load_cache_from_kv(name, path)
        assert cache["cc"] == "vv"
    finally:
        CACHE_RESOURCES.pop(name, None)
