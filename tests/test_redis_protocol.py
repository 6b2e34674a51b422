"""RedisKV wire-protocol tests against an in-process RESP2 server.

The server below implements the subset of the public RESP2 protocol
(https://redis.io/docs/latest/develop/reference/protocol-spec/) that
RedisKV speaks — GET/SET/MGET/MSET/AUTH/SELECT/PING plus error replies,
bulk-nil, and abrupt connection drops — entirely on stdlib socketserver,
so the client's framing (pipelining across the CHUNK=512 command
boundary, partial reads, binary-safe bulk strings, multibyte UTF-8) is
exercised with no redis binary in the container. A `dribble` mode sends
replies one byte at a time to force every partial-read path.
"""

from __future__ import annotations

import pytest

from bento_spark.operators.kvstore import RedisError, RedisKV, _client_from_url


from bento_spark.testing.resp_server import (  # noqa: E402
    InProcessRespServer as _Server,
)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_mset_mget_roundtrip_across_chunk_boundary(server):
    """1200 keys → 3 pipelined MGET commands (CHUNK=512) in one write."""
    kv = RedisKV(port=server.port)
    n = 2 * RedisKV.CHUNK + 176
    pairs = [(f"k{i}", f"v{i}") for i in range(n)]
    kv.mset(pairs)
    keys = [k for k, _ in pairs] + ["missing1", "missing2"]
    got = kv.mget(keys)
    assert got == [v for _, v in pairs] + [None, None]
    kv.close()


def test_binary_safe_and_multibyte_values(server):
    kv = RedisKV(port=server.port)
    vals = {"a": "line1\r\nline2", "b": "café ☃ \U0001f600", "c": ""}
    kv.mset(vals.items())
    assert kv.mget(["a", "b", "c"]) == [vals["a"], vals["b"], vals["c"]]
    kv.close()


def test_bulk_nil_miss(server):
    kv = RedisKV(port=server.port)
    assert kv.mget(["nope"]) == [None]
    kv.close()


def test_dribbled_replies_one_byte_at_a_time():
    srv = _Server(dribble=True)
    try:
        kv = RedisKV(port=srv.port)
        kv.mset([("x", "hello world"), ("y", "1234567890")])
        assert kv.mget(["x", "missing", "y"]) == ["hello world", None, "1234567890"]
        kv.close()
    finally:
        srv.stop()


def test_auth_select_success_and_failure():
    srv = _Server(password="s3cret")
    try:
        kv = RedisKV(port=srv.port, db=3, password="s3cret")
        kv.mset([("k", "v")])
        assert kv.mget(["k"]) == ["v"]
        assert srv.data == {3: {"k": "v"}}  # landed in the SELECTed db
        kv.close()
        with pytest.raises(RedisError, match="invalid password"):
            RedisKV(port=srv.port, password="wrong")
        unauthed = RedisKV(port=srv.port)  # no AUTH sent at connect
        with pytest.raises(RedisError, match="NOAUTH"):
            unauthed.mget(["k"])  # first command is rejected
        unauthed.close()
    finally:
        srv.stop()


def test_error_mid_pipeline_drains_and_stays_in_sync(server):
    """A -ERR in the middle of a pipeline must drain the remaining
    replies before raising; otherwise the next command reads a stale
    reply (the desync bug)."""
    kv = RedisKV(port=server.port)
    with pytest.raises(RedisError, match="unknown command"):
        kv._pipeline([("SET", "a", "1"), ("BADCMD",), ("SET", "b", "2")])
    # connection still in protocol sync: both SETs applied, PING works
    assert kv._command("PING") == "PONG"
    assert kv.mget(["a", "b"]) == ["1", "2"]
    kv.close()


def test_connection_drop_raises_connection_error(server):
    kv = RedisKV(port=server.port)
    with pytest.raises(ConnectionError):
        kv._command("DROP")
    kv2 = RedisKV(port=server.port)
    with pytest.raises(ConnectionError):
        kv2._command("HALFDROP")


def test_client_from_url_redis(server):
    kv = _client_from_url(f"redis://127.0.0.1:{server.port}/0")
    assert isinstance(kv, RedisKV)
    kv.mset([("u", "w")])
    assert kv.mget(["u"]) == ["w"]
    kv.close()


def test_kv_enrich_via_redis_url(spark, server):
    """End-to-end: mapInPandas partitions each open their own RESP
    connection and batch MGETs through it."""
    from bento_spark.operators.kvstore import kv_enrich

    RedisKV(port=server.port).mset([(f"id{i}", f"name{i}") for i in range(0, 50, 2)])
    url = f"redis://127.0.0.1:{server.port}"
    df = spark.range(50).selectExpr("concat('id', id) AS k")
    out = kv_enrich(df, lambda: _client_from_url(url), "k", "who")
    rows = {r["k"]: r["who"] for r in out.collect()}
    assert len(rows) == 50
    for i in range(50):
        assert rows[f"id{i}"] == (f"name{i}" if i % 2 == 0 else None)


SCRIPT_APPEND = "return redis.call('GET', KEYS[1]) .. ARGV[1]"
SCRIPT_INCR = "return 1 + tonumber(ARGV[1])"
SCRIPT_FAIL = "error('nope')"


def test_redis_script_enrich_bulk_reply(spark, server):
    """redis_script processor: SCRIPT LOAD once per partition, pipelined
    EVALSHA per batch, string replies in the result column."""
    from bento_spark.operators.kvstore import redis_script_enrich

    RedisKV(port=server.port).mset([(f"k{i}", f"v{i}") for i in range(20)])
    url = f"redis://127.0.0.1:{server.port}"
    df = spark.range(20).selectExpr("concat('k', id) AS key", "concat('-', id) AS suffix")
    out = redis_script_enrich(
        df, lambda: _client_from_url(url), SCRIPT_APPEND, ["key"], ["suffix"], "res"
    )
    rows = {r["key"]: r["res"] for r in out.collect()}
    assert rows == {f"k{i}": f"v{i}-{i}" for i in range(20)}


def test_redis_script_enrich_integer_reply_and_pipeline_processor(spark, server):
    from bento_spark.plans.pipeline import PROCESSORS

    url = f"redis://127.0.0.1:{server.port}"
    df = spark.range(5).selectExpr("cast(id AS string) AS n")
    out = PROCESSORS["redis_script"](
        df, {"url": url, "script": SCRIPT_INCR, "args": ["n"], "result_column": "r"}
    )
    got = {r["n"]: r["r"] for r in out.collect()}
    assert got == {str(i): str(i + 1) for i in range(5)}  # int reply JSON-encoded


def test_redis_script_error_lands_in_error_column(spark, server):
    from bento_spark.operators.kvstore import redis_script_enrich

    url = f"redis://127.0.0.1:{server.port}"
    df = spark.range(4).selectExpr("cast(id AS string) AS n")
    out = redis_script_enrich(
        df, lambda: _client_from_url(url), SCRIPT_FAIL, [], ["n"], "r"
    ).collect()
    assert all(r["r"] is None for r in out)
    assert all(r["_error"] and "user script failed" in r["_error"] for r in out)
