"""MemcachedKV wire-protocol tests against an in-process text-protocol
server (stdlib socketserver; the get/set/version subset of the public
protocol.txt that MemcachedKV speaks) — multi-key gets across the
CHUNK boundary, noreply set pipelining with a version sync, binary-safe
byte-count framing, misses, error replies, connection drops, and a
Spark kv_enrich end-to-end over memcached:// URLs.
"""

from __future__ import annotations

import pytest

from bento_spark.operators.kvstore import MemcachedKV, _client_from_url
from bento_spark.testing.memcached_server import (
    InProcessMemcachedServer as _Server,
)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_mset_mget_roundtrip_across_chunk_boundary(server):
    kv = MemcachedKV(port=server.port)
    n = 2 * MemcachedKV.CHUNK + 57
    pairs = [(f"k{i}", f"v{i}") for i in range(n)]
    kv.mset(pairs)
    got = kv.mget([k for k, _ in pairs] + ["missing"])
    assert got == [v for _, v in pairs] + [None]
    kv.close()


def test_binary_safe_and_multibyte_values(server):
    kv = MemcachedKV(port=server.port)
    vals = {"a": "line1\r\nline2", "b": "café ☃ \U0001f600", "c": ""}
    kv.mset(vals.items())
    assert kv.mget(["a", "b", "c"]) == [vals["a"], vals["b"], vals["c"]]
    kv.close()


def test_invalid_keys_rejected_client_side(server):
    kv = MemcachedKV(port=server.port)
    for bad in ["has space", "has\nnewline", "x" * 251, "ctl\x07"]:
        with pytest.raises(ValueError, match="invalid memcached key"):
            kv.mget([bad])
    kv.close()


def test_error_reply_raises(server):
    kv = MemcachedKV(port=server.port)
    kv._sock.sendall(b"bogus\r\n")
    with pytest.raises(RuntimeError, match="memcached error"):
        kv._read_line()
    kv.close()


def test_connection_drop_raises(server):
    kv = MemcachedKV(port=server.port)
    kv._sock.sendall(b"drop\r\n")
    with pytest.raises(ConnectionError):
        kv._read_line()


def test_version_sync_completes_noreply_pipeline(server):
    """mset must not return before the server consumed every set — the
    trailing version round trip is the barrier."""
    kv = MemcachedKV(port=server.port)
    kv.mset([(f"s{i}", str(i)) for i in range(10)])
    assert server.data["s9"] == "9"  # visible immediately after mset
    kv.close()


def test_kv_enrich_via_memcached_url(spark, server):
    from bento_spark.operators.kvstore import kv_enrich

    seed = MemcachedKV(port=server.port)
    seed.mset([(f"id{i}", f"name{i}") for i in range(0, 40, 2)])
    seed.close()
    url = f"memcached://127.0.0.1:{server.port}"
    df = spark.range(40).selectExpr("concat('id', id) AS k")
    out = kv_enrich(df, lambda: _client_from_url(url), "k", "who")
    rows = {r["k"]: r["who"] for r in out.collect()}
    assert len(rows) == 40
    for i in range(40):
        assert rows[f"id{i}"] == (f"name{i}" if i % 2 == 0 else None)
