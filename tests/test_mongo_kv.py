"""MongoKV tests: byte-pinned BSON vectors (bsonspec.org's canonical
example plus type coverage), an in-process OP_MSG wire-protocol server
(find/$in with cursor + getMore paging, upsert updates, writeErrors,
command failures, connection drops), and a Spark kv_enrich end-to-end
over mongodb:// URLs."""

from __future__ import annotations

import socketserver
import struct

import pytest

from bento_spark.operators.kvstore import _client_from_url
from bento_spark.operators.mongokv import MongoKV, bson_decode, bson_encode
from bento_spark.serving import TcpServer

# --- BSON codec ------------------------------------------------------------


def test_bson_canonical_vector():
    # bsonspec.org front-page example: {"hello": "world"}
    raw = bson_encode({"hello": "world"})
    assert raw.hex() == (
        "16000000" "02" "68656c6c6f00" "06000000" "776f726c6400" "00"
    )
    doc, end = bson_decode(raw)
    assert doc == {"hello": "world"} and end == len(raw)


def test_bson_type_roundtrip():
    doc = {
        "s": "café ☃",
        "i": 123456789012345,
        "neg": -7,
        "f": 3.25,
        "t": True,
        "x": None,
        "sub": {"a": 1, "b": ["x", 2, {"c": False}]},
        "empty": {},
        "arr": [],
    }
    out, end = bson_decode(bson_encode(doc))
    assert out == doc


def test_bson_rejects_unknown_type():
    raw = bytearray(bson_encode({"k": 1}))
    raw[4] = 0x7F  # corrupt the element type byte
    with pytest.raises(ValueError, match="0x7f"):
        bson_decode(bytes(raw))


# --- in-process OP_MSG server ---------------------------------------------

OP_MSG = 2013


class _Handler(socketserver.StreamRequestHandler):
    def _read_exact(self, n):
        data = self.rfile.read(n)
        return data if len(data) == n else None

    def _reply(self, doc):
        body = b"\x00\x00\x00\x00" + b"\x00" + bson_encode(doc)
        self.server._req += 1
        self.wfile.write(
            struct.pack("<iiii", 16 + len(body), self.server._req, 0, OP_MSG) + body
        )
        self.wfile.flush()

    def handle(self):
        srv = self.server
        while True:
            head = self._read_exact(16)
            if head is None:
                return
            total, _rid, _rto, opcode = struct.unpack("<iiii", head)
            body = self._read_exact(total - 16)
            assert opcode == OP_MSG and body[4] == 0
            cmd, _ = bson_decode(body, 5)
            name = next(iter(cmd))
            if srv.fail_next:
                srv.fail_next = False
                self._reply({"ok": 0.0, "codeName": "PlannedFailure"})
                continue
            if name == "find":
                keys = cmd["filter"]["_id"]["$in"]
                srv.find_sizes.append(len(keys))
                hits = [
                    {"_id": k, "v": srv.data[k]} for k in keys if k in srv.data
                ]
                if srv.page_size and len(hits) > srv.page_size:
                    first, srv._pending = (
                        hits[: srv.page_size],
                        hits[srv.page_size :],
                    )
                    cur = {"id": 77, "firstBatch": first, "ns": "t.kv"}
                else:
                    cur = {"id": 0, "firstBatch": hits, "ns": "t.kv"}
                self._reply({"cursor": cur, "ok": 1.0})
            elif name == "getMore":
                assert cmd["getMore"] == 77
                nxt, srv._pending = (
                    srv._pending[: srv.page_size],
                    srv._pending[srv.page_size :],
                )
                cid = 77 if srv._pending else 0
                self._reply(
                    {"cursor": {"id": cid, "nextBatch": nxt, "ns": "t.kv"},
                     "ok": 1.0}
                )
            elif name == "update":
                ups = cmd["updates"]
                srv.update_sizes.append(len(ups))
                errs = []
                for i, u in enumerate(ups):
                    k = u["q"]["_id"]
                    if k in srv.reject_keys:
                        errs.append({"index": i, "code": 11000, "errmsg": "dup"})
                        continue
                    srv.data[k] = u["u"]["$set"]["v"]
                rep = {"n": len(ups), "ok": 1.0}
                if errs:
                    rep["writeErrors"] = errs
                self._reply(rep)
            elif name == "drop_conn":  # test hook
                self.connection.close()
                return
            else:
                self._reply({"ok": 0.0, "codeName": "CommandNotFound"})


class _Server(TcpServer):
    def __init__(self):
        self._req = 1000
        self.data = {}
        self.find_sizes = []
        self.update_sizes = []
        self.page_size = 0  # 0 = everything in firstBatch
        self._pending = []
        self.reject_keys = set()
        self.fail_next = False
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_roundtrip_across_chunk_boundary(server):
    kv = MongoKV(port=server.port)
    n = MongoKV.CHUNK + 91
    kv.mset([(f"k{i}", f"v{i}") for i in range(n)])
    assert all(s <= MongoKV.CHUNK for s in server.update_sizes)
    got = kv.mget([f"k{i}" for i in range(n)] + ["missing"])
    assert got == [f"v{i}" for i in range(n)] + [None]
    assert all(s <= MongoKV.CHUNK for s in server.find_sizes)
    kv.close()


def test_cursor_paging_via_getmore(server):
    server.page_size = 7  # force id!=0 cursors and nextBatch paging
    kv = MongoKV(port=server.port)
    kv.mset([(f"k{i}", str(i)) for i in range(30)])
    assert kv.mget([f"k{i}" for i in range(30)]) == [str(i) for i in range(30)]
    kv.close()


def test_write_errors_raise(server):
    server.reject_keys = {"bad"}
    kv = MongoKV(port=server.port)
    with pytest.raises(RuntimeError, match="writeErrors"):
        kv.mset([("ok", "1"), ("bad", "2")])
    kv.close()


def test_command_failure_raises(server):
    server.fail_next = True
    kv = MongoKV(port=server.port)
    with pytest.raises(RuntimeError, match="PlannedFailure"):
        kv.mget(["x"])
    kv.close()


def test_connection_drop_raises(server):
    kv = MongoKV(port=server.port)
    with pytest.raises(ConnectionError):
        kv._command({"drop_conn": 1, "$db": "t"})


def test_kv_enrich_via_mongodb_url(spark, server):
    from bento_spark.operators.kvstore import kv_enrich

    MongoKV(port=server.port).mset(
        [(f"id{i}", f"name{i}") for i in range(0, 30, 3)]
    )
    url = f"mongodb://127.0.0.1:{server.port}/bento.kv"
    df = spark.range(30).selectExpr("concat('id', id) AS k")
    out = kv_enrich(df, lambda: _client_from_url(url), "k", "who")
    rows = {r["k"]: r["who"] for r in out.collect()}
    assert rows["id0"] == "name0" and rows["id1"] is None and len(rows) == 30
