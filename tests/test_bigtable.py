"""gcp_bigtable transport against an in-process gRPC/HTTP-2 server
implementing MutateRows: streamed MutateRowsResponse messages split
across multiple grpc frames, per-entry status codes, retryable-vs-
dead routing, and repeated-nested-message protobuf encoding."""

from __future__ import annotations

import json
import socketserver
import struct

import pytest

from bento_spark.operators.bigtable import (
    MUTATE_ROWS_REQUEST,
    MUTATE_ROWS_RESPONSE,
    BigtableWriter,
)
from bento_spark.operators.grpc_wire import (
    DATA,
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    HEADERS,
    PREFACE,
    SETTINGS,
    GrpcClient,
    HpackDecoder,
    _int_encode,
    encode_h2_frame,
)
from bento_spark.operators.protobuf import pb_decode, pb_encode
from bento_spark.serving import TcpServer
from bento_spark.sinks.connector import TRANSPORTS, DeliveryError


def _lit(name: str, value: str) -> bytes:
    nb, vb = name.encode(), value.encode()
    return (b"\x40" + _int_encode(len(nb), 7) + nb
            + _int_encode(len(vb), 7) + vb)


class _Handler(socketserver.StreamRequestHandler):
    def _frame(self, ftype, flags, stream, payload):
        self.wfile.write(encode_h2_frame(ftype, flags, stream, payload))
        self.wfile.flush()

    def _read(self):
        head = self.rfile.read(9)
        if len(head) != 9:
            return None
        n = struct.unpack(">I", b"\x00" + head[:3])[0]
        return (head[3], head[4],
                struct.unpack(">I", head[5:9])[0] & 0x7FFFFFFF,
                self.rfile.read(n))

    def handle(self):
        srv = self.server
        assert self.rfile.read(len(PREFACE)) == PREFACE
        self._read()
        self._frame(SETTINGS, 0, 0, b"")
        self._frame(SETTINGS, FLAG_ACK, 0, b"")
        self._read()
        decoder = HpackDecoder()
        while True:
            got = self._read()
            if got is None:
                return
            ftype, flags, stream, payload = got
            if ftype == 0x7:
                return
            if ftype == HEADERS:
                hdrs = dict(decoder.decode(payload))
                assert hdrs[":path"].startswith("/google.bigtable.v2.Bigtable/")
                self.path = hdrs[":path"]
            elif ftype == DATA and self.path.endswith("/ReadRows"):
                from bento_spark.operators.bigtable import (
                    READ_ROWS_REQUEST,
                    READ_ROWS_RESPONSE,
                )

                (n,) = struct.unpack(">I", payload[1:5])
                req = pb_decode(payload[5 : 5 + n], READ_ROWS_REQUEST)
                want = set(req.get("rows", {}).get("row_keys", []))
                entries = [
                    e for e in srv.tables.get(req["table_name"], [])
                    if not want or e["row_key"] in want
                ]
                limit = req.get("rows_limit", 0)
                if limit:
                    entries = entries[:limit]
                # delta-compressed chunk stream: key/family only on
                # change, one commit_row per row, split into 2 messages
                chunks = []
                for e in entries:
                    cells = e["mutations"]
                    for i, m in enumerate(cells):
                        sc = m["set_cell"]
                        ch = {"qualifier": {"value": sc["column_qualifier"]},
                              "value": sc["value"]}
                        if i == 0:
                            ch["row_key"] = e["row_key"]
                            ch["family_name"] = {"value": sc["family_name"]}
                        if i == len(cells) - 1:
                            ch["commit_row"] = True
                        chunks.append(ch)
                half = max(1, len(chunks) // 2)
                self._frame(HEADERS, FLAG_END_HEADERS, stream,
                            b"\x88" + _lit("content-type", "application/grpc"))
                for part in (chunks[:half], chunks[half:]):
                    if not part:
                        continue
                    body = pb_encode({"chunks": part}, READ_ROWS_RESPONSE)
                    self._frame(DATA, 0, stream,
                                b"\x00" + struct.pack(">I", len(body)) + body)
                self._frame(HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM,
                            stream, _lit("grpc-status", "0"))
            elif ftype == DATA:
                (n,) = struct.unpack(">I", payload[1:5])
                req = pb_decode(payload[5 : 5 + n], MUTATE_ROWS_REQUEST)
                srv.tables.setdefault(req["table_name"], [])
                statuses = []
                for i, e in enumerate(req.get("entries", [])):
                    key = e["row_key"]
                    if key in srv.fail_keys:
                        code, msg = srv.fail_keys[key]
                        statuses.append({"index": i, "status": {
                            "code": code, "message": msg}})
                        continue
                    srv.tables[req["table_name"]].append(e)
                    statuses.append({"index": i, "status": {"code": 0}})
                # stream the response in TWO messages (splits the entry
                # list) to exercise request_stream reassembly
                half = max(1, len(statuses) // 2)
                self._frame(HEADERS, FLAG_END_HEADERS, stream,
                            b"\x88" + _lit("content-type", "application/grpc"))
                for part in (statuses[:half], statuses[half:]):
                    if not part:
                        continue
                    body = pb_encode({"entries": part}, MUTATE_ROWS_RESPONSE)
                    self._frame(DATA, 0, stream,
                                b"\x00" + struct.pack(">I", len(body)) + body)
                self._frame(HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM,
                            stream, _lit("grpc-status", "0"))


class _Server(TcpServer):
    def __init__(self):
        self.tables: dict[str, list] = {}
        self.fail_keys: dict[bytes, tuple[int, str]] = {}
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


TABLE = "projects/p/instances/i/tables/events"


def test_repeated_nested_message_roundtrip():
    req = {
        "table_name": TABLE,
        "entries": [
            {"row_key": b"r1", "mutations": [
                {"set_cell": {"family_name": "cf",
                              "column_qualifier": b"c1",
                              "timestamp_micros": -1, "value": b"v1"}},
                {"set_cell": {"family_name": "cf",
                              "column_qualifier": b"c2",
                              "timestamp_micros": -1, "value": b"v2"}},
            ]},
            {"row_key": b"r2", "mutations": [
                {"set_cell": {"family_name": "cf",
                              "column_qualifier": b"c1",
                              "timestamp_micros": -1, "value": b"x"}},
            ]},
        ],
    }
    back = pb_decode(pb_encode(req, MUTATE_ROWS_REQUEST), MUTATE_ROWS_REQUEST)
    assert len(back["entries"]) == 2
    assert len(back["entries"][0]["mutations"]) == 2
    assert back["entries"][1]["mutations"][0]["set_cell"]["value"] == b"x"


def test_mutate_rows_streamed_response(server):
    c = GrpcClient("127.0.0.1", server.port)
    w = BigtableWriter(c, TABLE)
    failed = w.mutate_rows([
        (b"k1", {"cf": {"a": b"1", "b": b"2"}}),
        (b"k2", {"cf": {"a": b"3"}}),
        (b"k3", {"cf": {"a": b"4"}}),
    ])
    assert failed == []
    keys = [e["row_key"] for e in server.tables[TABLE]]
    assert keys == [b"k1", b"k2", b"k3"]
    c.close()


def test_partial_failures_reported(server):
    server.fail_keys = {b"k2": (14, "unavailable")}
    c = GrpcClient("127.0.0.1", server.port)
    w = BigtableWriter(c, TABLE)
    failed = w.mutate_rows([
        (b"k1", {"cf": {"a": b"1"}}),
        (b"k2", {"cf": {"a": b"2"}}),
    ])
    assert failed == [(1, 14, "unavailable")]
    c.close()


def test_bigtable_transport(server):
    t = TRANSPORTS["gcp_bigtable"]({
        "host": "127.0.0.1", "port": server.port,
        "table": TABLE, "key_field": "id", "column_family": "d",
    })
    t.send([json.dumps({"id": f"u{i}", "n": i}) for i in range(4)])
    t.close()
    entries = server.tables[TABLE]
    assert [e["row_key"] for e in entries] == [b"u0", b"u1", b"u2", b"u3"]
    cells = {m["set_cell"]["column_qualifier"]: m["set_cell"]["value"]
             for m in entries[2]["mutations"]}
    assert cells == {b"id": b"u2", b"n": b"2"}


def test_bigtable_transport_retryable_vs_dead(server):
    server.fail_keys = {b"bad": (3, "invalid argument")}
    t = TRANSPORTS["gcp_bigtable"]({
        "host": "127.0.0.1", "port": server.port,
        "table": TABLE, "key_field": "id",
    })
    with pytest.raises(DeliveryError) as ei:
        t.send([json.dumps({"id": "bad"})])
    assert not ei.value.retryable  # INVALID_ARGUMENT dead-letters
    server.fail_keys = {b"slow": (14, "unavailable")}
    with pytest.raises(DeliveryError) as ei:
        t.send([json.dumps({"id": "slow"})])
    assert ei.value.retryable  # UNAVAILABLE re-sends
    t.close()


def test_read_rows_chunk_merge(server):
    from bento_spark.operators.bigtable import BigtableReader

    c = GrpcClient("127.0.0.1", server.port)
    w = BigtableWriter(c, TABLE)
    w.mutate_rows([
        (b"r1", {"cf": {"a": b"1", "b": b"2"}}),
        (b"r2", {"cf": {"a": b"3"}}),
        (b"r3", {"cf": {"a": b"4", "c": b"5"}}),
    ])
    r = BigtableReader(c, TABLE)
    rows = r.read_rows()
    assert [(k, fams["cf"]) for k, fams in rows] == [
        (b"r1", {b"a": b"1", b"b": b"2"}),
        (b"r2", {b"a": b"3"}),
        (b"r3", {b"a": b"4", b"c": b"5"}),
    ]
    # keyed + limited reads
    rows = r.read_rows(row_keys=[b"r2"])
    assert [k for k, _f in rows] == [b"r2"]
    rows = r.read_rows(limit=2)
    assert len(rows) == 2
    c.close()


def test_bigtable_rows_input_df(spark, server):
    from bento_spark.operators.bigtable import bigtable_rows

    c = GrpcClient("127.0.0.1", server.port)
    BigtableWriter(c, TABLE).mutate_rows([
        (b"u1", {"cf": {"name": b"alice", "age": b"30"}}),
        (b"u2", {"cf": {"name": b"bob"}}),
    ])
    c.close()
    df = bigtable_rows(spark, {
        "host": "127.0.0.1", "port": server.port, "table": TABLE,
    })
    rows = {r["row_key"]: (r["name"], r["age"]) for r in df.collect()}
    assert rows == {"u1": ("alice", "30"), "u2": ("bob", None)}
