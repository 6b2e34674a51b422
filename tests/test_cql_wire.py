"""CQL native-protocol v4 tests against an in-process frame-decoding
server: STARTUP/READY handshake, QUERY framing, Rows RESULT decoding
with global and per-column table specs across the typed codec set,
UNLOGGED BATCH inserts (parsed back out of the one frame per batch),
protocol error surfacing, and the cassandra connector transport's
retryable-code routing."""

from __future__ import annotations

import json
import re
import socketserver
import struct

import pytest

from bento_spark.operators.cql_wire import (
    TYPE_BIGINT,
    TYPE_BOOLEAN,
    TYPE_DOUBLE,
    TYPE_INT,
    TYPE_VARCHAR,
    CqlClient,
    CqlError,
    cassandra_rows,
    quote_literal,
)
from bento_spark.serving import TcpServer
from bento_spark.sinks.connector import TRANSPORTS, DeliveryError


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">H", len(b)) + b


def _bytes_val(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


def _enc_value(type_id: int, v) -> bytes | None:
    if v is None:
        return None
    if type_id == TYPE_VARCHAR:
        return str(v).encode()
    if type_id == TYPE_BIGINT:
        return struct.pack(">q", v)
    if type_id == TYPE_INT:
        return struct.pack(">i", v)
    if type_id == TYPE_BOOLEAN:
        return b"\x01" if v else b"\x00"
    if type_id == TYPE_DOUBLE:
        return struct.pack(">d", v)
    raise AssertionError(type_id)


class _Handler(socketserver.StreamRequestHandler):
    def _read_frame(self):
        header = self.rfile.read(9)
        if len(header) != 9:
            return None
        version, flags, stream, opcode, length = struct.unpack(">BBhBI", header)
        assert version == 0x04, hex(version)
        return stream, opcode, self.rfile.read(length)

    def _send_frame(self, stream: int, opcode: int, body: bytes):
        self.wfile.write(
            struct.pack(">BBhBI", 0x84, 0x00, stream, opcode, len(body)) + body
        )
        self.wfile.flush()

    def _rows_result(self, cols, rows, global_spec: bool) -> bytes:
        flags = 0x0001 if global_spec else 0x0000
        body = struct.pack(">iii", 0x0002, flags, len(cols))
        if global_spec:
            body += _string("ks") + _string("tbl")
        for name, tid in cols:
            if not global_spec:
                body += _string("ks") + _string("tbl")
            body += _string(name) + struct.pack(">H", tid)
        body += struct.pack(">i", len(rows))
        for row in rows:
            for (name, tid), v in zip(cols, row):
                body += _bytes_val(_enc_value(tid, v))
        return body

    def handle(self):
        srv = self.server
        frame = self._read_frame()
        if frame is None:
            return
        stream, opcode, body = frame
        assert opcode == 0x01  # STARTUP first, always
        (n,) = struct.unpack_from(">H", body, 0)
        off = 2
        opts = {}
        for _ in range(n):
            (kl,) = struct.unpack_from(">H", body, off)
            k = body[off + 2 : off + 2 + kl].decode()
            off += 2 + kl
            (vl,) = struct.unpack_from(">H", body, off)
            opts[k] = body[off + 2 : off + 2 + vl].decode()
            off += 2 + vl
        assert opts.get("CQL_VERSION") == "3.0.0"
        self._send_frame(stream, 0x02, b"")  # READY

        while True:
            frame = self._read_frame()
            if frame is None:
                return
            stream, opcode, body = frame
            assert opcode == 0x07  # QUERY
            (qlen,) = struct.unpack_from(">I", body, 0)
            query = body[4 : 4 + qlen].decode()
            consistency, qflags = struct.unpack_from(">HB", body, 4 + qlen)
            srv.queries.append((query, consistency))

            if srv.error_code is not None:
                code, srv.error_code = srv.error_code, None
                self._send_frame(
                    stream, 0x00,
                    struct.pack(">i", code) + _string("injected failure"),
                )
                continue
            if query.startswith("BEGIN UNLOGGED BATCH"):
                for m in re.finditer(
                    r"INSERT INTO (\w+) \(([^)]*)\) VALUES \(([^)]*)\)",
                    query,
                ):
                    srv.inserts.append(
                        (m.group(1), m.group(2), m.group(3))
                    )
                self._send_frame(
                    stream, 0x08, struct.pack(">i", 0x0001)
                )  # Void
                continue
            # any SELECT returns the canned table
            self._send_frame(
                stream, 0x08,
                self._rows_result(srv.cols, srv.rows, srv.global_spec),
            )


class _Server(TcpServer):
    def __init__(self):
        self.queries: list[tuple[str, int]] = []
        self.inserts: list[tuple[str, str, str]] = []
        self.cols = [
            ("id", TYPE_BIGINT),
            ("name", TYPE_VARCHAR),
            ("score", TYPE_DOUBLE),
            ("active", TYPE_BOOLEAN),
            ("rank", TYPE_INT),
        ]
        self.rows = [
            [1, "alice", 0.5, True, 7],
            [2, "bob", -1.25, False, None],
        ]
        self.global_spec = True
        self.error_code: int | None = None
        super().__init__(_Handler)


@pytest.fixture
def server():
    with _Server() as srv:
        yield srv


def test_select_decodes_all_types_global_spec(server):
    rows = cassandra_rows("127.0.0.1", server.port, "SELECT * FROM ks.tbl")
    assert rows == [
        {"id": 1, "name": "alice", "score": 0.5, "active": True, "rank": 7},
        {"id": 2, "name": "bob", "score": -1.25, "active": False,
         "rank": None},
    ]


def test_select_per_column_spec(server):
    server.global_spec = False
    rows = cassandra_rows("127.0.0.1", server.port, "SELECT 1")
    assert rows[0]["name"] == "alice"


def test_error_reply_raises_with_code(server):
    server.error_code = 0x2200  # Invalid query
    c = CqlClient("127.0.0.1", server.port)
    with pytest.raises(CqlError) as ei:
        c.execute("SELECT nope")
    assert ei.value.code == 0x2200
    # connection stays usable after an error reply
    assert c.execute("SELECT * FROM t")[0]["id"] == 1
    c.close()


def test_insert_batch_one_frame_with_quoting(server):
    c = CqlClient("127.0.0.1", server.port)
    c.insert_batch(
        "events", ["id", "msg"],
        [[1, "plain"], [2, "it's quoted"], [3, None]],
    )
    c.close()
    batch_queries = [q for q, _ in server.queries if "BATCH" in q]
    assert len(batch_queries) == 1  # whole delivery batch = ONE frame
    assert server.inserts == [
        ("events", "id, msg", "1, 'plain'"),
        ("events", "id, msg", "2, 'it''s quoted'"),
        ("events", "id, msg", "3, NULL"),
    ]


def test_quote_literal_covers_types():
    assert quote_literal(None) == "NULL"
    assert quote_literal(True) == "true"
    assert quote_literal(3) == "3"
    assert quote_literal(0.5) == "0.5"
    assert quote_literal("a'b") == "'a''b'"


def test_transport_routes_retryable_codes(server):
    t = TRANSPORTS["cassandra"](
        {
            "host": "127.0.0.1",
            "port": server.port,
            "table": "events",
            "columns": ["id", "msg"],
        }
    )
    t.send([json.dumps({"id": 1, "msg": "hi"})])
    assert server.inserts[-1] == ("events", "id, msg", "1, 'hi'")

    server.error_code = 0x1001  # Overloaded -> transient
    with pytest.raises(DeliveryError) as ei:
        t.send([json.dumps({"id": 2, "msg": "x"})])
    assert ei.value.retryable

    server.error_code = 0x2200  # Invalid -> permanent
    with pytest.raises(DeliveryError) as ei:
        t.send([json.dumps({"id": 3, "msg": "x"})])
    assert not ei.value.retryable
    t.close()
