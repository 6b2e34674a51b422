"""BoltClient against an in-process Bolt server: handshake version
negotiation, HELLO auth, RUN/PULL record streaming, FAILURE + RESET
recovery, chunked-message reassembly (chunk size forced tiny), the
cypher UNWIND transport, and the neo4j_rows input loader. The server
decodes PackStream with its own independent mini-decoder."""

from __future__ import annotations

import json
import socketserver
import struct

import pytest

from bento_spark.operators.bolt_wire import (
    MAGIC,
    BoltClient,
    BoltError,
    Structure,
    neo4j_rows,
    pack,
    pack_struct,
    unpack,
)
from bento_spark.serving import TcpServer

SUCCESS, RECORD, FAILURE = 0x70, 0x71, 0x7F


class _Handler(socketserver.StreamRequestHandler):
    def _recv_msg(self):
        buf = bytearray()
        while True:
            head = self.rfile.read(2)
            if len(head) != 2:
                return None
            (n,) = struct.unpack(">H", head)
            if n == 0:
                if buf:
                    return unpack(bytes(buf))
                continue
            buf += self.rfile.read(n)

    def _send_msg(self, payload: bytes):
        # deliberately tiny chunks to force client-side reassembly
        for i in range(0, len(payload), self.server.chunk):
            part = payload[i : i + self.server.chunk]
            self.wfile.write(struct.pack(">H", len(part)) + part)
        self.wfile.write(b"\x00\x00")
        self.wfile.flush()

    def handle(self):
        srv = self.server
        magic = self.rfile.read(4)
        assert magic == MAGIC, magic
        versions = [self.rfile.read(4) for _ in range(4)]
        assert struct.unpack(">I", versions[1])[0] == 0x0404
        self.wfile.write(versions[1])  # pick 4.4
        self.wfile.flush()
        while True:
            msg = self._recv_msg()
            if msg is None:
                return
            assert isinstance(msg, Structure)
            if msg.tag == 0x01:  # HELLO
                auth = msg.fields[0]
                if auth.get("credentials") != srv.password:
                    self._send_msg(pack_struct(FAILURE, {
                        "code": "Neo.ClientError.Security.Unauthorized",
                        "message": "bad auth",
                    }))
                    continue
                self._send_msg(pack_struct(SUCCESS, {"server": "Neo4j/5.0-inproc"}))
            elif msg.tag == 0x0F:  # RESET
                self._send_msg(pack_struct(SUCCESS, {}))
            elif msg.tag == 0x02:  # GOODBYE
                return
            elif msg.tag == 0x10:  # RUN
                cypher, params = msg.fields[0], msg.fields[1]
                srv.runs.append((cypher, params))
                if "SYNTAX ERROR" in cypher:
                    self.pending = ("fail", None)
                    self._send_msg(pack_struct(FAILURE, {
                        "code": "Neo.ClientError.Statement.SyntaxError",
                        "message": "bad cypher",
                    }))
                    continue
                if cypher.startswith("UNWIND $rows"):
                    for row in params["rows"]:
                        srv.nodes[str(row.get("id"))] = row
                    self.pending = ("write", [])
                    self._send_msg(pack_struct(SUCCESS, {"fields": []}))
                else:  # read query: return stored nodes as (id, n) rows
                    rows = [[k, json.dumps(v, sort_keys=True)]
                            for k, v in sorted(srv.nodes.items())]
                    self.pending = ("read", rows)
                    self._send_msg(pack_struct(SUCCESS, {"fields": ["id", "n"]}))
            elif msg.tag == 0x3F:  # PULL
                kind, rows = getattr(self, "pending", ("write", []))
                for r in rows or []:
                    self._send_msg(pack_struct(RECORD, r))
                self._send_msg(pack_struct(SUCCESS, {"t_last": 1}))
            else:
                self._send_msg(pack_struct(FAILURE, {
                    "code": "Neo.ClientError.Request.Invalid",
                    "message": f"tag 0x{msg.tag:02x}",
                }))


class _Server(TcpServer):
    def __init__(self, password="pw", chunk=7):
        self.password = password
        self.chunk = chunk  # tiny server->client chunks
        self.runs: list = []
        self.nodes: dict[str, dict] = {}
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_packstream_roundtrip():
    vals = [
        None, True, False, 0, 1, -1, -16, -17, 127, 128, -129, 32767,
        -32769, 2**31, -(2**31) - 1, 3.5, "", "hi", "x" * 20, "x" * 300,
        "café ☃", [1, "two", [3.0, None]], {"a": 1, "b": [True]},
        list(range(20)),
    ]
    for v in vals:
        assert unpack(pack(v)) == v, v


def test_handshake_hello_and_roundtrip(server):
    c = BoltClient("127.0.0.1", server.port, "neo4j", "pw")
    assert c.server == "Neo4j/5.0-inproc"
    assert struct.unpack(">I", c.version)[0] == 0x0404
    c.close()


def test_bad_auth_raises(server):
    with pytest.raises(BoltError, match="Unauthorized"):
        BoltClient("127.0.0.1", server.port, "neo4j", "wrong")


def test_failure_then_reset_keeps_connection(server):
    c = BoltClient("127.0.0.1", server.port, "neo4j", "pw")
    with pytest.raises(BoltError, match="SyntaxError"):
        c.run("SYNTAX ERROR HERE")
    # connection survived the RESET: next query works
    fields, recs = c.run("MATCH (n) RETURN n.id AS id, n AS n")
    assert fields == ["id", "n"] and recs == []
    c.close()


def test_cypher_transport_unwind_batch(server):
    from bento_spark.sinks.connector import TRANSPORTS

    t = TRANSPORTS["cypher"]({
        "host": "127.0.0.1", "port": server.port,
        "user": "neo4j", "password": "pw",
        "query": "MERGE (n:Doc {id: row.id}) SET n += row",
    })
    t.send([json.dumps({"id": f"d{i}", "n": i}) for i in range(6)])
    t.close()
    assert len(server.nodes) == 6 and server.nodes["d3"]["n"] == 3
    cypher, params = server.runs[-1]
    assert cypher.startswith("UNWIND $rows AS row MERGE")
    assert len(params["rows"]) == 6  # one round trip for the batch


def test_neo4j_rows_input(spark, server):
    server.nodes = {"a": {"id": "a", "v": 1}, "b": {"id": "b", "v": 2}}
    df = neo4j_rows(spark, {
        "host": "127.0.0.1", "port": server.port,
        "user": "neo4j", "password": "pw",
        "query": "MATCH (n) RETURN n.id AS id, n AS n",
    })
    rows = {r["id"]: r["n"] for r in df.collect()}
    assert set(rows) == {"a", "b"}
    assert json.loads(rows["b"])["v"] == 2
