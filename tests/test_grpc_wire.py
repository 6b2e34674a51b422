"""GrpcClient against an in-process HTTP/2 gRPC server: preface +
SETTINGS handshake, HPACK roundtrip (the server decodes with its own
state and replies with indexed + literal-with-incremental-indexing
forms to exercise the client's dynamic table), unary request/response
with length-prefixed frames, trailers with grpc-status, error statuses,
PING interleave, and the grpc_enrich Spark processor."""

from __future__ import annotations

import socketserver
import struct

import pytest

from bento_spark.operators.grpc_wire import (
    DATA,
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    HEADERS,
    PING,
    PREFACE,
    SETTINGS,
    GrpcClient,
    GrpcError,
    H2Error,
    HpackDecoder,
    _int_decode,
    _int_encode,
    encode_h2_frame,
    grpc_enrich,
    hpack_encode,
)
from bento_spark.serving import TcpServer

REQ_SCHEMA = {"fields": {1: ("x", "int64")}}
RESP_SCHEMA = {"fields": {1: ("y", "int64"), 2: ("note", "string")}}


def _hpack_indexed(idx: int) -> bytes:
    return _int_encode(idx, 7, 0x80)


def _hpack_literal_incremental(name: str, value: str) -> bytes:
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
        got = self._read()  # client SETTINGS
        assert got[0] == SETTINGS
        self._frame(SETTINGS, 0, 0, b"")        # our SETTINGS
        self._frame(SETTINGS, FLAG_ACK, 0, b"")  # ack client's
        got = self._read()  # client's ack of ours
        assert got[0] == SETTINGS and got[1] & FLAG_ACK
        decoder = HpackDecoder()
        while True:
            got = self._read()
            if got is None:
                return
            ftype, flags, stream, payload = got
            if ftype == 0x7:  # GOAWAY
                return
            if ftype == HEADERS:
                hdrs = dict(decoder.decode(payload))
                srv.requests.append(hdrs)
                assert hdrs[":method"] == "POST"
                assert hdrs["content-type"] == "application/grpc"
                assert hdrs["te"] == "trailers"
                self.path = hdrs[":path"]
            elif ftype == DATA:
                assert payload[0] == 0  # uncompressed
                (n,) = struct.unpack(">I", payload[1:5])
                msg = payload[5 : 5 + n]
                from bento_spark.operators.protobuf import pb_decode, pb_encode

                if srv.ping_mid_response:
                    srv.ping_mid_response = False
                    self._frame(PING, 0, 0, b"12345678")
                if self.path.endswith("/Fail"):
                    # trailers-only error response
                    block = (_hpack_indexed(8)  # :status 200 (static)
                             + _hpack_literal_incremental("grpc-status", "3")
                             + _hpack_literal_incremental(
                                 "grpc-message", "bad%20argument"))
                    self._frame(HEADERS,
                                FLAG_END_HEADERS | FLAG_END_STREAM,
                                stream, block)
                    continue
                req = pb_decode(msg, REQ_SCHEMA)
                resp = pb_encode(
                    {"y": req.get("x", 0) * 2, "note": f"s{stream}"},
                    RESP_SCHEMA,
                )
                body = b"\x00" + struct.pack(">I", len(resp)) + resp
                # response headers: indexed :status 200 + literal-with-
                # incremental content-type (exercises dynamic table)
                block = (_hpack_indexed(8)
                         + _hpack_literal_incremental(
                             "content-type", "application/grpc"))
                self._frame(HEADERS, FLAG_END_HEADERS, stream, block)
                self._frame(DATA, 0, stream, body)
                trailers = (_hpack_literal_incremental("grpc-status", "0")
                            + _hpack_literal_incremental("grpc-message", ""))
                self._frame(HEADERS,
                            FLAG_END_HEADERS | FLAG_END_STREAM,
                            stream, trailers)
            elif ftype == PING and flags & FLAG_ACK:
                srv.pongs += 1


class _Server(TcpServer):
    def __init__(self):
        self.requests: list[dict] = []
        self.pongs = 0
        self.ping_mid_response = False
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_hpack_integer_continuation():
    # RFC 7541 C.1 example: 1337 with 5-bit prefix -> 1f 9a 0a
    assert _int_encode(1337, 5) == b"\x1f\x9a\x0a"
    assert _int_decode(b"\x1f\x9a\x0a", 0, 5) == (1337, 3)


def test_hpack_roundtrip_and_dynamic_table():
    d = HpackDecoder()
    hdrs = [(":method", "POST"), ("x-custom", "abc"), ("x-custom", "abc")]
    assert d.decode(hpack_encode(hdrs)) == [
        (":method", "POST"), ("x-custom", "abc"), ("x-custom", "abc")]
    # incremental-indexing literal populates the dynamic table; a later
    # indexed reference resolves through it (62 = first dynamic entry)
    block = _hpack_literal_incremental("grpc-status", "0")
    assert d.decode(block) == [("grpc-status", "0")]
    assert d.decode(_int_encode(62, 7, 0x80)) == [("grpc-status", "0")]


def test_unary_roundtrip(server):
    from bento_spark.operators.protobuf import pb_decode, pb_encode

    c = GrpcClient("127.0.0.1", server.port)
    resp = c.request("/calc.Doubler/Double", pb_encode({"x": 21}, REQ_SCHEMA))
    out = pb_decode(resp, RESP_SCHEMA)
    assert out["y"] == 42
    # second call on the SAME connection, next odd stream id
    resp2 = c.request("/calc.Doubler/Double", pb_encode({"x": 5}, REQ_SCHEMA))
    assert pb_decode(resp2, RESP_SCHEMA)["y"] == 10
    assert pb_decode(resp2, RESP_SCHEMA)["note"] == "s3"
    c.close()


def test_grpc_error_status_raises(server):
    c = GrpcClient("127.0.0.1", server.port)
    with pytest.raises(GrpcError, match="grpc-status 3: bad argument"):
        c.request("/calc.Doubler/Fail", b"\x08\x01")
    c.close()


def test_ping_interleaved_mid_response(server):
    server.ping_mid_response = True
    from bento_spark.operators.protobuf import pb_decode, pb_encode

    c = GrpcClient("127.0.0.1", server.port)
    resp = c.request("/svc/M", pb_encode({"x": 3}, REQ_SCHEMA))
    assert pb_decode(resp, RESP_SCHEMA)["y"] == 6
    c.close()
    # the PONG is on the wire before close(), but the server THREAD may
    # not have read it yet — poll briefly instead of racing it
    import time as _t

    deadline = _t.time() + 5
    while server.pongs != 1 and _t.time() < deadline:
        _t.sleep(0.02)
    assert server.pongs == 1


def test_grpc_enrich_processor(spark, server):
    import json

    port = server.port
    df = spark.range(8).selectExpr("id", "to_json(named_struct('x', id)) AS body")
    out = grpc_enrich(
        df,
        lambda: GrpcClient("127.0.0.1", port),
        "/calc.Doubler/Double",
        REQ_SCHEMA, RESP_SCHEMA,
        body_col="body", out_col="resp",
    ).collect()
    got = {r["id"]: json.loads(r["resp"])["y"] for r in out}
    assert got == {i: 2 * i for i in range(8)}
    assert all(r["_error"] is None for r in out)


def test_huffman_decode_rfc_vectors():
    from bento_spark.operators.grpc_wire import H2Error, huffman_decode

    # RFC 7541 Appendix C examples
    assert huffman_decode(bytes.fromhex("f1e3c2e5f23a6ba0ab90f4ff")) == b"www.example.com"
    assert huffman_decode(bytes.fromhex("a8eb10649cbf")) == b"no-cache"
    assert huffman_decode(
        bytes.fromhex("d07abe941054d444a8200595040b8166e082a62d1bff")
    ) == b"Mon, 21 Oct 2013 20:13:21 GMT"
    assert huffman_decode(
        bytes.fromhex("9d29ad171863c78f0b97c8e9ae82ae43d3")
    ) == b"https://www.example.com"
    with pytest.raises(H2Error, match="EOS symbol"):
        huffman_decode(b"\xff\xff\xff\xff\xff")  # decodes the EOS code


def test_decoder_accepts_huffman_coded_literals():
    from bento_spark.operators.grpc_wire import HpackDecoder

    # literal-without-indexing, huffman-coded name and value:
    # name 'no-cache'? use value example: header ("cache-control","no-cache")
    name = bytes.fromhex("a8eb10649cbf")  # 'no-cache' huffman
    block = (b"\x00"
             + bytes([0x80 | len(name)]) + name
             + bytes([0x80 | len(name)]) + name)
    d = HpackDecoder()
    assert d.decode(block) == [("no-cache", "no-cache")]


def test_huffman_encode_rfc_vectors():
    """RFC 7541 Appendix C huffman ENCODING vectors (C.4 / C.6) — the
    encoder must produce the exact spec bytes, including EOS-prefix
    padding of the final partial byte."""
    from bento_spark.operators.grpc_wire import huffman_encode

    assert huffman_encode(b"www.example.com") == bytes.fromhex(
        "f1e3c2e5f23a6ba0ab90f4ff"
    )
    assert huffman_encode(b"no-cache") == bytes.fromhex("a8eb10649cbf")
    assert huffman_encode(b"custom-key") == bytes.fromhex("25a849e95ba97d7f")
    assert huffman_encode(b"custom-value") == bytes.fromhex("25a849e95bb8e8b4bf")
    assert huffman_encode(b"302") == bytes.fromhex("6402")
    assert huffman_encode(b"private") == bytes.fromhex("aec3771a4b")
    assert huffman_encode(b"Mon, 21 Oct 2013 20:13:21 GMT") == bytes.fromhex(
        "d07abe941054d444a8200595040b8166e082a62d1bff"
    )
    assert huffman_encode(b"https://www.example.com") == bytes.fromhex(
        "9d29ad171863c78f0b97c8e9ae82ae43d3"
    )


def test_hpack_encode_huffman_when_shorter_roundtrip():
    """hpack_encode picks the huffman form only when strictly shorter,
    and HpackDecoder round-trips the result — wire bytes decoded by the
    same decoder the in-process servers use."""
    from bento_spark.operators.grpc_wire import (
        HpackDecoder,
        hpack_encode,
        huffman_encode,
    )

    headers = [
        (":path", "/google.bigtable.v2.Bigtable/MutateRows"),  # shrinks
        ("x-sym", "###"),  # huffman EXPANDS (# is 12 bits): stays plain
    ]
    blob = hpack_encode(headers)
    assert HpackDecoder().decode(blob) == headers
    # the compressible path actually shipped huffman-coded: its encoded
    # form (with H bit set) appears in the blob, the plain bytes do not
    hpath = huffman_encode(b"/google.bigtable.v2.Bigtable/MutateRows")
    assert hpath in blob
    assert b"/google.bigtable" not in blob
    # the incompressible value shipped plain
    assert b"###" in blob
