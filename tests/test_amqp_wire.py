"""AmqpClient tests against an in-process AMQP 0-9-1 broker that
decodes every frame (header/body reassembly, frame-end octets,
frame-max enforcement), performs the full Start/Tune/Open handshake
with PLAIN auth verification, serves publisher confirms (including
multiple=1 prefix acks and nacks), Basic.Get, and channel-level
errors. Field-table codec round-trip and body-split coverage."""

from __future__ import annotations

import json
import socketserver
import struct

import pytest

from bento_spark.operators.amqp_wire import (
    BASIC_ACK,
    BASIC_GET,
    BASIC_GET_EMPTY,
    BASIC_GET_OK,
    BASIC_NACK,
    BASIC_PUBLISH,
    CHANNEL_CLOSE,
    CHANNEL_OPEN,
    CHANNEL_OPEN_OK,
    CONFIRM_SELECT,
    CONFIRM_SELECT_OK,
    CONNECTION_CLOSE,
    CONNECTION_CLOSE_OK,
    CONNECTION_OPEN,
    CONNECTION_OPEN_OK,
    CONNECTION_START,
    CONNECTION_START_OK,
    CONNECTION_TUNE,
    CONNECTION_TUNE_OK,
    FRAME_BODY,
    FRAME_END,
    FRAME_HEADER,
    FRAME_METHOD,
    QUEUE_DECLARE,
    QUEUE_DECLARE_OK,
    AmqpClient,
    AmqpError,
    decode_table,
    encode_table,
    longstr,
    shortstr,
)
from bento_spark.serving import TcpServer


def test_field_table_roundtrip():
    t = {"product": "bento-spark", "flag": True, "n": 42, "nested": {"k": "v"}}
    buf = encode_table(t)
    out, pos = decode_table(buf, 0)
    assert out == t and pos == len(buf)


class _Handler(socketserver.StreamRequestHandler):
    def _send_frame(self, ftype, channel, payload):
        self.wfile.write(
            struct.pack(">BHI", ftype, channel, len(payload))
            + payload
            + bytes([FRAME_END])
        )
        self.wfile.flush()

    def _send_method(self, channel, cm, args=b""):
        self._send_frame(FRAME_METHOD, channel, struct.pack(">HH", *cm) + args)

    def _read_frame(self):
        head = self.rfile.read(7)
        if len(head) != 7:
            return None
        ftype, channel, size = struct.unpack(">BHI", head)
        # frame-max counts the 7-byte header + end octet too (spec §4.2.3);
        # enforced on content frames (the spec's 4096 minimum keeps method
        # frames under any real negotiated value)
        if ftype == FRAME_BODY:
            assert size + 8 <= self.server.frame_max, "body frame exceeds frame-max"
        payload = self.rfile.read(size)
        assert self.rfile.read(1)[0] == FRAME_END, "missing frame-end octet"
        return ftype, channel, payload

    def _read_content(self):
        ftype, _, payload = self._read_frame()
        assert ftype == FRAME_HEADER
        cls, _w, body_size, _flags = struct.unpack_from(">HHQH", payload, 0)
        assert cls == 60
        data = bytearray()
        while len(data) < body_size:
            ftype, _, part = self._read_frame()
            assert ftype == FRAME_BODY
            data += part
        return bytes(data)

    def handle(self):
        srv = self.server
        assert self.rfile.read(8) == b"AMQP\x00\x00\x09\x01"
        self._send_method(
            0,
            CONNECTION_START,
            bytes([0, 9])
            + encode_table({"product": "test-broker"})
            + longstr(b"PLAIN")
            + longstr(b"en_US"),
        )
        f = self._read_frame()
        cm = struct.unpack_from(">HH", f[2], 0)
        assert cm == CONNECTION_START_OK
        body = f[2][4:]
        _props, pos = decode_table(body, 0)
        mlen = body[pos]
        mech = body[pos + 1 : pos + 1 + mlen]
        pos += 1 + mlen
        (rlen,) = struct.unpack_from(">I", body, pos)
        response = body[pos + 4 : pos + 4 + rlen]
        assert mech == b"PLAIN"
        if response != b"\x00" + srv.user + b"\x00" + srv.password:
            self._send_method(
                0, CONNECTION_CLOSE,
                struct.pack(">H", 403) + shortstr("ACCESS_REFUSED") + b"\x00\x00",
            )
            return
        self._send_method(
            0, CONNECTION_TUNE, struct.pack(">HIH", 0, srv.frame_max, 0)
        )
        f = self._read_frame()
        assert struct.unpack_from(">HH", f[2], 0) == CONNECTION_TUNE_OK
        _chm, client_fm, _hb = struct.unpack_from(">HIH", f[2], 4)
        assert client_fm <= srv.frame_max
        f = self._read_frame()
        assert struct.unpack_from(">HH", f[2], 0) == CONNECTION_OPEN
        self._send_method(0, CONNECTION_OPEN_OK, shortstr(""))
        next_tag = 1
        pending_acks = []
        while True:
            f = self._read_frame()
            if f is None:
                return
            ftype, channel, payload = f
            cm = struct.unpack_from(">HH", payload, 0)
            body = payload[4:]
            if cm == CHANNEL_OPEN:
                self._send_method(channel, CHANNEL_OPEN_OK, longstr(b""))
            elif cm == CONFIRM_SELECT:
                self._send_method(channel, CONFIRM_SELECT_OK)
            elif cm == QUEUE_DECLARE:
                nlen = body[2]
                name = body[3 : 3 + nlen].decode()
                srv.queues.setdefault(name, [])
                self._send_method(
                    channel,
                    QUEUE_DECLARE_OK,
                    shortstr(name)
                    + struct.pack(">II", len(srv.queues[name]), 0),
                )
            elif cm == BASIC_PUBLISH:
                pos = 2
                elen = body[pos]
                exchange = body[pos + 1 : pos + 1 + elen].decode()
                pos += 1 + elen
                klen = body[pos]
                rkey = body[pos + 1 : pos + 1 + klen].decode()
                data = self._read_content()
                tag = next_tag
                next_tag += 1
                if exchange == "missing":
                    self._send_method(
                        channel, CHANNEL_CLOSE,
                        struct.pack(">H", 404) + shortstr("NOT_FOUND") + b"\x00\x00",
                    )
                    self._read_frame()  # CloseOk
                    return
                srv.queues.setdefault(rkey, []).append(data)
                if srv.nack_tags and tag in srv.nack_tags:
                    self._send_method(
                        channel, BASIC_NACK, struct.pack(">QB", tag, 0)
                    )
                    continue
                pending_acks.append(tag)
                if len(pending_acks) >= srv.ack_batch:
                    # multiple=1 prefix ack when batching, like RabbitMQ
                    m = 1 if len(pending_acks) > 1 else 0
                    self._send_method(
                        channel, BASIC_ACK,
                        struct.pack(">QB", pending_acks[-1], m),
                    )
                    pending_acks.clear()
            elif cm == BASIC_GET:
                qlen = body[2]
                qname = body[3 : 3 + qlen].decode()
                q = srv.queues.get(qname, [])
                undelivered = [i for i in range(len(q)) if i not in srv.delivered.get(qname, set())]
                if not undelivered:
                    self._send_method(channel, BASIC_GET_EMPTY, shortstr(""))
                    continue
                i = undelivered[0]
                srv.delivered.setdefault(qname, set()).add(i)
                tag = (hash(qname) & 0xFFFF) * 100000 + i + 1
                srv.tag_map[tag] = (qname, i)
                self._send_method(
                    channel,
                    BASIC_GET_OK,
                    struct.pack(">Q", tag)
                    + b"\x00"
                    + shortstr("")
                    + shortstr(qname)
                    + struct.pack(">I", len(undelivered) - 1),
                )
                data = q[i]
                header = struct.pack(">HHQH", 60, 0, len(data), 0)
                self._send_frame(FRAME_HEADER, channel, header)
                for j in range(0, len(data), srv.frame_max - 8):
                    self._send_frame(FRAME_BODY, channel, data[j : j + srv.frame_max - 8])
                if not data:
                    pass
            elif cm == BASIC_ACK and channel == 1:
                (tag,) = struct.unpack_from(">Q", body, 0)
                srv.acked.add(tag)
            elif cm == CONNECTION_CLOSE:
                self._send_method(0, CONNECTION_CLOSE_OK)
                return


class _Server(TcpServer):
    def __init__(self, frame_max=131072):
        self.queues: dict[str, list[bytes]] = {}
        self.delivered: dict[str, set] = {}
        self.tag_map: dict[int, tuple] = {}
        self.acked: set[int] = set()
        self.user, self.password = b"guest", b"guest"
        self.frame_max = frame_max
        self.ack_batch = 1
        self.nack_tags: set[int] = set()
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_handshake_declare_publish_confirms(server):
    c = AmqpClient(port=server.port)
    name, count = c.queue_declare("jobs")
    assert name == "jobs" and count == 0
    c.publish("", "jobs", [b"one", "caf\xe9 ☃".encode(), b""])
    assert server.queues["jobs"] == [b"one", "caf\xe9 ☃".encode(), b""]
    c.close()


def test_multiple_flag_prefix_ack(server):
    server.ack_batch = 4
    c = AmqpClient(port=server.port)
    c.publish("", "q", [b"a", b"b", b"c", b"d"])  # one multiple=1 ack covers all
    assert server.queues["q"] == [b"a", b"b", b"c", b"d"]
    c.close()


def test_body_split_at_negotiated_frame_max():
    srv = _Server(frame_max=64)  # forces multi-frame bodies both directions
    try:
        c = AmqpClient(port=srv.port)
        assert c.frame_max == 64
        big = bytes(range(256)) * 3  # 768 bytes -> 14 body frames at 56/frame
        c.publish("", "big", [big])
        assert srv.queues["big"] == [big]
        got = c.get("big")
        assert got is not None and got[1] == big
        c.close()
    finally:
        srv.stop()


def test_nack_raises_after_drain(server):
    server.nack_tags = {2}
    c = AmqpClient(port=server.port)
    with pytest.raises(AmqpError, match="nacked delivery tags \\[2\\]"):
        c.publish("", "q", [b"a", b"b", b"c"])
    c.close()


def test_channel_close_surfaces_reply_text(server):
    c = AmqpClient(port=server.port)
    with pytest.raises(AmqpError, match="404.*NOT_FOUND"):
        c.publish("missing", "q", [b"x"])


def test_bad_credentials_refused(server):
    with pytest.raises(AmqpError, match="403.*ACCESS_REFUSED"):
        AmqpClient(port=server.port, user="guest", password="wrong")


def test_get_ack_and_empty(server):
    c = AmqpClient(port=server.port)
    c.publish("", "inq", [b"m1", b"m2"])
    t1, d1 = c.get("inq")
    c.ack(t1)
    t2, d2 = c.get("inq")
    c.ack(t2)
    assert {d1, d2} == {b"m1", b"m2"}
    assert c.get("inq") is None
    assert server.acked == {t1, t2}
    c.close()


def test_drain_to_dir_stages_before_ack(tmp_path, server):
    c = AmqpClient(port=server.port)
    c.publish("", "drainq", [f"msg{i}".encode() for i in range(5)])
    n = c.drain_to_dir("drainq", str(tmp_path), max_msgs=10)
    assert n == 5
    rows = []
    for p in tmp_path.glob("*.ndjson"):
        rows += [json.loads(line) for line in p.read_text().splitlines()]
    assert {r["value"] for r in rows} == {f"msg{i}" for i in range(5)}
    c.close()  # synchronous Close/CloseOk round trip orders the acks first
    assert len(server.acked) == 5


def test_deliver_end_to_end_via_amqp_transport(spark, server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(30).selectExpr("id", "concat('q', id) AS msg")
    stats = deliver(
        df, "amqp_0_9",
        {"host": "127.0.0.1", "port": server.port, "routing_key": "spark.out"},
        batch_size=7,
    )
    assert stats["delivered"] == 30 and stats["dead"] == 0
    got = {json.loads(m)["msg"] for m in server.queues["spark.out"]}
    assert got == {f"q{i}" for i in range(30)}
