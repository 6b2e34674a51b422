"""MqttClient tests against an in-process MQTT 3.1.1 broker:
remaining-length varint vectors from the spec, CONNECT/CONNACK,
QoS 0/1 publish with out-of-order PUBACKs, refused connections, and
the Spark deliver() loop end-to-end."""

from __future__ import annotations

import json
import socketserver
import struct

import pytest

from bento_spark.operators.mqtt_wire import (
    MqttClient,
    MqttError,
    decode_remaining_length,
    encode_remaining_length,
)
from bento_spark.serving import TcpServer


def test_remaining_length_spec_vectors():
    # OASIS spec §2.2.3 table: 127 -> 0x7F, 128 -> 0x80 0x01,
    # 16383 -> 0xFF 0x7F, 16384 -> 0x80 0x80 0x01
    assert encode_remaining_length(0) == b"\x00"
    assert encode_remaining_length(127) == b"\x7f"
    assert encode_remaining_length(128) == b"\x80\x01"
    assert encode_remaining_length(16383) == b"\xff\x7f"
    assert encode_remaining_length(16384) == b"\x80\x80\x01"
    for n in (0, 1, 127, 128, 16383, 16384, 2097151, 268435455):
        it = iter(encode_remaining_length(n))
        assert decode_remaining_length(lambda: next(it)) == n


class _Handler(socketserver.StreamRequestHandler):
    def _read_packet(self):
        first = self.rfile.read(1)
        if not first:
            return None
        n = decode_remaining_length(lambda: self.rfile.read(1)[0])
        return first[0] >> 4, first[0] & 0x0F, self.rfile.read(n)

    def handle(self):
        srv = self.server
        while True:
            pkt = self._read_packet()
            if pkt is None:
                return
            ptype, flags, body = pkt
            if ptype == 1:  # CONNECT
                (nlen,) = struct.unpack_from(">H", body, 0)
                assert body[2 : 2 + nlen] == b"MQTT"
                assert body[2 + nlen] == 4  # protocol level 3.1.1
                rc = 5 if srv.refuse else 0  # 5 = not authorized
                self.wfile.write(bytes([0x20, 2, 0, rc]))
                self.wfile.flush()
                if rc:
                    return
            elif ptype == 3:  # PUBLISH
                qos = (flags >> 1) & 3
                (tlen,) = struct.unpack_from(">H", body, 0)
                topic = body[2 : 2 + tlen].decode()
                pos = 2 + tlen
                pid = None
                if qos:
                    (pid,) = struct.unpack_from(">H", body, pos)
                    pos += 2
                srv.messages.setdefault(topic, []).append(body[pos:])
                if qos:
                    srv.pending_acks.append(pid)
                    # ack in REVERSE order once two stack up, proving the
                    # client matches by packet id, not arrival order
                    if len(srv.pending_acks) >= srv.ack_batch:
                        for p in reversed(srv.pending_acks):
                            self.wfile.write(bytes([0x40, 2]) + struct.pack(">H", p))
                        srv.pending_acks.clear()
                        self.wfile.flush()
            elif ptype == 8:  # SUBSCRIBE
                (pid,) = struct.unpack_from(">H", body, 0)
                (tlen,) = struct.unpack_from(">H", body, 2)
                topic = body[4 : 4 + tlen].decode()
                qos = body[4 + tlen]
                assert flags == 0x02  # spec 3.8.1: reserved flags 0010
                self.wfile.write(bytes([0x90, 3]) + struct.pack(">H", pid)
                                 + bytes([min(qos, 1)]))
                self.wfile.flush()
                # deliver everything queued on that topic as QoS-1
                # PUBLISHes; the client must PUBACK each AFTER staging
                dpid = 100
                for payload in srv.messages.get(topic, []):
                    var = struct.pack(">H", len(topic)) + topic.encode()
                    var += struct.pack(">H", dpid)
                    pkt_body = var + payload
                    self.wfile.write(bytes([0x32]))
                    self.wfile.write(
                        encode_remaining_length(len(pkt_body)) + pkt_body
                    )
                    dpid += 1
                self.wfile.flush()
            elif ptype == 4:  # PUBACK from a consuming client
                (apid,) = struct.unpack_from(">H", body, 0)
                srv.consumer_acks.append(apid)
            elif ptype == 14:  # DISCONNECT
                # flush any stragglers before the client goes away
                for p in srv.pending_acks:
                    self.wfile.write(bytes([0x40, 2]) + struct.pack(">H", p))
                srv.pending_acks.clear()
                self.wfile.flush()
                return


class _Server(TcpServer):
    def __init__(self):
        self.consumer_acks = []
        self.messages: dict[str, list[bytes]] = {}
        self.pending_acks: list[int] = []
        self.ack_batch = 1  # ack immediately by default
        self.refuse = False
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_connect_and_qos1_publish(server):
    c = MqttClient(port=server.port)
    c.publish("t/a", [b"one", "caf\xe9 ☃".encode()])
    assert server.messages["t/a"] == [b"one", "caf\xe9 ☃".encode()]
    c.close()


def test_out_of_order_pubacks_matched_by_id(server):
    server.ack_batch = 3  # broker acks 3 at a time, reversed
    c = MqttClient(port=server.port)
    c.publish("t/b", [b"m1", b"m2", b"m3"])  # must not hang or misattribute
    assert server.messages["t/b"] == [b"m1", b"m2", b"m3"]
    c.close()


def test_qos0_fire_and_forget(server):
    c = MqttClient(port=server.port)
    c.publish("t/c", [b"x", b"y"], qos=0)
    c.close()
    import time

    for _ in range(50):
        if len(server.messages.get("t/c", [])) == 2:
            break
        time.sleep(0.05)
    assert server.messages["t/c"] == [b"x", b"y"]


def test_refused_connection_raises(server):
    server.refuse = True
    with pytest.raises(MqttError, match="return code 5"):
        MqttClient(port=server.port)


def test_deliver_end_to_end_via_mqtt_transport(spark, server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(30).selectExpr("id", "concat('q', id) AS msg")
    stats = deliver(
        df, "mqtt",
        {"host": "127.0.0.1", "port": server.port, "topic": "spark/out"},
        batch_size=7,
    )
    assert stats["delivered"] == 30 and stats["dead"] == 0
    got = {json.loads(m)["msg"] for m in server.messages["spark/out"]}
    assert got == {f"q{i}" for i in range(30)}


def test_subscribe_drain_stage_then_ack(server, tmp_path):
    c = MqttClient(port=server.port)
    c.publish("jobs", [b"j1", b"j2", b"j3"])
    c.close()
    consumer = MqttClient(port=server.port, client_id="drainer")
    consumer.subscribe("jobs")
    out = tmp_path / "stage"
    out.mkdir()
    n = consumer.drain_to_dir(str(out), idle_timeout=0.3)
    consumer.close()
    assert n == 3
    staged = sorted(
        ln.rstrip("\n")
        for f in out.glob("*.ndjson") for ln in open(f)
    )
    assert staged == ["j1", "j2", "j3"]
    # every delivery was PUBACK'd (ids 100..102), AFTER staging
    assert sorted(server.consumer_acks) == [100, 101, 102]
