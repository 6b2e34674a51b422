"""PulsarClient against an in-process binary-protocol broker: frame
codec roundtrip, CONNECT/CONNECTED, producer lifecycle, pipelined
SEND/SEND_RECEIPT with out-of-order receipts and SEND_ERROR
drain-before-raise, checksum verification (broker recomputes CRC32C of
every payload frame and corrupt frames are rejected), PING interleave,
subscribe/FLOW/MESSAGE/ACK consume with stage-then-ack drain, and the
pulsar sink transport."""

from __future__ import annotations

import socketserver
import struct

import pytest

from bento_spark.operators.kafka_wire import crc32c
from bento_spark.operators.pulsar_wire import (
    ACK,
    CLOSE_PRODUCER,
    CONNECT,
    CONNECTED,
    FLOW,
    MESSAGE,
    PING,
    PONG,
    PRODUCER,
    PRODUCER_SUCCESS,
    SEND,
    SEND_ERROR,
    SEND_RECEIPT,
    SUBSCRIBE,
    SUCCESS,
    PulsarClient,
    PulsarError,
    decode_frame,
    encode_frame,
)
from bento_spark.serving import TcpServer


class _Handler(socketserver.StreamRequestHandler):
    def _frame(self, cmd, metadata=None, payload=b""):
        self.wfile.write(encode_frame(cmd, metadata, payload))
        self.wfile.flush()

    def _read(self):
        head = self.rfile.read(4)
        if len(head) != 4:
            return None
        (total,) = struct.unpack(">I", head)
        body = self.rfile.read(total)
        # independent re-verification of payload checksums
        (csize,) = struct.unpack_from(">I", body, 0)
        rest = body[4 + csize:]
        if rest:
            assert rest[:2] == b"\x0e\x01"
            (crc,) = struct.unpack_from(">I", rest, 2)
            assert crc32c(rest[6:]) == crc, "checksum mismatch at broker"
        return decode_frame(body)

    def handle(self):
        srv = self.server
        subs: dict[int, str] = {}
        while True:
            got = self._read()
            if got is None:
                return
            cmd, meta, payload = got
            t = cmd["type"]
            if t == CONNECT:
                assert cmd["connect"]["client_version"].startswith("bento")
                self._frame({"type": CONNECTED, "connected": {
                    "server_version": "pulsar-inproc/3.0",
                    "protocol_version": 21,
                }})
            elif t == PRODUCER:
                self._frame({"type": PRODUCER_SUCCESS, "producer_success": {
                    "request_id": cmd["producer"]["request_id"],
                    "producer_name": "standalone-0-1",
                }})
                srv.producer_topic = cmd["producer"]["topic"]
            elif t == SEND:
                seq = cmd["send"]["sequence_id"]
                if srv.ping_before_receipt:
                    srv.ping_before_receipt = False
                    self._frame({"type": PING})
                if payload in srv.reject_payloads:
                    self._frame({"type": SEND_ERROR, "send_error": {
                        "producer_id": cmd["send"]["producer_id"],
                        "sequence_id": seq, "error": 0,
                        "message": "PersistenceError",
                    }})
                    continue
                srv.messages.setdefault(srv.producer_topic, []).append(
                    (meta, payload)
                )
                # receipts may be delayed to arrive out of order
                receipt = {"type": SEND_RECEIPT, "send_receipt": {
                    "producer_id": cmd["send"]["producer_id"],
                    "sequence_id": seq,
                    "message_id": {"ledgerId": 7, "entryId": seq},
                }}
                if srv.delay_receipts:
                    srv.held.append(receipt)
                    if len(srv.held) >= srv.delay_receipts:
                        for r in reversed(srv.held):  # reversed = out of order
                            self._frame(r)
                        srv.held = []
                        srv.delay_receipts = 0
                else:
                    self._frame(receipt)
            elif t == CLOSE_PRODUCER:
                self._frame({"type": SUCCESS, "success": {
                    "request_id": cmd["close_producer"]["request_id"],
                }})
            elif t == SUBSCRIBE:
                cid = cmd["subscribe"]["consumer_id"]
                subs[cid] = cmd["subscribe"]["topic"]
                self._frame({"type": SUCCESS, "success": {
                    "request_id": cmd["subscribe"]["request_id"],
                }})
            elif t == FLOW:
                cid = cmd["flow"]["consumer_id"]
                topic = subs[cid]
                for i, (meta, payload) in enumerate(
                    srv.messages.get(topic, [])
                ):
                    if i >= cmd["flow"]["messagePermits"]:
                        break
                    self._frame(
                        {"type": MESSAGE, "message": {
                            "consumer_id": cid,
                            "message_id": {"ledgerId": 7, "entryId": i},
                        }},
                        meta, payload,
                    )
            elif t == ACK:
                srv.acked.append(cmd["ack"]["message_id"]["entryId"])
            elif t == PONG:
                pass
            else:
                raise AssertionError(f"unexpected command {t}")


class _Server(TcpServer):
    def __init__(self):
        self.messages: dict[str, list] = {}
        self.acked: list[int] = []
        self.reject_payloads: set[bytes] = set()
        self.delay_receipts = 0
        self.held: list = []
        self.ping_before_receipt = False
        self.producer_topic = ""
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_frame_codec_roundtrip():
    cmd = {"type": SEND, "send": {"producer_id": 3, "sequence_id": 9,
                                  "num_messages": 1}}
    meta = {"producer_name": "p", "sequence_id": 9, "publish_time": 123}
    frame = encode_frame(cmd, meta, b"hello \xf0\x9f\x8c\x8d")
    (total,) = struct.unpack_from(">I", frame, 0)
    assert total == len(frame) - 4
    c2, m2, p2 = decode_frame(frame[4:])
    assert c2["send"]["sequence_id"] == 9
    assert m2["producer_name"] == "p"
    assert p2 == b"hello \xf0\x9f\x8c\x8d"


def test_corrupt_checksum_rejected():
    frame = bytearray(encode_frame(
        {"type": SEND, "send": {"producer_id": 1, "sequence_id": 1,
                                "num_messages": 1}},
        {"producer_name": "p", "sequence_id": 1, "publish_time": 0},
        b"data",
    ))
    frame[-1] ^= 0xFF
    with pytest.raises(PulsarError, match="checksum"):
        decode_frame(bytes(frame[4:]))


def test_connect_produce_receipts(server):
    c = PulsarClient("127.0.0.1", server.port)
    assert c.server_version.startswith("pulsar-inproc")
    c.create_producer("persistent://public/default/t1")
    c.send([b"a", b"b", b"c"])
    got = [p for (_m, p) in server.messages["persistent://public/default/t1"]]
    assert got == [b"a", b"b", b"c"]
    c.close()


def test_out_of_order_receipts(server):
    server.delay_receipts = 3  # hold 3 receipts, release reversed
    c = PulsarClient("127.0.0.1", server.port)
    c.create_producer("t")
    c.send([b"x", b"y", b"z"])  # must complete despite reversed receipts
    assert len(server.messages["t"]) == 3
    c.close()


def test_send_error_drains_then_raises(server):
    server.reject_payloads = {b"bad"}
    c = PulsarClient("127.0.0.1", server.port)
    c.create_producer("t")
    with pytest.raises(PulsarError, match="PersistenceError"):
        c.send([b"ok1", b"bad", b"ok2"])
    # receipts fully drained -> connection still in sync
    c.send([b"ok3"])
    assert [p for _m, p in server.messages["t"]] == [b"ok1", b"ok2", b"ok3"]
    c.close()


def test_ping_interleaved_with_receipts(server):
    server.ping_before_receipt = True
    c = PulsarClient("127.0.0.1", server.port)
    c.create_producer("t")
    c.send([b"m"])  # client must PONG then read the receipt
    assert len(server.messages["t"]) == 1
    c.close()


def test_consume_stage_then_ack(server, tmp_path):
    pub = PulsarClient("127.0.0.1", server.port)
    pub.create_producer("feed")
    pub.send([b"one", b"two", b"three"])
    pub.close()

    sub = PulsarClient("127.0.0.1", server.port)
    sub.subscribe("feed", "spark-sub")
    n = sub.drain_to_dir(str(tmp_path), idle_timeout=0.3)
    sub.close()
    assert n == 3
    files = sorted(tmp_path.glob("pulsar-*.bin"))
    assert [f.read_bytes() for f in files] == [b"one", b"two", b"three"]
    assert server.acked == [0, 1, 2]  # acked only after staging


def test_pulsar_transport_spark_deliver(spark, server):
    import json

    from bento_spark.sinks.connector import deliver

    df = spark.range(20).selectExpr("id", "concat('p', id) AS msg")
    stats = deliver(
        df, "pulsar",
        {"host": "127.0.0.1", "port": server.port, "topic": "spark.out"},
        batch_size=7,
    )
    assert stats["delivered"] == 20 and stats["dead"] == 0
    got = {json.loads(p)["msg"] for _m, p in server.messages["spark.out"]}
    assert got == {f"p{i}" for i in range(20)}
