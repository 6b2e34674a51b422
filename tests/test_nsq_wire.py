"""NsqClient tests against an in-process nsqd speaking the public
wire protocol: magic + IDENTIFY negotiation, MPUB framing decoded
field-by-field, heartbeat NOP interleave, SUB/RDY/FIN consume flow,
stage-before-FIN drain with requeue redelivery, and error frames."""

from __future__ import annotations

import json
import socketserver
import struct

import pytest

from bento_spark.operators.nsq_wire import (
    FRAME_ERROR,
    FRAME_MESSAGE,
    FRAME_RESPONSE,
    NsqClient,
    NsqError,
)
from bento_spark.serving import TcpServer


class _Handler(socketserver.StreamRequestHandler):
    def _send_frame(self, ftype: int, data: bytes):
        body = struct.pack(">I", ftype) + data
        self.wfile.write(struct.pack(">I", len(body)) + body)
        self.wfile.flush()

    def _send_message(self, msg_id: bytes, body: bytes):
        assert len(msg_id) == 16
        data = struct.pack(">Q", 1234567890) + struct.pack(">H", 1) + msg_id + body
        self._send_frame(FRAME_MESSAGE, data)

    def handle(self):
        srv = self.server
        assert self.rfile.read(4) == b"  V2"
        sub_topic = None
        while True:
            line = self.rfile.readline()
            if not line:
                return
            parts = line.decode().rstrip("\n").split(" ")
            cmd = parts[0]
            if cmd == "IDENTIFY":
                (n,) = struct.unpack(">I", self.rfile.read(4))
                meta = json.loads(self.rfile.read(n))
                assert meta["client_id"] == "bento-spark"
                self._send_frame(FRAME_RESPONSE, b"OK")
                if srv.heartbeat_after_identify:
                    self._send_frame(FRAME_RESPONSE, b"_heartbeat_")
            elif cmd == "NOP":
                srv.nops += 1
            elif cmd == "MPUB":
                topic = parts[1]
                (total,) = struct.unpack(">I", self.rfile.read(4))
                blob = self.rfile.read(total)
                (count,) = struct.unpack_from(">I", blob, 0)
                pos = 4
                msgs = []
                for _ in range(count):
                    (sz,) = struct.unpack_from(">I", blob, pos)
                    msgs.append(blob[pos + 4 : pos + 4 + sz])
                    pos += 4 + sz
                assert pos == total, "MPUB body length mismatch"
                if srv.fail_pub:
                    self._send_frame(FRAME_ERROR, b"E_PUB_FAILED backpressure")
                    continue
                srv.topics.setdefault(topic, []).extend(msgs)
                if srv.heartbeat_before_ok:
                    self._send_frame(FRAME_RESPONSE, b"_heartbeat_")
                self._send_frame(FRAME_RESPONSE, b"OK")
            elif cmd == "SUB":
                sub_topic = parts[1]
                srv.channels.setdefault((parts[1], parts[2]), 0)
                self._send_frame(FRAME_RESPONSE, b"OK")
            elif cmd == "RDY":
                n = int(parts[1])
                pending = srv.topics.get(sub_topic, [])
                undelivered = pending[srv.delivered : srv.delivered + n]
                for i, body in enumerate(undelivered):
                    mid = f"{srv.delivered + i:016d}".encode()
                    self._send_message(mid, body)
                srv.delivered += len(undelivered)
            elif cmd == "FIN":
                srv.finned.add(parts[1])
            elif cmd == "REQ":
                srv.requeued.add(parts[1])
            elif cmd == "CLS":
                self._send_frame(FRAME_RESPONSE, b"CLOSE_WAIT")
                return


class _Server(TcpServer):
    def __init__(self):
        self.topics: dict[str, list[bytes]] = {}
        self.channels: dict = {}
        self.finned: set[str] = set()
        self.requeued: set[str] = set()
        self.delivered = 0
        self.nops = 0
        self.fail_pub = False
        self.heartbeat_after_identify = False
        self.heartbeat_before_ok = False
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_identify_and_mpub(server):
    c = NsqClient(port=server.port)
    c.publish("events", [b"one", "caf\xe9 ☃".encode(), b""])
    assert server.topics["events"] == [b"one", "caf\xe9 ☃".encode(), b""]
    c.close()


def test_heartbeats_answered_with_nop(server):
    server.heartbeat_after_identify = True
    server.heartbeat_before_ok = True
    c = NsqClient(port=server.port)
    c.publish("t", [b"x"])  # heartbeat arrives before the OK — must skip it
    assert server.topics["t"] == [b"x"]
    c.close()
    # the server thread records the NOP after the client's write; give
    # it a moment under load (the protocol behavior being asserted is
    # that publish() succeeded THROUGH the interleaved heartbeat above)
    import time

    for _ in range(100):
        if server.nops >= 1:
            break
        time.sleep(0.02)
    assert server.nops >= 1


def test_error_frame_raises(server):
    server.fail_pub = True
    c = NsqClient(port=server.port)
    with pytest.raises(NsqError, match="E_PUB_FAILED"):
        c.publish("t", [b"x"])


def test_consume_fin_flow(server):
    server.topics["inq"] = [b"m1", b"m2"]
    c = NsqClient(port=server.port)
    c.subscribe("inq", "ch")
    c.ready(2)
    mid1, b1 = c.next_message()
    mid2, b2 = c.next_message()
    assert (b1, b2) == (b"m1", b"m2")
    c.finish(mid1)
    c.finish(mid2)
    c.close()
    import time

    for _ in range(100):  # FIN is fire-and-forget; wait for the server thread
        if len(server.finned) == 2:
            break
        time.sleep(0.02)
    assert server.finned == {"0000000000000000", "0000000000000001"}


def test_drain_stages_before_fin(tmp_path, server):
    server.topics["drainq"] = [f"msg{i}".encode() for i in range(4)]
    c = NsqClient(port=server.port)
    n = c.drain_to_dir("drainq", "ch", str(tmp_path), max_msgs=10)
    assert n == 4
    rows = []
    for p in tmp_path.glob("*.ndjson"):
        rows += [json.loads(ln) for ln in p.read_text().splitlines()]
    assert {r["value"] for r in rows} == {f"msg{i}" for i in range(4)}
    c.close()
    import time

    for _ in range(100):
        if len(server.finned) == 4:
            break
        time.sleep(0.02)
    assert len(server.finned) == 4


def test_deliver_end_to_end_via_nsq_transport(spark, server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(25).selectExpr("id", "concat('n', id) AS msg")
    stats = deliver(
        df, "nsq",
        {"host": "127.0.0.1", "port": server.port, "topic": "spark.out"},
        batch_size=6,
    )
    assert stats["delivered"] == 25 and stats["dead"] == 0
    got = {json.loads(m)["msg"] for m in server.topics["spark.out"]}
    assert got == {f"n{i}" for i in range(25)}
