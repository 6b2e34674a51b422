"""NatsClient tests against an in-process NATS text-protocol server:
INFO/CONNECT handshake, pipelined verbose PUB acks, -ERR drain
discipline, PING/PONG interleave, SUB/MSG delivery, the staging drain,
and the Spark deliver() loop end-to-end."""

from __future__ import annotations

import json
import socketserver

import pytest

from bento_spark.operators.nats_wire import NatsClient, NatsError
from bento_spark.serving import TcpServer


class _Handler(socketserver.StreamRequestHandler):
    def handle(self):
        srv = self.server
        self.wfile.write(b'INFO {"server_id":"inproc","max_payload":1048576}\r\n')
        self.wfile.flush()
        subs = {}
        while True:
            line = self.rfile.readline()
            if not line:
                return
            line = line[:-2]
            if line.startswith(b"CONNECT "):
                srv.connects.append(json.loads(line[8:]))
                self.wfile.write(b"+OK\r\n")
            elif line.startswith(b"PUB "):
                parts = line.split(b" ")
                subject, n = parts[1], parts[-1]
                reply_to = parts[2] if len(parts) == 4 else None
                payload = self.rfile.read(int(n) + 2)[:-2]
                if srv.ping_before_ack:
                    srv.ping_before_ack = False
                    self.wfile.write(b"PING\r\n")
                    self.wfile.flush()
                    assert self.rfile.readline() == b"PONG\r\n"
                if srv.reject_payloads and payload in srv.reject_payloads:
                    self.wfile.write(b"-ERR 'Maximum Payload Violation'\r\n")
                else:
                    srv.messages.setdefault(subject.decode(), []).append(payload)
                    # deliver to live subscribers on this connection
                    for sid, subj in subs.items():
                        if subj == subject:
                            self.wfile.write(
                                b"MSG %s %s %d\r\n%s\r\n"
                                % (subject, sid, len(payload), payload)
                            )
                    # request/reply: a registered responder answers PUBs
                    # carrying a reply-to inbox (after the +OK ack below)
                    resp = None
                    if reply_to is not None and srv.responder is not None:
                        resp = srv.responder(subject.decode(), payload)
                    self.wfile.write(b"+OK\r\n")
                    if resp is not None:
                        for sid, subj in subs.items():
                            if subj == reply_to:
                                self.wfile.write(
                                    b"MSG %s %s %d\r\n%s\r\n"
                                    % (reply_to, sid, len(resp), resp)
                                )
                self.wfile.flush()
            elif line.startswith(b"SUB "):
                _, subject, sid = line.split(b" ")
                subs[sid] = subject
                # replay what's already published (test convenience)
                self.wfile.write(b"+OK\r\n")
                for p in srv.messages.get(subject.decode(), []):
                    self.wfile.write(
                        b"MSG %s %s %d\r\n%s\r\n" % (subject, sid, len(p), p)
                    )
                self.wfile.flush()
            elif line.startswith(b"UNSUB "):
                subs.pop(line.split(b" ")[1], None)
                self.wfile.write(b"+OK\r\n")
                self.wfile.flush()
            elif line == b"PONG":
                pass
            else:
                self.wfile.write(b"-ERR 'Unknown Protocol Operation'\r\n")
                self.wfile.flush()


class _Server(TcpServer):
    def __init__(self):
        self.messages: dict[str, list[bytes]] = {}
        self.connects: list[dict] = []
        self.reject_payloads: set[bytes] = set()
        self.ping_before_ack = False
        self.responder = None  # (subject, payload) -> reply bytes | None
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_handshake_and_pipelined_publish(server):
    c = NatsClient(port=server.port)
    assert server.connects[0]["verbose"] is True
    c.publish("orders", [b"a", b"b", "caf\xe9 ☃".encode()])
    assert server.messages["orders"] == [b"a", b"b", "caf\xe9 ☃".encode()]
    c.close()


def test_err_is_raised_after_draining_all_acks(server):
    server.reject_payloads = {b"bad"}
    c = NatsClient(port=server.port)
    with pytest.raises(NatsError, match="Maximum Payload"):
        c.publish("s", [b"ok1", b"bad", b"ok2"])
    # acks fully drained -> connection still usable
    c.publish("s", [b"ok3"])
    assert b"ok3" in server.messages["s"]
    c.close()


def test_ping_interleaved_with_acks(server):
    server.ping_before_ack = True
    c = NatsClient(port=server.port)
    c.publish("s", [b"x"])  # client must PONG then read the +OK
    assert server.messages["s"] == [b"x"]
    c.close()


def test_subscribe_and_drain_to_dir(server, tmp_path):
    pub = NatsClient(port=server.port)
    pub.publish("feed", [json.dumps({"i": i}).encode() for i in range(7)])
    pub.close()
    sub = NatsClient(port=server.port)
    n = sub.drain_to_dir("feed", str(tmp_path), max_msgs=7)
    sub.close()
    assert n == 7
    files = list(tmp_path.glob("nats-*.jsonl"))
    assert len(files) == 1
    lines = files[0].read_bytes().decode().splitlines()
    assert [json.loads(x)["i"] for x in lines] == list(range(7))


def test_deliver_end_to_end_via_nats_transport(spark, server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(25).selectExpr("id", "concat('n', id) AS msg")
    stats = deliver(
        df, "nats",
        {"host": "127.0.0.1", "port": server.port, "subject": "spark.out"},
        batch_size=10,
    )
    assert stats["delivered"] == 25 and stats["dead"] == 0
    got = {json.loads(m)["msg"] for m in server.messages["spark.out"]}
    assert got == {f"n{i}" for i in range(25)}


def test_request_reply_single(server):
    server.responder = lambda subj, payload: b"echo:" + payload
    c = NatsClient("127.0.0.1", server.port)
    assert c.request("svc.echo", b"hi") == b"echo:hi"
    assert c.request("svc.echo", b"again") == b"echo:again"
    c.close()


def test_request_reply_timeout(server):
    server.responder = None  # nobody answers
    c = NatsClient("127.0.0.1", server.port)
    with pytest.raises(NatsError, match="timed out"):
        c.request("svc.void", b"hello", timeout=0.3)
    c.close()


def test_nats_request_reply_processor(spark, server):
    """nats_request_reply processor end-to-end: per-partition
    connections, serial RPC per row, reply column + _error channel."""
    server.responder = lambda subj, payload: b"[" + payload + b"]"
    from bento_spark.operators.nats_wire import request_reply_enrich

    port = server.port
    df = spark.range(12).selectExpr("concat('m', id) AS body")
    out = request_reply_enrich(
        df,
        lambda: NatsClient("127.0.0.1", port),
        "svc.wrap",
        "body",
        "reply",
        timeout=5.0,
    )
    rows = {r["body"]: (r["reply"], r["_error"]) for r in out.collect()}
    assert rows == {f"m{i}": (f"[m{i}]", None) for i in range(12)}
