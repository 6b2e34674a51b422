"""PubSubClient tests against an in-process REST server replicating the
official emulator contract (publish/pull/acknowledge, base64 data, no
auth) plus Bearer-token verification when a provider is set — the
stage-then-ack drain with ack-deadline redelivery, staged-dir readback,
and the Spark deliver() loop."""

from __future__ import annotations

import base64
import json
import uuid
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.serving import HttpServer
from bento_spark.sources.gcp_pubsub import PubSubClient

PROJECT = "proj1"


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_POST(self):
        srv = self.server
        body = json.loads(
            self.rfile.read(int(self.headers.get("Content-Length", 0))) or b"{}"
        )
        if srv.required_token is not None:
            if self.headers.get("Authorization") != f"Bearer {srv.required_token}":
                return self._reply(401, {"error": "unauthenticated"})
        path = self.path
        assert path.startswith(f"/v1/projects/{PROJECT}/")
        if ":publish" in path:
            if srv.fail_publishes > 0:
                srv.fail_publishes -= 1
                return self._reply(503, {"error": "unavailable"})
            ids = []
            for m in body["messages"]:
                mid = str(uuid.uuid4())
                srv.messages[mid] = base64.b64decode(m["data"]).decode()
                ids.append(mid)
            self._reply(200, {"messageIds": ids})
        elif ":pull" in path:
            n = body.get("maxMessages", 100)
            # fresh ack deadline: anything unacked redelivers
            srv.outstanding.clear()
            got = []
            for mid, text in srv.messages.items():
                if len(got) >= n:
                    break
                ack = f"ack-{mid}"
                srv.outstanding.add(mid)
                got.append(
                    {
                        "ackId": ack,
                        "message": {
                            "data": base64.b64encode(text.encode()).decode(),
                            "messageId": mid,
                        },
                    }
                )
            self._reply(200, {"receivedMessages": got})
        elif ":acknowledge" in path:
            if srv.fail_acks > 0:
                srv.fail_acks -= 1
                return self._reply(503, {"error": "unavailable"})
            for ack in body["ackIds"]:
                srv.messages.pop(ack[4:], None)
            self._reply(200, {})
        else:
            self._reply(404, {"error": "not found"})

    def _reply(self, code: int, obj: dict):
        payload = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


class _Server(HttpServer):
    def __init__(self):
        self.messages: dict[str, str] = {}
        self.outstanding: set[str] = set()
        self.required_token: str | None = None
        self.fail_publishes = 0
        self.fail_acks = 0
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def _client(server, token=None):
    return PubSubClient(
        f"http://127.0.0.1:{server.port}", PROJECT,
        token_provider=(lambda: token) if token else None,
    )


def test_publish_pull_ack_roundtrip(server):
    c = _client(server)
    ids = c.publish("t1", ['{"x": 1}', "caf\xe9 ☃"])
    assert len(ids) == 2
    msgs = c.pull("s1")
    assert sorted(t for _, t in msgs) == sorted(['{"x": 1}', "caf\xe9 ☃"])
    c.acknowledge("s1", [a for a, _ in msgs])
    assert server.messages == {}


def test_bearer_token_enforced_when_provider_set(server):
    server.required_token = "tok-123"
    ok = _client(server, token="tok-123")
    assert ok.publish("t1", ["hello"])
    bad = _client(server, token="wrong")
    with pytest.raises(RuntimeError, match="HTTP 401"):
        bad.publish("t1", ["nope"])
    no_token = _client(server)
    with pytest.raises(RuntimeError, match="HTTP 401"):
        no_token.publish("t1", ["nope"])


def test_drain_stages_before_ack_and_redelivers(server, tmp_path):
    c = _client(server)
    c.publish("t1", [json.dumps({"i": i}) for i in range(7)])
    server.fail_acks = 1
    with pytest.raises(RuntimeError, match="acknowledge"):
        c.drain("s1", str(tmp_path))
    n2 = c.drain("s1", str(tmp_path))  # ack deadline expired -> redelivery
    assert n2 == 7 and server.messages == {}
    lines = [
        ln
        for p in tmp_path.glob("pubsub-*.jsonl")
        for ln in p.read_text().splitlines()
    ]
    assert len(lines) == 14  # staged twice: at-least-once, not exactly-once
    assert {json.loads(x)["i"] for x in lines} == set(range(7))


def test_staged_dir_reads_back_via_bento_queue(spark, server, tmp_path):
    from bento_spark.sources.pydatasource import register

    c = _client(server)
    c.publish("t1", [json.dumps({"n": i}) for i in range(9)])
    assert c.drain("s1", str(tmp_path)) == 9
    register(spark)
    df = spark.read.format("bento_queue").option("path", str(tmp_path)).load()
    assert {json.loads(r["value"])["n"] for r in df.collect()} == set(range(9))


def test_deliver_end_to_end_with_transient_503(spark, server):
    from bento_spark.sinks.connector import deliver

    server.fail_publishes = 1
    df = spark.range(10).coalesce(1).selectExpr("id", "concat('g', id) AS msg")
    stats = deliver(
        df, "gcp_pubsub",
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "project": PROJECT, "topic": "t1",
        },
        batch_size=5,
    )
    assert stats["delivered"] == 10 and stats["dead"] == 0
    got = {json.loads(t)["msg"] for t in server.messages.values()}
    assert got == {f"g{i}" for i in range(10)}
