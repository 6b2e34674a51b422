"""Azure Queue Storage tests against an in-process REST server that
VERIFIES every Shared Key signature by recomputation — put/get/delete
with pop receipts and visibility, the stage-durably-then-delete drain
(redelivery after a failed delete), reading the staged dir back through
the bento_queue source, and the Spark deliver() loop."""

from __future__ import annotations

import base64
import json
import re
import uuid
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.functions.azureauth import sign_request
from bento_spark.serving import HttpServer
from bento_spark.sources.azure_queue import AzureQueueClient

ACCOUNT = "testacct"
KEY = base64.b64encode(b"shared-key-bytes-0123456789abcdef").decode()


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _verify(self, body: bytes) -> bool:
        url = f"http://{self.headers.get('Host')}{self.path}"
        headers = {
            k: v
            for k, v in self.headers.items()
            if k.lower().startswith("x-ms-") or k.lower() == "content-type"
        }
        expected = sign_request(
            self.command, url, headers, body, ACCOUNT, KEY
        )["Authorization"]
        return self.headers.get("Authorization") == expected

    def _xml(self, code: int, payload: bytes):
        self.send_response(code)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if not self._verify(body):
            return self._xml(403, b"<Error>AuthenticationFailed</Error>")
        srv = self.server
        if srv.fail_puts > 0:
            srv.fail_puts -= 1
            return self._xml(500, b"<Error>InternalError</Error>")
        m = re.search(rb"<MessageText>(.*?)</MessageText>", body)
        mid = str(uuid.uuid4())
        srv.queue[mid] = m.group(1).decode()
        self._xml(201, b"<QueueMessagesList></QueueMessagesList>")

    def do_GET(self):
        if not self._verify(b""):
            return self._xml(403, b"<Error>AuthenticationFailed</Error>")
        srv = self.server
        # each GET models a fresh visibility window: anything still
        # undeleted from earlier gets (e.g. after a failed delete) has
        # "timed out" and is visible again — the redelivery semantics
        # the drain's at-least-once contract relies on
        srv.invisible.clear()
        n = int(re.search(r"numofmessages=(\d+)", self.path).group(1))
        assert n <= 32  # API maximum
        blocks = []
        for mid, txt in list(srv.queue.items()):
            if mid in srv.invisible or len(blocks) >= n:
                continue
            pop = f"pop-{mid}"
            srv.invisible.add(mid)
            blocks.append(
                f"<QueueMessage><MessageId>{mid}</MessageId>"
                f"<PopReceipt>{pop}</PopReceipt>"
                f"<MessageText>{txt}</MessageText></QueueMessage>"
            )
        self._xml(
            200,
            ("<QueueMessagesList>" + "".join(blocks)
             + "</QueueMessagesList>").encode(),
        )

    def do_DELETE(self):
        if not self._verify(b""):
            return self._xml(403, b"<Error>AuthenticationFailed</Error>")
        srv = self.server
        mid = self.path.split("/messages/")[1].split("?")[0]
        pop = re.search(r"popreceipt=([^&]+)", self.path).group(1)
        assert pop == f"pop-{mid}"  # pop receipt must round-trip
        if srv.fail_deletes > 0:
            srv.fail_deletes -= 1
            srv.invisible.discard(mid)  # visibility timeout expiry
            return self._xml(500, b"<Error>InternalError</Error>")
        srv.queue.pop(mid, None)
        srv.invisible.discard(mid)
        self._xml(204, b"")


class _Server(HttpServer):
    def __init__(self):
        self.queue: dict[str, str] = {}
        self.invisible: set[str] = set()
        self.fail_deletes = 0
        self.fail_puts = 0
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def _client(server):
    return AzureQueueClient(
        f"http://127.0.0.1:{server.port}", ACCOUNT, KEY, "q1"
    )


def test_put_get_delete_roundtrip(server):
    c = _client(server)
    c.put_messages(['{"a": 1}', "caf\xe9 ☃ with spaces"])
    got = c.get_messages(32)
    assert sorted(t for _, _, t in got) == sorted(
        ['{"a": 1}', "caf\xe9 ☃ with spaces"]
    )
    for mid, pop, _ in got:
        c.delete_message(mid, pop)
    assert server.queue == {}


def test_bad_key_rejected(server):
    bad = AzureQueueClient(
        f"http://127.0.0.1:{server.port}", ACCOUNT,
        base64.b64encode(b"wrong-key").decode(), "q1",
    )
    with pytest.raises(RuntimeError, match="HTTP 403"):
        bad.put_messages(["x"])


def test_drain_stages_before_delete_and_redelivers(server, tmp_path):
    c = _client(server)
    c.put_messages([json.dumps({"i": i}) for i in range(5)])
    server.fail_deletes = 1
    with pytest.raises(RuntimeError, match="DELETE"):
        c.drain(str(tmp_path))
    # staged but one delete failed -> that message comes back
    n2 = c.drain(str(tmp_path))
    assert n2 >= 1 and server.queue == {}
    lines = [
        ln
        for p in tmp_path.glob("azq-*.jsonl")
        for ln in p.read_text().splitlines()
    ]
    assert len(lines) >= 5  # at-least-once: duplicates allowed, loss not
    assert {json.loads(x)["i"] for x in lines} == set(range(5))


def test_staged_dir_reads_back_via_bento_queue(spark, server, tmp_path):
    from bento_spark.sources.pydatasource import register

    c = _client(server)
    c.put_messages([json.dumps({"n": i}) for i in range(40)])  # >32 = 2 pages
    assert c.drain(str(tmp_path)) == 40
    register(spark)
    df = spark.read.format("bento_queue").option("path", str(tmp_path)).load()
    assert {json.loads(r["value"])["n"] for r in df.collect()} == set(range(40))


def test_deliver_end_to_end_with_transient_500(spark, server):
    from bento_spark.sinks.connector import deliver

    server.fail_puts = 1
    df = spark.range(12).coalesce(1).selectExpr("id", "concat('z', id) AS msg")
    stats = deliver(
        df, "azure_queue",
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "account": ACCOUNT, "key": KEY, "queue": "q1",
        },
        batch_size=6,
    )
    assert stats["delivered"] == 12 and stats["dead"] == 0
    texts = {json.loads(base64.b64decode(t))["msg"] for t in server.queue.values()}
    assert texts >= {f"z{i}" for i in range(12)}
