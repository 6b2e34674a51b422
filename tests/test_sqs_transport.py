"""SQS connector-sink transport tests against an in-process HTTP server
implementing SendMessageBatch — SigV4 verified by recomputation, the
10-entries-per-call protocol limit, transient-failure retry, partial
batch failures (SenderFault routing), and bad-credential rejection
through the full Spark deliver() loop."""

from __future__ import annotations

import json
import re
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.functions.awsauth import sign_request
from bento_spark.serving import HttpServer
from bento_spark.sinks.connector import deliver

SECRET = "sqs-secret"
ACCESS = "AKIASQS"
REGION = "ap-south-1"
QURL = "https://sqs.example/123/q1"


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_POST(self):
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        auth = self.headers.get("Authorization", "")
        expected = sign_request(
            "POST",
            self.headers.get("Host"),
            "/",
            {
                "content-type": self.headers.get("Content-Type"),
                "x-amz-target": self.headers.get("x-amz-target"),
            },
            body,
            ACCESS,
            SECRET,
            REGION,
            "sqs",
            self.headers.get("x-amz-date", ""),
        )["Authorization"]
        got = re.search(r"Signature=(\w+)", auth)
        want = re.search(r"Signature=(\w+)", expected)
        if not got or got.group(1) != want.group(1):
            self.send_response(403)
            payload = b'{"__type":"InvalidSignatureException"}'
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
            return
        req = json.loads(body)
        assert req["QueueUrl"] == QURL
        entries = req["Entries"]
        srv.calls.append(len(entries))
        if srv.fail_500_first and len(srv.calls) == 1:
            self.send_response(500)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")
            return
        failed, ok = [], []
        for e in entries:
            if srv.throttle_first and len(srv.calls) == 1:
                failed.append(
                    {"Id": e["Id"], "SenderFault": False, "Code": "Throttled"}
                )
            elif srv.reject_all:
                failed.append(
                    {"Id": e["Id"], "SenderFault": True,
                     "Code": "InvalidMessageContents"}
                )
            else:
                srv.messages.append(e["MessageBody"])
                ok.append({"Id": e["Id"], "MessageId": f"m-{len(srv.messages)}"})
        payload = json.dumps({"Successful": ok, "Failed": failed}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


class _Server(HttpServer):
    def __init__(self):
        self.messages: list[str] = []
        self.calls: list[int] = []
        self.fail_500_first = False
        self.throttle_first = False
        self.reject_all = False
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def _conf(server, **kw):
    return {
        "endpoint": f"http://127.0.0.1:{server.port}",
        "queue_url": QURL,
        "region": REGION,
        "access_key": ACCESS,
        "secret_key": SECRET,
        **kw,
    }


def test_deliver_end_to_end_respects_batch_limit(spark, server):
    df = spark.range(57).selectExpr("id", "concat('m', id) AS msg")
    stats = deliver(df, "sqs", _conf(server), batch_size=25)
    assert stats["delivered"] == 57 and stats["dead"] == 0
    assert all(c <= 10 for c in server.calls)  # protocol limit per call
    got = {json.loads(m)["msg"] for m in server.messages}
    assert got == {f"m{i}" for i in range(57)}


def test_transient_500_is_retried(spark, server):
    server.fail_500_first = True
    df = spark.range(5).coalesce(1).selectExpr("id")
    stats = deliver(df, "sqs", _conf(server), batch_size=10)
    assert stats["delivered"] == 5 and stats["dead"] == 0
    assert len(server.calls) >= 2


def test_throttled_entries_retry_as_batch(spark, server):
    server.throttle_first = True
    df = spark.range(8).coalesce(1).selectExpr("id")
    stats = deliver(df, "sqs", _conf(server), batch_size=10)
    assert stats["delivered"] == 8 and stats["dead"] == 0


def test_sender_fault_goes_to_dlq(spark, server, tmp_path):
    server.reject_all = True
    df = spark.range(4).coalesce(1).selectExpr("id")
    stats = deliver(
        df, "sqs", _conf(server), batch_size=10, dlq_path=str(tmp_path)
    )
    assert stats["dead"] == 4 and stats["delivered"] == 0
    assert any(p.name.startswith("dead-") for p in tmp_path.iterdir())


def test_bad_credentials_dead_letter(spark, server, tmp_path):
    conf = _conf(server, secret_key="wrong")
    df = spark.range(3).coalesce(1).selectExpr("id")
    stats = deliver(df, "sqs", conf, batch_size=10, dlq_path=str(tmp_path))
    assert stats["dead"] == 3  # 403 is non-retryable -> straight to DLQ
    assert len(server.calls) == 0  # nothing ever accepted
