"""Service-sink transports: duckdb_append (REAL duckdb file),
slack_webhook, datadog_logs (gzip body), splunk_hec (HEC multi-event
framing + token auth), pusher (HMAC request signature verified by
recomputation), questdb (ILP over TCP against an in-process socket
server)."""

from __future__ import annotations

import gzip
import hashlib
import hmac
import json
import socketserver
import threading
from http.server import BaseHTTPRequestHandler

import duckdb
import pytest

from bento_spark.serving import HttpServer, TcpServer
from bento_spark.sinks.connector import TRANSPORTS, DeliveryError


class _HttpServer(HttpServer):
    """Records every request; per-test hooks tweak the response."""

    def __init__(self):
        class H(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(h):
                n = int(h.headers.get("Content-Length", 0))
                body = h.rfile.read(n)
                self.requests.append(
                    {
                        "path": h.path,
                        # urllib title-cases header names; normalize
                        "headers": {
                            k.lower(): v for k, v in h.headers.items()
                        },
                        "body": body,
                    }
                )
                status = self.next_status or 200
                self.next_status = None
                payload = b"{}"
                h.send_response(status)
                h.send_header("Content-Length", str(len(payload)))
                h.end_headers()
                h.wfile.write(payload)

        self.requests: list[dict] = []
        self.next_status: int | None = None
        super().__init__(H)


@pytest.fixture
def http_server():
    with _HttpServer() as srv:
        yield srv


# -- duckdb_append --------------------------------------------------------


def test_duckdb_append_creates_and_appends(tmp_path):
    db = str(tmp_path / "sink.duckdb")
    t = TRANSPORTS["duckdb_append"](
        {"path": db, "table": "events", "columns": ["id", "name"]}
    )
    t.send([json.dumps({"id": 1, "name": "a"}),
            json.dumps({"id": 2, "name": "b"})])
    t.send([json.dumps({"id": 3, "name": None, "extra": "ignored"})])
    t.close()
    con = duckdb.connect(db)
    rows = con.execute(
        'SELECT id, name FROM "events" ORDER BY id'
    ).fetchall()
    con.close()
    assert rows == [("1", "a"), ("2", "b"), ("3", None)]


def test_duckdb_append_concurrent_writers_serialize(tmp_path):
    db = str(tmp_path / "c.duckdb")

    def write(k):
        t = TRANSPORTS["duckdb_append"](
            {"path": db, "table": "t", "columns": ["v"]}
        )
        for i in range(5):
            t.send([json.dumps({"v": f"{k}-{i}"})])
        t.close()

    threads = [threading.Thread(target=write, args=(k,)) for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    con = duckdb.connect(db)
    n = con.execute('SELECT count(*) FROM "t"').fetchone()[0]
    con.close()
    assert n == 20  # flock serialized all writers; nothing lost


# -- slack_webhook --------------------------------------------------------


def test_slack_webhook_posts_text_json(http_server):
    t = TRANSPORTS["slack_webhook"]({"webhook": http_server.url + "/hook"})
    t.send(["alert: disk full", "second"])
    t.close()
    assert len(http_server.requests) == 2
    assert json.loads(http_server.requests[0]["body"]) == {
        "text": "alert: disk full"
    }


def test_slack_webhook_429_is_retryable(http_server):
    t = TRANSPORTS["slack_webhook"]({"webhook": http_server.url})
    http_server.next_status = 429
    with pytest.raises(DeliveryError) as ei:
        t.send(["m"])
    assert ei.value.retryable
    t.close()


# -- datadog_logs ---------------------------------------------------------


def test_datadog_gzip_batch_with_api_key(http_server):
    t = TRANSPORTS["datadog_logs"](
        {
            "endpoint": http_server.url,
            "api_key": "dd-key",
            "source": "bento",
            "service": "pipeline",
        }
    )
    t.send(["log one", "log two"])
    t.close()
    (req,) = http_server.requests
    assert req["path"] == "/api/v2/logs"
    assert req["headers"]["dd-api-key"] == "dd-key"
    assert req["headers"]["content-encoding"] == "gzip"
    events = json.loads(gzip.decompress(req["body"]))
    assert [e["message"] for e in events] == ["log one", "log two"]
    assert events[0]["ddsource"] == "bento"
    assert events[0]["service"] == "pipeline"


# -- splunk_hec -----------------------------------------------------------


def test_splunk_hec_multi_event_body_and_token(http_server):
    t = TRANSPORTS["splunk_hec"](
        {
            "url": http_server.url,
            "token": "hec-token",
            "event_sourcetype": "json",
            "event_index": "main",
        }
    )
    t.send(["e1", "e2"])
    t.close()
    (req,) = http_server.requests
    assert req["path"] == "/services/collector/event"
    assert req["headers"]["authorization"] == "Splunk hec-token"
    # HEC's multi-event format: concatenated JSON objects
    dec = json.JSONDecoder()
    body, events, i = req["body"].decode(), [], 0
    while i < len(body):
        obj, j = dec.raw_decode(body, i)
        events.append(obj)
        i = j
    assert [e["event"] for e in events] == ["e1", "e2"]
    assert events[0]["sourcetype"] == "json"
    assert events[0]["index"] == "main"


# -- pusher ---------------------------------------------------------------


def test_pusher_hmac_signature_verified(http_server):
    secret = "pusher-secret"
    t = TRANSPORTS["pusher"](
        {
            "endpoint": http_server.url,
            "app_id": "42",
            "key": "app-key",
            "secret": secret,
            "channel": "orders",
            "event": "created",
        }
    )
    t.send([json.dumps({"order": i}) for i in range(12)])  # spans 10-limit
    t.close()
    assert len(http_server.requests) == 2  # 10 + 2
    for req in http_server.requests:
        path, _, query = req["path"].partition("?")
        assert path == "/apps/42/batch_events"
        params = dict(p.split("=", 1) for p in query.split("&"))
        # recompute the documented signature with the shared secret
        qs = "&".join(
            f"{k}={params[k]}"
            for k in sorted(params)
            if k != "auth_signature"
        )
        want = hmac.new(
            secret.encode(), f"POST\n{path}\n{qs}".encode(), hashlib.sha256
        ).hexdigest()
        assert params["auth_signature"] == want
        assert params["body_md5"] == hashlib.md5(req["body"]).hexdigest()
    batch = json.loads(http_server.requests[0]["body"])["batch"]
    assert len(batch) == 10
    assert batch[0] == {
        "name": "created",
        "channel": "orders",
        "data": '{"order": 0}',
    }


# -- questdb --------------------------------------------------------------


class _IlpServer(TcpServer):
    def __init__(self):
        class H(socketserver.StreamRequestHandler):
            def handle(h):
                while True:
                    line = h.rfile.readline()
                    if not line:
                        return
                    self.lines.append(line.decode().rstrip("\n"))

        self.lines: list[str] = []
        super().__init__(H)


def test_questdb_ilp_typing_and_escaping():
    srv = _IlpServer()
    try:
        t = TRANSPORTS["questdb"](
            {
                "address": f"127.0.0.1:{srv.port}",
                "table": "metrics",
            }
        )
        t.send(
            [
                json.dumps(
                    {"n": 7, "ratio": 0.5, "ok": True,
                     "msg": 'say "hi"', "skip": None}
                )
            ]
        )
        t.close()
        deadline = 50
        while not srv.lines and deadline:
            import time

            time.sleep(0.02)
            deadline -= 1
        (line,) = srv.lines
        assert line == (
            'metrics n=7i,ratio=0.5,ok=t,msg="say \\"hi\\""'
        )
    finally:
        srv.stop()
