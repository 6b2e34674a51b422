"""Metrics emitters (prometheus/json_api/statsd/influxdb/cloudwatch/
logger) and tracers (OTLP JSON, Cloud Trace) against in-process
HTTP/UDP/TCP servers, plus the distributed redis rate limit."""

from __future__ import annotations

import json
import socket
import socketserver
import urllib.request

import pytest

from bento_spark.observability import (
    JsonApiServer,
    MetricsRegistry,
    PrometheusServer,
    Span,
    Tracer,
    cloudtrace_export,
    cloudwatch_flush,
    influxdb_flush,
    logger_flush,
    otlp_export,
    otlp_payload,
    prometheus_exposition,
    statsd_flush,
)
from bento_spark.serving import HttpServer, TcpServer


@pytest.fixture()
def reg():
    r = MetricsRegistry()
    r.counter("output.sent", 5, output="kafka")
    r.counter("output.sent", 2, output="kafka")
    r.counter("output.error", 1)
    r.gauge("buffer.backlog", 42)
    r.timing("output.latency", 0.05)
    r.timing("output.latency", 0.15)
    return r


def test_registry_snapshot(reg):
    snap = reg.snapshot()
    assert snap["counters"]['output.sent{"output": "kafka"}'] == 7
    assert snap["counters"]["output.error"] == 1
    assert snap["gauges"]["buffer.backlog"] == 42
    t = snap["timings"]["output.latency"]
    assert t["count"] == 2 and abs(t["sum"] - 0.2) < 1e-9


def test_prometheus_exposition_and_scrape(reg):
    text = prometheus_exposition(reg)
    assert 'output_sent{output="kafka"} 7' in text
    assert "# TYPE buffer_backlog gauge" in text
    assert "output_latency_count 2" in text
    with PrometheusServer(reg) as srv, urllib.request.urlopen(
        f"{srv.url}/metrics"
    ) as resp:
        assert resp.headers["Content-Type"].startswith("text/plain")
        assert b"output_sent" in resp.read()


def test_json_api_endpoint(reg):
    with JsonApiServer(reg) as srv, urllib.request.urlopen(
        f"{srv.url}/"
    ) as resp:
        snap = json.loads(resp.read())
    assert snap["gauges"]["buffer.backlog"] == 42


def test_statsd_udp(reg):
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind(("127.0.0.1", 0))
    sock.settimeout(2)
    port = sock.getsockname()[1]
    n = statsd_flush(reg, "127.0.0.1", port)
    grams = {sock.recvfrom(1024)[0].decode() for _ in range(n)}
    sock.close()
    assert "output.sent:7|c" in grams
    assert "buffer.backlog:42|g" in grams
    assert "output.latency:50|ms" in grams


def test_influxdb_tcp(reg):
    got = []

    class H(socketserver.StreamRequestHandler):
        def handle(self):
            got.append(self.rfile.read())

    with TcpServer(H) as srv:
        n = influxdb_flush(reg, "127.0.0.1", srv.port)
        assert n == 4
        # the handler thread appends after the client closes — wait
        import time

        for _ in range(100):
            if got:
                break
            time.sleep(0.02)
    lines = got[0].decode().splitlines()
    assert any("output_sent=7" in ln and "output=kafka" in ln for ln in lines)
    assert any("output_latency_count=2i" in ln for ln in lines)


def test_cloudwatch_putmetricdata_signed(reg):
    from http.server import BaseHTTPRequestHandler
    from urllib.parse import parse_qsl

    from bento_spark.functions.awsauth import sign_request

    calls = []

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            expected = sign_request(
                "POST", self.headers["Host"], "/",
                {"content-type": self.headers["Content-Type"]},
                body, "AK", "SK", "eu-west-1", "monitoring",
                self.headers["x-amz-date"],
            )["Authorization"]
            import re
            want = re.search(r"Signature=(\w+)", expected).group(1)
            have = re.search(
                r"Signature=(\w+)", self.headers.get("Authorization", "")
            )
            code = 200 if have and have.group(1) == want else 403
            if code == 200:
                calls.append(dict(parse_qsl(body.decode())))
            self.send_response(code)
            self.send_header("Content-Length", "0")
            self.end_headers()

    with HttpServer(H) as srv:
        n = cloudwatch_flush(
            reg, srv.url,
            region="eu-west-1", access_key="AK", secret_key="SK",
        )
        assert n == 3  # 2 counters + 1 gauge
    q = calls[0]
    assert q["Action"] == "PutMetricData" and q["Namespace"] == "Bento"
    names = {v for k, v in q.items() if k.endswith("MetricName")}
    assert names == {"output.sent", "output.error", "buffer.backlog"}
    dims = {v for k, v in q.items() if "Dimensions" in k and k.endswith("Value")}
    assert "kafka" in dims


def test_logger_flush(reg):
    lines = []
    n = logger_flush(reg, lines.append)
    assert n == 4
    assert any("buffer.backlog=42" in ln for ln in lines)
    assert any("timing output.latency count=2" in ln for ln in lines)


# ---- tracers --------------------------------------------------------------

def test_span_nesting_and_otlp_payload():
    tr = Tracer("svc-x")
    with tr.span("parent", table="orders") as p:
        with tr.span("child", parent=p):
            pass
    spans = tr.drain()
    assert [s.name for s in spans] == ["child", "parent"]
    child, parent = spans
    assert child.trace_id == parent.trace_id
    assert child.parent_id == parent.span_id
    payload = otlp_payload(tr, spans)
    ss = payload["resourceSpans"][0]["scopeSpans"][0]["spans"]
    assert ss[1]["name"] == "parent"
    assert {"key": "table", "value": {"stringValue": "orders"}} in ss[1]["attributes"]
    assert int(ss[0]["endTimeUnixNano"]) >= int(ss[0]["startTimeUnixNano"])


def test_span_error_capture():
    tr = Tracer()
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError("nope")
    (s,) = tr.drain()
    assert s.attributes["error"] == "nope"


def _http_sink(store):
    from http.server import BaseHTTPRequestHandler

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            store.append((self.path, json.loads(body),
                          dict(self.headers)))
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")

    return HttpServer(H)


def test_otlp_export_http():
    tr = Tracer("exporter-test")
    with tr.span("op-a"):
        pass
    store = []
    with _http_sink(store) as srv:
        n = otlp_export(tr, srv.url)
        assert n == 1
    path, body, _h = store[0]
    assert path == "/v1/traces"
    res = body["resourceSpans"][0]
    assert res["resource"]["attributes"][0]["value"]["stringValue"] == "exporter-test"
    assert tr.drain() == []  # drained


def test_cloudtrace_export():
    tr = Tracer()
    with tr.span("bq-load"):
        pass
    store = []
    with _http_sink(store) as srv:
        n = cloudtrace_export(
            tr, srv.url, "proj-1", token_provider=lambda: "tok",
        )
        assert n == 1
    path, body, headers = store[0]
    assert path == "/v2/projects/proj-1/traces:batchWrite"
    assert headers["Authorization"] == "Bearer tok"
    span = body["spans"][0]
    assert span["displayName"]["value"] == "bq-load"
    assert span["name"].startswith("projects/proj-1/traces/")
    assert span["endTime"].endswith("Z")


# ---- redis rate limit -----------------------------------------------------

def test_redis_rate_limit_distributed(monkeypatch):
    from tests.test_redis_protocol import _Server

    from bento_spark.operators.kvstore import RedisKV
    from bento_spark.operators.ratelimit import RedisRateLimit

    with _Server() as srv:
        t = [100.0]

        class Clock:
            @staticmethod
            def time():
                return t[0]

            @staticmethod
            def sleep(s):
                t[0] += s

        a = RedisRateLimit(RedisKV(port=srv.port), count=5, interval=1.0,
                           clock=Clock)
        b = RedisRateLimit(RedisKV(port=srv.port), count=5, interval=1.0,
                           clock=Clock)
        # two processes share the budget: 3 + 2 admitted, 6th denied
        assert a.access(3) == 0.0
        assert b.access(2) == 0.0
        wait = b.access(1)
        assert wait > 0  # over budget -> wait until next window
        # the window key got a TTL
        assert srv.expires
        # throttle sleeps into the next window then admits
        slept = b.throttle(1)
        assert slept > 0
