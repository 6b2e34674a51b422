"""Observability plane — metrics emitters and tracers mirroring the
reference's component inventories
(website/docs/components/metrics/{logger,json_api,prometheus,statsd,
influxdb,aws_cloudwatch,none}.md and
tracers/{open_telemetry_collector,jaeger,gcp_cloudtrace,none}.md).

The engine-side surface is a MetricsRegistry (counters / gauges /
timings — the same triple `service.Metrics` exposes) fed by the places
the engine already measures: the connector delivery loop's stats, the
`metric` processor's df.observe aggregates, and streaming-listener
progress. Emitters FLUSH a registry snapshot:

* ``logger``      — one log line per metric.
* ``json_api``    — an HTTP endpoint serving the snapshot as JSON (the
  reference's debug endpoint shape).
* ``prometheus``  — the text exposition format v0.0.4 over HTTP
  (counters as ``name{labels} value``), scrape-compatible.
* ``statsd``      — UDP datagrams ``name:value|c`` / ``|g`` / ``|ms``.
* ``influxdb``    — ILP lines over TCP (same line protocol the questdb
  transport speaks).
* ``aws_cloudwatch`` — PutMetricData (Query protocol, SigV4-signed by
  functions/awsauth.py).
* ``none``        — drop.

Tracers emit SPANS (operation, start/end ns, attributes, parent):

* ``open_telemetry_collector`` — OTLP/HTTP JSON
  (``/v1/traces`` ExportTraceServiceRequest, the public OTLP encoding);
  ``jaeger`` is an alias for the same OTLP endpoint (Jaeger natively
  ingests OTLP; its legacy thrift ingest is deprecated upstream).
* ``gcp_cloudtrace`` — the public REST ``projects.traces.batchWrite``
  JSON shape with injectable bearer auth.
* ``none`` — drop.

All HTTP/UDP/TCP targets are tested against in-process servers
(tests/test_observability.py).
"""

from __future__ import annotations

import json
import secrets
import threading
import time
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler

from bento_spark.serving import HttpServer


class MetricsRegistry:
    """Thread-safe counters/gauges/timings with label support."""

    def __init__(self):
        self._lock = threading.Lock()
        self.counters: dict[tuple, float] = {}
        self.gauges: dict[tuple, float] = {}
        self.timings: dict[tuple, list[float]] = {}

    @staticmethod
    def _key(name: str, labels: dict | None) -> tuple:
        return (name, tuple(sorted((labels or {}).items())))

    def counter(self, name: str, value: float = 1, **labels) -> None:
        k = self._key(name, labels)
        with self._lock:
            self.counters[k] = self.counters.get(k, 0) + value

    def gauge(self, name: str, value: float, **labels) -> None:
        with self._lock:
            self.gauges[self._key(name, labels)] = value

    def timing(self, name: str, seconds: float, **labels) -> None:
        k = self._key(name, labels)
        with self._lock:
            self.timings.setdefault(k, []).append(seconds)

    def snapshot(self) -> dict:
        def fmt(d):
            return {
                name + ("" if not labels else json.dumps(dict(labels), sort_keys=True)): v
                for (name, labels), v in d.items()
            }

        with self._lock:
            return {
                "counters": fmt(self.counters),
                "gauges": fmt(self.gauges),
                "timings": {
                    k: {"count": len(v), "sum": sum(v), "max": max(v)}
                    for k, v in fmt(self.timings).items()
                },
            }

    # raw (name, labels) -> value iterators for emitters
    def _items(self):
        with self._lock:
            return (
                dict(self.counters), dict(self.gauges),
                {k: list(v) for k, v in self.timings.items()},
            )


# ---------------------------------------------------------------------------
# metrics emitters
# ---------------------------------------------------------------------------

def _prom_line(name: str, labels: tuple, value: float) -> str:
    safe = name.replace(".", "_").replace("-", "_")
    if labels:
        inner = ",".join(f'{k}="{v}"' for k, v in labels)
        return f"{safe}{{{inner}}} {value:g}"
    return f"{safe} {value:g}"


def prometheus_exposition(reg: MetricsRegistry) -> str:
    """Text exposition format v0.0.4."""
    counters, gauges, timings = reg._items()
    out = []
    for (name, labels), v in sorted(counters.items()):
        out.append(f"# TYPE {name.replace('.', '_')} counter")
        out.append(_prom_line(name, labels, v))
    for (name, labels), v in sorted(gauges.items()):
        out.append(f"# TYPE {name.replace('.', '_')} gauge")
        out.append(_prom_line(name, labels, v))
    for (name, labels), vals in sorted(timings.items()):
        base = name.replace(".", "_")
        out.append(f"# TYPE {base} summary")
        out.append(_prom_line(name + "_count", labels, len(vals)))
        out.append(_prom_line(name + "_sum", labels, sum(vals)))
    return "\n".join(out) + "\n"


class _MetricsHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _body(self, ctype: str, body: bytes) -> None:
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class _PrometheusHandler(_MetricsHandler):
    def do_GET(self):
        if self.path not in ("/metrics", "/"):
            self.send_response(404)
            self.end_headers()
            return
        self._body(
            "text/plain; version=0.0.4",
            prometheus_exposition(self.server.registry).encode(),
        )


class _JsonApiHandler(_MetricsHandler):
    def do_GET(self):
        self._body(
            "application/json",
            json.dumps(self.server.registry.snapshot(), sort_keys=True).encode(),
        )


class PrometheusServer(HttpServer):
    """`prometheus` metrics: scrape endpoint over stdlib http.server."""

    def __init__(self, registry: MetricsRegistry, port: int = 0):
        self.registry = registry
        super().__init__(_PrometheusHandler, ("127.0.0.1", port))


class JsonApiServer(HttpServer):
    """`json_api` metrics: the snapshot as JSON (debug endpoint)."""

    def __init__(self, registry: MetricsRegistry, port: int = 0):
        self.registry = registry
        super().__init__(_JsonApiHandler, ("127.0.0.1", port))


def statsd_flush(reg: MetricsRegistry, host: str, port: int) -> int:
    """`statsd` metrics: one UDP datagram per metric
    (``name:value|c`` counters, ``|g`` gauges, ``|ms`` timings)."""
    import socket

    counters, gauges, timings = reg._items()
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    n = 0
    try:
        for (name, labels), v in counters.items():
            sock.sendto(f"{name}:{v:g}|c".encode(), (host, port))
            n += 1
        for (name, labels), v in gauges.items():
            sock.sendto(f"{name}:{v:g}|g".encode(), (host, port))
            n += 1
        for (name, labels), vals in timings.items():
            for t in vals:
                sock.sendto(
                    f"{name}:{t * 1000:g}|ms".encode(), (host, port)
                )
                n += 1
    finally:
        sock.close()
    return n


def influxdb_flush(
    reg: MetricsRegistry, host: str, port: int, measurement: str = "bento"
) -> int:
    """`influxdb` metrics: ILP lines over TCP (shared dialect with the
    questdb transport)."""
    import socket

    counters, gauges, timings = reg._items()
    lines = []
    for (name, labels), v in sorted(counters.items()):
        tags = "".join(f",{k}={v2}" for k, v2 in labels)
        lines.append(f"{measurement}{tags} {name.replace('.', '_')}={v:g}")
    for (name, labels), v in sorted(gauges.items()):
        tags = "".join(f",{k}={v2}" for k, v2 in labels)
        lines.append(f"{measurement}{tags} {name.replace('.', '_')}={v:g}")
    for (name, labels), vals in sorted(timings.items()):
        tags = "".join(f",{k}={v2}" for k, v2 in labels)
        lines.append(
            f"{measurement}{tags} "
            f"{name.replace('.', '_')}_sum={sum(vals):g},"
            f"{name.replace('.', '_')}_count={len(vals)}i"
        )
    payload = ("\n".join(lines) + "\n").encode()
    with socket.create_connection((host, port), timeout=10) as s:
        s.sendall(payload)
    return len(lines)


def cloudwatch_flush(
    reg: MetricsRegistry,
    endpoint: str,
    namespace: str = "Bento",
    region: str = "us-east-1",
    access_key: str = "local",
    secret_key: str = "local",
) -> int:
    """`aws_cloudwatch` metrics: PutMetricData over the Query protocol
    with SigV4 (metric names + dimensions from labels)."""
    import urllib.request
    from urllib.parse import quote, urlparse

    from bento_spark.functions.awsauth import sign_request

    counters, gauges, _timings = reg._items()
    params: dict[str, str] = {
        "Action": "PutMetricData",
        "Version": "2010-08-01",
        "Namespace": namespace,
    }
    i = 0
    for (name, labels), v in list(counters.items()) + list(gauges.items()):
        i += 1
        params[f"MetricData.member.{i}.MetricName"] = name
        params[f"MetricData.member.{i}.Value"] = f"{v:g}"
        for j, (k, lv) in enumerate(labels, start=1):
            params[f"MetricData.member.{i}.Dimensions.member.{j}.Name"] = k
            params[f"MetricData.member.{i}.Dimensions.member.{j}.Value"] = str(lv)
    body = "&".join(
        f"{quote(k, safe='')}={quote(str(v), safe='')}"
        for k, v in sorted(params.items())
    ).encode()
    host = urlparse(endpoint).netloc
    amz = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    headers = sign_request(
        "POST", host, "/",
        {"content-type": "application/x-www-form-urlencoded"},
        body, access_key, secret_key, region, "monitoring", amz,
    )
    req = urllib.request.Request(
        endpoint, data=body, headers=headers, method="POST"
    )
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        resp.read()
    return i


def logger_flush(reg: MetricsRegistry, log: Callable[[str], None]) -> int:
    """`logger` metrics: one line per metric."""
    snap = reg.snapshot()
    n = 0
    for kind in ("counters", "gauges"):
        for name, v in sorted(snap[kind].items()):
            log(f"metric {kind[:-1]} {name}={v:g}")
            n += 1
    for name, agg in sorted(snap["timings"].items()):
        log(
            f"metric timing {name} count={agg['count']} "
            f"sum={agg['sum']:.6f}s"
        )
        n += 1
    return n


# ---------------------------------------------------------------------------
# tracers
# ---------------------------------------------------------------------------

class Span:
    def __init__(self, tracer: "Tracer", name: str, parent: "Span | None",
                 attributes: dict | None):
        self.tracer = tracer
        self.name = name
        self.trace_id = parent.trace_id if parent else secrets.token_hex(16)
        self.span_id = secrets.token_hex(8)
        self.parent_id = parent.span_id if parent else None
        self.attributes = dict(attributes or {})
        self.start_ns = time.time_ns()
        self.end_ns: int | None = None

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc is not None:
            self.attributes["error"] = str(exc)
        self.end()
        return False

    def end(self) -> None:
        if self.end_ns is None:
            self.end_ns = time.time_ns()
            self.tracer._finished.append(self)


class Tracer:
    """Span collection + pluggable exporter."""

    def __init__(self, service_name: str = "bento-spark"):
        self.service_name = service_name
        self._finished: list[Span] = []

    def span(self, name: str, parent: Span | None = None,
             **attributes) -> Span:
        return Span(self, name, parent, attributes)

    def drain(self) -> list[Span]:
        out, self._finished = self._finished, []
        return out


def otlp_payload(tracer: Tracer, spans: list[Span]) -> dict:
    """ExportTraceServiceRequest in OTLP/JSON (the public encoding)."""
    return {
        "resourceSpans": [{
            "resource": {"attributes": [{
                "key": "service.name",
                "value": {"stringValue": tracer.service_name},
            }]},
            "scopeSpans": [{
                "scope": {"name": "bento_spark"},
                "spans": [
                    {
                        "traceId": s.trace_id,
                        "spanId": s.span_id,
                        **({"parentSpanId": s.parent_id}
                           if s.parent_id else {}),
                        "name": s.name,
                        "kind": 1,
                        "startTimeUnixNano": str(s.start_ns),
                        "endTimeUnixNano": str(s.end_ns),
                        "attributes": [
                            {"key": k,
                             "value": {"stringValue": str(v)}}
                            for k, v in sorted(s.attributes.items())
                        ],
                    }
                    for s in spans
                ],
            }],
        }]
    }


def otlp_export(tracer: Tracer, endpoint: str) -> int:
    """`open_telemetry_collector` / `jaeger` tracers: POST OTLP/HTTP
    JSON to ``<endpoint>/v1/traces``."""
    import urllib.request

    spans = tracer.drain()
    if not spans:
        return 0
    body = json.dumps(otlp_payload(tracer, spans)).encode()
    req = urllib.request.Request(
        endpoint.rstrip("/") + "/v1/traces", data=body,
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        resp.read()
    return len(spans)


def cloudtrace_export(
    tracer: Tracer, endpoint: str, project: str,
    token_provider: Callable[[], str] | None = None,
) -> int:
    """`gcp_cloudtrace` tracer: projects.traces.batchWrite REST."""
    import urllib.request

    spans = tracer.drain()
    if not spans:
        return 0

    def ts(ns: int) -> str:
        return (
            time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ns // 10**9))
            + f".{ns % 10**9:09d}Z"
        )

    payload = {"spans": [
        {
            "name": (
                f"projects/{project}/traces/{s.trace_id}/spans/{s.span_id}"
            ),
            "spanId": s.span_id,
            **({"parentSpanId": s.parent_id} if s.parent_id else {}),
            "displayName": {"value": s.name},
            "startTime": ts(s.start_ns),
            "endTime": ts(s.end_ns),
            "attributes": {"attributeMap": {
                k: {"stringValue": {"value": str(v)}}
                for k, v in sorted(s.attributes.items())
            }},
        }
        for s in spans
    ]}
    headers = {"Content-Type": "application/json"}
    if token_provider:
        headers["Authorization"] = f"Bearer {token_provider()}"
    req = urllib.request.Request(
        f"{endpoint.rstrip('/')}/v2/projects/{project}/traces:batchWrite",
        data=json.dumps(payload).encode(), headers=headers, method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        resp.read()
    return len(spans)


_DEFAULT: MetricsRegistry | None = None


def default_registry() -> MetricsRegistry:
    """The engine-wide registry (`metric` processor, delivery-loop
    output.sent/output.error counters). One per driver process, like
    the reference's manager-scoped metrics."""
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = MetricsRegistry()
    return _DEFAULT
