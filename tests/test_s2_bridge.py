"""`s2` input/output (sources/s2_bridge.py) against an in-process HTTP
server that verifies the Bearer token on every request and keeps real
per-stream record logs — list/tail/read/append all exercised, plus the
reference-documented behaviors: prefix discovery, cache-backed seq_num
resume, start_seq_num latest, command-record metadata, fencing token."""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qs, unquote, urlparse

import pytest

from bento_spark.operators.cachepolicy import FileKV
from bento_spark.serving import HttpServer
from bento_spark.sources.s2_bridge import S2Bridge, S2Client, S2Error

TOKEN = "tok-123"


def b64(s: bytes | str) -> str:
    if isinstance(s, str):
        s = s.encode()
    return base64.b64encode(s).decode()


class _S2State:
    def __init__(self):
        self.streams: dict[str, list[dict]] = {}
        self.fencing: dict[str, str] = {}
        self.lock = threading.Lock()


class _Handler(BaseHTTPRequestHandler):
    state: _S2State = None  # set per server

    def log_message(self, *a):
        pass

    def _deny(self, code: int, msg: str):
        body = json.dumps({"error": msg}).encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _ok(self, obj: dict):
        body = json.dumps(obj).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _authed(self) -> bool:
        if self.headers.get("Authorization") != f"Bearer {TOKEN}":
            self._deny(401, "bad token")
            return False
        return True

    def do_GET(self):
        if not self._authed():
            return
        u = urlparse(self.path)
        q = parse_qs(u.query)
        st = self.state
        if u.path == "/v1alpha/streams":
            prefix = q.get("prefix", [""])[0]
            with st.lock:
                names = sorted(n for n in st.streams if n.startswith(prefix))
            self._ok({"streams": [{"name": n} for n in names]})
        elif u.path.endswith("/records/tail"):
            stream = unquote(u.path.split("/v1alpha/streams/")[1].rsplit(
                "/records/tail", 1
            )[0])
            with st.lock:
                self._ok({"next_seq_num": len(st.streams.get(stream, []))})
        elif u.path.endswith("/records"):
            stream = unquote(u.path.split("/v1alpha/streams/")[1].rsplit(
                "/records", 1
            )[0])
            seq = int(q.get("seq_num", ["0"])[0])
            count = int(q.get("count", ["1000"])[0])
            with st.lock:
                recs = st.streams.get(stream, [])[seq: seq + count]
            self._ok({"records": recs})
        else:
            self._deny(404, "not found")

    def do_POST(self):
        if not self._authed():
            return
        u = urlparse(self.path)
        if not u.path.endswith("/records"):
            return self._deny(404, "not found")
        stream = unquote(u.path.split("/v1alpha/streams/")[1].rsplit(
            "/records", 1
        )[0])
        payload = json.loads(
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
        )
        st = self.state
        with st.lock:
            want = st.fencing.get(stream)
            if want is not None and payload.get("fencing_token") != want:
                return self._deny(412, "fencing token mismatch")
            log = st.streams.setdefault(stream, [])
            start = len(log)
            for rec in payload["records"]:
                log.append({
                    "seq_num": len(log),
                    "headers": rec.get("headers", []),
                    "body": rec.get("body", ""),
                })
            self._ok({"start_seq_num": start, "end_seq_num": len(log)})


@pytest.fixture()
def s2srv():
    state = _S2State()
    handler = type("H", (_Handler,), {"state": state})
    with HttpServer(handler) as srv:
        yield state, srv.url


def _client(endpoint, token=TOKEN):
    return S2Client("my-basin", token, endpoint)


def test_append_read_roundtrip_and_auth(s2srv):
    state, url = s2srv
    cli = _client(url)
    out = cli.append("logs/a", [{"body": b64("one")}, {"body": b64("two")}])
    assert out == {"start_seq_num": 0, "end_seq_num": 2}
    recs = cli.read("logs/a", 0)
    assert [base64.b64decode(r["body"]).decode() for r in recs] == ["one", "two"]
    assert cli.check_tail("logs/a") == 2
    with pytest.raises(S2Error) as ei:
        _client(url, token="wrong").read("logs/a", 0)
    assert ei.value.status == 401


def test_bridge_prefix_discovery_resume_and_meta(s2srv, tmp_path):
    state, url = s2srv
    cli = _client(url)
    cli.append("logs/a", [{"body": b64("a0")}])
    cli.append("logs/b", [
        {"body": b64("b0"), "headers": [[b64("k"), b64("v")]]},
        # command record: empty header name -> s2_command meta
        {"body": b64("fence"), "headers": [[b64(""), b64("fence")]]},
    ])
    cli.append("other/c", [{"body": b64("nope")}])

    cache = FileKV(str(tmp_path / "cursor"))
    bridge = S2Bridge(cli, "logs/", cache)
    out = tmp_path / "staged"
    assert bridge.drain(str(out)) == 3
    rows = []
    for f in sorted(out.iterdir()):
        rows += [json.loads(ln) for ln in f.read_text().splitlines()]
    by_content = {r["content"]: r["meta"] for r in rows}
    assert set(by_content) == {"a0", "b0", "fence"}
    assert by_content["b0"]["k"] == "v"
    assert by_content["b0"]["s2_stream"] == "logs/b"
    assert by_content["b0"]["s2_seq_num"] == "0"
    assert by_content["fence"]["s2_command"] == "fence"
    assert by_content["a0"]["s2_basin"] == "my-basin"

    # resume: nothing new -> 0; new record -> only the new one
    assert bridge.drain(str(out)) == 0
    cli.append("logs/a", [{"body": b64("a1")}])
    assert bridge.drain(str(out)) == 1


def test_bridge_start_latest(s2srv, tmp_path):
    state, url = s2srv
    cli = _client(url)
    cli.append("s", [{"body": b64("old")}])
    bridge = S2Bridge(
        cli, ["s"], FileKV(str(tmp_path / "c")), start_seq_num="latest"
    )
    out = tmp_path / "staged"
    assert bridge.drain(str(out)) == 0  # seeded at tail
    cli.append("s", [{"body": b64("new")}])
    assert bridge.drain(str(out)) == 1


def test_output_transport_fencing(s2srv):
    state, url = s2srv
    state.fencing["protected"] = "tok-f"
    from bento_spark.sinks.connector import DeliveryError, TRANSPORTS

    good = TRANSPORTS["s2"]({
        "basin": "my-basin", "access_token": TOKEN, "stream": "protected",
        "fencing_token": "tok-f", "endpoint": url,
    })
    good.send(["m1", "m2"])
    assert len(state.streams["protected"]) == 2

    bad = TRANSPORTS["s2"]({
        "basin": "my-basin", "access_token": TOKEN, "stream": "protected",
        "fencing_token": "stale", "endpoint": url,
    })
    with pytest.raises(DeliveryError) as ei:
        bad.send(["m3"])
    assert not ei.value.retryable  # 412 = non-retryable config error


def test_s2_yaml_input_end_to_end(s2srv, tmp_path, spark):
    state, url = s2srv
    cli = _client(url)
    cli.append("events", [
        {"body": b64('{"v":1}'), "headers": [[b64("h"), b64("x")]]},
        {"body": b64('{"v":2}')},
    ])
    from bento_spark.sources import build_source

    df, streaming = build_source(spark, "s2", {
        "basin": "my-basin",
        "access_token": TOKEN,
        "streams": ["events"],
        "cache": {"file": {"directory": str(tmp_path / "cur")}},
        "endpoint": url,
        "staging_dir": str(tmp_path / "stage"),
    })
    assert not streaming
    rows = df.collect()
    got = sorted(r["content"] for r in rows)
    assert got == ['{"v":1}', '{"v":2}']
    meta = {r["content"]: dict(r["_metadata"]) for r in rows}
    assert meta['{"v":1}']["h"] == "x"
    assert meta['{"v":1}']["s2_stream"] == "events"
    assert "queue_path" in meta['{"v":1}']
