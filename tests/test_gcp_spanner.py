"""gcp_spanner_cdc change-stream client against an in-process HTTP
server implementing sessions.create + executeStreamingSql with
PartialResultSet chunking (chunkedValue continuations split mid-JSON),
heartbeat cursor advancement, and the stage-then-checkpoint drain."""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.serving import HttpServer
from bento_spark.sources.gcp_spanner import (
    SpannerChangeStreamClient,
    SpannerError,
)

DB = "projects/p1/instances/i1/databases/d1"


def _record(commit_ts, mod_id, new_values):
    return {
        "data_change_record": [{
            "commit_timestamp": commit_ts,
            "table_name": "users",
            "mods": [{"keys": {"id": mod_id}, "new_values": new_values}],
            "mod_type": "INSERT",
        }],
    }


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _send(self, payload):
        body = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        srv = self.server
        body = json.loads(
            self.rfile.read(int(self.headers.get("Content-Length", 0)) or b"{}")
            or b"{}"
        )
        if srv.expect_token is not None:
            if self.headers.get("Authorization") != f"Bearer {srv.expect_token}":
                body_b = b'{"error":{"code":401}}'
                self.send_response(401)
                self.send_header("Content-Length", str(len(body_b)))
                self.end_headers()
                self.wfile.write(body_b)
                return
        if self.path.endswith("/sessions"):
            sid = f"{DB}/sessions/s{len(srv.sessions) + 1}"
            srv.sessions.append(sid)
            return self._send({"name": sid})
        if self.path.endswith(":executeStreamingSql"):
            assert "READ_userstream(" in body["sql"]
            srv.starts.append(body["params"]["start"])
            start = body["params"]["start"]
            recs = [json.dumps(r) for (ts, r) in srv.records if ts > start]
            # chunk the stream: split the FIRST record's JSON across two
            # PartialResultSets via chunkedValue to exercise reassembly
            out = []
            if recs:
                head, tail = recs[0][:10], recs[0][10:]
                out.append({"values": [head], "chunkedValue": True})
                out.append({"values": [tail] + recs[1:]})
            else:
                out.append({"values": []})
            return self._send(out)
        return self._send({"error": "bad path"})


class _Server(HttpServer):
    def __init__(self):
        self.sessions: list[str] = []
        self.starts: list[str] = []
        self.records: list[tuple[str, dict]] = []
        self.expect_token = None
        super().__init__(_Handler)


@pytest.fixture()
def server():
    srv = _Server()
    srv.records = [
        ("2026-01-01T00:00:01Z", _record("2026-01-01T00:00:01Z", "u1", {"n": "1"})),
        ("2026-01-01T00:00:02Z", _record("2026-01-01T00:00:02Z", "u2", {"n": "2"})),
        ("2026-01-01T00:00:03Z", {"heartbeat_record": [
            {"timestamp": "2026-01-01T00:00:05Z"}]}),
    ]
    yield srv
    srv.stop()


def test_read_change_stream_chunked(server):
    c = SpannerChangeStreamClient(server.url, DB)
    events, cursor = c.read_change_stream(
        "userstream", "1970-01-01T00:00:00Z"
    )
    assert [e["mods"][0]["keys"]["id"] for e in events] == ["u1", "u2"]
    # heartbeat pushed the cursor past the last data record
    assert cursor == "2026-01-01T00:00:05Z"


def test_drain_checkpoints_cursor(server, tmp_path):
    c = SpannerChangeStreamClient(server.url, DB)
    n = c.drain_to_dir("userstream", str(tmp_path))
    assert n == 2
    (f,) = tmp_path.glob("spanner-*.jsonl")
    assert len(f.read_text().splitlines()) == 2
    assert (tmp_path / ".spanner-cursor").read_text() == "2026-01-01T00:00:05Z"
    # second drain resumes AFTER the cursor -> no events, no new file
    n2 = c.drain_to_dir("userstream", str(tmp_path))
    assert n2 == 0
    assert server.starts == ["1970-01-01T00:00:00Z", "2026-01-01T00:00:05Z"]


def test_bearer_token_sent_and_verified(server):
    server.expect_token = "tok-123"
    ok = SpannerChangeStreamClient(
        server.url, DB, token_provider=lambda: "tok-123"
    )
    events, _ = ok.read_change_stream("userstream", "1970-01-01T00:00:00Z")
    assert len(events) == 2
    bad = SpannerChangeStreamClient(
        server.url, DB, token_provider=lambda: "wrong"
    )
    with pytest.raises(SpannerError, match="HTTP 401"):
        bad.read_change_stream("userstream", "1970-01-01T00:00:00Z")
