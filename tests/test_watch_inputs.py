"""Watch/poll input family tests: etcd (grpc-gateway JSON KV +
mod_revision watch cursor), kubernetes_watch (chunked JSON-lines
stream + resourceVersion resume), fsevent (created/modified/deleted
poll events), discord (after-cursor poll + output POSTs), and
twitter_search (since_id cursor) — all against in-process HTTP
servers checking auth headers."""

from __future__ import annotations

import base64
import json
import os
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qsl, urlparse

import pytest

from bento_spark.serving import HttpServer
from bento_spark.sinks.connector import TRANSPORTS
from bento_spark.sources.watch_inputs import (
    DiscordBridge,
    EtcdKV,
    EtcdWatchBridge,
    FsEventBridge,
    K8sWatchBridge,
    TwitterSearchBridge,
)


def _staged(out_dir) -> list[dict]:
    rows = []
    for f in sorted(os.listdir(out_dir)):
        if f.startswith("."):
            continue
        for line in open(os.path.join(out_dir, f)):
            rows.append(json.loads(line))
    return rows


# -- etcd -----------------------------------------------------------------


class _EtcdHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_POST(self):
        srv = self.server
        body = json.loads(
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
        )

        def b64d(s):
            return base64.b64decode(s).decode()

        def b64e(s):
            return base64.b64encode(s.encode()).decode()

        if self.path == "/v3/kv/put":
            srv.revision += 1
            srv.kv[b64d(body["key"])] = (b64d(body["value"]), srv.revision)
            payload = {}
        elif self.path == "/v3/kv/range":
            key = b64d(body["key"])
            if "range_end" in body:
                end = b64d(body["range_end"])
                kvs = [
                    {"key": b64e(k), "value": b64e(v),
                     "mod_revision": str(r)}
                    for k, (v, r) in sorted(srv.kv.items())
                    if key <= k < end
                ]
            else:
                kvs = (
                    [{"key": b64e(key),
                      "value": b64e(srv.kv[key][0]),
                      "mod_revision": str(srv.kv[key][1])}]
                    if key in srv.kv
                    else []
                )
            payload = {"kvs": kvs}
        else:
            payload = {}
        out = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)


@pytest.fixture
def etcd_server():
    with HttpServer(_EtcdHandler) as srv:
        srv.kv = {}
        srv.revision = 0
        yield srv


def test_etcd_kv_roundtrip(etcd_server):
    kv = EtcdKV(etcd_server.url)
    kv.mset([("app/a", "1"), ("app/b", "2")])
    assert kv.mget(["app/a", "app/b", "missing"]) == ["1", "2", None]


def test_etcd_watch_cursor_only_fresh_changes(etcd_server, tmp_path):
    kv = EtcdKV(etcd_server.url)
    kv.mset([("conf/x", "1"), ("conf/y", "2"), ("other/z", "9")])
    out = str(tmp_path / "staged")
    bridge = EtcdWatchBridge(kv, "conf/")
    assert bridge.drain(out) == 2  # prefix-filtered
    assert bridge.drain(out) == 0  # cursor holds
    kv.mset([("conf/x", "10")])  # mod_revision advances
    assert bridge.drain(out) == 1
    rows = _staged(out)
    assert rows[-1] == {
        "key": "conf/x", "value": "10",
        "mod_revision": rows[-1]["mod_revision"],
    }


def test_etcd_transport(etcd_server):
    t = TRANSPORTS["etcd"](
        {"endpoint": etcd_server.url, "prefix": "rows/"}
    )
    t.send([json.dumps({"id": 7, "v": "x"})])
    t.close()
    kv = EtcdKV(etcd_server.url)
    assert json.loads(kv.mget(["rows/7"])[0])["v"] == "x"


# -- kubernetes_watch -----------------------------------------------------


class _K8sHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        srv = self.server
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        assert q.get("watch") == "true"
        assert self.headers.get("Authorization") == "Bearer k8s-token"
        rv = int(q.get("resourceVersion", "0"))
        events = [e for e in srv.events if int(
            e["object"]["metadata"]["resourceVersion"]) > rv]
        body = "".join(json.dumps(e) + "\n" for e in events).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture
def k8s_server():
    with HttpServer(_K8sHandler) as srv:
        srv.events = [
            {"type": "ADDED",
             "object": {"metadata": {"name": "pod-a", "resourceVersion": "5"}}},
            {"type": "MODIFIED",
             "object": {"metadata": {"name": "pod-a", "resourceVersion": "8"}}},
        ]
        yield srv


def test_k8s_watch_resume_from_resource_version(k8s_server, tmp_path):
    bridge = K8sWatchBridge(
        k8s_server.url, "/api/v1/namespaces/default/pods",
        token="k8s-token",
    )
    out = str(tmp_path / "staged")
    assert bridge.drain(out) == 2
    assert bridge.drain(out) == 0  # resourceVersion cursor holds
    k8s_server.events.append(
        {"type": "DELETED",
         "object": {"metadata": {"name": "pod-a",
                                 "resourceVersion": "11"}}}
    )
    assert bridge.drain(out) == 1
    assert [e["type"] for e in _staged(out)] == [
        "ADDED", "MODIFIED", "DELETED",
    ]


# -- fsevent --------------------------------------------------------------


def test_fsevent_created_modified_deleted(tmp_path):
    watched = tmp_path / "data"
    watched.mkdir()
    (watched / "a.txt").write_text("1")
    (watched / "sub").mkdir()
    (watched / "sub" / "b.txt").write_text("2")
    out = str(tmp_path / "staged")
    bridge = FsEventBridge(str(watched))
    assert bridge.drain(out) == 2
    assert {e["op"] for e in _staged(out)} == {"created"}
    assert bridge.drain(out) == 0

    os.utime(watched / "a.txt", ns=(1, 999999999))  # mtime change
    (watched / "sub" / "b.txt").unlink()
    (watched / "c.txt").write_text("3")
    assert bridge.drain(out) == 3
    ops = {(e["op"], e["path"]) for e in _staged(out)[2:]}
    assert ops == {
        ("modified", "a.txt"),
        ("deleted", os.path.join("sub", "b.txt")),
        ("created", "c.txt"),
    }


# -- discord --------------------------------------------------------------


class _DiscordHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        srv = self.server
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        assert self.headers.get("Authorization") == "Bot d-token"
        after = int(q.get("after", "0"))
        msgs = [m for m in srv.messages if int(m["id"]) > after]
        msgs.sort(key=lambda m: -int(m["id"]))  # API: newest first
        body = json.dumps(msgs).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        srv = self.server
        body = json.loads(
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
        )
        srv.posted.append(body["content"])
        out = json.dumps({"id": str(100 + len(srv.posted))}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)


@pytest.fixture
def discord_server():
    with HttpServer(_DiscordHandler) as srv:
        srv.messages = [
            {"id": "11", "content": "first"},
            {"id": "15", "content": "second"},
        ]
        srv.posted = []
        yield srv


def test_discord_poll_cursor_oldest_first(discord_server, tmp_path):
    bridge = DiscordBridge(discord_server.url, "chan1", "d-token")
    out = str(tmp_path / "staged")
    assert bridge.drain(out) == 2
    assert [m["content"] for m in _staged(out)] == ["first", "second"]
    assert bridge.drain(out) == 0
    discord_server.messages.append({"id": "20", "content": "third"})
    assert bridge.drain(out) == 1


def test_discord_transport_bot_channel(discord_server):
    t = TRANSPORTS["discord"](
        {
            "endpoint": discord_server.url,
            "channel_id": "chan1",
            "token": "d-token",
        }
    )
    t.send(["alert!", "again"])
    t.close()
    assert discord_server.posted == ["alert!", "again"]


# -- twitter_search -------------------------------------------------------


class _TwitterHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        srv = self.server
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        assert self.headers.get("Authorization") == "Bearer tw-token"
        srv.queries.append(q["query"])
        since = int(q.get("since_id", "0"))
        data = [t for t in srv.tweets if int(t["id"]) > since]
        body = json.dumps({"data": data} if data else {}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture
def twitter_server():
    with HttpServer(_TwitterHandler) as srv:
        srv.tweets = [
            {"id": "100", "text": "hello spark"},
            {"id": "101", "text": "hello again"},
        ]
        srv.queries = []
        yield srv


def test_twitter_search_since_id_cursor(twitter_server, tmp_path):
    bridge = TwitterSearchBridge(
        twitter_server.url, "spark lang:en", "tw-token"
    )
    out = str(tmp_path / "staged")
    assert bridge.drain(out) == 2
    assert twitter_server.queries[-1] == "spark lang:en"
    assert bridge.drain(out) == 0
    twitter_server.tweets.append({"id": "105", "text": "fresh"})
    assert bridge.drain(out) == 1
    assert [t["text"] for t in _staged(out)] == [
        "hello spark", "hello again", "fresh",
    ]
