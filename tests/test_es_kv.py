"""EsKV tests against an in-process HTTP server implementing the
_mget/_bulk subset of the public Elasticsearch REST API — chunked id
batches, NDJSON bulk framing, found/missing docs, per-item bulk errors,
HTTP-level failures, and a Spark kv_enrich end-to-end over es:// URLs.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.operators.kvstore import EsKV, _client_from_url
from bento_spark.serving import HttpServer


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # silence
        pass

    def do_POST(self):
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0))).decode()
        if srv.fail_http:
            self.send_response(500)
            self.end_headers()
            self.wfile.write(b"boom")
            return
        if self.path.endswith("/_mget"):
            index = self.path.split("/")[1]
            ids = json.loads(body)["ids"]
            srv.mget_calls.append(len(ids))
            docs = []
            for i in ids:
                v = srv.data.get(index, {}).get(i)
                d = {"_index": index, "_id": i, "found": v is not None}
                if v is not None:
                    d["_source"] = {"v": v}
                docs.append(d)
            out = {"docs": docs}
        elif self.path == "/_bulk":
            lines = [json.loads(x) for x in body.splitlines() if x.strip()]
            items = []
            errors = False
            for action, src in zip(lines[0::2], lines[1::2]):
                ix, _id = action["index"]["_index"], action["index"]["_id"]
                if srv.reject_ids and _id in srv.reject_ids:
                    errors = True
                    items.append(
                        {"index": {"_id": _id, "status": 429,
                                   "error": {"type": "too_many_requests"}}}
                    )
                    continue
                srv.data.setdefault(ix, {})[_id] = src["v"]
                items.append({"index": {"_id": _id, "status": 201}})
            out = {"errors": errors, "items": items}
        else:
            self.send_response(404)
            self.end_headers()
            return
        payload = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


class _Server(HttpServer):
    def __init__(self):
        self.data: dict[str, dict[str, str]] = {}
        self.mget_calls: list[int] = []
        self.reject_ids: set[str] = set()
        self.fail_http = False
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_bulk_then_mget_roundtrip_chunked(server):
    kv = EsKV(f"http://127.0.0.1:{server.port}", "docs")
    n = EsKV.CHUNK + 43
    kv.mset([(f"k{i}", f"v{i}") for i in range(n)])
    got = kv.mget([f"k{i}" for i in range(n)] + ["nope"])
    assert got == [f"v{i}" for i in range(n)] + [None]
    assert server.mget_calls == [EsKV.CHUNK, 43 + 1]  # chunked _mget


def test_unicode_and_empty_values(server):
    kv = EsKV(f"http://127.0.0.1:{server.port}", "docs")
    vals = {"a": 'json "quotes" \\ slashes', "b": "café ☃", "c": ""}
    kv.mset(vals.items())
    assert kv.mget(["a", "b", "c"]) == [vals["a"], vals["b"], vals["c"]]


def test_bulk_item_errors_raise(server):
    server.reject_ids = {"bad"}
    kv = EsKV(f"http://127.0.0.1:{server.port}", "docs")
    with pytest.raises(RuntimeError, match="_bulk item failures"):
        kv.mset([("ok", "1"), ("bad", "2")])


def test_http_error_raises(server):
    server.fail_http = True
    kv = EsKV(f"http://127.0.0.1:{server.port}", "docs")
    with pytest.raises(RuntimeError, match="HTTP 500"):
        kv.mget(["x"])


def test_kv_enrich_via_es_url(spark, server):
    from bento_spark.operators.kvstore import kv_enrich

    EsKV(f"http://127.0.0.1:{server.port}", "users").mset(
        [(f"id{i}", f"name{i}") for i in range(0, 30, 3)]
    )
    url = f"es://127.0.0.1:{server.port}/users"
    df = spark.range(30).selectExpr("concat('id', id) AS k")
    out = kv_enrich(df, lambda: _client_from_url(url), "k", "who")
    rows = {r["k"]: r["who"] for r in out.collect()}
    assert len(rows) == 30
    for i in range(30):
        assert rows[f"id{i}"] == (f"name{i}" if i % 3 == 0 else None)
