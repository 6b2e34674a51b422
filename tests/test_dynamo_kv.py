"""DynamoKV tests against an in-process HTTP server implementing the
BatchGetItem/BatchWriteItem subset of the public DynamoDB JSON API.

The server VERIFIES every request's SigV4 signature by recomputing it
with the shared secret (not just checking a header exists), enforces
the protocol's 100-key / 25-put batch limits, and can return
UnprocessedKeys/UnprocessedItems on first attempts to exercise the
partial-success retry loop real DynamoDB exhibits under throttling.
"""

from __future__ import annotations

import json
import re
import time
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.functions.awsauth import sign_request
from bento_spark.operators.kvstore import DynamoKV, _client_from_url
from bento_spark.serving import HttpServer

SECRET = "test-secret-key"
ACCESS = "AKIATEST"
REGION = "eu-west-1"


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _reject(self, code, typ, msg=""):
        payload = json.dumps({"__type": typ, "message": msg}).encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_POST(self):
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        # --- verify SigV4 by recomputation with the shared secret ----
        auth = self.headers.get("Authorization", "")
        amz_date = self.headers.get("x-amz-date", "")
        m = re.search(r"Signature=([0-9a-f]{64})", auth)
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
            "dynamodb",
            amz_date,
        )["Authorization"]
        exp_sig = re.search(r"Signature=([0-9a-f]{64})", expected).group(1)
        if not m or m.group(1) != exp_sig:
            return self._reject(
                403, "com.amazon.coral.service#InvalidSignatureException"
            )
        target = self.headers.get("x-amz-target", "").split(".")[-1]
        req = json.loads(body)
        if target == "BatchGetItem":
            (table, spec), = req["RequestItems"].items()
            keys = [k["k"]["S"] for k in spec["Keys"]]
            if len(keys) > 100:
                return self._reject(400, "ValidationException", ">100 keys")
            srv.get_batches.append(len(keys))
            srv.get_times.append(time.monotonic())
            if srv.defer_all_gets:
                served, deferred = [], keys
            elif srv.defer_first_get and len(srv.get_batches) == 1:
                served, deferred = keys[: len(keys) // 2], keys[len(keys) // 2 :]
            else:
                served, deferred = keys, []
            out = {
                "Responses": {
                    table: [
                        {"k": {"S": k}, "v": {"S": srv.data[k]}}
                        for k in served
                        if k in srv.data
                    ]
                },
            }
            if deferred:
                out["UnprocessedKeys"] = {
                    table: {"Keys": [{"k": {"S": k}} for k in deferred]}
                }
        elif target == "BatchWriteItem":
            (table, puts), = req["RequestItems"].items()
            if len(puts) > 25:
                return self._reject(400, "ValidationException", ">25 items")
            srv.put_batches.append(len(puts))
            deferred = []
            if srv.defer_first_put and len(srv.put_batches) == 1:
                puts, deferred = puts[:10], puts[10:]
            for p in puts:
                item = p["PutRequest"]["Item"]
                srv.data[item["k"]["S"]] = item["v"]["S"]
            out = {}
            if deferred:
                out["UnprocessedItems"] = {table: deferred}
        else:
            return self._reject(400, "UnknownOperationException")
        payload = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


class _Server(HttpServer):
    def __init__(self):
        self.data: dict[str, str] = {}
        self.get_batches: list[int] = []
        self.put_batches: list[int] = []
        self.get_times: list[float] = []
        self.defer_all_gets = False
        self.defer_first_get = False
        self.defer_first_put = False
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def _kv(server):
    return DynamoKV(
        f"http://127.0.0.1:{server.port}",
        "t",
        region=REGION,
        access_key=ACCESS,
        secret_key=SECRET,
    )


def test_roundtrip_respects_protocol_batch_limits(server):
    kv = _kv(server)
    n = 230  # > 2x both limits
    kv.mset([(f"k{i}", f"v{i}") for i in range(n)])
    assert all(b <= 25 for b in server.put_batches)
    got = kv.mget([f"k{i}" for i in range(n)] + ["nope"])
    assert got == [f"v{i}" for i in range(n)] + [None]
    assert all(b <= 100 for b in server.get_batches)


def test_unprocessed_keys_are_retried(server):
    server.defer_first_get = True
    kv = _kv(server)
    kv.mset([(f"k{i}", str(i)) for i in range(40)])
    assert kv.mget([f"k{i}" for i in range(40)]) == [str(i) for i in range(40)]
    assert len(server.get_batches) >= 2  # second call for the deferred half


def test_keys_never_processed_raise_after_the_bound(server):
    """A table that never processes a key: mget gives up after the
    policy's attempt bound, waiting the backoff between rounds."""
    from bento_spark import retry

    server.defer_all_gets = True
    with pytest.raises(RuntimeError, match="3 keys still unprocessed"):
        _kv(server).mget(["a", "b", "c"])
    assert len(server.get_batches) == retry.ATTEMPTS
    gaps = [b - a for a, b in zip(server.get_times, server.get_times[1:])]
    for attempt, gap in enumerate(gaps, 1):
        # the jitter factor is at least 0.5
        assert gap >= 0.5 * retry.BACKOFF_S * 2 ** (attempt - 1)


def test_unprocessed_items_are_retried(server):
    server.defer_first_put = True
    kv = _kv(server)
    kv.mset([(f"k{i}", str(i)) for i in range(20)])
    assert server.data["k19"] == "19"
    assert len(server.put_batches) >= 2


def test_bad_signature_rejected(server):
    kv = DynamoKV(
        f"http://127.0.0.1:{server.port}", "t",
        region=REGION, access_key=ACCESS, secret_key="wrong-secret",
    )
    with pytest.raises(RuntimeError, match="HTTP 403"):
        kv.mget(["x"])


def test_kv_enrich_via_dynamodb_url(spark, server, monkeypatch):
    from bento_spark.operators.kvstore import kv_enrich

    monkeypatch.setenv("AWS_ACCESS_KEY_ID", ACCESS)
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", SECRET)
    _kv(server).mset([(f"id{i}", f"name{i}") for i in range(0, 30, 3)])
    url = f"dynamodb://127.0.0.1:{server.port}/t?region={REGION}"
    # parse on the DRIVER (env creds live here; forked workers keep the
    # pre-monkeypatch env) — DynamoKV is stateless/picklable, so the
    # instance ships in the closure and each partition reuses it
    client = _client_from_url(url)
    assert isinstance(client, DynamoKV) and client.region == REGION
    df = spark.range(30).selectExpr("concat('id', id) AS k")
    out = kv_enrich(df, lambda: client, "k", "who")
    rows = {r["k"]: r["who"] for r in out.collect()}
    assert rows["id0"] == "name0" and rows["id1"] is None and len(rows) == 30
