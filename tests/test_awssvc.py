"""aws_lambda / aws_dynamodb_partiql / aws_bedrock_invoke processors
against an in-process HTTP server that VERIFIES every SigV4 signature by
recomputation with the shared secret, mirrors the Invoke /
BatchExecuteStatement / InvokeModel API shapes, and exercises the
per-row error channel (function errors, per-statement errors)."""

from __future__ import annotations

import json
import re
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.functions.awsauth import sign_request
from bento_spark.operators.awssvc import (
    bedrock_invoke_enrich,
    dynamodb_partiql,
    lambda_invoke_enrich,
)
from bento_spark.serving import HttpServer

SECRET = "svc-secret"
ACCESS = "AKIASVC"
REGION = "us-west-2"


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _verify(self, service: str) -> bool:
        body = self._body
        auth = self.headers.get("Authorization", "")
        amz_date = self.headers.get("x-amz-date", "")
        hdrs = {"content-type": self.headers.get("Content-Type")}
        if self.headers.get("x-amz-target"):
            hdrs["x-amz-target"] = self.headers.get("x-amz-target")
        expected = sign_request(
            "POST", self.headers.get("Host"), self.path, hdrs, body,
            ACCESS, SECRET, REGION, service, amz_date,
        )["Authorization"]
        exp_sig = re.search(r"Signature=([0-9a-f]{64})", expected).group(1)
        m = re.search(r"Signature=([0-9a-f]{64})", auth)
        return bool(m and m.group(1) == exp_sig)

    def _send(self, status: int, payload: bytes, headers: dict | None = None):
        self.send_response(status)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_POST(self):
        srv = self.server
        self._body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path.startswith("/2015-03-31/functions/"):
            if not self._verify("lambda"):
                return self._send(403, b'{"message":"bad sig"}')
            srv.calls.append(("lambda", self.path, self._body))
            req = json.loads(self._body)
            if req.get("explode"):
                return self._send(
                    200,
                    json.dumps({"errorMessage": "boom"}).encode(),
                    {"X-Amz-Function-Error": "Unhandled"},
                )
            return self._send(
                200, json.dumps({"doubled": req["x"] * 2}).encode()
            )
        if self.path.startswith("/model/"):
            if not self._verify("bedrock"):
                return self._send(403, b'{"message":"bad sig"}')
            srv.calls.append(("bedrock", self.path, self._body))
            req = json.loads(self._body)
            return self._send(
                200,
                json.dumps({"completion": f"echo:{req['prompt']}"}).encode(),
            )
        if self.headers.get("x-amz-target", "").endswith("BatchExecuteStatement"):
            if not self._verify("dynamodb"):
                return self._send(403, b'{"message":"bad sig"}')
            req = json.loads(self._body)
            stmts = req["Statements"]
            assert len(stmts) <= 25  # protocol batch limit
            srv.partiql_batches.append(len(stmts))
            resps = []
            for s in stmts:
                key = s["Parameters"][0]["S"]
                if key == "err":
                    resps.append(
                        {"Error": {"Code": "ValidationError", "Message": "bad key"}}
                    )
                else:
                    resps.append(
                        {"Items": [{"k": {"S": key}, "v": {"S": f"val-{key}"}}]}
                    )
            return self._send(200, json.dumps({"Responses": resps}).encode())
        return self._send(404, b"{}")


class _Server(HttpServer):
    def __init__(self):
        self.calls: list = []
        self.partiql_batches: list[int] = []
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


CREDS = dict(region=REGION, access_key=ACCESS, secret_key=SECRET)


def test_lambda_invoke_enrich(spark, server):
    df = spark.range(6).selectExpr("id", "to_json(named_struct('x', id)) AS body")
    out = lambda_invoke_enrich(
        df, server.url, "fn-test", "body", "res", **CREDS
    ).collect()
    got = {r["id"]: json.loads(r["res"])["doubled"] for r in out}
    assert got == {i: 2 * i for i in range(6)}
    assert all(r["_error"] is None for r in out)
    assert all(p == "/2015-03-31/functions/fn-test/invocations"
               for (_, p, _b) in server.calls)


def test_lambda_function_error_flags_row(spark, server):
    df = spark.createDataFrame(
        [(1, '{"x": 1}'), (2, '{"x": 2, "explode": true}')], "id long, body string"
    )
    rows = {r["id"]: r for r in lambda_invoke_enrich(
        df, server.url, "fn", "body", "res", **CREDS
    ).collect()}
    assert json.loads(rows[1]["res"])["doubled"] == 2 and rows[1]["_error"] is None
    assert rows[2]["res"] is None
    assert "Unhandled" in rows[2]["_error"]


def test_dynamodb_partiql_batches_and_errors(spark, server):
    # 30 rows on one partition -> 25 + 5 statement batches
    df = spark.range(30).coalesce(1).selectExpr(
        "id", "CASE WHEN id = 7 THEN 'err' ELSE concat('k', id) END AS key"
    )
    out = dynamodb_partiql(
        df, server.url,
        'SELECT * FROM "t" WHERE k = ?', ["key"], "items", **CREDS,
    ).collect()
    rows = {r["id"]: r for r in out}
    assert json.loads(rows[3]["items"])[0]["v"]["S"] == "val-k3"
    assert rows[7]["items"] is None and "ValidationError" in rows[7]["_error"]
    assert server.partiql_batches == [25, 5]


def test_bedrock_invoke(spark, server):
    df = spark.range(4).selectExpr(
        "id", "to_json(named_struct('prompt', concat('p', id))) AS body"
    )
    out = bedrock_invoke_enrich(
        df, server.url, "anthropic.claude-v2", "body", "resp", **CREDS
    ).collect()
    got = {r["id"]: json.loads(r["resp"])["completion"] for r in out}
    assert got == {i: f"echo:p{i}" for i in range(4)}
    # model id is URL-escaped into the path
    assert all(p == "/model/anthropic.claude-v2/invoke"
               for (svc, p, _b) in server.calls if svc == "bedrock")


def test_pipeline_registration(spark, server):
    from bento_spark.plans.pipeline import PROCESSORS

    df = spark.range(2).selectExpr("to_json(named_struct('x', id)) AS content")
    out = PROCESSORS["aws_lambda"](
        df, {"endpoint": server.url, "function": "f", **CREDS}
    ).collect()
    assert all(r["lambda_result"] for r in out)
