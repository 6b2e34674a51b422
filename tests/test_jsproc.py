"""`javascript` processor on a REAL node runtime: the reference's
bento.v0_* message API, string + structured mutation, metadata access,
per-message error capture, and the pipeline registration."""

from __future__ import annotations

import json
import shutil

import pytest

from bento_spark.operators.jsproc import javascript_processor

node_missing = shutil.which("node") is None
pytestmark = pytest.mark.skipif(node_missing, reason="node runtime absent")


@pytest.fixture()
def msgs(spark):
    from bento_spark.operators.envelope import ensure_envelope
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '{"n": 3}'), (2, '{"n": 5}'), (3, "not json")],
        "id long, content string",
    ).coalesce(2)
    df = ensure_envelope(df)
    return df.withColumn(
        "_metadata", F.create_map(F.lit("topic"), F.concat(F.lit("t"), "id"))
    )


def test_string_api(spark, msgs):
    from bento_spark.operators.jsproc import javascript_processor

    out = javascript_processor(
        msgs, 'bento.v0_msg_set_string(bento.v0_msg_as_string() + "!");'
    ).collect()
    got = {r["id"]: r["content"] for r in out}
    assert got == {1: '{"n": 3}!', 2: '{"n": 5}!', 3: "not json!"}
    assert all(r["_error"] is None for r in out)


def test_structured_api_and_error_channel(spark, msgs):
    from bento_spark.operators.jsproc import javascript_processor

    code = """
    const o = bento.v0_msg_as_structured();
    o.n = o.n * 10;
    bento.v0_msg_set_structured(o);
    """
    rows = {r["id"]: r for r in javascript_processor(msgs, code).collect()}
    assert json.loads(rows[1]["content"])["n"] == 30
    assert json.loads(rows[2]["content"])["n"] == 50
    # row 3 isn't JSON: the script error lands on THAT row only
    assert rows[3]["content"] == "not json"
    assert rows[3]["_error"].startswith("javascript:")
    assert rows[1]["_error"] is None


def test_meta_api(spark, msgs):
    from bento_spark.operators.jsproc import javascript_processor

    code = """
    if (bento.v0_msg_exists_meta("topic")) {
      bento.v0_msg_set_meta("echo", bento.v0_msg_get_meta("topic"));
    }
    bento.v0_msg_set_string(bento.v0_msg_get_meta("topic"));
    """
    rows = {r["id"]: r for r in javascript_processor(msgs, code).collect()}
    assert rows[2]["content"] == "t2"
    assert rows[2]["_metadata"]["echo"] == "t2"


def test_v0_fetch_errors_cleanly(spark, msgs):
    from bento_spark.operators.jsproc import javascript_processor

    out = javascript_processor(
        msgs, 'bento.v0_fetch("http://x", {}, "GET", "");'
    ).collect()
    assert all("v0_fetch" in r["_error"] for r in out)


def test_v0_fetch_rejects_non_http_schemes(spark, msgs, tmp_path):
    """file:// (and ftp://) must not pass through the bridge — a script
    could read arbitrary local files, a capability the reference's
    HTTP-client fetch does not have. The scheme check runs parent-side
    in _do_fetch, before any transport is opened."""
    from bento_spark.operators.jsproc import _do_fetch, javascript_processor

    secret = tmp_path / "secret.txt"
    secret.write_text("s3cr3t")
    for url in (f"file://{secret}", "ftp://example.com/x", "gopher://x"):
        rep = _do_fetch({"url": url})
        assert "err" in rep and "scheme" in rep["err"], rep
    out = javascript_processor(
        msgs, f'bento.v0_fetch("file://{secret}", {{}}, "GET", "");'
    ).collect()
    assert all(r["_error"] and "scheme" in r["_error"] for r in out)


def test_pipeline_registration(spark, msgs):
    from bento_spark.plans.pipeline import PROCESSORS

    out = PROCESSORS["javascript"](
        msgs, {"code": 'bento.v0_msg_set_string("X");'}
    ).collect()
    assert all(r["content"] == "X" for r in out)


def test_v0_fetch_roundtrip(spark):
    """v0_fetch (functions.go:89): synchronous HTTP inside the JS VM,
    bridged to the Python parent's stdlib transport — driven against a
    REAL in-process echo server over real sockets (VERDICT r6 #6)."""
    import json

    from bento_spark.testing.http_echo import InProcessHttpEcho

    srv = InProcessHttpEcho()
    try:
        code = (
            'let r = bento.v0_fetch('
            f'"http://127.0.0.1:{srv.port}/enrich", '
            '{"X-K": "v"}, "POST", bento.v0_msg_as_string());\n'
            "bento.v0_msg_set_structured("
            "{status: r.status, echo: JSON.parse(r.body)});"
        )
        df = spark.createDataFrame(
            [("hello",), ("worlds",)], "content string"
        ).coalesce(1)
        rows = javascript_processor(df, code).collect()
        got = sorted(
            (json.loads(r.content)["echo"]["len"],
             json.loads(r.content)["status"]) for r in rows
        )
        assert got == [(5, 200), (6, 200)]
        assert all(r._error is None for r in rows)
    finally:
        srv.stop()


def test_v0_fetch_connection_error_lands_in_error_channel(spark):
    df = spark.createDataFrame([("x",)], "content string")
    code = 'bento.v0_fetch("http://127.0.0.1:1/nope", {}, "GET", "");'
    rows = javascript_processor(df, code).collect()
    assert rows[0]._error is not None and "v0_fetch" in rows[0]._error


def test_v0_fetch_non2xx_returned_not_thrown(spark):
    """The transport contract: 4xx comes back as {status, body}, the
    script decides — same as the reference's http.DefaultClient.Do."""
    import json
    from http.server import BaseHTTPRequestHandler

    from bento_spark.serving import HttpServer

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            body = b"gone"
            self.send_response(404)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    with HttpServer(H) as srv:
        code = (f'let r = bento.v0_fetch("{srv.url}/x", {{}}, "GET", "");\n'
                'bento.v0_msg_set_structured(r);')
        df = spark.createDataFrame([("x",)], "content string")
        rows = javascript_processor(df, code).collect()
        assert rows[0]._error is None
        assert json.loads(rows[0].content) == {"status": 404, "body": "gone"}
