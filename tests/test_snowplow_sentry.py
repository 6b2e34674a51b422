"""opensnowcat enriched-TSV processor (pure Column plan) and
sentry_capture (event POST + passthrough)."""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.operators.snowplow import COLUMNS, opensnowcat
from bento_spark.serving import HttpServer


def _tsv(**fields) -> str:
    vals = [""] * len(COLUMNS)
    for k, v in fields.items():
        vals[COLUMNS.index(k)] = str(v)
    return "\t".join(vals)


@pytest.fixture()
def events(spark):
    rows = [
        (1, _tsv(app_id="shop", event="page_view", user_ipaddress="10.0.0.1",
                 user_id="alice", page_url="https://x/a")),
        (2, _tsv(app_id="shop", event="transaction", user_ipaddress="192.168.1.9",
                 user_id="bob", tr_total="42.5")),
        (3, _tsv(app_id="bot", event="page_view", user_ipaddress="10.0.0.3",
                 useragent="EvilBot/1.0", user_id="carol")),
    ]
    return spark.createDataFrame(rows, "id long, content string")


def test_tsv_to_json(events):
    out = {r["id"]: json.loads(r["event_out"])
           for r in opensnowcat(events).collect()}
    assert out[1]["app_id"] == "shop" and out[1]["user_id"] == "alice"
    assert out[2]["tr_total"] == "42.5"
    # empty fields omitted from the JSON (reference SDK behavior)
    assert "geo_city" not in out[1]


_CTX = json.dumps([
    {"schema": "iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0",
     "data": {"id": "p-1"}},
    {"schema": "iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-1",
     "data": [
         {"schema": "iglu:com.acme/checkout/jsonschema/2-0-0",
          "data": {"step": 3}},
     ]},
])
_UA_CTX = json.dumps([
    {"schema": ("iglu:com.snowplowanalytics.snowplow/ua_parser_context/"
                "jsonschema/1-0-0"),
     "data": {"useragentFamily": "Chrome", "osFamily": "Linux"}},
])
_UNSTRUCT = json.dumps(
    {"schema": "iglu:com.acme/purchase/jsonschema/1-0-2",
     "data": {"sku": "X9", "qty": 2}}
)


def test_enriched_json_restructures_contexts(spark):
    """output_format: enriched_json (processor_opensnowcat.go:595):
    contexts become vendor_name keys with {version, data}, Snowplow
    wrapper schemas unwrap, unstruct_event keyed the same way."""
    rows = [(1, _tsv(app_id="shop", event="page_view",
                     contexts=_CTX, unstruct_event=_UNSTRUCT))]
    df = spark.createDataFrame(rows, "id long, content string")
    out = json.loads(
        opensnowcat(df, output_format="enriched_json").collect()[0]["event_out"]
    )
    ctx = out["contexts"]
    assert ctx["com_snowplowanalytics_snowplow_web_page"] == {
        "version": "1-0-0", "data": [{"id": "p-1"}],
    }
    # the wrapper schema itself is unwrapped, its inner context surfaces
    assert ctx["com_acme_checkout"] == {
        "version": "2-0-0", "data": [{"step": 3}],
    }
    assert "com_snowplowanalytics_snowplow_contexts" not in ctx
    assert out["unstruct_event"]["com_acme_purchase"] == {
        "version": "1-0-2", "data": [{"sku": "X9", "qty": 2}],
    }
    assert out["app_id"] == "shop"


def test_schema_property_filter_drops(spark):
    """Dotted schema-property filters search the context JSON
    (searchSchemaProperty) — the docs' ua_parser example."""
    rows = [
        (1, _tsv(app_id="a", derived_contexts=_UA_CTX)),
        (2, _tsv(app_id="b")),
    ]
    df = spark.createDataFrame(rows, "id long, content string")
    out = opensnowcat(
        df, output_format="tsv",
        filters={
            "com.snowplowanalytics.snowplow.ua_parser_context."
            "useragentFamily": {"contains": ["Chrome", "Firefox"]},
        },
    ).collect()
    assert [r["id"] for r in out] == [2]


def test_filters_drop_matching_events(events):
    out = opensnowcat(events, filters={"useragent": ["Bot"]}).collect()
    assert sorted(r["id"] for r in out) == [1, 2]


def test_hash_and_redact_transforms(events):
    import hashlib

    out = {r["id"]: json.loads(r["event_out"]) for r in opensnowcat(
        events,
        transforms={
            "user_ipaddress": {"type": "hash", "algorithm": "sha256", "salt": "s!"},
            "user_id": {"type": "redact"},
        },
    ).collect()}
    assert out[1]["user_ipaddress"] == hashlib.sha256(b"s!10.0.0.1").hexdigest()
    assert out[1]["user_id"] == "[REDACTED]"
    # null fields stay null (absent), not hashed empty strings
    assert "geo_city" not in out[1]


def test_tsv_output_roundtrip(events):
    out = opensnowcat(events, output_format="tsv").collect()
    row1 = next(r for r in out if r["id"] == 1)
    assert row1["event_out"] == row1["content"]  # no transforms = identity


def test_unknown_field_raises(events):
    with pytest.raises(ValueError, match="unknown enriched-TSV field"):
        opensnowcat(events, filters={"nope": ["x"]}).collect()


def test_short_row_yields_nulls_not_ansi_error(spark):
    """A line with fewer than 131 tab-separated fields parses to unset
    fields instead of throwing INVALID_ARRAY_INDEX_IN_ELEMENT_AT under
    ANSI (try_element_at). Regression pin for the r13 docs-sweep break:
    the cache processor's localCheckpoint materializes every upstream
    column, so an unconsumed projection over a malformed row must not
    fail the job (the reference parser treats missing trailing fields
    as empty)."""
    df = spark.createDataFrame([(1, "shop\tweb")], "id long, content string")
    out = json.loads(opensnowcat(df).collect()[0]["event_out"])
    assert out == {"app_id": "shop", "platform": "web"}


def test_no_udf_in_plan(events):
    plan = opensnowcat(
        events, transforms={"user_id": {"type": "hash"}}
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ---- sentry_capture -------------------------------------------------------


class _SentryHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.server.events.append((self.path, json.loads(body)))
        payload = b'{"id":"x"}'
        code = 429 if self.server.reject else 200
        self.send_response(code)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


class _SentryServer(HttpServer):
    def __init__(self):
        self.events = []
        self.reject = False
        super().__init__(_SentryHandler)


@pytest.fixture()
def sentry_server():
    with _SentryServer() as srv:
        yield srv


def test_sentry_capture_posts_and_passes_through(spark, sentry_server):
    from bento_spark.operators.sentry import sentry_capture

    port = sentry_server.port
    dsn = f"http://pubkey@127.0.0.1:{port}/42"
    df = spark.range(5).selectExpr("id", "concat('oops-', id) AS msg")
    out = sentry_capture(
        df, dsn, "msg", level="error", environment="test",
        tags_cols={"rowid": "id"},
    ).collect()
    assert sorted(r["id"] for r in out) == list(range(5))  # passthrough
    assert all(r["_error"] is None for r in out)
    assert len(sentry_server.events) == 5
    path, ev = sentry_server.events[0]
    assert path.startswith("/api/42/store/?sentry_key=pubkey")
    assert ev["level"] == "error" and ev["environment"] == "test"
    assert ev["message"].startswith("oops-")
    assert "rowid" in ev["tags"]


def test_sentry_capture_failure_flags_error(spark, sentry_server):
    from bento_spark.operators.sentry import sentry_capture

    sentry_server.reject = True
    port = sentry_server.port
    df = spark.range(2).selectExpr("id", "string(id) AS msg")
    out = sentry_capture(df, f"http://k@127.0.0.1:{port}/1", "msg").collect()
    assert all(r["_error"] == "sentry HTTP 429" for r in out)


def test_dsn_validation():
    from bento_spark.operators.sentry import parse_dsn

    url, key = parse_dsn("https://abc@o1.ingest.sentry.io/123")
    assert url == "https://o1.ingest.sentry.io/api/123/store/" and key == "abc"
    with pytest.raises(ValueError, match="invalid sentry DSN"):
        parse_dsn("https://sentry.io/nope")
