"""Part-2 YAML registrations: the remaining documented processor and
output names (plans/processors2.py, sinks/yaml_outputs2.py) — name
completeness pins plus end-to-end behavior for each new piece of
glue."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

import bento_spark.plans.pipeline as P
from bento_spark.operators.envelope import ensure_envelope
from bento_spark.sinks import SINKS, run_sink

PDOCS = "/root/reference/website/docs/components/processors"
ODOCS = "/root/reference/website/docs/components/outputs"


def _names(d):
    return {
        os.path.basename(f)[:-3]
        for f in glob.glob(f"{d}/*.md")
        if not f.endswith("about.md")
    }


def test_every_documented_processor_name_registered():
    if not os.path.isdir(PDOCS):
        pytest.skip("reference docs absent")
    missing = sorted(_names(PDOCS) - set(P.PROCESSORS))
    assert not missing, f"documented processors unregistered: {missing}"


def test_every_documented_output_name_registered():
    if not os.path.isdir(ODOCS):
        pytest.skip("reference docs absent")
    missing = sorted(_names(ODOCS) - set(SINKS))
    assert not missing, f"documented outputs unregistered: {missing}"


def _content_df(spark, docs):
    return ensure_envelope(
        spark.createDataFrame([(d,) for d in docs], "content string")
    )


def test_xml_processor_to_json(spark):
    df = _content_df(spark, [
        '<order id="7"><item>a</item><item>b</item><note>hi</note></order>',
        "not xml <<<",
    ])
    out = P.PROCESSORS["xml"](df, {"operator": "to_json"}).collect()
    good = [r for r in out if r["_error"] is None][0]
    doc = json.loads(good["content"])
    assert doc["order"]["-id"] == "7"
    assert doc["order"]["item"] == ["a", "b"]
    assert doc["order"]["note"] == "hi"
    bad = [r for r in out if r["_error"] is not None][0]
    assert "xml" in bad["_error"]


def test_parquet_roundtrip_processors(spark):
    docs = [json.dumps({"a": i, "b": f"x{i}"}) for i in range(6)]
    df = _content_df(spark, docs)
    blob = P.PROCESSORS["parquet_encode"](df, {}).collect()
    assert len(blob) == 1 and blob[0]["n_rows"] == 6
    df2 = ensure_envelope(
        spark.createDataFrame([(bytes(blob[0]["content"]),)], "content binary")
    )
    back = P.PROCESSORS["parquet_decode"](df2, {}).collect()
    vals = sorted(json.loads(r["content"])["a"] for r in back)
    assert vals == list(range(6))


def test_avro_processor_roundtrip(spark):
    schema = {
        "type": "record", "name": "r",
        "fields": [{"name": "n", "type": "long"}],
    }
    docs = [json.dumps({"n": i}) for i in range(4)]
    df = _content_df(spark, docs)
    enc = P.PROCESSORS["avro"](
        df, {"operator": "from_json", "schema": schema}
    )
    dec = P.PROCESSORS["avro"](enc, {"operator": "to_json"}).collect()
    got = sorted(json.loads(r["content"])["n"] for r in dec)
    assert got == [0, 1, 2, 3]


def test_template_processor(spark):
    df = _content_df(spark, [json.dumps({"user": {"name": "Ada"}, "n": 3})])
    out = P.PROCESSORS["template"](
        df, {"text": "hello {{ .user.name }} ({{ .n }}) {{ .missing }}"}
    ).collect()
    assert out[0]["content"] == "hello Ada (3) <no value>"


def test_template_rejects_control_constructs(spark):
    df = _content_df(spark, ["{}"])
    from bento_spark.plans.config import ConfigError

    with pytest.raises(ConfigError):
        P.PROCESSORS["template"](df, {"text": "{{ range .x }}y{{ end }}"})


def test_file_processor_read_write_stat(spark, tmp_path):
    target = tmp_path / "f.txt"
    target.write_text("file-content")
    df = _content_df(spark, ["ignored"]).withColumn(
        "path_hint", F.lit(str(target))
    )
    out = P.PROCESSORS["file"](
        df, {"operation": "read", "path": str(target)}
    ).collect()
    assert out[0]["content"] == "file-content"
    stat = P.PROCESSORS["file"](
        _content_df(spark, ["x"]), {"operation": "stat", "path": str(target)}
    ).collect()
    meta = json.loads(stat[0]["content"])
    assert meta["name"] == "f.txt" and meta["size"] == 12
    missing = P.PROCESSORS["file"](
        _content_df(spark, ["x"]),
        {"operation": "read", "path": str(tmp_path / "nope")},
    ).collect()
    assert missing[0]["_error"] is not None


def test_rate_limit_processor_admits(spark):
    from bento_spark.operators.ratelimit import register_rate_limit

    register_rate_limit("p2rl", {"count": 10_000, "interval": "1s"})
    df = _content_df(spark, ["a", "b", "c"])
    out = P.PROCESSORS["rate_limit"](df, {"resource": "p2rl"}).collect()
    assert len(out) == 3


def test_rate_limit_unknown_label_fails_at_build(spark):
    df = _content_df(spark, ["a"])
    with pytest.raises(Exception):
        P.PROCESSORS["rate_limit"](df, {"resource": "no-such-label"})


def test_resource_processor_indirection(spark):
    P.PROCESSOR_RESOURCES["upper_it"] = {
        "mapping": 'root = {"u": this.v.uppercase()}'
    }
    try:
        df = _content_df(spark, [json.dumps({"v": "hi"})])
        out = P.PROCESSORS["resource"](df, "upper_it").collect()
        assert out[0]["u"] == "HI"
    finally:
        P.PROCESSOR_RESOURCES.pop("upper_it", None)


def test_sql_select_processor_view_fallback(spark):
    spark.createDataFrame([(1, "us"), (2, "fr")], "id int, cc string") \
        .createOrReplaceTempView("p2_dims")
    df = _content_df(spark, ["m1", "m2"])
    out = P.PROCESSORS["sql_select"](
        df, {"table": "p2_dims", "columns": ["cc"], "where": "id = 2"}
    ).collect()
    assert json.loads(out[0]["sql_result"]) == [{"cc": "fr"}]


def test_sync_response_processor_is_document_identity(spark):
    df = _content_df(spark, ["payload"])
    out = P.PROCESSORS["sync_response"](df, {}).collect()
    assert out[0]["content"] == "payload"


# ---- outputs ---------------------------------------------------------------

def test_websocket_output_against_rfc6455_server(spark, tmp_path):
    from bento_spark.sources.http_server import WebSocketIngestServer

    srv = WebSocketIngestServer(str(tmp_path / "stage"))
    try:
        df = spark.createDataFrame(
            [(json.dumps({"i": i}),) for i in range(5)], "content string"
        )
        run_sink(df, False, "websocket",
                 {"url": f"ws://127.0.0.1:{srv.port}/"})
        import time

        for _ in range(50):
            if srv.received >= 5:
                break
            time.sleep(0.1)
        assert srv.received == 5
        staged = []
        for f in sorted((tmp_path / "stage").glob("*.ndjson")):
            staged += [json.loads(ln)["value"] for ln in open(f)]
        # deliver() serializes each row as {"content": ...}
        rows = [json.loads(json.loads(v)["content"]) for v in staged]
        assert sorted(r["i"] for r in rows) == list(range(5))
    finally:
        srv.stop()


def test_subprocess_output_feeds_child_stdin(spark, tmp_path):
    sink_file = tmp_path / "got.txt"
    # one partition -> ONE child process (the reference's
    # single-subprocess semantics; multiple partitions would each
    # spawn a child and tee would truncate)
    df = spark.createDataFrame(
        [("r1",), ("r2",)], "content string"
    ).coalesce(1)
    run_sink(df, False, "subprocess",
             {"name": "tee", "args": [str(sink_file)]})
    import time

    for _ in range(50):
        if sink_file.exists() and len(sink_file.read_text().splitlines()) >= 2:
            break
        time.sleep(0.1)
    lines = sorted(sink_file.read_text().splitlines())
    assert [json.loads(ln)["content"] for ln in lines] == ["r1", "r2"]


def test_dynamic_and_resource_and_retry_sinks(spark, tmp_path):
    from bento_spark.sinks.yaml_outputs2 import OUTPUT_RESOURCES

    df = spark.createDataFrame([("a",), ("b",)], "content string")
    out1 = tmp_path / "dyn"
    run_sink(df, False, "dynamic", {
        "outputs": {"main": {"parquet": {"path": str(out1)}}},
        "active": "main",
    })
    assert spark.read.parquet(str(out1)).count() == 2

    out2 = tmp_path / "res"
    OUTPUT_RESOURCES["my_out"] = {"parquet": {"path": str(out2)}}
    try:
        run_sink(df, False, "resource", {"resource": "my_out"})
        assert spark.read.parquet(str(out2)).count() == 2
    finally:
        OUTPUT_RESOURCES.pop("my_out", None)

    out3 = tmp_path / "rty"
    run_sink(df, False, "retry", {
        "output": {"parquet": {"path": str(out3)}}, "max_retries": 2,
    })
    assert spark.read.parquet(str(out3)).count() == 2


def test_retry_sink_retries_then_raises(spark, tmp_path):
    df = spark.createDataFrame([("a",)], "content string")
    with pytest.raises(Exception):
        run_sink(df, False, "retry", {
            "output": {"parquet": {}},  # missing path -> child always fails
            "max_retries": 1, "backoff_s": 0.01,
        })


def test_http_server_output_serves_results(spark):
    import urllib.request

    from bento_spark.sinks.yaml_outputs2 import HTTP_SERVER_SINKS

    df = spark.createDataFrame(
        [(json.dumps({"r": i}),) for i in range(3)], "content string"
    )
    run_sink(df, False, "http_server", {"path": "/get_p2"})
    first = HTTP_SERVER_SINKS["/get_p2"]
    run_sink(df, False, "http_server", {"path": "/get_p2"})
    assert first.socket.fileno() == -1  # the re-run stopped its server
    with HTTP_SERVER_SINKS["/get_p2"] as srv:
        body = urllib.request.urlopen(
            f"{srv.url}/get_p2", timeout=5
        ).read().decode()
        got = sorted(json.loads(ln)["r"] for ln in body.splitlines() if ln)
        assert got == [0, 1, 2]


def test_config_input_output_resources_sections(spark, tmp_path):
    """`input_resources:` / `output_resources:` config sections feed the
    `resource` input and output components end-to-end."""
    from bento_spark.plans.pipeline import build_pipeline

    src = tmp_path / "in.jsonl"
    src.write_text('{"v": 1}\n{"v": 2}')
    out_dir = tmp_path / "out"
    cfg = {
        "input_resources": [
            {"label": "src_a", "file": {"path": str(src)}},
        ],
        "output_resources": [
            {"label": "dst_a", "parquet": {"path": str(out_dir)}},
        ],
        "input": {"resource": {"resource": "src_a"}},
        "output": {"resource": {"resource": "dst_a"}},
    }
    pipe = build_pipeline(spark, cfg)
    pipe.run()
    assert spark.read.parquet(str(out_dir)).count() == 2


def test_sleep_processor_paces_per_batch(spark):
    import time

    df = _content_df(spark, ["a", "b"]).coalesce(1)
    t0 = time.time()
    out = P.PROCESSORS["sleep"](df, {"duration": "300ms"}).collect()
    assert len(out) == 2
    assert time.time() - t0 >= 0.3  # one pause per Arrow batch

    # zero duration stays a no-op identity plan
    out2 = P.PROCESSORS["sleep"](df, {"duration": "0s"})
    assert out2.count() == 2
