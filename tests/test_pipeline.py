"""YAML pipeline engine tests — the Spark form of the reference's
config-unit-test corpus (internal/cli/test/case.go, config/test/*.yaml):
declare a pipeline, run it, assert the output batch."""

from __future__ import annotations

import json

import pytest

from bento_spark.plans import build_pipeline, load_config
from bento_spark.plans.config import ConfigError
from tests.conftest import SF_DIR


def test_generate_mapping_memory(spark):
    p = build_pipeline(
        spark,
        f"""
input:
  generate:
    count: 10
pipeline:
  processors:
    - mapping: |
        root.seq = this.seq
        root.sq = this.seq * this.seq
        root.even = this.seq % 2 == 0
    - filter: this.even
output:
  memory:
    name: t_pipe_gen
""",
    )
    assert not p.is_streaming
    p.run()
    rows = spark.sql("SELECT * FROM t_pipe_gen ORDER BY seq").collect()
    assert [r["seq"] for r in rows] == [0, 2, 4, 6, 8]
    assert [r["sq"] for r in rows] == [0, 4, 16, 36, 64]


def test_parquet_sql_groupby(spark):
    p = build_pipeline(
        spark,
        f"""
input:
  parquet:
    path: {SF_DIR}/orders.parquet
pipeline:
  processors:
    - filter: this.o_orderstatus == "F"
    - group_by:
        keys: [o_orderpriority]
        aggs:
          - "count(*) AS n"
          - "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total"
""",
    )
    df = p.dataframe()
    got = {r["o_orderpriority"]: r["n"] for r in df.collect()}
    import duckdb

    con = duckdb.connect()
    exp = dict(
        con.execute(
            f"SELECT o_orderpriority, count(*) FROM read_parquet('{SF_DIR}/orders.parquet') "
            "WHERE o_orderstatus = 'F' GROUP BY 1"
        ).fetchall()
    )
    assert got == exp


def test_env_interpolation(spark, monkeypatch):
    monkeypatch.setenv("PIPE_N", "5")
    cfg = load_config(
        """
input:
  generate:
    count: ${PIPE_N}
"""
    )
    assert cfg["input"]["generate"]["count"] == "5"
    assert load_config("input:\n  generate:\n    count: ${MISSING_VAR:7}\n")[
        "input"
    ]["generate"]["count"] == "7"


def test_lint_errors(spark):
    with pytest.raises(ConfigError, match="unknown config sections"):
        load_config("input:\n  generate: {count: 1}\nbogus: {}\n")
    with pytest.raises(ConfigError, match="exactly one component"):
        load_config("input:\n  a: {}\n  b: {}\n")
    with pytest.raises(ConfigError, match="environment variable"):
        load_config("input:\n  generate: {count: '${NOPE_NOPE}'}\n")
    with pytest.raises(ConfigError, match="unknown processor"):
        build_pipeline(
            spark, "input:\n  generate: {count: 1}\npipeline:\n  processors:\n    - nope: {}\n"
        )


def test_broker_union_and_switch_sink(spark, tmp_path):
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    p = build_pipeline(
        spark,
        f"""
input:
  broker:
    inputs:
      - generate: {{count: 3}}
      - generate: {{count: 2}}
pipeline:
  processors:
    - mutation: |
        root.big = this.seq >= 2
output:
  switch:
    cases:
      - check: this.big
        output:
          json: {{path: {out_a}, mode: overwrite}}
      - check: "!this.big"
        output:
          json: {{path: {out_b}, mode: overwrite}}
""",
    )
    p.run()
    a = spark.read.json(out_a).collect()
    b = spark.read.json(out_b).collect()
    assert len(a) == 1 and a[0]["seq"] == 2  # 3+2 rows: seqs 0,1,2,0,1
    assert sorted(r["seq"] for r in b) == [0, 0, 1, 1]


def test_streaming_pipeline_window(spark):
    p = build_pipeline(
        spark,
        f"""
input:
  parquet:
    path: {SF_DIR}
    stream: true
    options: {{pathGlobFilter: events.parquet}}
pipeline:
  processors:
    - mutation: |
        root.ts = this.ts  # placeholder; ns fixup below
""",
    )
    # ns->us fixup then window (the loader keeps raw schema for streams)
    from pyspark.sql import functions as F

    from bento_spark.streaming import windows as W

    from tests.conftest import fix_ts

    df = fix_ts(p.dataframe())
    agg = W.windowed_agg(
        df,
        "ts",
        W.tumbling("ts", "1 hour"),
        [],
        [F.count(F.lit(1)).alias("n")],
        watermark="1 hour",
    )
    from bento_spark.sinks import run_sink

    q = run_sink(agg, True, "memory", {"name": "t_pipe_win", "output_mode": "complete"})
    assert q.awaitTermination(180)
    n = spark.sql("SELECT sum(n) AS s FROM t_pipe_win").collect()[0]["s"]
    assert n == spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def test_file_inputs_stream_a_paths_list(spark, tmp_path):
    """`file` and `json` with a `paths:` list and `stream: true` read
    every listed path (a stream reader loads one path at a time)."""
    from bento_spark.sources import build_source

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    (a / "1.json").write_text('{"k": "x1"}\n{"k": "x2"}\n')
    (b / "1.json").write_text('{"k": "y1"}\n')
    for name, conf, col in (
        ("file", {}, "content"),
        ("json", {"schema": "k STRING"}, "k"),
    ):
        df, stream = build_source(
            spark, name, {"paths": [str(a), str(b)], "stream": True, **conf}
        )
        assert stream and df.isStreaming
        q = (
            df.select(col).writeStream.format("memory")
            .queryName(f"t_paths_{name}")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        got = sorted(r[0] for r in spark.table(f"t_paths_{name}").collect())
        if name == "file":
            got = [json.loads(v)["k"] for v in got]
        assert got == ["x1", "x2", "y1"]


def test_file_source_scanners(spark, tmp_path):
    """file input scanner config: re_match framing + chunker + inproc
    handoff between pipelines (input-level scanner parity)."""
    from bento_spark.sources import build_source

    log = tmp_path / "app.log"
    log.write_text(
        "BEGIN job=1\nline a\nline b\nBEGIN job=2\nline c\n"
    )
    df, streaming = build_source(
        spark,
        "file",
        {"path": str(log), "scanner": {"re_match": {"pattern": "^BEGIN"}}},
    )
    assert not streaming
    parts = sorted(r["content"] for r in df.collect())
    assert parts == ["BEGIN job=1\nline a\nline b", "BEGIN job=2\nline c"]

    df2, _ = build_source(
        spark, "file", {"path": str(log), "scanner": {"chunker": {"size": 10}}}
    )
    chunks = [r["content"] for r in df2.collect()]
    assert "".join(chunks) == log.read_text()

    # inproc handoff: memory sink -> inproc source
    from bento_spark.sinks import run_sink

    src = spark.createDataFrame([(1, "x")], "id long, s string")
    run_sink(src, False, "memory", {"name": "t_handoff"})
    df3, streaming3 = build_source(spark, "inproc", {"name": "t_handoff"})
    assert not streaming3
    assert [r["id"] for r in df3.collect()] == [1]


def test_subprocess_and_awk(spark):
    """subprocess/command/awk processors: per-partition child process,
    line-per-message contract (processor_subprocess.go)."""
    from bento_spark.operators.subproc import awk_processor, subprocess_processor

    df = spark.createDataFrame(
        [(1, "hello"), (2, "world"), (3, None)], "id long, content string"
    )
    out = subprocess_processor(df, "content", ["tr", "a-z", "A-Z"])
    got = {r["id"]: r["content"] for r in out.collect()}
    assert got == {1: "HELLO", 2: "WORLD", 3: ""}

    out2 = awk_processor(df.filter("id < 3"), "content", "{print length($0)}")
    got2 = {r["id"]: r["content"] for r in out2.collect()}
    assert got2 == {1: "5", 2: "5"}

    import pytest as _pytest

    bad = subprocess_processor(
        df.filter("id = 1"), "content", ["grep", "nomatch"]
    )
    with _pytest.raises(Exception, match="contract broken|exited"):
        bad.collect()


def test_sql_select_source_sqlite(spark, tmp_path):
    """`sql_select` dimension source (sqlite driver) through the YAML
    source registry."""
    import sqlite3

    db = str(tmp_path / "dims.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE colors (id INTEGER, name TEXT)")
    con.executemany("INSERT INTO colors VALUES (?, ?)",
                    [(1, "red"), (2, "green"), (3, None)])
    con.commit()
    con.close()
    from bento_spark.sources import build_source

    df, streaming = build_source(spark, "sql_select", {
        "driver": "sqlite", "path": db,
        "query": "SELECT id, name FROM colors ORDER BY id",
    })
    assert not streaming
    rows = [(r["id"], r["name"]) for r in df.collect()]
    assert rows == [("1", "red"), ("2", "green"), ("3", None)]


def test_awk_dialect_nested_paths_and_timestamps(spark):
    """The r10 flattened awk dialect: nested json paths, array
    iteration/append (awk.md doc examples) and the timestamp_*
    builtins on pure civil-date math (processor.go:478-509)."""
    import json

    from bento_spark.plans.pipeline import PROCESSORS

    df = spark.createDataFrame(
        [('{"doc":{"val1":5,"val2":10},"when":"2018-12-18T11:57:32"}',)],
        "content string",
    )
    out = PROCESSORS["awk"](df, {
        "codec": "none",
        "program": (
            '{\n'
            '  json_set_int("doc.result",'
            ' json_get("doc.val1") + json_get("doc.val2"));\n'
            '  json_set_int("unix", timestamp_unix(json_get("when")));\n'
            '  json_set("rfc", timestamp_format('
            'timestamp_unix(json_get("when")), ""));\n'
            '  json_append("tags", "a"); json_append("tags", "b");\n'
            '}'
        ),
    })
    doc = json.loads(out.first()["content"])
    assert doc["doc"] == {"val1": 5, "val2": 10, "result": 15}
    assert doc["unix"] == 1545134252
    assert doc["rfc"] == "2018-12-18T11:57:32Z"
    assert doc["tags"] == ["a", "b"]


def test_awk_timestamp_go_layouts(spark):
    """getTime parity (processor.go:444-474, ADVICE r10 #2): explicit
    Go-layout `format` args parse token-by-token, the no-format path
    tries the reference's detection layout list (RubyDate, RFC1123...),
    dateStr=="" returns the current time, and an unparseable input
    errors the MESSAGE (not a stderr-warn-and-return-0)."""
    import json
    import time

    from bento_spark.plans.pipeline import PROCESSORS

    df = spark.createDataFrame(
        [('{"clf":"10/Nov/2009:23:00:00 +0000",'
          '"ruby":"Tue Nov 10 23:00:00 -0500 2009",'
          '"rfc1123":"Tue, 10 Nov 2009 23:00:00 GMT"}',)],
        "content string",
    )
    out = PROCESSORS["awk"](df, {
        "codec": "none",
        "program": (
            '{\n'
            '  json_set_int("t_fmt", timestamp_unix(json_get("clf"),'
            ' "02/Jan/2006:15:04:05 -0700"));\n'
            '  json_set_int("t_ruby", timestamp_unix(json_get("ruby")));\n'
            '  json_set_int("t_1123", timestamp_unix(json_get("rfc1123")));\n'
            '  json_set_int("t_now", timestamp_unix(""));\n'
            '}'
        ),
    })
    row = out.first()
    doc = json.loads(row["content"])
    assert doc["t_fmt"] == 1257894000
    assert doc["t_ruby"] == 1257912000   # -0500 offset applied
    assert doc["t_1123"] == 1257894000
    assert abs(doc["t_now"] - time.time()) < 300
    assert row["_error"] is None

    bad = PROCESSORS["awk"](df, {
        "codec": "none",
        "program": '{ json_set_int("t", timestamp_unix("garbage")); }',
    })
    brow = bad.first()
    assert "failed to detect datetime format" in (brow["_error"] or "")
    # a failed getTime aborts program.Run in the reference — the errored
    # message keeps its ORIGINAL content, mutations discarded (ADVICE
    # r11 #5)
    assert "t" not in json.loads(brow["content"])


def test_awk_base64_builtins(spark):
    """base64_encode/base64_decode (processor.go awkFunctionsMap) —
    StdEncoding with padding, pure-awk tables."""
    import json

    from bento_spark.plans.pipeline import PROCESSORS

    df = spark.createDataFrame([('{"s":"foobar"}',)], "content string")
    out = PROCESSORS["awk"](df, {
        "codec": "none",
        "program": (
            '{\n'
            '  json_set("enc", base64_encode(json_get("s")));\n'
            '  json_set("rt", base64_decode(base64_encode("hello ~#$%")));\n'
            '  json_set("dec", base64_decode("Zm9vYmE="));\n'
            '}'
        ),
    })
    doc = json.loads(out.first()["content"])
    assert doc["enc"] == "Zm9vYmFy"
    assert doc["rt"] == "hello ~#$%"
    assert doc["dec"] == "fooba"


def test_json_schema_doc_chain_drops_invalid(spark):
    """json_schema.md's documented error-handling chain: validate
    against the Person schema, catch failures, log, and drop — valid
    documents pass through untouched, invalid ones delete."""
    from bento_spark.plans.pipeline import CURRENT_BASE_DIR, _apply_children

    prev = CURRENT_BASE_DIR[0]
    CURRENT_BASE_DIR[0] = "tests/fixtures/docs_schemas"
    try:
        df = spark.createDataFrame(
            [
                ('{"firstName":"Ada","lastName":"L","age":36}',),
                ('{"firstName":"Bad","age":-5}',),
            ],
            "content string",
        )
        out = _apply_children(df, [
            {"json_schema": {"schema_path": "file://path_to_schema.json"}},
            {"catch": [
                {"log": {
                    "level": "ERROR",
                    "message": "Schema validation failed due to: ${!error()}",
                }},
                {"mapping": "root = deleted()"},
            ]},
        ])
        rows = out.collect()
        assert len(rows) == 1
        assert '"age":36' in rows[0]["content"].replace(" ", "") or (
            "Ada" in rows[0]["content"]
        )
    finally:
        CURRENT_BASE_DIR[0] = prev
