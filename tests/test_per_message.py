"""Per-message error policies of the processors that call out row by row.

Every processor here gets the same four messages: an ok message, an
errored message (``_error = "earlier"``) whose call fails, an errored
message whose call succeeds, and an ok message whose call fails. Each
case reports which messages its backend saw and the final value and
``_error`` of every message. Two policies exist:

* **skip** (family A): errored messages are not called and keep their
  content and their earlier error;
* **call** (family B): every message is called; a failing call replaces
  the earlier error, a succeeding one keeps it.

The batch-per-child processors (``subprocess``, the awk dialect,
``javascript``) run their child over every message.

Backends record calls in a file (the calls run in Python workers, not
in the test process) or, where a real client talks to a server, in an
in-process server. Plans carry no global sort: a sort's sampling job
would run the calls a second time.

Below the policies: the one-child-per-partition processors run on a
stream, and an AST guard keeps per-message loops on
``envelope.per_message``.
"""

from __future__ import annotations

import ast
import json
import pathlib
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.serving import HttpServer

# (id, _error, the call for this message fails)
ROWS = [(1, None, False), (2, "earlier", True), (3, "earlier", False),
        (4, None, True)]
SCHEMA = "id long, content string, _metadata map<string,string>, _error string"


def _doc(i, x="ok"):
    return json.dumps({"id": i, "x": x})


def _frame(spark, content=lambda i, fail: _doc(i, "fail" if fail else "ok")):
    return spark.createDataFrame(
        [(i, content(i, fail), {"k": "v"}, err) for i, err, fail in ROWS],
        SCHEMA,
    )


def _seen(log) -> list[int]:
    try:
        with open(log) as fh:
            return sorted(int(x) for x in fh.read().split())
    except FileNotFoundError:
        return []


def _result(out, col: str = "content") -> dict:
    return {r["id"]: (r[col], r["_error"]) for r in out.collect()}


# -- family A: errored messages are skipped ----------------------------------


def _lookup(spark, tmp_path):
    from bento_spark.plans.pipeline import _lookup_processor

    log = str(tmp_path / "calls")

    def fetch(client, conf, key):
        with open(log, "a") as fh:
            fh.write(f"{key}\n")
        if int(key) % 2 == 0:
            raise KeyError("not found")
        return f"v{key}"

    out = _lookup_processor(lambda conf: object(), fetch)(
        _frame(spark), {"key": "${! this.id }"}
    )
    return _result(out), _seen(log)


class _BigQueryHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        i = int(body["queryParameters"][0]["parameterValue"]["value"])
        self.server.seen.append(i)
        if i in (2, 4):
            status, payload = 400, {"error": "bad"}
        else:
            status, payload = 200, {
                "schema": {"fields": [{"name": "v", "type": "STRING"}]},
                "jobReference": {"jobId": "j"},
                "rows": [{"f": [{"v": f"r{i}"}]}],
            }
        data = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


class _BigQueryServer(HttpServer):
    def __init__(self):
        self.seen: list[int] = []
        super().__init__(_BigQueryHandler)


def _bigquery(spark, tmp_path):
    from bento_spark.plans.pipeline import PROCESSORS

    with _BigQueryServer() as server:
        out = PROCESSORS["gcp_bigquery_select"](_frame(spark), {
            "endpoint": server.url, "project": "p", "table": "ds.t",
            "where": "id = ?", "args_mapping": "root = [ this.id ]",
        })
        return _result(out), sorted(server.seen)


def _command(spark, tmp_path):
    from bento_spark.operators.subproc import command_per_message

    log = str(tmp_path / "calls")
    script = f"echo $1 >> {log}; test $2 != fail && echo out-$1"
    out = command_per_message(
        _frame(spark), "sh",
        f'root = ["-c", "{script}", "sh", this.id.string(), this.x]',
    )
    return _result(out), _seen(log)


def _file(spark, tmp_path):
    from bento_spark.plans.pipeline import PROCESSORS

    d = tmp_path / "files"
    d.mkdir()
    for i, _err, fail in ROWS:
        if not fail:
            (d / f"{i}.txt").write_text("x")
    out = PROCESSORS["file"](
        _frame(spark), {"operation": "delete", "path": f"{d}/${{! this.id }}.txt"}
    )
    res = {
        i: (c, e and e.replace(str(d), "<dir>"))
        for i, (c, e) in _result(out).items()
    }
    deleted = sorted(i for i, _e, fail in ROWS
                     if not fail and not (d / f"{i}.txt").exists())
    return res, deleted


def _xml(spark, tmp_path):
    from bento_spark.plans.pipeline import PROCESSORS

    out = PROCESSORS["xml"](
        _frame(spark, lambda i, fail: "<a" if fail else f"<a>{i}</a>"),
        {"operator": "to_json"},
    )
    return _result(out), None


def _sql_raw(spark, tmp_path):
    import duckdb

    from bento_spark.plans.pipeline import PROCESSORS

    db = str(tmp_path / "calls.duckdb")
    out = PROCESSORS["sql_raw"](_frame(spark), {
        "driver": "duckdb", "dsn": db,
        "init_statement": "CREATE TABLE IF NOT EXISTS log (id BIGINT, v INT)",
        "query": "INSERT INTO log VALUES (?, CAST(? AS INT)) RETURNING id",
        "args_mapping": 'root = [ this.id, if this.id % 2 == 0 { "x" } else { "7" } ]',
    })
    # duckdb's own message text varies by version: keep its exception kind
    res = {
        i: (c, e and ":".join(e.split(":")[:2]))
        for i, (c, e) in _result(out).items()
    }
    with duckdb.connect(db) as con:
        seen = sorted(r[0] for r in con.execute("SELECT id FROM log").fetchall())
    return res, seen


def _python(spark, tmp_path):
    from bento_spark.plans.pipeline import PROCESSORS

    log = str(tmp_path / "calls")
    script = (
        f"open({log!r}, 'a').write(str(this['id']) + '\\n')\n"
        "if this['x'] == 'fail':\n"
        "    raise ValueError('bad ' + metadata('k'))\n"
        "root['y'] = this['id']\n"
    )
    out = PROCESSORS["python"](_frame(spark), {"script": script})
    return _result(out), _seen(log)


def _wasm(spark, tmp_path):
    from bento_spark.operators.wasmproc import example_uppercase_module
    from bento_spark.plans.pipeline import PROCESSORS

    module = tmp_path / "upper.wasm"
    module.write_bytes(example_uppercase_module())
    out = PROCESSORS["wasm"](_frame(spark), {"module_path": str(module)})
    rows = out.collect()
    res = {r["id"]: (r["content"], r["_error"]) for r in rows}
    # the guest sets `wasm=yes` on every message it ran on
    seen = sorted(r["id"] for r in rows if r["_metadata"].get("wasm") == "yes")
    return res, seen


# -- family B: every message is called ----------------------------------------


def _aws(fn):
    def case(spark, tmp_path):
        from bento_spark.operators import awssvc

        log = str(tmp_path / "calls")

        def transport(method, url, body, headers):
            doc = json.loads(json.loads(body)["content"])
            with open(log, "a") as fh:
                fh.write(f"{doc['id']}\n")
            if doc["x"] == "fail":
                return 500, {}, "boom"
            return 200, {}, f"r{doc['id']}"

        df = _frame(spark).selectExpr(
            "*", "to_json(named_struct('content', content)) AS body"
        )
        out = getattr(awssvc, fn)(
            df, "http://127.0.0.1:1", "target", "body", "res",
            transport=transport,
        )
        return _result(out, "res"), _seen(log)

    return case


def _cosmosdb(spark, tmp_path):
    from bento_spark.operators.azuredata import cosmosdb_enrich

    log = str(tmp_path / "calls")

    class Client:
        def query_documents(self, query, params):
            doc = json.loads(params[0]["value"])
            with open(log, "a") as fh:
                fh.write(f"{doc['id']}\n")
            if doc["x"] == "fail":
                raise RuntimeError("down")
            return [{"id": doc["id"]}]

    out = cosmosdb_enrich(
        _frame(spark), Client, "SELECT * FROM c WHERE c.x = @x",
        {"@x": "content"}, "res",
    )
    return _result(out, "res"), _seen(log)


def _grpc(spark, tmp_path):
    from bento_spark.operators.grpc_wire import GrpcError, grpc_enrich
    from bento_spark.operators.protobuf import pb_decode, pb_encode

    log = str(tmp_path / "calls")
    req = {"fields": {1: ("id", "int64"), 2: ("x", "string")}}
    resp = {"fields": {1: ("y", "string")}}

    class Client:
        def request(self, path, msg):
            doc = pb_decode(msg, req)
            with open(log, "a") as fh:
                fh.write(f"{doc['id']}\n")
            if doc["x"] == "fail":
                raise GrpcError(14, "unavailable")
            return pb_encode({"y": f"r{doc['id']}"}, resp)

        def close(self):
            pass

    out = grpc_enrich(_frame(spark), Client, "/s/M", req, resp, out_col="res")
    return _result(out, "res"), _seen(log)


def _nats(spark, tmp_path):
    from bento_spark.operators.nats_wire import NatsError, request_reply_enrich

    log = str(tmp_path / "calls")

    class Client:
        def request(self, subject, body, timeout):
            doc = json.loads(body)
            with open(log, "a") as fh:
                fh.write(f"{doc['id']}\n")
            if doc["x"] == "fail":
                raise NatsError("no responders")
            return f"r{doc['id']}".encode()

        def close(self):
            pass

    out = request_reply_enrich(_frame(spark), Client, "svc", "content", "res")
    return _result(out, "res"), _seen(log)


def _sentry(spark, tmp_path):
    from bento_spark.operators.sentry import sentry_capture

    log = str(tmp_path / "calls")

    def transport(method, url, body):
        doc = json.loads(json.loads(body)["message"])
        with open(log, "a") as fh:
            fh.write(f"{doc['id']}\n")
        return (500 if doc["x"] == "fail" else 200), ""

    out = sentry_capture(
        _frame(spark), "http://k@127.0.0.1:1/1", "content", transport=transport
    )
    return _result(out), _seen(log)


def _http(spark, tmp_path):
    from bento_spark.operators.http import http_enrich

    log = str(tmp_path / "calls")

    def transport(method, url, body):
        doc = json.loads(body)
        with open(log, "a") as fh:
            fh.write(f"{doc['id']}\n")
        if doc["x"] == "fail":
            raise ConnectionError("refused")
        return 201, f"r{doc['id']} {url}"

    df = _frame(spark).selectExpr("*", "concat('http://h/', id) AS url")
    out = http_enrich(df, "url", "content", transport=transport)
    rows = out.collect()
    assert all(r["_metadata"] == {"k": "v"} for r in rows)
    res = {
        r["id"]: (
            (r["http_status"], r["http_response"])
            if r["http_status"] is not None else None,
            r["_error"],
        )
        for r in rows
    }
    return res, _seen(log)


# -- one child per partition: the child sees every message -------------------


def _javascript(spark, tmp_path):
    from bento_spark.operators.jsproc import javascript_processor

    log = str(tmp_path / "calls")
    code = (
        "const doc = bento.v0_msg_as_structured();"
        f"require('fs').appendFileSync({json.dumps(log)}, doc.id + '\\n');"
        "bento.v0_msg_set_string('js' + doc.id);"
        "if (doc.x === 'fail') throw new Error('bad');"
    )
    out = javascript_processor(_frame(spark), code)
    return _result(out), _seen(log)


def _subprocess(spark, tmp_path):
    from bento_spark.operators.subproc import subprocess_processor

    log = str(tmp_path / "calls")
    out = subprocess_processor(
        _frame(spark), "content", ["sh", "-c", f"tee -a {log} | tr a-z A-Z"]
    )
    res = _result(out)
    with open(log) as fh:
        seen = sorted(json.loads(line)["id"] for line in fh)
    return res, seen


def _awk(spark, tmp_path):
    from bento_spark.operators.subproc import awk_bento_processor

    program = (
        '{ if (json_get("x") == "fail") timestamp_unix("garbage");'
        ' json_set("y", "awk"); metadata_set("seen", json_get("id")) }'
    )
    rows = awk_bento_processor(_frame(spark), program).collect()
    res = {r["id"]: (r["content"], r["_error"]) for r in rows}
    seen = sorted(int(r["_metadata"]["seen"]) for r in rows
                  if "seen" in r["_metadata"])
    return res, seen


def _skip(new1, err4):
    """Family A over content: 1 replaced, 2 and 3 untouched, 4 flagged."""
    return {1: (new1, None), 2: (_doc(2, "fail"), "earlier"),
            3: (_doc(3), "earlier"), 4: (_doc(4, "fail"), err4)}


def _call(new1, new3, err):
    """Family B over a result column: every message called."""
    return {1: (new1, None), 2: (None, err), 3: (new3, "earlier"),
            4: (None, err)}


CASES = {
    "lookup": (_lookup, _skip("v1", "KeyError: 'not found'"), [1, 4]),
    "gcp_bigquery_select": (
        _bigquery,
        _skip('[{"v":"r1"}]',
              'BigQueryError: bigquery HTTP 400: {"error": "bad"}'),
        [1, 4],
    ),
    "command": (_command, _skip("out-1", "command exited 1: "), [1, 4]),
    "file": (
        _file,
        _skip(
            _doc(1),
            "file delete: [Errno 2] No such file or directory: '<dir>/4.txt'",
        ),
        [1],
    ),
    "xml": (
        _xml,
        {1: ('{"a":"1"}', None), 2: ("<a", "earlier"),
         3: ("<a>3</a>", "earlier"),
         4: ("<a", "xml: unclosed token: line 1, column 0")},
        None,
    ),
    "sql_raw": (
        _sql_raw,
        _skip('[{"id":1}]', "sql_raw: InvalidInputException"),
        [1],
    ),
    "python": (
        _python,
        _skip('{"y":1}', "python: ValueError: bad v"),
        [1, 4],
    ),
    "wasm": (
        _wasm,
        {1: (_doc(1).upper(), None), 2: (_doc(2, "fail"), "earlier"),
         3: (_doc(3), "earlier"), 4: (_doc(4, "fail").upper(), None)},
        [1, 4],
    ),
    "aws_lambda": (
        _aws("lambda_invoke_enrich"),
        _call("r1", "r3", "lambda HTTP 500: boom"),
        [1, 2, 3, 4],
    ),
    "aws_bedrock_invoke": (
        _aws("bedrock_invoke_enrich"),
        _call("r1", "r3", "bedrock HTTP 500: boom"),
        [1, 2, 3, 4],
    ),
    "azure_cosmosdb": (
        _cosmosdb,
        _call('[{"id": 1}]', '[{"id": 3}]', "cosmosdb: down"),
        [1, 2, 3, 4],
    ),
    "grpc": (
        _grpc,
        _call('{"y": "r1"}', '{"y": "r3"}', "grpc: grpc-status 14: unavailable"),
        [1, 2, 3, 4],
    ),
    "nats_request_reply": (
        _nats,
        _call("r1", "r3", "no responders"),
        [1, 2, 3, 4],
    ),
    "sentry_capture": (
        _sentry,
        {1: (_doc(1), None), 2: (_doc(2, "fail"), "sentry HTTP 500"),
         3: (_doc(3), "earlier"), 4: (_doc(4, "fail"), "sentry HTTP 500")},
        [1, 2, 3, 4],
    ),
    "http_enrich": (
        _http,
        _call((201, "r1 http://h/1"), (201, "r3 http://h/3"), "http: refused"),
        [1, 2, 3, 4],
    ),
    "javascript": (
        _javascript,
        {1: ("js1", None), 2: ("js2", "javascript: bad"),
         3: ("js3", "earlier"), 4: ("js4", "javascript: bad")},
        [1, 2, 3, 4],
    ),
    "subprocess": (
        _subprocess,
        {i: (_doc(i, "fail" if fail else "ok").upper(), err)
         for i, err, fail in ROWS},
        [1, 2, 3, 4],
    ),
    "awk": (
        _awk,
        {1: ('{"id":1,"x":"ok","y":"awk"}', None),
         2: (_doc(2, "fail"), "earlier"),
         3: ('{"id":3,"x":"ok","y":"awk"}', "earlier"),
         4: (_doc(4, "fail"), "failed to detect datetime format of: garbage")},
        [1, 3],
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_error_policy(spark, tmp_path, name):
    run, want, want_seen = CASES[name]
    got, seen = run(spark, tmp_path)
    assert seen == want_seen
    assert got == want


# -- the same config runs on a stream -----------------------------------------

STREAM_CASES = {
    "subprocess": {"subprocess": {"args": ["tr", "a-z", "A-Z"]}},
    "awk": {"awk": {"program": '{ json_set("y", json_get("id") * 2) }'}},
    "javascript": {"javascript": {"code": (
        "bento.v0_msg_set_string(bento.v0_msg_as_string().toUpperCase())"
    )}},
}


@pytest.mark.parametrize("name", sorted(STREAM_CASES))
def test_processor_runs_on_a_stream(spark, tmp_path, name):
    """A YAML `file` input with `stream: true`, one availableNow trigger
    into a parquet sink, gives the rows of the batch run of the same
    config."""
    from bento_spark.plans.pipeline import build_pipeline

    src = tmp_path / "in"
    src.mkdir()
    for part in range(2):
        (src / f"{part}.jsonl").write_text("".join(
            json.dumps({"id": i, "s": f"m{i}"}) + "\n"
            for i in range(part * 5, part * 5 + 5)
        ))

    def config(stream):
        return {
            "input": {"file": {"paths": [str(src)], "stream": stream}},
            "pipeline": {"processors": [STREAM_CASES[name]]},
        }

    def rows(df):
        return sorted(
            (r["content"], r.asDict().get("_error")) for r in df.collect()
        )

    batch = rows(build_pipeline(spark, config(False)).dataframe())
    df = build_pipeline(spark, config(True)).dataframe()
    assert df.isStreaming
    q = (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    assert rows(spark.read.parquet(str(tmp_path / "out"))) == batch
    assert len(batch) == 10 and all(err is None for _c, err in batch)


# -- guard: one per-message loop ----------------------------------------------

ROOT = pathlib.Path(__file__).resolve().parents[1]

# Modules whose per-message processors run on `envelope.per_message`.
MOVED = [
    "bento_spark/operators/awssvc.py",
    "bento_spark/operators/azuredata.py",
    "bento_spark/operators/grpc_wire.py",
    "bento_spark/operators/http.py",
    "bento_spark/operators/jsproc.py",
    "bento_spark/operators/nats_wire.py",
    "bento_spark/operators/pyproc.py",
    "bento_spark/operators/sentry.py",
    "bento_spark/operators/sqlproc.py",
    "bento_spark/operators/subproc.py",
    "bento_spark/operators/wasmproc.py",
    "bento_spark/plans/pipeline.py",
    "bento_spark/plans/processors2.py",
]

# Stages in those modules that are not one message in, one message out
# with the error written back: (module, top-level function) -> why.
EXEMPT = {
    ("bento_spark/operators/subproc.py", "subprocess_processor"):
        "one child per partition over all its batches",
    ("bento_spark/operators/subproc.py", "awk_bento_processor"):
        "one child per partition over all its batches",
    ("bento_spark/operators/awssvc.py", "dynamodb_partiql"):
        "25-statement batch calls",
    ("bento_spark/plans/pipeline.py", "_proc_cache_streaming"):
        "multi-get/multi-set per batch",
    ("bento_spark/plans/pipeline.py", "_proc_sleep"):
        "paces batches, calls nothing per message",
    ("bento_spark/plans/processors2.py", "_proc_parquet_decode"):
        "one message in, many out",
    ("bento_spark/plans/processors2.py", "_proc_parquet_encode"):
        "many messages in, one out",
    ("bento_spark/plans/processors2.py", "_proc_rate_limit"):
        "one admission per batch",
}


def _loop_sites(path: pathlib.Path) -> set[str]:
    """Top-level functions of ``path`` that call ``mapInPandas`` or
    assign ``pdf[ERROR]``; ``"<rdd>"`` for any ``.rdd.mapPartitions``."""
    found = set()
    for top in ast.parse(path.read_text(), str(path)).body:
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr == "mapPartitions" \
                    and isinstance(node.value, ast.Attribute) \
                    and node.value.attr == "rdd":
                found.add("<rdd>")
            elif isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
                found.add(getattr(top, "name", "<module>"))
            elif isinstance(node, (ast.Assign, ast.AugAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                if any(
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Name) and t.value.id == "pdf"
                    and isinstance(t.slice, ast.Name) and t.slice.id == "ERROR"
                    for t in targets
                ):
                    found.add(getattr(top, "name", "<module>"))
    return found


def test_no_rdd_partition_loops():
    assert [
        str(p.relative_to(ROOT))
        for p in sorted((ROOT / "bento_spark").rglob("*.py"))
        if "<rdd>" in _loop_sites(p)
    ] == []


def test_moved_modules_leave_the_loop_to_per_message():
    sites = {(m, f) for m in MOVED for f in _loop_sites(ROOT / m)}
    assert sites - set(EXEMPT) == set()


def test_guard_sees_each_loop_spelling(tmp_path):
    path = tmp_path / "m.py"
    path.write_text(
        "def a(df):\n    return df.mapInPandas(f, s)\n"
        "def b(pdf):\n    pdf[ERROR] = []\n"
        "def c(df):\n    return df.rdd.mapPartitions(f)\n"
        "def d(pdf):\n    pdf['content'] = []\n"
    )
    assert _loop_sites(path) == {"a", "b", "<rdd>"}
