"""The one retry policy (bento_spark/retry.py): its rules, the YAML
`retry` processor over a child that recovers, and a guard that no other
module sleeps between attempts of its own."""

from __future__ import annotations

import ast
import json
import pathlib
import threading
from http.server import BaseHTTPRequestHandler
from urllib.error import URLError

import pytest

from bento_spark import retry
from bento_spark.serving import HttpServer

ROOT = pathlib.Path(__file__).resolve().parents[1]

# Pacing sleeps, the only ones allowed outside retry.py: (module,
# enclosing function) -> what the sleep paces.
PACING = {
    ("bento_spark/plans/pipeline.py", "_proc_sleep.run"): "the sleep processor",
    ("bento_spark/plans/pipeline.py", "_proc_sleep.run_dyn"): "the sleep processor",
    ("bento_spark/sources/__init__.py", "_cron_stream.loop"): "the cron generator",
    ("bento_spark/sources/yaml_inputs2.py", "_server_source.fn"): "serve_s",
    ("bento_spark/__main__.py", "cmd_blobl"): "the CLI's wait loop",
    ("bento_spark/__main__.py", "cmd_streams"): "the CLI's wait loop",
    ("bento_spark/queries/streaming.py", "stream_recovery_window"):
        "a gate row waiting for a streaming query",
    ("bento_spark/queries/streaming.py", "stream_kafka_wire"):
        "a gate row waiting for a streaming query",
    ("bento_spark/testing/pgwire_server.py", "_Handler.handle"):
        "the pgwire double's row feed",
}


def _sleep_sites(path: pathlib.Path) -> list[str]:
    """The enclosing function of every ``time.sleep`` call in ``path``,
    under any import spelling."""
    tree = ast.parse(path.read_text(), str(path))
    modules, functions = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            modules |= {a.asname or a.name for a in node.names if a.name == "time"}
        elif isinstance(node, ast.ImportFrom) and node.module == "time":
            functions |= {
                a.asname or a.name for a in node.names if a.name == "sleep"
            }
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                visit(child, (*scope, child.name))
                continue
            f = getattr(child, "func", None)
            if (
                isinstance(f, ast.Attribute) and f.attr == "sleep"
                and isinstance(f.value, ast.Name) and f.value.id in modules
            ) or (isinstance(f, ast.Name) and f.id in functions):
                found.append(".".join(scope))
            visit(child, scope)

    visit(tree, ())
    return found


def test_no_sleep_outside_the_policy_and_the_pacing_list():
    sites = {
        (str(path.relative_to(ROOT)), scope)
        for path in sorted((ROOT / "bento_spark").rglob("*.py"))
        if path != ROOT / "bento_spark" / "retry.py"
        for scope in _sleep_sites(path)
    }
    assert sites - set(PACING) == set()


def test_guard_sees_every_import_spelling(tmp_path):
    path = tmp_path / "m.py"
    path.write_text(
        "import time\nimport time as _t\nfrom time import sleep as nap\n"
        "def f():\n    time.sleep(1)\n"
        "class C:\n    def g(self):\n        _t.sleep(1)\n"
        "nap(1)\n"
    )
    assert sorted(_sleep_sites(path)) == ["", "C.g", "f"]


# -- the policy -----------------------------------------------------------


class _Conn:
    """A client that records itself in ``made`` and whose ``get`` fails
    with ``fail_with`` when given."""

    def __init__(self, made: list, fail_with=None):
        made.append(self)
        self.n = len(made)
        self.fail_with = fail_with
        self.closed = False

    def get(self):
        if self.fail_with is not None:
            raise self.fail_with(f"on client {self.n}")
        return self.n

    def close(self):
        self.closed = True


def test_non_connection_error_surfaces_without_a_second_client():
    made = []
    with retry.Client(lambda: _Conn(made, PermissionError)) as client:
        with pytest.raises(PermissionError, match="on client 1"):
            client.run(lambda c: c.get())
    assert len(made) == 1


def test_connection_error_gets_a_fresh_client():
    made = []
    # the first client's socket was reset; the next one is healthy
    with retry.Client(
        lambda: _Conn(made, None if made else ConnectionResetError),
        backoff_s=0.0,
    ) as client:
        assert client.run(lambda c: c.get()) == 2
    assert made[0].closed and made[1].closed


def test_attempts_are_bounded():
    made = []
    with retry.Client(
        lambda: _Conn(made, TimeoutError), attempts=3, backoff_s=0.0
    ) as client:
        with pytest.raises(TimeoutError, match="on client 3"):
            client.run(lambda c: c.get())
    assert len(made) == 3


def test_resend_retries_on_the_same_client():
    made, calls = [], []

    def op(c):
        calls.append(c.n)
        if len(calls) < 3:
            raise LookupError("busy")
        return "ok"

    with retry.Client(
        lambda: _Conn(made), backoff_s=0.0,
        resend=lambda ex: isinstance(ex, LookupError),
    ) as client:
        assert client.run(op) == "ok"
    assert calls == [1, 1, 1]


def test_transient_errors():
    assert retry.transient(ConnectionRefusedError())
    assert retry.transient(TimeoutError())
    assert retry.transient(URLError(ConnectionResetError()))
    assert not retry.transient(PermissionError())
    assert not retry.transient(URLError("bad scheme"))


def test_backoff_grows_with_jitter():
    for attempt in (1, 2, 3):
        step = 0.1 * 2 ** (attempt - 1)
        assert 0.5 * step <= retry.delay(attempt, 0.1) <= step


# -- the YAML `retry` processor ---------------------------------------------


class _FailFirstCall(BaseHTTPRequestHandler):
    """Fails the first call with each distinct body, echoes the rest."""

    def log_message(self, *a):
        pass

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        with self.server.lock:
            self.server.calls[body] = self.server.calls.get(body, 0) + 1
            first = self.server.calls[body] == 1
        self.send_response(500 if first else 200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class _FlakyServer(HttpServer):
    def __init__(self):
        self.calls: dict[bytes, int] = {}
        self.lock = threading.Lock()
        super().__init__(_FailFirstCall)


def test_yaml_retry_processor_keeps_rows_that_recover(spark, tmp_path):
    """Each row fails its first http call and succeeds on its second.
    The retry round must keep every recovered row, calling the server
    twice per message: the child's outcome is pinned before the ok and
    errored rows are split."""
    from bento_spark.plans.pipeline import build_pipeline

    src = tmp_path / "in.jsonl"
    src.write_text("".join(json.dumps({"id": i}) + "\n" for i in range(20)))
    with _FlakyServer() as srv:
        out = build_pipeline(spark, {
            "input": {"file": {"paths": [str(src)]}},
            "pipeline": {"processors": [{"retry": {
                "max_retries": 2,
                "processors": [{"http": {"url": srv.url, "verb": "POST"}}],
            }}]},
        }).dataframe()
        rows = out.collect()
        calls = dict(srv.calls)
    assert len(rows) == 20
    assert all(r["_error"] is None for r in rows)
    assert sorted(json.loads(r["content"])["id"] for r in rows) == list(range(20))
    assert sorted(calls.values()) == [2] * 20


def test_yaml_retry_processor_runs_on_a_stream(spark, tmp_path):
    """A stream cannot be cached, so the streaming `retry` splits
    without pinning; the pipeline must still build and keep every row,
    those that recover and those still errored after the last round."""
    from bento_spark.plans.pipeline import build_pipeline

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "a.jsonl").write_text(
        "".join(json.dumps({"id": i}) + "\n" for i in range(6))
    )
    df = build_pipeline(spark, {
        "input": {"file": {"paths": [str(tmp_path / "in")], "stream": True}},
        "pipeline": {"processors": [{"retry": {
            "max_retries": 2,
            "processors": [{"mapping": (
                'root = if this.id >= 3 { throw("too big") } else { this }'
            )}],
        }}]},
    }).dataframe()
    assert df.isStreaming
    q = (
        df.writeStream.format("memory").queryName("t_stream_retry")
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    rows = spark.table("t_stream_retry").collect()
    errored = sorted(json.loads(r["content"])["id"] for r in rows if r["_error"])
    assert sorted(json.loads(r["content"])["id"] for r in rows) == list(range(6))
    assert errored == [3, 4, 5]


def test_deliver_fails_the_task_when_the_transport_cannot_be_built(
    spark, tmp_path
):
    """A transport that cannot connect fails the task even with a
    dead-letter dir: dead-lettering is for rows whose send failed."""
    import socket

    from bento_spark.sinks.connector import deliver

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]  # closed once the block ends
    with pytest.raises(Exception, match="Connection refused"):
        deliver(
            spark.range(3), "redis_list",
            {"host": "127.0.0.1", "port": port, "key": "k"},
            retries=1, backoff_s=0.0, dlq_path=str(tmp_path / "dlq"),
        )
    assert not (tmp_path / "dlq").exists()
