"""`blobl server` — the Bloblang playground's HTTP eval endpoint
(reference: internal/cli/blobl/server.go runPlayground).

POST /execute with ``{"mapping": "...", "input": "..."}`` returns
``{"result": ..., "parse_error": ..., "mapping_error": ...}`` — the
exact field contract of the reference's handler (server.go:179-205),
including its empty-input/empty-mapping messages (core.go
evaluateMapping). Evaluation runs the tier-c interpreter (per-request
REPL latency; no Spark session needed) — the same engine the corpus
differential tests pin against the compiler.

GET / serves a minimal inline playground page (the reference embeds
its playground assets; the API surface is what tooling drives)."""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler

from bento_spark.serving import HttpServer

_PAGE = b"""<!doctype html><title>bento_spark blobl playground</title>
<body><p>POST /execute {"mapping": "...", "input": "..."} &rarr;
{"result", "parse_error", "mapping_error"}</p></body>"""


def evaluate_mapping(input_str: str, mapping: str) -> dict:
    """The reference's evaluateMapping contract (core.go:160-193):
    empty input -> mapping_error, empty mapping -> parse_error, parse
    failures -> parse_error, runtime failures -> mapping_error,
    success -> result (parsed JSON value, or raw string output)."""
    out = {"result": None, "parse_error": None, "mapping_error": None}
    if input_str == "":
        out["mapping_error"] = "Input JSON string cannot be empty"
        return out
    if mapping == "":
        out["parse_error"] = "Mapping string cannot be empty"
        return out
    from bento_spark.bloblang.interp import InterpError, interpret_mapping
    from bento_spark.bloblang.lexer import LexError
    from bento_spark.bloblang.parser import ParseError, parse_mapping

    try:
        parse_mapping(mapping)
    except (ParseError, LexError) as ex:
        out["parse_error"] = f"failed to parse mapping: {ex}"
        return out
    try:
        res, _meta = interpret_mapping(mapping, input_str, {})
    except InterpError as ex:
        out["mapping_error"] = f"execution error: {ex}"
        return out
    except Exception as ex:  # noqa: BLE001 - surfaced, never a 500
        out["mapping_error"] = f"execution error: {type(ex).__name__}: {ex}"
        return out
    from bento_spark.bloblang.interp import DELETED_V

    out["result"] = None if res is DELETED_V else res
    return out


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def _json(self, payload: dict, status: int = 200) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(_PAGE)))
        self.end_headers()
        self.wfile.write(_PAGE)

    def do_POST(self):
        if self.path.rstrip("/") != "/execute":
            return self._json({"error": "unknown endpoint"}, 404)
        try:
            n = int(self.headers.get("Content-Length", 0))
            req = json.loads(self.rfile.read(n) or b"{}")
        except ValueError as ex:
            return self._json({"error": str(ex)}, 400)
        self._json(evaluate_mapping(
            str(req.get("input", "")), str(req.get("mapping", ""))
        ))


class BloblServer(HttpServer):
    """In-process playground server; `port` is bound at construction."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        super().__init__(_Handler, (host, port))
