"""In-process HTTP echo server (``bento_spark.serving``): responds
to any request with the deterministic JSON envelope
``{"len": <body bytes>, "method": <verb>, "path": <request path>}``.

The verifying endpoint for the `http` processor's gate query — the
bounded-concurrency enrichment pool makes real TCP requests through
the production urllib transport instead of an injected fake.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler

from bento_spark.serving import HttpServer


class _Handler(BaseHTTPRequestHandler):
    def _respond(self):
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n) if n else b""
        payload = json.dumps(
            {"len": len(body), "method": self.command, "path": self.path},
            sort_keys=True,
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    do_GET = do_POST = do_PUT = do_DELETE = _respond

    def log_message(self, *a):  # quiet
        pass


class InProcessHttpEcho(HttpServer):
    def __init__(self):
        super().__init__(_Handler)
