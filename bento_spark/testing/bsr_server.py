"""In-process JSON HTTP registries for tests and the processor-docs
sweep (VERDICT r11 next #4): a Buf Schema Registry stub serving
``FileDescriptorSetService/GetFileDescriptorSet`` (the Connect-JSON
endpoint the engine's BSR client and the reference's prototransform
SchemaWatcher both speak), and a Confluent-API schema registry serving
``GET /schemas/ids/{id}``."""

from __future__ import annotations

import json
import re
from http.server import BaseHTTPRequestHandler

from bento_spark.serving import HttpServer


class InProcessBsrServer(HttpServer):
    """Serves one FileDescriptorSet (proto-JSON) per known module."""

    def __init__(self, modules: dict[str, dict]):
        outer = self

        class _H(BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(n) or b"{}")
                if not self.path.endswith("/GetFileDescriptorSet"):
                    self.send_error(404)
                    return
                fds = outer.modules.get(body.get("module"))
                if fds is None:
                    self.send_error(404, "module not found")
                    return
                payload = json.dumps(
                    {"fileDescriptorSet": fds, "version": "main"}
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # quiet
                pass

        self.modules = modules
        super().__init__(_H)


class InProcessSchemaRegistry(HttpServer):
    """Confluent-wire subset: GET /schemas/ids/{id} -> {"schema": "..."}."""

    def __init__(self, schemas: dict[int, dict]):
        outer = self

        class _H(BaseHTTPRequestHandler):
            def do_GET(self):
                m = re.fullmatch(r"/schemas/ids/(\d+)", self.path)
                schema = outer.schemas.get(int(m.group(1))) if m else None
                if schema is None:
                    self.send_error(404, "schema not found")
                    return
                payload = json.dumps({"schema": json.dumps(schema)}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # quiet
                pass

        self.schemas = schemas
        super().__init__(_H)
