"""Streams mode: many isolated pipelines in one engine process with a
CRUD REST API (reference: `bento streams`, internal/stream/manager/
api.go — GET/POST /streams, CRUD /streams/{id}, /streams/{id}/stats,
/ready).

Spark-native shape: every stream is a `build_pipeline` product sharing
ONE SparkSession (the scheduler multiplexes jobs; Structured Streaming
queries run concurrently by design). Batch pipelines execute on a
worker thread and complete (active -> False, like a finished reference
stream); streaming pipelines stay active until deleted/updated.
Update = stop-then-recreate, exactly the reference's lifecycle.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler

from bento_spark.plans.pipeline import build_pipeline
from bento_spark.serving import HttpServer


class StreamError(ValueError):
    pass


class _Stream:
    def __init__(self, sid: str, config: str):
        self.id = sid
        self.config = config
        self.created = time.monotonic()
        self.query = None  # StreamingQuery for streaming pipelines
        self.thread = None  # worker for batch pipelines
        self.error: str | None = None
        self.done = False

    @property
    def active(self) -> bool:
        if self.query is not None:
            return self.query.isActive
        return not self.done

    @property
    def uptime(self) -> float:
        return time.monotonic() - self.created

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self.thread is not None:
            self.thread.join(timeout=60)


class StreamManager:
    """Create/read/update/delete named pipelines on a shared session."""

    def __init__(self, spark):
        self.spark = spark
        self.streams: dict[str, _Stream] = {}
        self.lock = threading.Lock()

    def create(self, sid: str, config: str) -> None:
        with self.lock:
            if sid in self.streams:
                raise StreamError(f"stream {sid!r} already exists")
            self.streams[sid] = self._start(sid, config)

    def update(self, sid: str, config: str) -> None:
        with self.lock:
            cur = self.streams.get(sid)
            if cur is None:
                raise StreamError(f"stream {sid!r} does not exist")
            cur.stop()
            self.streams[sid] = self._start(sid, config)

    def delete(self, sid: str) -> None:
        with self.lock:
            cur = self.streams.pop(sid, None)
        if cur is None:
            raise StreamError(f"stream {sid!r} does not exist")
        cur.stop()

    def read(self, sid: str) -> dict:
        s = self.streams.get(sid)
        if s is None:
            raise StreamError(f"stream {sid!r} does not exist")
        return {
            "active": s.active,
            "uptime": s.uptime,
            "uptime_str": f"{s.uptime:.3f}s",
            "config": s.config,
            "error": s.error,
        }

    def status(self) -> dict:
        with self.lock:
            return {
                sid: {
                    "active": s.active,
                    "uptime": s.uptime,
                    "uptime_str": f"{s.uptime:.3f}s",
                }
                for sid, s in self.streams.items()
            }

    def ready(self) -> bool:
        with self.lock:
            return all(
                s.error is None for s in self.streams.values()
            )

    def stop_all(self) -> None:
        with self.lock:
            streams, self.streams = list(self.streams.values()), {}
        for s in streams:
            s.stop()

    def _start(self, sid: str, config: str) -> _Stream:
        s = _Stream(sid, config)
        pipe = build_pipeline(self.spark, config)  # lint/build errors raise
        if pipe.is_streaming:
            s.query = pipe.run()
        else:
            def run_batch():
                try:
                    pipe.run()
                except Exception as ex:  # noqa: BLE001 — stream-scoped failure
                    s.error = str(ex)
                finally:
                    s.done = True

            s.thread = threading.Thread(target=run_batch, daemon=True)
            s.thread.start()
        return s


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _json(self, obj, code=200):
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _err(self, msg, code=400):
        body = f"Error: {msg}".encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> str:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n).decode() if n else ""

    def _route(self):
        mgr: StreamManager = self.server.manager
        path = self.path.split("?", 1)[0].rstrip("/")
        parts = [p for p in path.split("/") if p]
        try:
            if parts == ["ready"]:
                if mgr.ready():
                    self._json({"ready": True})
                else:
                    self._err("a stream has failed", 503)
            elif parts == ["streams"] and self.command == "GET":
                self._json(mgr.status())
            elif len(parts) == 2 and parts[0] == "streams":
                sid = parts[1]
                if self.command == "POST":
                    mgr.create(sid, self._body())
                    self._json({"created": sid})
                elif self.command == "GET":
                    self._json(mgr.read(sid))
                elif self.command == "PUT":
                    mgr.update(sid, self._body())
                    self._json({"updated": sid})
                elif self.command == "DELETE":
                    mgr.delete(sid)
                    self._json({"deleted": sid})
                else:
                    self._err("method not supported")
            elif (
                len(parts) == 3
                and parts[0] == "streams"
                and parts[2] == "stats"
            ):
                from bento_spark.observability import default_registry

                info = mgr.read(parts[1])
                snap = default_registry().snapshot()
                self._json({"uptime": info["uptime"], "metrics": snap})
            else:
                self._err("not found", 404)
        except StreamError as ex:
            self._err(str(ex))
        except Exception as ex:  # noqa: BLE001 — config/build errors -> 400
            self._err(str(ex))

    do_GET = do_POST = do_PUT = do_DELETE = _route


class StreamsApiServer(HttpServer):
    """The reference's streams-mode REST surface on stdlib http."""

    def __init__(self, manager: StreamManager):
        self.manager = manager
        super().__init__(_Handler)
