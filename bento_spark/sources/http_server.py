"""http_server / websocket inputs: push-based ingest bridged to the
replayable staging directory the ``bento_queue`` data source reads.

The reference's ``http_server`` input (internal/impl/io/
input_http_server.go:178) turns POST bodies into messages and 200s
after downstream ack; its ``websocket`` input does the same over
RFC 6455 frames. Spark's source contract needs REPLAYABLE offsets, so
the adaptation mirrors every destructive/push input here: stage each
request DURABLY (atomic tmp+rename into the staging dir), then
acknowledge — the producer's 200/ack means "durably staged", and
`spark.read/readStream.format("bento_queue")` replays from the
directory (sources/pydatasource.py).

Both servers are pure stdlib:

* ``HttpIngestServer`` — an ``HttpServer``; each POST body becomes
  one staged message (or N, with ``split_lines``); request path and
  selected headers land in the envelope metadata the way the
  reference stamps http_server metadata fields.
* ``WebSocketIngestServer`` — a from-scratch RFC 6455 server over a
  ``TcpServer``: real opening handshake (Sec-WebSocket-Accept =
  b64(sha1(key + GUID))), client-to-server frame parse with the
  mandatory masking, 7/16/64-bit payload lengths, fragmented
  continuation frames, ping->pong, close handshake. Text/binary
  messages are staged per-message.

sync_response (request/reply with processed results) remains out of
scope — that is a service-layer pattern, documented in COVERAGE.md.
Tested in tests/test_http_server_input.py, including crash-safety
(staged-before-200) and a Spark end-to-end read.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socketserver
import struct
import uuid
from http.server import BaseHTTPRequestHandler

from bento_spark.serving import HttpServer, TcpServer

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def _stage(out_dir: str, records: list[dict]) -> str:
    """Durable atomic append: write-to-tmp, fsync, rename. The rename
    is the commit point; readers never observe partial files."""
    import time

    os.makedirs(out_dir, exist_ok=True)
    # time-ordered names keep the staging dir's lexicographic listing in
    # arrival order (the queue source lists sorted), uuid suffix dedupes
    # same-nanosecond writers
    name = f"push-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.ndjson"
    tmp = os.path.join(out_dir, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(out_dir, name)
    os.rename(tmp, final)
    return final


class HttpIngestServer(HttpServer):
    """POST-to-staging bridge. 200 is sent only AFTER the body is
    durably staged; a crash before the rename leaves nothing partial
    and the producer retries (at-least-once)."""

    def __init__(
        self,
        out_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        path: str = "/post",
        split_lines: bool = False,
        meta_headers: tuple[str, ...] = ("Content-Type",),
    ):
        bridge = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                if self.path.split("?")[0] != bridge.path:
                    self.send_error(404, "unknown ingest path")
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    self.send_error(411, "Content-Length required")
                    return
                body = self.rfile.read(n)
                meta = {
                    "http_server_request_path": self.path,
                    "http_server_verb": "POST",
                }
                for h in bridge.meta_headers:
                    v = self.headers.get(h)
                    if v is not None:
                        meta[h.lower().replace("-", "_")] = v
                text = body.decode("utf-8", "replace")
                values = (
                    [ln for ln in text.split("\n") if ln]
                    if bridge.split_lines
                    else [text]
                )
                _stage(
                    bridge.out_dir,
                    [{"value": v, "metadata": meta} for v in values],
                )
                bridge.received += len(values)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *a):  # quiet
                pass

        self.out_dir = out_dir
        self.path = path
        self.split_lines = split_lines
        self.meta_headers = meta_headers
        self.received = 0
        super().__init__(Handler, (host, port))


class WebSocketIngestServer(TcpServer):
    """RFC 6455 server staging every received text/binary message. Frames
    from clients MUST be masked (§5.1) — unmasked frames close the
    connection with status 1002 as the spec requires."""

    def __init__(self, out_dir: str, host: str = "127.0.0.1", port: int = 0):
        bridge = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                # ---- opening handshake (HTTP/1.1 Upgrade) ----
                request_line = self.rfile.readline().decode("latin-1").strip()
                headers = {}
                while True:
                    line = self.rfile.readline().decode("latin-1").strip()
                    if not line:
                        break
                    k, _, v = line.partition(":")
                    headers[k.strip().lower()] = v.strip()
                key = headers.get("sec-websocket-key")
                if (
                    not request_line.startswith("GET")
                    or headers.get("upgrade", "").lower() != "websocket"
                    or not key
                ):
                    self.wfile.write(
                        b"HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n"
                    )
                    return
                accept = base64.b64encode(
                    hashlib.sha1((key + _WS_GUID).encode()).digest()
                ).decode()
                self.wfile.write(
                    (
                        "HTTP/1.1 101 Switching Protocols\r\n"
                        "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                        f"Sec-WebSocket-Accept: {accept}\r\n\r\n"
                    ).encode()
                )
                # ---- frame loop ----
                fragments: list[bytes] = []
                while True:
                    head = self.rfile.read(2)
                    if len(head) < 2:
                        return
                    fin = head[0] & 0x80
                    opcode = head[0] & 0x0F
                    masked = head[1] & 0x80
                    ln = head[1] & 0x7F
                    if ln == 126:
                        (ln,) = struct.unpack(">H", self.rfile.read(2))
                    elif ln == 127:
                        (ln,) = struct.unpack(">Q", self.rfile.read(8))
                    if not masked:  # §5.1: server MUST fail the connection
                        self._close(1002)
                        return
                    mask = self.rfile.read(4)
                    data = bytearray(self.rfile.read(ln))
                    for i in range(len(data)):
                        data[i] ^= mask[i % 4]
                    if opcode == 0x8:  # close
                        self._close(1000)
                        return
                    if opcode == 0x9:  # ping -> pong with same payload
                        self._send_frame(0xA, bytes(data))
                        continue
                    if opcode == 0xA:  # pong
                        continue
                    fragments.append(bytes(data))
                    if not fin:
                        continue  # continuation frames accumulate
                    payload = b"".join(fragments)
                    fragments = []
                    _stage(
                        bridge.out_dir,
                        [
                            {
                                "value": payload.decode("utf-8", "replace"),
                                "metadata": {"websocket_opcode": opcode},
                            }
                        ],
                    )
                    bridge.received += 1

            def _send_frame(self, opcode: int, payload: bytes):
                head = bytes([0x80 | opcode])
                n = len(payload)
                if n < 126:
                    head += bytes([n])
                elif n < 1 << 16:
                    head += bytes([126]) + struct.pack(">H", n)
                else:
                    head += bytes([127]) + struct.pack(">Q", n)
                self.wfile.write(head + payload)

            def _close(self, status: int):
                self._send_frame(0x8, struct.pack(">H", status))

        self.out_dir = out_dir
        self.received = 0
        super().__init__(Handler, (host, port))


class SyncResponseServer(HttpServer):
    """`http_server` (sync mode) + `sync_response` output
    (internal/impl/pure/processor_sync_response.go:14,
    input_http_server.go's sync_response wiring): the HTTP response IS
    the processed message.

    Each POST becomes a one-row DataFrame (content + path/header
    metadata), runs through the configured pipeline processor chain
    (the same `pipeline.processors:` config the batch engine runs), and
    the resulting content is the HTTP body — 200 on success, 500 with
    the `_error` text when the pipeline flagged the message. Faithful
    request/reply semantics at per-request micro-batch latency; bulk
    traffic belongs on the staged ingest path (HttpIngestServer)."""

    def __init__(self, spark, processors: list[dict],
                 host: str = "127.0.0.1", port: int = 0):
        from bento_spark.operators.envelope import ERROR, META, ensure_envelope
        from bento_spark.plans.pipeline import PROCESSORS

        for proc in processors:
            (pname, _), = proc.items()
            if pname not in PROCESSORS:
                raise ValueError(f"unknown processor {pname!r}")

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode("utf-8", "replace")
                meta = {"http_server_request_path": self.path}
                for h in ("Content-Type", "User-Agent"):
                    if self.headers.get(h):
                        meta[h.lower().replace("-", "_")] = self.headers[h]
                try:
                    # lift a JSON body into typed columns (the document
                    # shape the Bloblang compiler reads as this.<field>);
                    # non-JSON bodies stay raw in `content`
                    doc = None
                    try:
                        parsed = json.loads(body)
                        if isinstance(parsed, dict) and parsed:
                            doc = parsed
                    except ValueError:
                        pass
                    if doc is not None:
                        df = spark.createDataFrame([{
                            **doc, "content": body, "_metadata": meta,
                        }])
                    else:
                        df = spark.createDataFrame(
                            [(body, meta)],
                            "content string, _metadata map<string,string>",
                        )
                    df = ensure_envelope(df)
                    for proc in processors:
                        (pname, pconf), = proc.items()
                        df = PROCESSORS[pname](df, pconf)
                    rows = df.collect()
                except Exception as e:  # noqa: BLE001 — surface as 500
                    return self._reply(500, f"pipeline error: {e}")
                if not rows:  # message dropped (deleted()/filtered)
                    return self._reply(204, "")
                row = rows[0].asDict(recursive=True)
                err = row.get(ERROR)
                if err:
                    return self._reply(500, str(err))
                # the processed document is the response: raw content if
                # the chain kept a content column, else the mapped
                # fields as a JSON object (a new-document mapping lifts
                # the message into typed columns)
                if row.get("content") is not None:
                    return self._reply(200, str(row["content"]))
                doc = {k: v for k, v in row.items()
                       if k not in (META, ERROR, "content")}
                self._reply(200, json.dumps(doc, sort_keys=True, default=str))

            def _reply(self, code: int, text: str):
                data = text.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        super().__init__(Handler, (host, port))


class WebSocketClient:
    """RFC 6455 CLIENT: opening handshake (§4.1 — random
    Sec-WebSocket-Key, Accept verified against the GUID digest) and
    MASKED data frames (§5.1-5.3: every client-to-server frame carries
    a 4-byte mask). The `websocket` output's transport; verified
    against WebSocketIngestServer, whose spec-mandated 1002 close on
    unmasked frames proves the masking is real."""

    def __init__(self, host: str, port: int, path: str = "/",
                 timeout: float = 30.0):
        import os as _os
        import socket as _socket

        self._sock = _socket.create_connection((host, port), timeout=timeout)
        self._rfile = self._sock.makefile("rb")
        key = base64.b64encode(_os.urandom(16)).decode()
        self._sock.sendall(
            (
                f"GET {path} HTTP/1.1\r\nHost: {host}:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        status = self._rfile.readline().decode("latin-1")
        if " 101 " not in status:
            raise ConnectionError(f"websocket handshake refused: {status!r}")
        accept = None
        while True:
            line = self._rfile.readline().decode("latin-1").strip()
            if not line:
                break
            k, _, v = line.partition(":")
            if k.strip().lower() == "sec-websocket-accept":
                accept = v.strip()
        want = base64.b64encode(
            hashlib.sha1((key + _WS_GUID).encode()).digest()
        ).decode()
        if accept != want:
            raise ConnectionError(
                f"Sec-WebSocket-Accept mismatch: {accept!r} != {want!r}"
            )

    def send_text(self, payloads: list[str]) -> None:
        import os as _os

        out = bytearray()
        for p in payloads:
            data = p.encode("utf-8")
            mask = _os.urandom(4)
            head = bytearray([0x80 | 0x1])  # FIN + text
            n = len(data)
            if n < 126:
                head.append(0x80 | n)
            elif n < 1 << 16:
                head.append(0x80 | 126)
                head += struct.pack(">H", n)
            else:
                head.append(0x80 | 127)
                head += struct.pack(">Q", n)
            head += mask
            masked = bytearray(data)
            for i in range(len(masked)):
                masked[i] ^= mask[i % 4]
            out += head + masked
        self._sock.sendall(bytes(out))

    def close(self) -> None:
        import os as _os

        try:
            mask = _os.urandom(4)
            body = bytearray(struct.pack(">H", 1000))
            for i in range(len(body)):
                body[i] ^= mask[i % 4]
            self._sock.sendall(bytes([0x88, 0x80 | 2]) + mask + bytes(body))
        except OSError:
            pass
        try:
            self._rfile.close()
            self._sock.close()
        except OSError:
            pass
