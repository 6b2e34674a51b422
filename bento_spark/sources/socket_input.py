"""Socket / stdin / file_tail inputs + line-framed socket output.

Reference components:
- ``socket`` input          (internal/impl/io/input_socket.go) — dial
  an address, read newline-delimited messages.
- ``socket_server`` input   (input_socket_server.go) — listen/accept.
- ``stdin`` input           (input_stdin.go).
- ``file_tail`` input       — follow a growing file from a cursor.
- ``socket`` output         (output_socket.go) — sink transport in
  sinks/connector.py rides ``SocketWriter``.

Spark adaptation (same as every push input here): sockets are
fire-and-forget streams with no replay, so each input drains into the
durable staging directory (atomic tmp+fsync+rename) that the
``bento_queue`` data source / ``file`` source replays. ``file_tail``
is the one with real offsets: a byte cursor persisted AFTER staging
(crash between the two re-delivers — at-least-once), with the
truncation-reset rule every tail implementation documents.
"""

from __future__ import annotations

import os
import socket
import socketserver
import threading
import time

from bento_spark.serving import TcpServer


def _stage(out_dir: str, prefix: str, seq: int, lines: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    key = f"{prefix}-{int(time.time() * 1000)}-{seq:06d}.jsonl"
    tmp = os.path.join(out_dir, "." + key)
    with open(tmp, "w") as f:
        for line in lines:
            f.write(line.replace("\n", " ") + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(out_dir, key))


def socket_drain(
    host: str,
    port: int,
    out_dir: str,
    max_messages: int | None = None,
    idle_timeout_s: float = 1.0,
    batch: int = 256,
) -> int:
    """``socket`` input: dial, read newline-delimited messages, stage.
    Stops on EOF or after ``idle_timeout_s`` of silence."""
    sock = socket.create_connection((host, port), timeout=idle_timeout_s)
    rfile = sock.makefile("rb")
    total = seq = 0
    pending: list[str] = []

    def flush():
        nonlocal seq
        if pending:
            seq += 1
            _stage(out_dir, "socket", seq, pending)
            pending.clear()

    try:
        while max_messages is None or total < max_messages:
            try:
                line = rfile.readline()
            except (TimeoutError, OSError):
                break
            if not line:
                break
            pending.append(line.decode("utf-8", "replace").rstrip("\n"))
            total += 1
            if len(pending) >= batch:
                flush()
        flush()
    finally:
        rfile.close()
        sock.close()
    return total


class SocketIngestServer(TcpServer):
    """``socket_server`` input: accept line-framed TCP connections and
    stage each connection's messages durably on arrival. ``stop()``
    stops accepting; a connection already accepted keeps staging on
    its own daemon thread until its client closes."""

    def __init__(self, out_dir: str, host: str = "127.0.0.1",
                 port: int = 0):
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                pending: list[str] = []
                while True:
                    line = self.rfile.readline()
                    if not line:
                        break
                    pending.append(
                        line.decode("utf-8", "replace").rstrip("\n")
                    )
                    if len(pending) >= 256:
                        outer._flush(pending)
                        pending = []
                if pending:
                    outer._flush(pending)

        self.out_dir = out_dir
        self._seq = 0
        self._lock = threading.Lock()
        super().__init__(Handler, (host, port))

    def _flush(self, lines: list[str]) -> None:
        with self._lock:
            self._seq += 1
            _stage(self.out_dir, "socket-server", self._seq, lines)


def stdin_drain(
    stream, out_dir: str, batch: int = 256
) -> int:
    """``stdin`` input: read a text stream to EOF, stage in batches.
    Pass ``sys.stdin`` in production; any file object in tests."""
    total = seq = 0
    pending: list[str] = []
    for line in stream:
        pending.append(line.rstrip("\n"))
        total += 1
        if len(pending) >= batch:
            seq += 1
            _stage(out_dir, "stdin", seq, pending)
            pending = []
    if pending:
        _stage(out_dir, "stdin", seq + 1, pending)
    return total


class FileTailBridge:
    """``file_tail`` input: follow a file from a durable byte cursor.

    The cursor (``.cursor-tail-<name>`` in the staging dir) is the
    offset AFTER the last staged COMPLETE line, fsync'd after the
    staged batch — a crash between stage and cursor write re-delivers
    (at-least-once). A partial trailing line (no newline yet) is left
    for the next drain. If the file shrank below the cursor it was
    truncated/rotated: reset to 0, the standard tail rule."""

    def __init__(self, path: str):
        self.path = path

    def _cursor_path(self, out_dir: str) -> str:
        safe = os.path.basename(self.path).replace("/", "_")
        return os.path.join(out_dir, f".cursor-tail-{safe}")

    def drain(self, out_dir: str) -> int:
        os.makedirs(out_dir, exist_ok=True)
        cur_path = self._cursor_path(out_dir)
        offset = 0
        if os.path.exists(cur_path):
            with open(cur_path) as f:
                offset = int(f.read().strip() or 0)
        size = os.path.getsize(self.path)
        if size < offset:  # truncated/rotated
            offset = 0
        with open(self.path, "rb") as f:
            f.seek(offset)
            chunk = f.read()
        # only complete lines; the tail fragment stays for next drain
        end = chunk.rfind(b"\n")
        if end < 0:
            return 0
        complete = chunk[: end + 1]
        lines = complete.decode("utf-8", "replace").splitlines()
        if lines:
            _stage(out_dir, "file-tail", 1, lines)
        new_offset = offset + end + 1
        tmp = cur_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(new_offset))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, cur_path)
        return len(lines)


class SocketWriter:
    """``socket`` output: newline-framed writes on one connection."""

    def __init__(self, host: str, port: int, timeout: float = 30.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)

    def send_lines(self, lines: list[str]) -> None:
        payload = "".join(
            line.replace("\n", " ") + "\n" for line in lines
        )
        self.sock.sendall(payload.encode("utf-8"))

    def close(self) -> None:
        self.sock.close()
