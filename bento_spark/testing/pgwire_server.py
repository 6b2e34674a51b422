"""In-process PostgreSQL wire-protocol (v3) server backed by sqlite,
with REAL server-side SCRAM-SHA-256 verification: it derives StoredKey
from the salted password and checks the client proof bit-for-bit
(wrong passwords get 28P01), then speaks the simple query protocol
(RowDescription/DataRow/NULLs, CHANGEFEED streaming). Shared by
tests/test_pgwire.py and the `proc_sql_pgwire` driver-gate query.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socketserver
import sqlite3
import struct
import threading
import time

from bento_spark.operators.pgwire import scram_salted_password
from bento_spark.serving import TcpServer


USER, PASSWORD, DB = "svc", "s3cret-pw", "app"


class _Handler(socketserver.StreamRequestHandler):
    def _msg(self) -> tuple[bytes, bytes]:
        head = self.rfile.read(5)
        if len(head) != 5:
            raise ConnectionError
        (n,) = struct.unpack(">i", head[1:])
        return head[:1], self.rfile.read(n - 4)

    def _send(self, t: bytes, payload: bytes) -> None:
        self.wfile.write(t + struct.pack(">i", len(payload) + 4) + payload)
        self.wfile.flush()

    def _error(self, code: str, msg: str) -> None:
        fields = f"SERROR\x00C{code}\x00M{msg}\x00".encode() + b"\x00"
        self._send(b"E", fields)

    def _scram(self) -> bool:
        self._send(b"R", struct.pack(">i", 10) + b"SCRAM-SHA-256\x00\x00")
        t, payload = self._msg()
        assert t == b"p"
        z = payload.index(b"\x00")
        assert payload[:z] == b"SCRAM-SHA-256"
        (ln,) = struct.unpack_from(">i", payload, z + 1)
        initial = payload[z + 5 : z + 5 + ln].decode()
        assert initial.startswith("n,,")
        client_first_bare = initial[3:]
        cnonce = dict(
            kv.split("=", 1) for kv in client_first_bare.split(",")
        )["r"]
        snonce = cnonce + base64.b64encode(os.urandom(9)).decode()
        salt, iters = os.urandom(16), 4096
        server_first = (
            f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
        )
        self._send(b"R", struct.pack(">i", 11) + server_first.encode())
        t, payload = self._msg()
        assert t == b"p"
        final = payload.decode()
        attrs = dict(kv.split("=", 1) for kv in final.split(","))
        client_final_bare = final[: final.index(",p=")]
        auth_message = f"{client_first_bare},{server_first},{client_final_bare}"
        # server-side verification from the KNOWN password
        salted = scram_salted_password(PASSWORD, salt, iters)
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        client_sig = hmac.new(
            stored_key, auth_message.encode(), hashlib.sha256
        ).digest()
        expected = bytes(a ^ b for a, b in zip(client_key, client_sig))
        if base64.b64decode(attrs["p"]) != expected:
            self._error("28P01", f'password authentication failed for "{USER}"')
            return False
        server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        server_sig = hmac.new(
            server_key, auth_message.encode(), hashlib.sha256
        ).digest()
        v = b"v=" + base64.b64encode(server_sig)
        self._send(b"R", struct.pack(">i", 12) + v)
        self._send(b"R", struct.pack(">i", 0))
        return True

    def handle(self) -> None:
        srv = self.server
        head = self.rfile.read(4)
        if len(head) != 4:
            return
        (n,) = struct.unpack(">i", head)
        startup = self.rfile.read(n - 4)
        (proto,) = struct.unpack_from(">i", startup, 0)
        assert proto == 196608
        kv = startup[4:].decode().split("\x00")
        params = dict(zip(kv[0::2], kv[1::2]))
        assert params.get("user") == USER and params.get("database") == DB
        if not self._scram():
            return
        self._send(b"S", b"server_version\x0016.0-inproc\x00")
        self._send(b"Z", b"I")
        while True:
            try:
                t, payload = self._msg()
            except ConnectionError:
                return
            if t == b"X":
                return
            if t != b"Q":
                self._error("0A000", f"unsupported message {t!r}")
                self._send(b"Z", b"I")
                continue
            sql = payload[:-1].decode()
            if sql.startswith("EXPERIMENTAL CHANGEFEED FOR"):
                # a changefeed never completes: emit (table, key, value)
                # DataRows as srv.feed_rows grows; no CommandComplete,
                # no ReadyForQuery — the client hangs up when done
                fields = bytearray(struct.pack(">h", 3))
                for name in ("table", "key", "value"):
                    fields += name.encode() + b"\x00"
                    fields += struct.pack(">ihihih", 0, 0, 25, -1, -1, 0)
                self._send(b"T", bytes(fields))
                sent = 0
                try:
                    while True:
                        with srv.lock:
                            todo = srv.feed_rows[sent:]
                        for row in todo:
                            data = bytearray(struct.pack(">h", len(row)))
                            for v in row:
                                b = str(v).encode()
                                data += struct.pack(">i", len(b)) + b
                            self._send(b"D", bytes(data))
                            sent += 1
                        time.sleep(0.01)
                except (ConnectionError, BrokenPipeError, OSError):
                    return
            try:
                with srv.lock:
                    cur = srv.db.execute(sql)
                    rows = cur.fetchall()
                    srv.db.commit()
                    desc = cur.description
            except sqlite3.Error as ex:
                self._error("42601", str(ex))
                self._send(b"Z", b"I")
                continue
            if desc:
                fields = bytearray(struct.pack(">h", len(desc)))
                for col in desc:
                    fields += col[0].encode() + b"\x00"
                    fields += struct.pack(">ihihih", 0, 0, 25, -1, -1, 0)
                self._send(b"T", bytes(fields))
                for row in rows:
                    data = bytearray(struct.pack(">h", len(row)))
                    for v in row:
                        if v is None:
                            data += struct.pack(">i", -1)
                        else:
                            b = str(v).encode("utf-8")
                            data += struct.pack(">i", len(b)) + b
                    self._send(b"D", bytes(data))
                self._send(b"C", b"SELECT %d\x00" % len(rows))
            else:
                self._send(b"C", b"INSERT 0 1\x00")
            self._send(b"Z", b"I")


class InProcessPgServer(TcpServer):
    def __init__(self):
        self.db = sqlite3.connect(":memory:", check_same_thread=False)
        self.lock = threading.Lock()
        self.feed_rows: list[tuple] = []  # changefeed events
        super().__init__(_Handler)

    def stop(self):
        super().stop()
        self.db.close()


