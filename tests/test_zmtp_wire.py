"""ZMTP 3.0 and nanomsg SP tests against in-process peers that
byte-check the greetings: socket-type compatibility enforcement,
short/long/multipart framing, SUB subscriptions with topic filtering,
PULL/SUB drain staging, and both sink transports."""

from __future__ import annotations

import os
import socketserver
import struct
import threading
import time

import pytest

from bento_spark.operators.nanomsg_wire import (
    PARTNER,
    PROTOCOLS,
    NanomsgError,
    NanomsgSocket,
)
from bento_spark.operators.zmtp_wire import ZmtpError, ZmtpSocket
from bento_spark.serving import TcpServer
from bento_spark.sinks.connector import TRANSPORTS


class _ZmtpPeer(TcpServer):
    """Acts as the bound peer (e.g. PULL when the client is PUSH)."""

    def __init__(self, socket_type: str, to_send: list[list[bytes]] | None = None):
        outer = self

        class H(socketserver.StreamRequestHandler):
            def _read_frame(h):
                head = h.rfile.read(1)
                if not head:
                    return None
                flags = head[0]
                if flags & 0x02:
                    (size,) = struct.unpack(">Q", h.rfile.read(8))
                else:
                    size = h.rfile.read(1)[0]
                return flags, h.rfile.read(size)

            def _send_frame(h, body: bytes, flags: int = 0):
                if len(body) > 255:
                    h.wfile.write(
                        bytes([flags | 0x02])
                        + struct.pack(">Q", len(body)) + body
                    )
                else:
                    h.wfile.write(bytes([flags, len(body)]) + body)
                h.wfile.flush()

            def handle(h):
                # greeting: byte-check the client's 64 bytes
                g = h.rfile.read(64)
                assert g[0] == 0xFF and g[9] == 0x7F, g[:10]
                assert g[10] == 3
                assert g[12:32].rstrip(b"\x00") == b"NULL"
                sig = b"\xff" + b"\x00" * 8 + b"\x7f"
                mech = b"NULL" + b"\x00" * 16
                h.wfile.write(
                    sig + bytes([3, 0]) + mech + b"\x00" + b"\x00" * 31
                )
                h.wfile.flush()
                # READY exchange
                flags, ready = h._read_frame()
                assert flags & 0x04 and ready.startswith(b"\x05READY")
                meta = b""
                nb, vb = b"Socket-Type", outer.peer_type.encode()
                meta += bytes([len(nb)]) + nb + struct.pack(">I", len(vb)) + vb
                h._send_frame(b"\x05READY" + meta, flags=0x04)
                # receive loop (PULL/SUB peer) or send loop (PUSH/PUB)
                for msg in outer.to_send:
                    for part in msg[:-1]:
                        h._send_frame(part, flags=0x01)
                    h._send_frame(msg[-1])
                while True:
                    frame = h._read_frame()
                    if frame is None:
                        return
                    flags, body = frame
                    with outer.lock:
                        outer.frames.append((flags, body))

        self.peer_type = socket_type
        self.to_send = to_send or []
        self.frames: list[tuple[int, bytes]] = []
        self.lock = threading.Lock()
        super().__init__(H)


def _messages(peer) -> list[list[bytes]]:
    """Reassemble multipart messages from recorded frames."""
    out, cur = [], []
    with peer.lock:
        for flags, body in peer.frames:
            cur.append(body)
            if not flags & 0x01:
                out.append(cur)
                cur = []
    return out


def test_push_to_pull_short_and_long_frames():
    peer = _ZmtpPeer("PULL")
    try:
        s = ZmtpSocket("127.0.0.1", peer.port, "PUSH")
        s.send_multipart([b"short"])
        big = b"x" * 1000  # forces the 8-byte LONG size path
        s.send_multipart([b"topic", big])
        s.close()
        import time

        deadline = time.time() + 3
        while time.time() < deadline and len(_messages(peer)) < 2:
            time.sleep(0.02)
        msgs = _messages(peer)
    finally:
        peer.stop()
    assert msgs == [[b"short"], [b"topic", big]]


def test_incompatible_socket_types_rejected():
    peer = _ZmtpPeer("PULL")
    try:
        with pytest.raises(ZmtpError) as ei:
            ZmtpSocket("127.0.0.1", peer.port, "SUB")  # SUB needs PUB
        assert "incompatible" in str(ei.value)
    finally:
        peer.stop()


def test_sub_drain_with_subscription(tmp_path):
    peer = _ZmtpPeer("PUB", to_send=[[b"news", b"hello"], [b"news", b"world"]])
    try:
        s = ZmtpSocket("127.0.0.1", peer.port, "SUB", timeout=0.5)
        s.subscribe(b"news")
        out = str(tmp_path / "staged")
        n = s.drain_to_dir(out, max_msgs=2)
        s.close()
        assert n == 2
        lines = []
        for f in sorted(os.listdir(out)):
            lines.extend(
                open(os.path.join(out, f), "rb").read().splitlines()
            )
        assert lines == [b"news\x1fhello", b"news\x1fworld"]
        # the subscription frame reached the publisher; its handler
        # thread records it after sending, so wait for the record
        deadline = time.monotonic() + 10
        while (0x00, b"\x01news") not in peer.frames and time.monotonic() < deadline:
            time.sleep(0.01)
        assert (0x00, b"\x01news") in peer.frames
    finally:
        peer.stop()


def test_zmq_transport():
    peer = _ZmtpPeer("PULL")
    try:
        t = TRANSPORTS["zmq4"]({"port": peer.port})
        t.send(['{"a":1}', '{"a":2}'])
        t.close()
        import time

        deadline = time.time() + 3
        while time.time() < deadline and len(_messages(peer)) < 2:
            time.sleep(0.02)
        assert _messages(peer) == [[b'{"a":1}'], [b'{"a":2}']]
    finally:
        peer.stop()


# -- nanomsg --------------------------------------------------------------


class _SpPeer(TcpServer):
    def __init__(self, socket_type: str, to_send: list[bytes] | None = None):
        outer = self

        class H(socketserver.StreamRequestHandler):
            def handle(h):
                head = h.rfile.read(8)
                assert head[:4] == b"\x00SP\x00", head
                (proto,) = struct.unpack(">H", head[4:6])
                outer.peer_protos.append(proto)
                h.wfile.write(
                    b"\x00SP\x00"
                    + struct.pack(">H", PROTOCOLS[outer.peer_type])
                    + b"\x00\x00"
                )
                h.wfile.flush()
                for msg in outer.to_send:
                    h.wfile.write(struct.pack(">Q", len(msg)) + msg)
                h.wfile.flush()
                while True:
                    head = h.rfile.read(8)
                    if len(head) != 8:
                        return
                    (size,) = struct.unpack(">Q", head)
                    outer.received.append(h.rfile.read(size))

        self.peer_type = socket_type
        self.to_send = to_send or []
        self.received: list[bytes] = []
        self.peer_protos: list[int] = []
        super().__init__(H)


def test_nanomsg_push_pull_roundtrip():
    peer = _SpPeer("PULL")
    try:
        s = NanomsgSocket("127.0.0.1", peer.port, "PUSH")
        s.send(b"msg-1")
        s.send(b"m" * 500)
        s.close()
        import time

        deadline = time.time() + 3
        while time.time() < deadline and len(peer.received) < 2:
            time.sleep(0.02)
        assert peer.received == [b"msg-1", b"m" * 500]
        assert peer.peer_protos == [PROTOCOLS["PUSH"]]
    finally:
        peer.stop()


def test_nanomsg_protocol_mismatch_rejected():
    peer = _SpPeer("PULL")
    try:
        with pytest.raises(NanomsgError):
            NanomsgSocket("127.0.0.1", peer.port, "SUB")
    finally:
        peer.stop()


def test_nanomsg_pull_drain(tmp_path):
    peer = _SpPeer("PUSH", to_send=[b"a", b"b", b"c"])
    try:
        s = NanomsgSocket("127.0.0.1", peer.port, "PULL", timeout=0.5)
        out = str(tmp_path / "staged")
        assert s.drain_to_dir(out, max_msgs=3) == 3
        s.close()
    finally:
        peer.stop()


def test_nanomsg_transport():
    peer = _SpPeer("PULL")
    try:
        t = TRANSPORTS["nanomsg"]({"port": peer.port})
        t.send(["x", "y"])
        t.close()
        import time

        deadline = time.time() + 3
        while time.time() < deadline and len(peer.received) < 2:
            time.sleep(0.02)
        assert peer.received == [b"x", b"y"]
    finally:
        peer.stop()


def test_partner_table_is_symmetric():
    for a, b in PARTNER.items():
        assert PARTNER[b] == a
