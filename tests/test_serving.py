"""The in-process server base (bento_spark/serving.py): its behaviour,
and a guard that no other module hand-writes the set-up it replaces."""

from __future__ import annotations

import ast
import pathlib
import socket
import socketserver
import urllib.request
from http.server import BaseHTTPRequestHandler

from bento_spark.serving import HttpServer, TcpServer

ROOT = pathlib.Path(__file__).resolve().parents[1]
BASE = ROOT / "bento_spark" / "serving.py"
# spelled in two parts so that a text search for the name finds only
# the base module
SERVE = "serve_" + "forever"
SET_UP = {"request_queue_size", "allow_reuse_address", "daemon_threads"}


def _set_up_sites(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr == SERVE:
            found.append(f"{path}:{node.lineno} {SERVE}")
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign)
            else []
        )
        for t in targets:
            name = t.attr if isinstance(t, ast.Attribute) else getattr(t, "id", None)
            if name in SET_UP:
                found.append(f"{path}:{node.lineno} sets {name}")
    return found


def test_no_server_set_up_outside_the_base():
    sites = [
        site
        for top in ("bento_spark", "tests")
        for path in sorted((ROOT / top).rglob("*.py"))
        if path != BASE
        for site in _set_up_sites(path)
    ]
    assert sites == []


def test_guard_sees_hand_written_set_up(tmp_path):
    path = tmp_path / "m.py"
    path.write_text(
        "class S:\n    daemon_threads = True\n"
        "srv.request_queue_size = 5\n"
        f"threading.Thread(target=srv.{SERVE}).start()\n"
    )
    assert len(_set_up_sites(path)) == 3


class _Echo(socketserver.StreamRequestHandler):
    def handle(self):
        self.wfile.write(self.rfile.readline())


class _Hello(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        self.send_response(200)
        self.send_header("Content-Length", "5")
        self.end_headers()
        self.wfile.write(b"hello")


def test_ephemeral_tcp_bind_reports_usable_port():
    with TcpServer(_Echo) as srv:
        assert srv.port > 0
        assert srv.url == f"tcp://127.0.0.1:{srv.port}"
        with socket.create_connection(("127.0.0.1", srv.port), timeout=5) as c:
            c.sendall(b"ping\n")
            assert c.makefile("rb").readline() == b"ping\n"


def test_ephemeral_http_bind_reports_usable_url():
    with HttpServer(_Hello) as srv:
        assert srv.url == f"http://127.0.0.1:{srv.port}"
        with urllib.request.urlopen(srv.url, timeout=5) as resp:
            assert resp.read() == b"hello"


def test_stop_twice_is_safe_and_frees_the_port():
    srv = TcpServer(_Echo)
    port = srv.port
    srv.stop()
    srv.stop()
    # the same port binds again once the listener is closed
    with TcpServer(_Echo, ("127.0.0.1", port)) as again:
        assert again.port == port


def test_context_manager_stops_on_exit():
    with HttpServer(_Hello) as srv:
        port = srv.port
    assert srv.socket.fileno() == -1  # listener closed
    with socket.socket() as probe:
        assert probe.connect_ex(("127.0.0.1", port)) != 0
