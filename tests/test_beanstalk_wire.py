"""BeanstalkClient tests against an in-process beanstalkd speaking
the public text protocol: byte-counted binary-safe job bodies,
pipelined put batches with full reply drain, tube use/watch,
reserve/delete/release, TTR redelivery, and error replies."""

from __future__ import annotations

import json
import socketserver

import pytest

from bento_spark.operators.beanstalk_wire import BeanstalkClient, BeanstalkError
from bento_spark.serving import TcpServer


class _Handler(socketserver.StreamRequestHandler):
    def _send(self, s: str):
        self.wfile.write(s.encode() + b"\r\n")
        self.wfile.flush()

    def handle(self):
        srv = self.server
        using = "default"
        while True:
            line = self.rfile.readline()
            if not line:
                return
            parts = line.decode().rstrip("\r\n").split(" ")
            cmd = parts[0]
            if cmd == "use":
                using = parts[1]
                self._send(f"USING {using}")
            elif cmd == "watch":
                self._send("WATCHING 2")
            elif cmd == "put":
                pri, delay, ttr, nbytes = map(int, parts[1:5])
                body = self.rfile.read(nbytes)
                crlf = self.rfile.read(2)
                if crlf != b"\r\n":
                    self._send("EXPECTED_CRLF")
                    continue
                if srv.job_limit and nbytes > srv.job_limit:
                    self._send("JOB_TOO_BIG")
                    continue
                srv.next_id += 1
                srv.tubes.setdefault(using, []).append(
                    {"id": srv.next_id, "body": body, "reserved": False}
                )
                self._send(f"INSERTED {srv.next_id}")
            elif cmd == "reserve-with-timeout":
                tube = srv.tubes.get(using, [])
                free = [j for j in tube if not j["reserved"] and not j.get("deleted")]
                if not free:
                    self._send("TIMED_OUT")
                    continue
                j = free[0]
                j["reserved"] = True
                self.wfile.write(
                    f"RESERVED {j['id']} {len(j['body'])}\r\n".encode()
                    + j["body"]
                    + b"\r\n"
                )
                self.wfile.flush()
            elif cmd == "delete":
                jid = int(parts[1])
                found = False
                for tube in srv.tubes.values():
                    for j in tube:
                        if j["id"] == jid and not j.get("deleted"):
                            j["deleted"] = True
                            found = True
                self._send("DELETED" if found else "NOT_FOUND")
            elif cmd == "release":
                jid = int(parts[1])
                for tube in srv.tubes.values():
                    for j in tube:
                        if j["id"] == jid:
                            j["reserved"] = False
                self._send("RELEASED")
            elif cmd == "quit":
                return


class _Server(TcpServer):
    def __init__(self):
        self.tubes: dict[str, list[dict]] = {}
        self.next_id = 0
        self.job_limit = 0
        super().__init__(_Handler)

    def live_bodies(self, tube="default"):
        return [
            j["body"] for j in self.tubes.get(tube, []) if not j.get("deleted")
        ]


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_put_binary_safe_and_tubes(server):
    c = BeanstalkClient(port=server.port)
    c.use("jobs")
    jid = c.put(b"\x00\xff binary \r\n safe")
    assert jid == 1
    assert server.tubes["jobs"][0]["body"] == b"\x00\xff binary \r\n safe"
    c.close()


def test_put_batch_pipelined(server):
    c = BeanstalkClient(port=server.port)
    ids = c.put_batch([f"job{i}".encode() for i in range(5)])
    assert ids == [1, 2, 3, 4, 5]
    assert server.live_bodies() == [f"job{i}".encode() for i in range(5)]
    c.close()


def test_put_batch_drains_errors_without_desync(server):
    server.job_limit = 10
    c = BeanstalkClient(port=server.port)
    with pytest.raises(BeanstalkError, match="JOB_TOO_BIG"):
        c.put_batch([b"ok", b"x" * 50, b"also-ok"])
    # connection still usable: replies were fully drained
    assert c.put(b"after") > 0
    c.close()


def test_reserve_delete_and_ttr_release(server):
    c = BeanstalkClient(port=server.port)
    c.put(b"j1")
    c.put(b"j2")
    jid, body = c.reserve()
    assert body == b"j1"
    c.release(jid)  # TTR-style redelivery
    jid2, body2 = c.reserve()
    assert body2 == b"j1"  # released job comes back
    c.delete(jid2)
    jid3, body3 = c.reserve()
    assert body3 == b"j2"
    c.delete(jid3)
    assert c.reserve() is None
    c.close()


def test_drain_stages_before_delete(tmp_path, server):
    c = BeanstalkClient(port=server.port)
    c.put_batch([f"m{i}".encode() for i in range(6)])
    n = c.drain_to_dir(str(tmp_path), max_msgs=100)
    assert n == 6
    rows = []
    for p in tmp_path.glob("*.ndjson"):
        rows += [json.loads(ln) for ln in p.read_text().splitlines()]
    assert {r["value"] for r in rows} == {f"m{i}" for i in range(6)}
    assert server.live_bodies() == []
    c.close()


def test_deliver_end_to_end_via_beanstalkd_transport(spark, server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(20).selectExpr("id", "concat('b', id) AS msg")
    stats = deliver(
        df, "beanstalkd",
        {"host": "127.0.0.1", "port": server.port, "tube": "spark"},
        batch_size=7,
    )
    assert stats["delivered"] == 20 and stats["dead"] == 0
    got = {json.loads(m.decode())["msg"] for m in server.live_bodies("spark")}
    assert got == {f"b{i}" for i in range(20)}
