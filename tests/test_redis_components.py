"""redis_list / redis_streams / redis_pubsub / redis_scan / redis_hash
components against an in-process RESP2 server.

The server extends the kvstore test server's command set with the list
(RPUSH/RPOPLPUSH/LREM/LRANGE/DEL), stream (XADD/XRANGE), pub/sub
(SUBSCRIBE/PUBLISH), keyspace (SCAN), and hash (HSET/HGETALL) commands
these components speak — all framing per the public RESP2 spec, no
redis binary needed. Covers the reliable-queue crash-recovery path,
the durable XRANGE cursor, pub/sub fan-out, SCAN pagination, and the
sink transports through the real delivery loop.
"""

from __future__ import annotations

import fnmatch
import json
import os
import socketserver
import threading
import time

import pytest

from bento_spark.operators.kvstore import RedisKV
from bento_spark.serving import TcpServer
from bento_spark.sinks.connector import TRANSPORTS, DeliveryError
from bento_spark.sources.redis_bridge import (
    RedisListBridge,
    RedisPubSubBridge,
    RedisStreamsBridge,
    redis_scan_pairs,
)


def _bulk(s: str | None) -> bytes:
    if s is None:
        return b"$-1\r\n"
    b = s.encode("utf-8")
    return b"$%d\r\n%s\r\n" % (len(b), b)


def _array(items) -> bytes:
    out = [b"*%d\r\n" % len(items)]
    for it in items:
        if isinstance(it, bytes):
            out.append(it)
        elif isinstance(it, int):
            out.append(b":%d\r\n" % it)
        elif isinstance(it, list):
            out.append(_array(it))
        else:
            out.append(_bulk(it))
    return b"".join(out)


class _Handler(socketserver.StreamRequestHandler):
    def _read_command(self):
        line = self.rfile.readline()
        if not line:
            return None
        assert line[:1] == b"*", line
        args = []
        for _ in range(int(line[1:-2])):
            head = self.rfile.readline()
            n = int(head[1:-2])
            args.append(self.rfile.read(n + 2)[:-2].decode("utf-8"))
        return args

    def _send(self, payload: bytes) -> None:
        self.wfile.write(payload)
        self.wfile.flush()

    def handle(self) -> None:  # noqa: C901 — one branch per command
        srv = self.server
        subscribed: list[str] = []
        while True:
            if subscribed:
                # push pending messages for subscribed channels
                with srv.lock:
                    for ch in subscribed:
                        q = srv.pubsub.setdefault(ch, [])
                        while q:
                            self._send(
                                _array(["message", ch, q.pop(0)])
                            )
                self.request.settimeout(0.05)
                try:
                    cmd = self._read_command()
                except (TimeoutError, OSError):
                    continue
                finally:
                    self.request.settimeout(None)
            else:
                cmd = self._read_command()
            if cmd is None:
                return
            with srv.lock:
                if srv.drops:
                    # hang up without a reply, as a reset peer does
                    srv.drops -= 1
                    return
            name = cmd[0].upper()
            with srv.lock:
                if name == "PING":
                    self._send(b"+PONG\r\n")
                elif name == "GET":
                    self._send(_bulk(srv.kv.get(cmd[1])))
                elif name == "SET":
                    srv.kv[cmd[1]] = cmd[2]
                    self._send(b"+OK\r\n")
                elif name == "MGET":
                    self._send(_array([srv.kv.get(k) for k in cmd[1:]]))
                elif name == "MSET":
                    for i in range(1, len(cmd), 2):
                        srv.kv[cmd[i]] = cmd[i + 1]
                    self._send(b"+OK\r\n")
                elif name == "DEL":
                    n = 0
                    for k in cmd[1:]:
                        n += int(
                            srv.kv.pop(k, None) is not None
                            or srv.lists.pop(k, None) is not None
                            or srv.hashes.pop(k, None) is not None
                        )
                    self._send(b":%d\r\n" % n)
                elif name == "RPUSH":
                    lst = srv.lists.setdefault(cmd[1], [])
                    lst.extend(cmd[2:])
                    self._send(b":%d\r\n" % len(lst))
                elif name == "LMOVE":
                    src = srv.lists.get(cmd[1], [])
                    if not src:
                        self._send(b"$-1\r\n")
                    else:
                        v = src.pop(0) if cmd[3] == "LEFT" else src.pop()
                        dst = srv.lists.setdefault(cmd[2], [])
                        if cmd[4] == "RIGHT":
                            dst.append(v)
                        else:
                            dst.insert(0, v)
                        self._send(_bulk(v))
                elif name == "LREM":
                    lst = srv.lists.get(cmd[1], [])
                    count, val, removed = int(cmd[2]), cmd[3], 0
                    while count > 0 and val in lst:
                        lst.remove(val)
                        removed += 1
                        count -= 1
                    self._send(b":%d\r\n" % removed)
                elif name == "LRANGE":
                    lst = srv.lists.get(cmd[1], [])
                    stop = int(cmd[3])
                    stop = len(lst) if stop == -1 else stop + 1
                    self._send(_array(lst[int(cmd[2]):stop]))
                elif name == "XADD":
                    srv.xadd_seq += 1
                    entry_id = (
                        cmd[2]
                        if cmd[2] != "*"
                        else f"{srv.xadd_seq}-0"
                    )
                    srv.streams.setdefault(cmd[1], []).append(
                        (entry_id, list(cmd[3:]))
                    )
                    self._send(_bulk(entry_id))
                elif name == "XRANGE":
                    entries = srv.streams.get(cmd[1], [])
                    start, stop = cmd[2], cmd[3]
                    count = int(cmd[5]) if len(cmd) > 5 else len(entries)

                    def key(eid: str):
                        ms, _, seq = eid.partition("-")
                        return (int(ms), int(seq or 0))

                    lo = None if start == "-" else key(start)
                    hi = None if stop == "+" else key(stop)
                    sel = [
                        [eid, fields]
                        for eid, fields in entries
                        if (lo is None or key(eid) >= lo)
                        and (hi is None or key(eid) <= hi)
                    ][:count]
                    self._send(_array(sel))
                elif name == "SCAN":
                    # single-pass cursor over a snapshot, PAGE per call
                    cursor, page = int(cmd[1]), 2
                    match = cmd[3] if len(cmd) > 3 and cmd[2] == "MATCH" else "*"
                    keys = sorted(
                        k for k in srv.kv if fnmatch.fnmatch(k, match)
                    )
                    chunk = keys[cursor : cursor + page]
                    nxt = cursor + page
                    nxt = 0 if nxt >= len(keys) else nxt
                    self._send(_array([str(nxt), chunk]))
                elif name == "HSET":
                    h = srv.hashes.setdefault(cmd[1], {})
                    added = 0
                    for i in range(2, len(cmd), 2):
                        added += int(cmd[i] not in h)
                        h[cmd[i]] = cmd[i + 1]
                    self._send(b":%d\r\n" % added)
                elif name == "HGETALL":
                    h = srv.hashes.get(cmd[1], {})
                    flat = [x for kv in sorted(h.items()) for x in kv]
                    self._send(_array(flat))
                elif name == "PUBLISH":
                    q = srv.pubsub.setdefault(cmd[1], [])
                    q.append(cmd[2])
                    self._send(b":1\r\n")
                elif name == "SUBSCRIBE":
                    subscribed.append(cmd[1])
                    self._send(
                        _array(["subscribe", cmd[1], len(subscribed)])
                    )
                else:
                    self._send(
                        b"-ERR unknown command '%s'\r\n"
                        % name.encode()
                    )


class _Server(TcpServer):
    def __init__(self):
        self.kv: dict[str, str] = {}
        self.lists: dict[str, list[str]] = {}
        self.streams: dict[str, list] = {}
        self.hashes: dict[str, dict[str, str]] = {}
        self.pubsub: dict[str, list[str]] = {}
        self.xadd_seq = 0
        self.drops = 0  # connections to drop at their next command
        self.lock = threading.RLock()
        super().__init__(_Handler)


@pytest.fixture
def server():
    with _Server() as srv:
        yield srv


def _client(server) -> RedisKV:
    return RedisKV("127.0.0.1", server.port)


# -- redis_list -----------------------------------------------------------


def test_list_sink_then_bridge_roundtrip(server, tmp_path):
    t = TRANSPORTS["redis_list"]({"port": server.port, "key": "jobs"})
    msgs = [f"msg-{i}" for i in range(600)]  # spans the BATCH=256 width
    t.send(msgs)
    t.close()
    assert server.lists["jobs"] == msgs

    out = tmp_path / "staged"
    n = RedisListBridge(_client(server), "jobs").drain(str(out))
    assert n == 600
    staged = []
    for f in sorted(os.listdir(out)):
        staged.extend((out / f).read_text().splitlines())
    assert staged == msgs  # LMOVE LEFT = FIFO, order preserved
    assert server.lists["jobs"] == []
    assert server.lists.get("jobs:processing", []) == []


def test_list_bridge_recovers_processing_leftovers(server, tmp_path):
    # simulate a crash after RPOPLPUSH but before staging
    server.lists["jobs:processing"] = ["lost-1", "lost-2"]
    server.lists["jobs"] = ["fresh"]
    out = tmp_path / "staged"
    n = RedisListBridge(_client(server), "jobs").drain(str(out))
    assert n == 3
    staged = []
    for f in sorted(os.listdir(out)):
        staged.extend((out / f).read_text().splitlines())
    assert sorted(staged) == ["fresh", "lost-1", "lost-2"]


def test_list_bridge_max_messages_bound(server, tmp_path):
    server.lists["jobs"] = [f"m{i}" for i in range(10)]
    n = RedisListBridge(_client(server), "jobs").drain(
        str(tmp_path / "s"), max_messages=4
    )
    assert n == 4
    assert len(server.lists["jobs"]) == 6


# -- redis_streams --------------------------------------------------------


def test_streams_sink_then_bridge_with_cursor(server, tmp_path):
    t = TRANSPORTS["redis_streams"]({"port": server.port, "stream": "evts"})
    t.send(["a", "b", "c"])
    t.close()
    out = str(tmp_path / "staged")
    bridge = RedisStreamsBridge(_client(server), "evts")
    assert bridge.drain(out) == 3

    # new entries after the cursor: only they are staged on re-drain
    t2 = TRANSPORTS["redis_streams"]({"port": server.port, "stream": "evts"})
    t2.send(["d"])
    t2.close()
    assert RedisStreamsBridge(_client(server), "evts").drain(out) == 1

    bodies = []
    for f in sorted(os.listdir(out)):
        if f.startswith("."):
            continue
        for line in open(os.path.join(out, f)):
            bodies.append(json.loads(line)["body"])
    assert bodies == ["a", "b", "c", "d"]  # exactly-once per entry ID


def test_streams_bridge_recrash_redelivers(server, tmp_path):
    """Cursor written only after staging: deleting it re-delivers."""
    t = TRANSPORTS["redis_streams"]({"port": server.port, "stream": "s"})
    t.send(["x"])
    t.close()
    out = tmp_path / "staged"
    RedisStreamsBridge(_client(server), "s").drain(str(out))
    (out / ".cursor-s").unlink()  # crash before cursor persisted
    assert RedisStreamsBridge(_client(server), "s").drain(str(out)) == 1


# -- redis_pubsub ---------------------------------------------------------


def test_pubsub_publish_then_subscribe_drain(server, tmp_path):
    pub = TRANSPORTS["redis_pubsub"]({"port": server.port, "channel": "news"})
    pub.send(["hello", "world"])
    pub.close()
    out = tmp_path / "staged"
    n = RedisPubSubBridge(_client(server), ["news"]).drain(
        str(out), idle_timeout_s=0.3
    )
    assert n == 2
    msgs = []
    for f in sorted(os.listdir(out)):
        for line in open(out / f):
            row = json.loads(line)
            assert row["channel"] == "news"
            msgs.append(row["body"])
    assert msgs == ["hello", "world"]


def test_pubsub_idle_stop_empty_channel(server, tmp_path):
    start = time.time()
    n = RedisPubSubBridge(_client(server), ["quiet"]).drain(
        str(tmp_path / "s"), idle_timeout_s=0.2
    )
    assert n == 0
    assert time.time() - start < 2.0


# -- redis_scan -----------------------------------------------------------


def test_scan_snapshot_with_match(server):
    c = _client(server)
    c.mset([(f"doc:{i}", f"v{i}") for i in range(7)])
    c.mset([("other:1", "x")])
    rows = redis_scan_pairs(c, match="doc:*")
    c.close()
    assert sorted(rows) == [(f"doc:{i}", f"v{i}") for i in range(7)]


def test_scan_all_keys_paginates(server):
    c = _client(server)
    c.mset([(f"k{i}", str(i)) for i in range(5)])
    rows = redis_scan_pairs(c)  # server pages 2 keys per SCAN call
    c.close()
    assert len(rows) == 5


# -- redis_hash -----------------------------------------------------------


def test_hash_sink_uses_key_field(server):
    t = TRANSPORTS["redis_hash"](
        {"port": server.port, "key": "users", "key_field": "uid"}
    )
    rows = [json.dumps({"uid": i, "name": f"u{i}"}) for i in range(3)]
    t.send(rows)
    t.close()
    assert server.hashes["users"] == {str(i): rows[i] for i in range(3)}


def test_hash_sink_missing_key_field_not_retryable(server):
    t = TRANSPORTS["redis_hash"]({"port": server.port, "key": "h"})
    with pytest.raises(DeliveryError) as ei:
        t.send([json.dumps({"no_id": 1})])
    assert not ei.value.retryable
    t.close()


# -- end-to-end through the Spark delivery loop ---------------------------


def test_deliver_to_redis_list_via_spark(spark, server, tmp_path):
    from bento_spark.sinks.connector import deliver

    df = spark.range(40).selectExpr("id", "concat('row-', id) AS name")
    stats = deliver(
        df, "redis_list", {"port": server.port, "key": "spark"}, batch_size=16
    )
    assert stats["delivered"] == 40
    assert len(server.lists["spark"]) == 40
    n = RedisListBridge(_client(server), "spark").drain(str(tmp_path / "s"))
    assert n == 40


def test_deliver_reconnects_after_a_dropped_connection(spark, server):
    """The server drops the first RPUSH's connection. The delivery loop
    re-sends on a fresh transport, not on the closed socket."""
    from bento_spark.sinks.connector import deliver

    server.drops = 1
    df = spark.range(40).coalesce(1)
    stats = deliver(
        df, "redis_list", {"port": server.port, "key": "d"}, batch_size=16
    )
    assert stats["delivered"] == 40 and stats["dead"] == 0
    got = sorted(json.loads(v)["id"] for v in server.lists["d"])
    assert got == list(range(40))
