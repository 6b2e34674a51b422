"""JetStream tests against an in-process JetStream-aware NATS server:
PubAck publishes (pipelined, ordered acks, error acks), pull-consume
with per-message $JS.ACK addresses, stage-then-ack redelivery of
unacked messages, KV last-value get/put through the kvstore factory,
and the nats_jetstream sink transport."""

from __future__ import annotations

import base64
import json
import os
import socketserver
import threading

import pytest

from bento_spark.operators.jetstream import JetStreamClient, NatsKV
from bento_spark.operators.kvstore import _client_from_url
from bento_spark.operators.nats_wire import NatsError
from bento_spark.serving import TcpServer
from bento_spark.sinks.connector import TRANSPORTS


class _Handler(socketserver.StreamRequestHandler):
    def _send(self, b: bytes):
        self.wfile.write(b)
        self.wfile.flush()

    def _msg(self, subject: str, sid: str, payload: bytes,
             reply: str | None = None):
        head = (
            f"MSG {subject} {sid} {reply} {len(payload)}\r\n"
            if reply
            else f"MSG {subject} {sid} {len(payload)}\r\n"
        )
        self._send(head.encode() + payload + b"\r\n")

    def handle(self):  # noqa: C901 — one branch per protocol verb
        srv = self.server
        self._send(b'INFO {"server_id":"js-test","jetstream":true}\r\n')
        subs: dict[str, str] = {}  # subject -> sid
        verbose = False
        while True:
            line = self.rfile.readline()
            if not line:
                return
            line = line[:-2]
            if line.startswith(b"CONNECT"):
                verbose = json.loads(line[8:]).get("verbose", False)
                if verbose:
                    self._send(b"+OK\r\n")
                continue
            if line == b"PING":
                self._send(b"PONG\r\n")
                continue
            if line.startswith(b"SUB "):
                _, subject, sid = line.decode().split(" ")
                subs[subject] = sid
                if verbose:
                    self._send(b"+OK\r\n")
                continue
            if not line.startswith(b"PUB "):
                self._send(b"-ERR 'unknown protocol'\r\n")
                continue
            parts = line.decode().split(" ")
            subject = parts[1]
            reply = parts[2] if len(parts) == 4 else None
            n = int(parts[-1])
            payload = self.rfile.read(n + 2)[:-2]
            if verbose:
                self._send(b"+OK\r\n")

            with srv.lock:
                if subject.startswith("$JS.API.CONSUMER.MSG.NEXT."):
                    rest = subject[len("$JS.API.CONSUMER.MSG.NEXT."):]
                    stream, consumer = rest.split(".", 1)
                    req = json.loads(payload)
                    batch = req.get("batch", 1)
                    pend = srv.pending.setdefault(stream, [])
                    delivered = 0
                    sid = subs.get(reply, "9001")
                    for seq, data in list(pend):
                        if delivered >= batch:
                            break
                        ack = f"$JS.ACK.{stream}.{consumer}.1.{seq}.{seq}.0.0"
                        self._msg(reply, sid, data, reply=ack)
                        delivered += 1
                    if delivered < batch:
                        # no_wait status terminator (404 no messages)
                        self._msg(reply, sid, b"", reply=None)
                    continue
                if subject.startswith("$JS.ACK."):
                    _, _, stream, _consumer, _, seq, *_ = subject.split(".")
                    srv.pending[stream] = [
                        (s, d)
                        for s, d in srv.pending.get(stream, [])
                        if str(s) != seq
                    ]
                    srv.acked.append((stream, int(seq)))
                    continue
                if subject.startswith("$JS.API.STREAM.MSG.GET."):
                    stream = subject[len("$JS.API.STREAM.MSG.GET."):]
                    req = json.loads(payload)
                    sid = subs.get(reply, "9001")
                    val = None
                    subj = None
                    if "last_by_subj" in req:
                        subj = req["last_by_subj"]
                        if stream.startswith("KV_"):
                            val = srv.kv.get(stream[3:], {}).get(subj)
                        else:
                            val = srv.last.get(stream, {}).get(subj)
                    elif "seq" in req:
                        got = srv.byseq.get(stream, {}).get(int(req["seq"]))
                        if got is not None:
                            subj, data = got
                            val = (int(req["seq"]), data)
                    if val is None:
                        resp = {
                            "error": {
                                "code": 404,
                                "description": "no message found",
                            }
                        }
                    else:
                        seq, data = val
                        resp = {
                            "message": {
                                "subject": subj,
                                "seq": seq,
                                "data": base64.b64encode(data).decode(),
                            }
                        }
                    self._msg(reply, sid, json.dumps(resp).encode())
                    continue
                # regular subject publish -> JetStream stream append
                if srv.reject_subjects and subject in srv.reject_subjects:
                    resp = {
                        "error": {"code": 503, "description": "no stream"}
                    }
                else:
                    srv.seq += 1
                    if subject.startswith("$KV."):
                        bucket = subject.split(".")[1]
                        srv.kv.setdefault(bucket, {})[subject] = (
                            srv.seq, payload,
                        )
                        stream = f"KV_{bucket}"
                    elif subject.startswith("$O."):
                        # object store: chunks addressable by stream seq,
                        # metadata by last-message-for-subject
                        bucket = subject.split(".")[1]
                        stream = f"OBJ_{bucket}"
                        srv.last.setdefault(stream, {})[subject] = (
                            srv.seq, payload,
                        )
                        srv.byseq.setdefault(stream, {})[srv.seq] = (
                            subject, payload,
                        )
                    else:
                        stream = srv.subject_stream.get(subject, "S")
                        srv.pending.setdefault(stream, []).append(
                            (srv.seq, payload)
                        )
                    resp = {"stream": stream, "seq": srv.seq}
                if reply:
                    sid = subs.get(reply, "9001")
                    self._msg(reply, sid, json.dumps(resp).encode())


class _Server(TcpServer):
    def __init__(self):
        self.pending: dict[str, list] = {}
        self.kv: dict[str, dict] = {}
        self.last: dict[str, dict] = {}  # OBJ streams: subject -> (seq, data)
        self.byseq: dict[str, dict] = {}  # OBJ streams: seq -> (subject, data)
        self.acked: list = []
        self.subject_stream: dict[str, str] = {}
        self.reject_subjects: set[str] = set()
        self.seq = 0
        self.lock = threading.RLock()
        super().__init__(_Handler)


@pytest.fixture
def server():
    with _Server() as srv:
        yield srv


def test_publish_returns_ordered_seqs(server):
    js = JetStreamClient("127.0.0.1", server.port)
    seqs = js.publish("orders.new", [b"a", b"b", b"c"])
    js.close()
    assert seqs == [1, 2, 3]
    assert [d for _, d in server.pending["S"]] == [b"a", b"b", b"c"]


def test_publish_error_ack_raises(server):
    server.reject_subjects = {"orders.bad"}
    js = JetStreamClient("127.0.0.1", server.port)
    with pytest.raises(NatsError):
        js.publish("orders.bad", [b"x"])
    js.close()


def test_fetch_ack_and_redelivery(server, tmp_path):
    js = JetStreamClient("127.0.0.1", server.port)
    js.publish("orders.new", [b"m1", b"m2", b"m3"])

    fetched = js.fetch("S", "workers", batch=2)
    assert [p for _, p in fetched] == [b"m1", b"m2"]
    assert all(a.startswith("$JS.ACK.S.workers.") for a, _ in fetched)
    # ack only the first -> the second redelivers
    js.ack([fetched[0][0]])
    refetch = js.fetch("S", "workers", batch=10)
    assert [p for _, p in refetch] == [b"m2", b"m3"]
    js.close()


def test_drain_stage_then_ack(server, tmp_path):
    js = JetStreamClient("127.0.0.1", server.port)
    js.publish("orders.new", [b"x%d" % i for i in range(5)])
    out = str(tmp_path / "staged")
    assert js.drain("S", "workers", out) == 5
    assert server.pending["S"] == []  # everything acked after staging
    lines = []
    for f in sorted(os.listdir(out)):
        lines.extend(open(os.path.join(out, f), "rb").read().splitlines())
    assert lines == [b"x%d" % i for i in range(5)]
    js.close()


def test_kv_get_put_via_factory(server):
    kv = _client_from_url(f"nats://127.0.0.1:{server.port}/conf")
    assert isinstance(kv, NatsKV)
    assert kv.mget(["missing"]) == [None]
    kv.mset([("a", "1"), ("b", "2")])
    kv.mset([("a", "9")])  # last-value wins
    assert kv.mget(["a", "b"]) == ["9", "2"]
    kv.close()


def test_jetstream_transport(server):
    t = TRANSPORTS["nats_jetstream"](
        {"port": server.port, "subject": "orders.new"}
    )
    t.send(['{"id":1}', '{"id":2}'])
    t.close()
    assert [d for _, d in server.pending["S"]] == [b'{"id":1}', b'{"id":2}']


def test_object_store_put_get_chunked(server):
    from bento_spark.operators.jetstream import NatsObjectStore

    st = NatsObjectStore(port=server.port, bucket="models", chunk_size=10)
    data = bytes(range(256)) * 3  # 768 bytes -> 77 chunks
    meta = st.put("weights.bin", data)
    assert meta["chunks"] == 77 and meta["size"] == 768
    assert st.get("weights.bin") == data
    st.close()


def test_object_store_overwrite_latest_wins(server):
    from bento_spark.operators.jetstream import NatsObjectStore

    st = NatsObjectStore(port=server.port, bucket="b", chunk_size=100)
    st.put("doc", b"version-1")
    st.put("doc", b"version-two")
    assert st.get("doc") == b"version-two"
    st.close()


def test_object_store_missing_raises(server):
    from bento_spark.operators.jetstream import NatsObjectStore
    from bento_spark.operators.nats_wire import NatsError

    st = NatsObjectStore(port=server.port, bucket="b")
    with pytest.raises(NatsError, match="not found"):
        st.get("nope")
    st.close()


def test_object_store_digest_check(server):
    from bento_spark.operators.jetstream import NatsObjectStore
    from bento_spark.operators.nats_wire import NatsError

    st = NatsObjectStore(port=server.port, bucket="b", chunk_size=4)
    meta = st.put("obj", b"hello world")
    # corrupt one chunk in the server's stream storage
    stream = "OBJ_b"
    seq = meta["chunk_seqs"][1]
    subj, _ = server.byseq[stream][seq]
    server.byseq[stream][seq] = (subj, b"XXXX")
    with pytest.raises(NatsError, match="digest mismatch"):
        st.get("obj")
    st.close()


def test_object_store_drain_to_dir(server, tmp_path):
    from bento_spark.operators.jetstream import NatsObjectStore

    st = NatsObjectStore(port=server.port, bucket="b", chunk_size=8)
    st.put("a/b.txt", b"alpha")
    st.put("c.txt", b"gamma")
    n = st.drain_to_dir(str(tmp_path), ["a/b.txt", "c.txt"])
    assert n == 2
    assert (tmp_path / "a_b.txt").read_bytes() == b"alpha"
    assert (tmp_path / "c.txt").read_bytes() == b"gamma"
    st.close()
