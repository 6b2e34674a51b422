"""Amqp1Client against an in-process AMQP 1.0 broker: type-codec
roundtrip, header + open/begin/attach handshakes, credit-gated
pipelined transfers with RANGE-coalesced dispositions, rejected
outcomes draining before raising, receiver flow/transfer/settle with
stage-then-settle drain, and the amqp_1 sink transport."""

from __future__ import annotations

import socketserver
import struct

import pytest

from bento_spark.operators.amqp1_wire import (
    ACCEPTED,
    AMQP_HEADER,
    ATTACH,
    BEGIN,
    CLOSE,
    DATA_SECTION,
    DISPOSITION,
    FLOW,
    OPEN,
    REJECTED,
    TRANSFER,
    Amqp1Client,
    Amqp1Error,
    Described,
    Symbol,
    decode,
    decode_frame,
    encode,
    encode_frame,
)
from bento_spark.serving import TcpServer


class _Handler(socketserver.StreamRequestHandler):
    def _frame(self, descriptor, fields, payload=b""):
        self.wfile.write(
            encode_frame(0, Described(descriptor, fields), payload)
        )
        self.wfile.flush()

    def _read(self):
        head = self.rfile.read(4)
        if len(head) != 4:
            return None
        (size,) = struct.unpack(">I", head)
        rest = self.rfile.read(size - 4)
        _ch, perf, payload = decode_frame(head + rest)
        return perf, payload

    def handle(self):
        srv = self.server
        assert self.rfile.read(8) == AMQP_HEADER
        self.wfile.write(AMQP_HEADER)
        self.wfile.flush()
        role = None
        pending: list[tuple[int, bytes]] = []  # sender-side dispositions due
        while True:
            got = self._read()
            if got is None:
                return
            perf, payload = got
            d = perf.descriptor
            if d == OPEN:
                srv.container = perf.value[0]
                self._frame(OPEN, ["inproc-broker"])
            elif d == BEGIN:
                self._frame(BEGIN, [0, 0, 2048, 2048])
            elif d == ATTACH:
                name, _handle, is_receiver = perf.value[0], perf.value[1], perf.value[2]
                role = "receiver" if is_receiver else "sender"
                if role == "sender":
                    addr = perf.value[6].value[0]
                    srv.queues.setdefault(addr, [])
                    self.addr = addr
                    self._frame(ATTACH, [name, 0, True, 0, 0,
                                         Described(0x28, []),
                                         perf.value[6]])
                    # initial credit grant
                    self._frame(FLOW, [0, 2048, 0, 2048, 0, 0, srv.credit])
                else:
                    addr = perf.value[5].value[0]
                    self.addr = addr
                    self._frame(ATTACH, [name, 0, False, 0, 0,
                                         perf.value[5],
                                         Described(0x29, [])])
            elif d == TRANSFER:
                did = perf.value[1]
                section = decode(payload)
                assert isinstance(section, Described)
                assert section.descriptor == DATA_SECTION
                if section.value in srv.reject_payloads:
                    self._frame(DISPOSITION, [
                        True, did, did, True, Described(REJECTED, []),
                    ])
                    continue
                srv.queues.setdefault(self.addr, []).append(section.value)
                pending.append(did)
                # coalesce: flush a ranged disposition every `coalesce`
                if len(pending) >= srv.coalesce:
                    self._frame(DISPOSITION, [
                        True, pending[0], pending[-1], True,
                        Described(ACCEPTED, []),
                    ])
                    pending = []
            elif d == FLOW and role == "receiver":
                credit = perf.value[6]
                for i, data in enumerate(srv.queues.get(self.addr, [])):
                    if i >= credit:
                        break
                    self._frame(
                        TRANSFER,
                        [0, i, struct.pack(">I", i), 0, False, False],
                        encode(Described(DATA_SECTION, data)),
                    )
            elif d == DISPOSITION:  # receiver settling
                first, last = perf.value[1], perf.value[2]
                srv.settled.extend(range(first, (last or first) + 1))
            elif d == CLOSE:
                # flush any straggler dispositions before closing
                if pending:
                    self._frame(DISPOSITION, [
                        True, pending[0], pending[-1], True,
                        Described(ACCEPTED, []),
                    ])
                self._frame(CLOSE, [])
                return


class _Server(TcpServer):
    def __init__(self, handler=_Handler):
        self.queues: dict[str, list[bytes]] = {}
        self.settled: list[int] = []
        self.reject_payloads: set[bytes] = set()
        self.credit = 1000
        self.coalesce = 1  # dispositions per frame (range size)
        self.container = ""
        super().__init__(handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_type_codec_roundtrip():
    vals = [
        None, True, False, 0, 5, 255, 256, 2**40,
        "", "hello", "x" * 300, "café ☃",
        b"", b"bytes", b"y" * 300,
        Symbol("amqp:accepted:list"),
        [], [1, "two", [b"3"]], {"k": 1, "n": [True, None]},
        Described(0x24, []),
        Described(0x14, [0, 7, b"\x00\x00\x00\x07", 0, False, False]),
    ]
    for v in vals:
        got = decode(encode(v))
        assert got == v, (v, got)


def test_symbol_vs_string_distinct():
    assert encode(Symbol("a"))[0] == 0xA3
    assert encode("a")[0] == 0xA1
    assert isinstance(decode(encode(Symbol("a"))), Symbol)


def test_handshake_and_send(server):
    c = Amqp1Client("127.0.0.1", server.port)
    assert server.container == "bento-spark"
    c.attach_sender("queue://orders")
    assert c.credit == 1000
    c.send([b"m1", b"m2", b"m3"])
    assert server.queues["queue://orders"] == [b"m1", b"m2", b"m3"]
    c.close()


def test_range_coalesced_dispositions(server):
    server.coalesce = 4  # broker acks every 4 transfers as one range
    c = Amqp1Client("127.0.0.1", server.port)
    c.attach_sender("q")
    c.send([f"p{i}".encode() for i in range(8)])  # 2 ranged dispositions
    assert len(server.queues["q"]) == 8
    c.close()


def test_rejected_drains_then_raises(server):
    server.reject_payloads = {b"bad"}
    c = Amqp1Client("127.0.0.1", server.port)
    c.attach_sender("q")
    with pytest.raises(Amqp1Error, match="rejected"):
        c.send([b"ok1", b"bad", b"ok2"])
    # connection still usable after the drain
    c.send([b"ok3"])
    assert server.queues["q"] == [b"ok1", b"ok2", b"ok3"]
    c.close()


def test_receiver_stage_then_settle(server, tmp_path):
    send = Amqp1Client("127.0.0.1", server.port)
    send.attach_sender("feed")
    send.send([b"alpha", b"beta"])
    send.close()

    recv = Amqp1Client("127.0.0.1", server.port)
    recv.attach_receiver("feed", credit=10)
    n = recv.drain_to_dir(str(tmp_path), idle_timeout=0.3)
    recv.close()
    assert n == 2
    files = sorted(tmp_path.glob("amqp1-*.bin"))
    assert [f.read_bytes() for f in files] == [b"alpha", b"beta"]
    assert server.settled == [0, 1]


def test_amqp1_transport_spark_deliver(spark, server):
    import json

    from bento_spark.sinks.connector import deliver

    df = spark.range(15).selectExpr("id", "concat('a', id) AS msg")
    stats = deliver(
        df, "amqp_1",
        {"host": "127.0.0.1", "port": server.port, "address": "spark.q"},
        batch_size=6,
    )
    assert stats["delivered"] == 15 and stats["dead"] == 0
    got = {json.loads(p)["msg"] for p in server.queues["spark.q"]}
    assert got == {f"a{i}" for i in range(15)}


class _SaslHandler(_Handler):
    """Broker requiring a SASL PLAIN handshake before AMQP."""

    def handle(self):
        from bento_spark.operators.amqp1_wire import (
            SASL_HEADER,
            SASL_INIT,
            SASL_MECHANISMS,
            SASL_OUTCOME,
            encode_sasl_frame,
        )

        srv = self.server
        assert self.rfile.read(8) == SASL_HEADER
        self.wfile.write(SASL_HEADER)
        self.wfile.flush()
        self.wfile.write(encode_sasl_frame(
            Described(SASL_MECHANISMS, [[Symbol("PLAIN"), Symbol("ANONYMOUS")]])
        ))
        self.wfile.flush()
        got = self._read()
        perf, _ = got
        assert perf.descriptor == SASL_INIT
        mech, resp = perf.value[0], perf.value[1]
        assert str(mech) == "PLAIN"
        _z, user, pw = resp.split(b"\x00")
        ok = (user.decode(), pw.decode()) == (srv.sasl_user, srv.sasl_pass)
        self.wfile.write(encode_sasl_frame(
            Described(SASL_OUTCOME, [0 if ok else 1])
        ))
        self.wfile.flush()
        if not ok:
            return
        super().handle()  # proceed to the AMQP layer


def test_sasl_plain_then_amqp():
    with _Server(_SaslHandler) as srv:
        srv.sasl_user, srv.sasl_pass = "svc", "pw!"
        c = Amqp1Client("127.0.0.1", srv.port, user="svc", password="pw!")
        c.attach_sender("q")
        c.send([b"authed"])
        assert srv.queues["q"] == [b"authed"]
        c.close()
        with pytest.raises((Amqp1Error, ConnectionError)):
            Amqp1Client("127.0.0.1", srv.port, user="svc", password="wrong")
