"""In-process Kafka broker speaking the public wire protocol subset the
repo's client uses: Metadata v0, ListOffsets v1, Fetch v4, Produce v3
(reference behavior: the kafka/kafka_franz components,
internal/impl/kafka/). Every produced batch is decoded by an
INDEPENDENT message-format-v2 parser that verifies the CRC32C before
the broker accepts it — a fake that would admit malformed batches
cannot pass.

Used by tests/test_kafka_wire.py and by the `stream_kafka_wire` gate
query (the whole produce -> broker -> DataSourceStreamReader loop runs
inside the correctness gate).
"""

from __future__ import annotations

import socketserver
import struct
import threading

from bento_spark.operators.kafka_wire import crc32c, zigzag_decode
from bento_spark.serving import TcpServer


def parse_record_batch(buf: bytes) -> list[tuple[bytes | None, bytes]]:
    """Independent message-format-v2 batch decode (CRC32C-verified) —
    deliberately NOT the client's encoder run backwards."""
    base_offset, batch_len = struct.unpack_from(">qi", buf, 0)
    assert len(buf) == 12 + batch_len, "batchLength must cover the tail"
    _epoch, magic, crc = struct.unpack_from(">ibI", buf, 12)
    assert magic == 2, "message format v2 required"
    after = buf[21:]
    assert crc32c(after) == crc, "CRC32C mismatch"
    (attrs, last_delta, _bts, _mts, pid, pep, bseq, count) = struct.unpack_from(
        ">hiqqqhii", after, 0
    )
    assert attrs == 0 and pid == -1 and pep == -1 and bseq == -1
    pos, out = 40, []  # 2+4+8+8+8+2+4+4 header bytes after the crc

    # The varint reads are inlined with a one-byte fast path: this loop
    # verifies every record of every produced batch — 1M records at sf1
    # — and per-call zigzag_decode overhead dominated it. Same reads,
    # same assertions as the zigzag_decode form it replaces.
    append = out.append
    for i in range(count):
        while after[pos] & 0x80:  # record length (walked, value unused)
            pos += 1
        pos += 1
        assert after[pos] == 0  # record attributes
        pos += 1
        while after[pos] & 0x80:  # timestampDelta (walked, value unused)
            pos += 1
        pos += 1
        b = after[pos]  # offsetDelta
        pos += 1
        if b & 0x80:
            u, shift = b & 0x7F, 7
            while True:
                b = after[pos]
                pos += 1
                u |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        else:
            u = b
        assert (u >> 1) ^ -(u & 1) == i
        b = after[pos]  # key length
        pos += 1
        if b & 0x80:
            u, shift = b & 0x7F, 7
            while True:
                b = after[pos]
                pos += 1
                u |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        else:
            u = b
        klen = (u >> 1) ^ -(u & 1)
        if klen == -1:
            key = None
        else:
            key = after[pos : pos + klen]
            pos += klen
        b = after[pos]  # value length
        pos += 1
        if b & 0x80:
            u, shift = b & 0x7F, 7
            while True:
                b = after[pos]
                pos += 1
                u |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        else:
            u = b
        vlen = (u >> 1) ^ -(u & 1)
        value = after[pos : pos + vlen]
        pos += vlen
        assert after[pos] == 0  # headers count
        pos += 1
        append((key, value))
    assert last_delta == count - 1
    return out


def _rd_str(buf, pos):
    (n,) = struct.unpack_from(">h", buf, pos)
    if n == -1:
        return None, pos + 2
    return buf[pos + 2 : pos + 2 + n].decode(), pos + 2 + n


def _enc_str(s):
    b = s.encode()
    return struct.pack(">h", len(b)) + b


class _Handler(socketserver.StreamRequestHandler):
    def handle(self):
        srv = self.server
        while True:
            raw = self.rfile.read(4)
            if len(raw) < 4:
                return
            (size,) = struct.unpack(">i", raw)
            req = self.rfile.read(size)
            api, ver, corr = struct.unpack_from(">hhi", req, 0)
            _cid, pos = _rd_str(req, 8)
            if api == 3:  # Metadata v0
                body = struct.pack(">ii", 1, 1) + _enc_str("127.0.0.1") + struct.pack(
                    ">i", srv.port
                )
                parts = b""
                for p in range(srv.n_partitions):
                    parts += struct.pack(">hii", 0, p, 1)
                    parts += struct.pack(">ii", 1, 1)  # replicas [1]
                    parts += struct.pack(">ii", 1, 1)  # isr [1]
                body += (
                    struct.pack(">i", 1)
                    + struct.pack(">h", 0)
                    + _enc_str(srv.topic)
                    + struct.pack(">i", srv.n_partitions)
                    + parts
                )
                self._respond(corr, body)
            elif api == 2:  # ListOffsets v1
                pos2 = pos + 4 + 4  # replica_id, topic count
                topic, pos2 = _rd_str(req, pos2)
                pos2 += 4  # partition count
                partition, ts = struct.unpack_from(">iq", req, pos2)
                log = srv.log.get(partition, [])
                off = 0 if ts == -2 else len(log)
                body = (
                    struct.pack(">i", 1)
                    + _enc_str(topic)
                    + struct.pack(">i", 1)
                    + struct.pack(">ihqq", partition, 0, -1, off)
                )
                self._respond(corr, body)
            elif api == 1:  # Fetch v4
                pos2 = pos + 4 + 4 + 4 + 4 + 1 + 4
                # replica, max_wait, min_bytes, max_bytes, isolation, topics
                topic, pos2 = _rd_str(req, pos2)
                pos2 += 4  # partition count
                partition, foff, _pmax = struct.unpack_from(">iqi", req, pos2)
                log = srv.log.get(partition, [])
                from bento_spark.operators.kafka_wire import encode_record_batch

                chunk = log[foff : foff + srv.fetch_page]
                rset = (
                    encode_record_batch(chunk, base_offset=foff) if chunk else b""
                )
                body = (
                    struct.pack(">i", 0)  # throttle
                    + struct.pack(">i", 1)
                    + _enc_str(topic)
                    + struct.pack(">i", 1)
                    + struct.pack(">ihqq", partition, 0, len(log), len(log))
                    + struct.pack(">i", 0)  # aborted txns
                    + struct.pack(">i", len(rset))
                    + rset
                )
                self._respond(corr, body)
            elif api == 0:  # Produce v3
                _txn, pos2 = _rd_str(req, pos)
                acks, _timeout = struct.unpack_from(">hi", req, pos2)
                pos2 += 6
                (_ntop,) = struct.unpack_from(">i", req, pos2)
                pos2 += 4
                topic, pos2 = _rd_str(req, pos2)
                (_nparts,) = struct.unpack_from(">i", req, pos2)
                pos2 += 4
                (partition,) = struct.unpack_from(">i", req, pos2)
                pos2 += 4
                (blen,) = struct.unpack_from(">i", req, pos2)
                batch = req[pos2 + 4 : pos2 + 4 + blen]
                err = srv.error_script.pop(0) if srv.error_script else 0
                base = -1
                if not err:
                    recs = parse_record_batch(batch)  # crc-verified decode
                    with srv.log_lock:
                        plog = srv.log.setdefault(partition, [])
                        base = len(plog)
                        plog.extend(recs)
                if acks == 0:
                    continue  # protocol: no response at acks=0
                body = (
                    struct.pack(">i", 1)
                    + _enc_str(topic)
                    + struct.pack(">i", 1)
                    + struct.pack(">ihqq", partition, err, base, -1)
                    + struct.pack(">i", 0)  # throttle_time_ms
                )
                self._respond(corr, body)
            else:
                return

    def _respond(self, corr, body):
        msg = struct.pack(">i", corr) + body
        self.wfile.write(struct.pack(">i", len(msg)) + msg)
        self.wfile.flush()


class InProcessKafkaBroker(TcpServer):
    def __init__(self, topic="t1", n_partitions=3):
        self.topic = topic
        self.n_partitions = n_partitions
        self.log: dict[int, list] = {}
        self.log_lock = threading.Lock()
        self.error_script: list[int] = []
        self.fetch_page = 1000  # records per Fetch response
        super().__init__(_Handler)
