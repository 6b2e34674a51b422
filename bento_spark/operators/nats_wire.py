"""NATS client speaking the public text protocol over a socket —
pure Python (stdlib socket), per the protocol docs
(https://docs.nats.io/reference/reference-protocols/nats-protocol):
INFO/CONNECT handshake, PUB with byte-count framing, SUB/MSG delivery,
PING/PONG keepalive — NOT a nats-py wrapper (absent in this
container). Reference parity: the nats input/output
(internal/impl/nats/).

Publishing uses ``verbose: true`` so every PUB is +OK/-ERR acked — one
round trip per message batch via pipelining (send N PUBs, read N
acks), same O(batches) cost shape as the other transports. The
subscriber side drains MSG frames for the staging-bridge pattern
(non-replayable delivery -> durable staging, like sources/sqs_bridge).
Tested against an in-process server (tests/test_nats_wire.py).
"""

from __future__ import annotations

import json


class NatsError(RuntimeError):
    pass


class NatsClient:
    def __init__(
        self,
        host: str = "localhost",
        port: int = 4222,
        name: str = "bento-spark",
        timeout: float = 30.0,
        verbose: bool = True,
    ):
        import socket

        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._rfile = self._sock.makefile("rb")
        self.verbose = verbose
        info = self._read_line()
        if not info.startswith(b"INFO "):
            raise NatsError(f"expected INFO, got {info[:40]!r}")
        self.server_info = json.loads(info[5:])
        # verbose=True: every command +OK-acked (core transports).
        # verbose=False: JetStream connections — PubAck MSG frames are
        # the real acks, and +OK chatter would interleave with them.
        connect = {
            "verbose": verbose,
            "pedantic": False,
            "tls_required": False,
            "name": name,
            "lang": "python",
            "version": "0",
            "protocol": 0,
        }
        self._sock.sendall(
            b"CONNECT " + json.dumps(connect).encode() + b"\r\n"
        )
        if verbose:
            self._expect_ok()

    # -- framing ------------------------------------------------------------
    def _read_line(self) -> bytes:
        line = self._rfile.readline()
        if not line:
            raise ConnectionError("nats connection closed")
        return line[:-2]

    def _expect_ok(self) -> None:
        line = self._read_line()
        if line.startswith(b"-ERR"):
            raise NatsError(line.decode())
        if line == b"PING":  # keepalive may interleave
            self._sock.sendall(b"PONG\r\n")
            self._expect_ok()
            return
        if line != b"+OK":
            raise NatsError(f"expected +OK, got {line[:40]!r}")

    # -- publish ------------------------------------------------------------
    def publish(self, subject: str, payloads: list[bytes]) -> None:
        """Pipelined PUBs: one write for the whole batch, then drain the
        +OK acks (verbose mode) — errors surface after the drain so the
        connection stays in sync (same discipline as RedisKV)."""
        out = bytearray()
        for p in payloads:
            out += b"PUB %s %d\r\n%s\r\n" % (subject.encode(), len(p), p)
        self._sock.sendall(bytes(out))
        first_err: NatsError | None = None
        for _ in payloads:
            try:
                self._expect_ok()
            except NatsError as e:
                first_err = first_err or e
        if first_err:
            raise first_err

    # -- subscribe/drain ----------------------------------------------------
    def subscribe(self, subject: str, sid: str = "1") -> None:
        self._sock.sendall(b"SUB %s %s\r\n" % (subject.encode(), sid.encode()))
        if self.verbose:
            self._expect_ok()

    def next_msg(self) -> tuple[str, bytes] | None:
        """One MSG frame -> (subject, payload); None on PING-only
        traffic timeouts are the caller's concern (socket timeout)."""
        got = self.next_msg_full()
        return None if got is None else (got[0], got[2])

    def next_msg_full(self) -> tuple[str, str | None, bytes] | None:
        """One MSG frame -> (subject, reply_to, payload). The reply-to
        subject carries JetStream's per-message ack address
        (operators/jetstream.py) — core-NATS callers use next_msg."""
        while True:
            line = self._read_line()
            if line == b"PING":
                self._sock.sendall(b"PONG\r\n")
                continue
            if line.startswith(b"MSG "):
                parts = line.split(b" ")
                # MSG <subject> <sid> [reply-to] <#bytes>
                n = int(parts[-1])
                reply = parts[3].decode() if len(parts) == 5 else None
                payload = self._rfile.read(n + 2)
                if len(payload) != n + 2:
                    raise ConnectionError("nats connection closed mid-payload")
                return parts[1].decode(), reply, payload[:-2]
            if line.startswith(b"-ERR"):
                raise NatsError(line.decode())
            # +OK or other control chatter: keep reading

    def publish_many_to(self, subjects: list[str], payload: bytes) -> None:
        """Pipelined PUBs of one payload to many subjects (JetStream
        batch acks): one write, all +OK replies drained before any
        error surfaces — the RedisKV pipelining discipline."""
        if not subjects:
            return
        out = bytearray()
        for s in subjects:
            out += b"PUB %s %d\r\n%s\r\n" % (s.encode(), len(payload), payload)
        self._sock.sendall(bytes(out))
        if not self.verbose:
            return
        first_err: NatsError | None = None
        for _ in subjects:
            try:
                self._expect_ok()
            except NatsError as e:
                first_err = first_err or e
        if first_err:
            raise first_err

    def publish_with_reply(
        self, subject: str, reply: str, payload: bytes
    ) -> None:
        """One PUB carrying a reply-to subject (request half of the
        NATS request/reply pattern; JetStream API calls ride this).
        Verbose-mode +OK is drained by the caller's next read loop."""
        self._sock.sendall(
            b"PUB %s %s %d\r\n%s\r\n"
            % (subject.encode(), reply.encode(), len(payload), payload)
        )
        if self.verbose:
            self._expect_ok()

    def request(self, subject: str, payload: bytes, timeout: float = 5.0) -> bytes:
        """One request/reply round trip (the core-NATS pattern the
        `nats_request_reply` processor rides): publish with a unique
        inbox reply subject, wait for the single MSG on it."""
        import socket as _socket

        self._inbox_seq = getattr(self, "_inbox_seq", 0) + 1
        inbox = f"_INBOX.{id(self)}.{self._inbox_seq}"
        sid = f"rr{self._inbox_seq}"
        self._sock.sendall(b"SUB %s %s\r\n" % (inbox.encode(), sid.encode()))
        if self.verbose:
            self._expect_ok()
        self.publish_with_reply(subject, inbox, payload)
        old = self._sock.gettimeout()
        try:
            self._sock.settimeout(timeout)
            while True:
                got = self.next_msg_full()
                if got is None:
                    raise NatsError("request timed out")
                subj, _reply, body = got
                if subj == inbox:
                    break
        except (_socket.timeout, TimeoutError) as e:
            raise NatsError(f"request to {subject!r} timed out") from e
        finally:
            self._sock.settimeout(old)
        self._sock.sendall(b"UNSUB %s\r\n" % sid.encode())
        if self.verbose:
            self._expect_ok()
        return body

    def drain_to_dir(self, subject: str, out_dir: str, max_msgs: int) -> int:
        """Staging-bridge: receive up to ``max_msgs`` and append them
        durably (atomic tmp+rename), one file per drain call — NATS core
        is at-most-once fire-and-forget, so durability starts at the
        staging write (the reference's nats input has the same
        semantics)."""
        import os
        import time

        self.subscribe(subject)
        os.makedirs(out_dir, exist_ok=True)
        msgs: list[bytes] = []
        try:
            while len(msgs) < max_msgs:
                got = self.next_msg()
                if got is None:
                    break
                msgs.append(got[1])
        except (TimeoutError, OSError):
            pass  # socket timeout = drained what was available
        if msgs:
            key = f"nats-{int(time.time() * 1000)}-{len(msgs)}.jsonl"
            tmp = os.path.join(out_dir, "." + key)
            with open(tmp, "wb") as f:
                f.write(b"\n".join(m.replace(b"\n", b" ") for m in msgs) + b"\n")
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(out_dir, key))
        return len(msgs)

    def close(self) -> None:
        try:
            self._rfile.close()
        finally:
            self._sock.close()


def request_reply_enrich(
    df,
    factory,
    subject: str,
    body_col: str,
    out_col: str = "reply",
    timeout: float = 5.0,
):
    """`nats_request_reply` processor
    (internal/impl/nats/processor_request_reply.go): send each message
    body as a request on ``subject``, store the responder's reply in
    ``out_col``. One connection per partition; requests are serial per
    partition (request/reply is RPC — parallelism comes from partition
    count, exactly like the reference's per-message loop), timeouts and
    NATS errors land in `_error`, never a task failure."""
    from bento_spark.operators.envelope import per_message

    def call(client, row):
        body = str(row[body_col]).encode("utf-8")
        return client.request(subject, body, timeout=timeout).decode("utf-8")

    return per_message(
        df, call, out=out_col, open=factory, skip_errored=False,
        errors={NatsError: str},
    )


def _register() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    def _proc_request_reply(df, conf):
        host = conf.get("host", "localhost")
        port = int(conf.get("port", 4222))
        return request_reply_enrich(
            df,
            lambda: NatsClient(host, port),
            conf["subject"],
            conf.get("body", "content"),
            conf.get("result_column", "reply"),
            float(conf.get("timeout", 5.0)),
        )

    PROCESSORS["nats_request_reply"] = _proc_request_reply


_register()
