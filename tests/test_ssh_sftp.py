"""From-scratch SSH2/SFTP stack (operators/ssh_wire.py) vs an
in-process SSH server running the SAME transport in the server role —
every byte crosses a real socket, encrypted with aes128-ctr and MAC'd
with hmac-sha2-256, host key verified via RS256 over the exchange hash.

Primitive pins:
- X25519 against the RFC 7748 §6.1 Diffie-Hellman vectors.
- AES-128 against the FIPS-197 Appendix C vector.
- plus algebraic properties (DH commutativity) that hold regardless of
  any transcription, so a vector typo can't hide a broken ladder.
"""

from __future__ import annotations

import os
import socket
import socketserver

import pytest

from bento_spark.functions import rsa
from bento_spark.operators import ssh_wire as sw
from bento_spark.serving import TcpServer

# ---------------------------------------------------------------------------
# primitive vectors
# ---------------------------------------------------------------------------


def test_x25519_rfc7748_dh_vectors():
    a = bytes.fromhex(
        "77076d0a7318a57d3c16c17251b26645df4c2f87ebc0992ab177fba51db92c2a"
    )
    b = bytes.fromhex(
        "5dab087e624a8a4b79e17f8b83800ee66f3bb1292618b6fd1c2f8b27ff88e0eb"
    )
    a_pub = sw.x25519(a, sw._X25519_BASE)
    b_pub = sw.x25519(b, sw._X25519_BASE)
    assert a_pub.hex() == (
        "8520f0098930a754748b7ddcb43ef75a0dbf3a0d26381af4eba4a98eaa9b4e6a"
    )
    assert b_pub.hex() == (
        "de9edb7d7b7dc1b4d35b61c2ece435373f8343c85b78674dadfc7e146f882b4f"
    )
    shared = sw.x25519(a, b_pub)
    assert shared == sw.x25519(b, a_pub)
    assert shared.hex() == (
        "4a5d9d5ba4ce2de1728e3bf480350f25e07e21c947d19e3376f09b3c1e161742"
    )


def test_x25519_dh_commutes_random():
    for _ in range(3):
        a, b = os.urandom(32), os.urandom(32)
        a_pub = sw.x25519(a, sw._X25519_BASE)
        b_pub = sw.x25519(b, sw._X25519_BASE)
        assert sw.x25519(a, b_pub) == sw.x25519(b, a_pub)


def test_aes128_fips197_vector():
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = sw.aes128_key_schedule(key)
    assert sw.aes128_encrypt_block(rk, pt).hex() == (
        "69c4e0d86a7b0430d8cdb78070b4c55a"
    )


def test_aes_ctr_stream_roundtrip_and_counter_carry():
    key, iv = os.urandom(16), os.urandom(16)
    enc = sw.AesCtr(key, iv)
    dec = sw.AesCtr(key, iv)
    msgs = [b"a" * 7, b"b" * 40, b"", b"c" * 100]
    for m in msgs:
        assert dec.process(enc.process(m)) == m
    # same data through one call must equal the chunked stream
    enc2 = sw.AesCtr(key, iv)
    assert enc2.process(b"".join(msgs)) == b"".join(
        sw.AesCtr(key, iv).process(m) for m in [b"".join(msgs)]
    )


def test_pkcs1_pem_roundtrip():
    n, e, d = _HOSTKEY
    pem = sw.dump_pkcs1_pem(n, e, d)
    assert sw.load_pkcs1_pem(pem) == (n, e, d)


# ---------------------------------------------------------------------------
# in-process SSH/SFTP server
# ---------------------------------------------------------------------------

# one shared 1024-bit host key per test session (keygen is pure Python)
_HOSTKEY = rsa.generate_keypair(1024)
_USERKEY = rsa.generate_keypair(1024)

S = sw.ssh_string

# max bytes the test server returns per FXP_READ (mutable so a test can
# force short non-EOF reads; SFTP v3 allows a server to return fewer
# bytes than requested mid-file)
_READ_CAP = [1 << 30]


def _serve_sftp(t: sw.Transport, root: str):
    """Minimal SFTP v3 request dispatch over a served channel, rooted
    at a local directory (filesystem logic lives here in the test, the
    protocol machinery in the package)."""
    import struct

    handles: dict[bytes, object] = {}
    nexth = [0]

    def resolve(p: bytes) -> str:
        rel = p.decode().lstrip("/")
        full = os.path.normpath(os.path.join(root, rel)) if rel else root
        if not full.startswith(os.path.normpath(root)):
            raise PermissionError(p)
        return full

    def attrs_of(path: str) -> bytes:
        st = os.stat(path)
        return (
            struct.pack(">I", sw.ATTR_SIZE | sw.ATTR_PERMISSIONS | sw.ATTR_ACMODTIME)
            + struct.pack(">Q", st.st_size)
            + struct.pack(">I", st.st_mode)
            + struct.pack(">II", int(st.st_atime), int(st.st_mtime))
        )

    def send(typ: int, body: bytes):
        payload = bytes([typ]) + body
        t.channel_write(struct.pack(">I", len(payload)) + payload)

    def status(rid: int, code: int, msg: str = ""):
        send(sw.FXP_STATUS, struct.pack(">II", rid, code) + S(msg) + S(""))

    # INIT
    (length,) = struct.unpack(">I", t.channel_read(4))
    pkt = t.channel_read(length)
    assert pkt[0] == sw.FXP_INIT
    send(sw.FXP_VERSION, struct.pack(">I", 3))

    while True:
        try:
            (length,) = struct.unpack(">I", t.channel_read(4))
            pkt = t.channel_read(length)
        except sw.SSHError:
            return
        typ = pkt[0]
        r = sw.Reader(pkt[1:])
        rid = r.uint32()
        try:
            if typ == sw.FXP_OPEN:
                path = resolve(r.string())
                pflags = r.uint32()
                if pflags & sw.FXF_READ:
                    mode = "rb"
                elif pflags & sw.FXF_APPEND:
                    mode = "ab"
                else:
                    mode = "wb" if pflags & sw.FXF_TRUNC else "r+b"
                    if not os.path.exists(path) and pflags & sw.FXF_CREAT:
                        open(path, "wb").close()
                        mode = "r+b"
                f = open(path, mode)
                h = str(nexth[0]).encode()
                nexth[0] += 1
                handles[h] = f
                send(sw.FXP_HANDLE, struct.pack(">I", rid) + S(h))
            elif typ == sw.FXP_CLOSE:
                h = r.string()
                obj = handles.pop(h, None)
                if hasattr(obj, "close"):
                    obj.close()
                status(rid, sw.FX_OK)
            elif typ == sw.FXP_READ:
                f = handles[r.string()]
                off = r.uint64()
                n = r.uint32()
                f.seek(off)
                # _READ_CAP below the client chunk simulates a server
                # legally returning fewer bytes than requested mid-file
                # (SFTP v3 §6.4)
                data = f.read(min(n, _READ_CAP[0]))
                if not data:
                    status(rid, sw.FX_EOF, "eof")
                else:
                    send(sw.FXP_DATA, struct.pack(">I", rid) + S(data))
            elif typ == sw.FXP_WRITE:
                f = handles[r.string()]
                off = r.uint64()
                data = r.string()
                f.seek(off)
                f.write(data)
                status(rid, sw.FX_OK)
            elif typ in (sw.FXP_STAT, sw.FXP_LSTAT):
                path = resolve(r.string())
                if not os.path.exists(path):
                    status(rid, sw.FX_NO_SUCH_FILE, "no such file")
                else:
                    send(sw.FXP_ATTRS, struct.pack(">I", rid) + attrs_of(path))
            elif typ == sw.FXP_OPENDIR:
                path = resolve(r.string())
                if not os.path.isdir(path):
                    status(rid, sw.FX_NO_SUCH_FILE, "not a dir")
                    continue
                h = str(nexth[0]).encode()
                nexth[0] += 1
                handles[h] = iter(sorted(os.listdir(path)) + [None])
                handles[h + b".dir"] = path
                send(sw.FXP_HANDLE, struct.pack(">I", rid) + S(h))
            elif typ == sw.FXP_READDIR:
                h = r.string()
                it = handles.get(h)
                batch = []
                path = handles[h + b".dir"]
                for name in it:
                    if name is None:
                        break
                    batch.append(name)
                    if len(batch) >= 50:
                        break
                if not batch:
                    status(rid, sw.FX_EOF, "eof")
                else:
                    body = struct.pack(">II", rid, len(batch))
                    for name in batch:
                        body += S(name) + S(name) + attrs_of(
                            os.path.join(path, name)
                        )
                    send(sw.FXP_NAME, body)
            elif typ == sw.FXP_MKDIR:
                os.mkdir(resolve(r.string()))
                status(rid, sw.FX_OK)
            elif typ == sw.FXP_RMDIR:
                os.rmdir(resolve(r.string()))
                status(rid, sw.FX_OK)
            elif typ == sw.FXP_REMOVE:
                os.remove(resolve(r.string()))
                status(rid, sw.FX_OK)
            elif typ == sw.FXP_RENAME:
                os.rename(resolve(r.string()), resolve(r.string()))
                status(rid, sw.FX_OK)
            elif typ == sw.FXP_REALPATH:
                p = r.string().decode() or "/"
                body = struct.pack(">II", rid, 1) + S(p) + S(p) + b"\x00\x00\x00\x00"
                send(sw.FXP_NAME, body)
            else:
                status(rid, sw.FX_FAILURE, f"unsupported op {typ}")
        except FileNotFoundError:
            status(rid, sw.FX_NO_SUCH_FILE, "no such file")
        except (OSError, PermissionError, KeyError) as exc:
            status(rid, sw.FX_FAILURE, str(exc))


class _SshHandler(socketserver.BaseRequestHandler):
    def handle(self):
        self.server._handle(self.request)


class SshServer(TcpServer):
    def __init__(self, root: str, password: str = "secret"):
        self.root = root
        self.password = password
        self.errors: list[BaseException] = []
        super().__init__(_SshHandler)

    def _auth(self, user, password, pubkey=None):
        if pubkey is not None:
            return user == "alice" and pubkey == (_USERKEY[0], _USERKEY[1])
        return user == "alice" and password == self.password

    def _handle(self, conn):
        t = sw.Transport(conn, "server")
        try:
            t.server_handshake(_HOSTKEY, self._auth)
            t.accept_sftp_channel()
            _serve_sftp(t, self.root)
        except sw.SSHError:
            pass
        except BaseException as exc:  # surfaced by tests
            self.errors.append(exc)
        finally:
            try:
                conn.close()
            except OSError:
                pass


@pytest.fixture(scope="module")
def server(tmp_path_factory):
    root = tmp_path_factory.mktemp("sftp_root")
    with SshServer(str(root)) as srv:
        yield srv
    assert not srv.errors, srv.errors


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------


def test_sftp_roundtrip_password(server):
    t, cli = sw.connect_sftp(
        f"127.0.0.1:{server.port}", "alice", password="secret"
    )
    try:
        payload = os.urandom(150_000)  # spans multiple 32k READ/WRITEs
        cli.mkdirs("data/in")
        cli.write_file("data/in/blob.bin", payload)
        assert cli.stat("data/in/blob.bin")["size"] == len(payload)
        assert cli.read_file("data/in/blob.bin") == payload
        names = [n for n, _ in cli.listdir("data/in")]
        assert names == ["blob.bin"]
        cli.rename("data/in/blob.bin", "data/in/blob2.bin")
        assert cli.read_file("data/in/blob2.bin") == payload
        cli.remove("data/in/blob2.bin")
        assert cli.glob("data/in/*.bin") == []
    finally:
        t.close()


def test_sftp_short_reads_do_not_truncate(server):
    """A server that returns fewer bytes than requested mid-file (legal
    in SFTP v3) must not truncate read_file: the client re-issues reads
    from the short offset instead of treating short DATA as EOF."""
    t, cli = sw.connect_sftp(
        f"127.0.0.1:{server.port}", "alice", password="secret"
    )
    try:
        payload = os.urandom(120_000)
        cli.write_file("short.bin", payload)
        _READ_CAP[0] = 1000  # far below the 32k client chunk
        assert cli.read_file("short.bin") == payload
        # an awkward cap that doesn't divide the chunk either
        _READ_CAP[0] = 7777
        assert cli.read_file("short.bin") == payload
    finally:
        _READ_CAP[0] = 1 << 30
        t.close()


def test_sftp_publickey_auth(server):
    pem = sw.dump_pkcs1_pem(*_USERKEY)
    t, cli = sw.connect_sftp(
        f"127.0.0.1:{server.port}", "alice", private_key_pem=pem
    )
    try:
        cli.write_file("bykey.txt", b"hello key auth")
        assert cli.read_file("bykey.txt") == b"hello key auth"
    finally:
        t.close()


def test_sftp_bad_password_rejected(server):
    with pytest.raises(sw.SSHError, match="authentication failed"):
        sw.connect_sftp(f"127.0.0.1:{server.port}", "alice", password="wrong")


def test_sftp_host_fingerprint_pin(server):
    import hashlib

    blob = sw.hostkey_blob(_HOSTKEY[0], _HOSTKEY[1])
    good = "SHA256:" + hashlib.sha256(blob).hexdigest()
    t, cli = sw.connect_sftp(
        f"127.0.0.1:{server.port}", "alice", password="secret",
        host_fingerprint=good,
    )
    t.close()
    with pytest.raises(sw.SSHError, match="fingerprint mismatch"):
        sw.connect_sftp(
            f"127.0.0.1:{server.port}", "alice", password="secret",
            host_fingerprint="SHA256:" + "0" * 64,
        )


def test_sftp_glob_and_mirror(server, tmp_path):
    t, cli = sw.connect_sftp(
        f"127.0.0.1:{server.port}", "alice", password="secret"
    )
    try:
        cli.mkdirs("mirror/a")
        cli.write_file("mirror/a/one.jsonl", b'{"n":1}\n')
        cli.write_file("mirror/a/two.jsonl", b'{"n":2}\n')
        cli.write_file("mirror/a/skip.txt", b"nope")
        got = [p for p, _ in cli.glob("mirror/a/*.jsonl")]
        assert got == ["mirror/a/one.jsonl", "mirror/a/two.jsonl"]
    finally:
        t.close()

    out = tmp_path / "staged"
    n = sw.sftp_mirror(
        f"127.0.0.1:{server.port}", "alice", ["mirror/a/*.jsonl"],
        str(out), password="secret",
    )
    assert n == 2
    staged = sorted(
        f for f in os.listdir(out) if not f.startswith(".")
    )
    assert staged == ["mirror__a__one.jsonl", "mirror__a__two.jsonl"]
    # idempotent re-run: manifest skips unchanged files
    assert sw.sftp_mirror(
        f"127.0.0.1:{server.port}", "alice", ["mirror/a/*.jsonl"],
        str(out), password="secret",
    ) == 0


def test_mac_tamper_detected(server):
    """Flipping one ciphertext bit after NEWKEYS must fail the HMAC."""
    raw = socket.create_connection(("127.0.0.1", server.port), timeout=5)

    class _Tamper:
        def __init__(self, sock):
            self._s = sock
            self.armed = False

        def sendall(self, data):
            if self.armed and len(data) > 40:
                data = bytes([data[8] ^ 0x01]).join([data[:8], data[9:]])
                self.armed = False
            self._s.sendall(data)

        def recv(self, n):
            return self._s.recv(n)

        def close(self):
            self._s.close()

    wrapped = _Tamper(raw)
    t = sw.Transport(wrapped, "client")  # type: ignore[arg-type]
    try:
        t.client_handshake("alice", password="secret")
        wrapped.armed = True
        with pytest.raises(sw.SSHError):
            t.open_sftp_channel()
    finally:
        wrapped.close()


# ---------------------------------------------------------------------------
# YAML surface: sftp input bridge + sftp output transport
# ---------------------------------------------------------------------------


def test_sftp_input_bridge(server, spark, tmp_path, monkeypatch):
    t, cli = sw.connect_sftp(
        f"127.0.0.1:{server.port}", "alice", password="secret"
    )
    try:
        cli.mkdirs("feed")
        cli.write_file("feed/a.ndjson", b'{"v": 1}\n{"v": 2}\n')
        cli.write_file("feed/b.ndjson", b'{"v": 3}\n')
    finally:
        t.close()

    from bento_spark.sources import build_source

    df, streaming = build_source(
        spark,
        "sftp",
        {
            "address": f"127.0.0.1:{server.port}",
            "credentials": {"username": "alice", "password": "secret"},
            "paths": ["feed/*.ndjson"],
            "staging_dir": str(tmp_path / "stage"),
        },
    )
    assert not streaming
    got = sorted(r["content"] for r in df.collect())
    assert got == ['{"v": 1}', '{"v": 2}', '{"v": 3}']


def test_sftp_output_transport(server, spark):
    from bento_spark.sinks.connector import TRANSPORTS

    tr = TRANSPORTS["sftp"](
        {
            "address": f"127.0.0.1:{server.port}",
            "path": "out/results.ndjson",
            "credentials": {"username": "alice", "password": "secret"},
        }
    )
    try:
        tr.send(['{"a":1}', '{"a":2}'])
        tr.send(['{"a":3}'])
    finally:
        tr.close()

    t, cli = sw.connect_sftp(
        f"127.0.0.1:{server.port}", "alice", password="secret"
    )
    try:
        assert cli.read_file("out/results.ndjson") == (
            b'{"a":1}\n{"a":2}\n{"a":3}\n'
        )
    finally:
        t.close()
