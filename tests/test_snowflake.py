"""Pure-Python RSA (RFC 8017) + Snowflake key-pair JWT + Snowpipe
insertFiles against an in-process server that VERIFIES the RS256
signature using only the public key and checks the iss fingerprint
against its own SPKI DER hash — an independent check of the entire
sign path."""

from __future__ import annotations

import base64
import gzip
import hashlib
import json
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.functions.rsa import (
    generate_keypair,
    jwt_rs256,
    sign_rs256,
    spki_der,
    verify_rs256,
)
from bento_spark.operators.snowflake import (
    SnowflakeError,
    SnowpipeClient,
    compress_batch,
    key_fingerprint,
    snowflake_jwt,
)
from bento_spark.serving import HttpServer

# module-scoped key: RSA keygen is the slow part
KEY = generate_keypair(bits=1024)
N, E, D = KEY


def test_sign_verify_roundtrip():
    msg = b"hello snowflake"
    sig = sign_rs256(msg, N, D)
    assert verify_rs256(msg, sig, N, E)
    assert not verify_rs256(b"tampered", sig, N, E)
    assert not verify_rs256(msg, sig[:-1] + bytes([sig[-1] ^ 1]), N, E)


def test_signature_is_deterministic():
    assert sign_rs256(b"x", N, D) == sign_rs256(b"x", N, D)


def test_spki_der_parses():
    der = spki_der(N, E)
    assert der[0] == 0x30  # SEQUENCE
    # rsaEncryption OID present
    assert bytes.fromhex("2a864886f70d010101") in der


def test_jwt_structure_and_signature():
    tok = jwt_rs256({"iss": "X", "sub": "Y"}, N, D)
    h, b, s = tok.split(".")
    def unb64(x):
        return base64.urlsafe_b64decode(x + "=" * (-len(x) % 4))
    assert json.loads(unb64(h)) == {"alg": "RS256", "typ": "JWT"}
    assert json.loads(unb64(b))["iss"] == "X"
    assert verify_rs256(f"{h}.{b}".encode(), unb64(s), N, E)


def test_fingerprint_format():
    fp = key_fingerprint(N, E)
    assert fp.startswith("SHA256:")
    assert fp[7:] == base64.b64encode(
        hashlib.sha256(spki_der(N, E)).digest()
    ).decode()


def test_compress_batch_forms():
    lines = ['{"a":1}', '{"b":2}']
    gz, ext = compress_batch(lines, "AUTO")
    assert ext == "gz" and gzip.decompress(gz) == b'{"a":1}\n{"b":2}\n'
    raw, ext = compress_batch(lines, "NONE")
    assert ext == "json" and raw == b'{"a":1}\n{"b":2}\n'
    import zlib

    df, ext = compress_batch(lines, "DEFLATE")
    assert ext == "deflate" and zlib.decompress(df) == raw
    rd, ext = compress_batch(lines, "RAW_DEFLATE")
    assert ext == "raw_deflate"
    assert zlib.decompress(rd, -15) == raw


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_POST(self):
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        auth = self.headers.get("Authorization", "")
        tok = auth.removeprefix("Bearer ")
        h, b, s = tok.split(".")

        def unb64(x):
            return base64.urlsafe_b64decode(x + "=" * (-len(x) % 4))

        payload = json.loads(unb64(b))
        # verify RS256 with the PUBLIC key only
        if not verify_rs256(f"{h}.{b}".encode(), unb64(s), srv.pub_n, srv.pub_e):
            return self._send(401, {"responseCode": "ERR_JWT"})
        # iss carries ACCOUNT.USER.SHA256:<fingerprint of OUR der>
        want_fp = "SHA256:" + base64.b64encode(
            hashlib.sha256(spki_der(srv.pub_n, srv.pub_e)).digest()
        ).decode()
        if not payload["iss"].endswith(want_fp):
            return self._send(401, {"responseCode": "ERR_FINGERPRINT"})
        if payload["sub"] != "MYACCT.LOADER":
            return self._send(401, {"responseCode": "ERR_SUB"})
        srv.calls.append((self.path, json.loads(body)))
        return self._send(200, {"responseCode": "SUCCESS"})

    def _send(self, code, obj):
        data = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


class _Server(HttpServer):
    def __init__(self):
        self.pub_n, self.pub_e = N, E
        self.calls = []
        super().__init__(_Handler)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def test_insert_files_jwt_verified(server):
    c = SnowpipeClient(server.url, "myacct", "loader", KEY)
    resp = c.insert_files("DB", "SCH", "PIPE", ["f1.gz", "f2.gz"], "req-1")
    assert resp["responseCode"] == "SUCCESS"
    path, body = server.calls[0]
    assert path.startswith("/v1/data/pipes/DB.SCH.PIPE/insertFiles")
    assert body == {"files": [{"path": "f1.gz"}, {"path": "f2.gz"}]}


def test_wrong_key_rejected(server):
    other = generate_keypair(bits=1024)
    c = SnowpipeClient(server.url, "myacct", "loader", other)
    with pytest.raises(SnowflakeError, match="HTTP 401"):
        c.insert_files("DB", "SCH", "PIPE", ["f.gz"], "r")


def test_snowflake_put_transport(server):
    from bento_spark.sinks.connector import TRANSPORTS

    staged = {}
    t = TRANSPORTS["snowflake_put"]({
        "account": "myacct", "user": "loader", "private_key": KEY,
        "uploader": lambda path, data: staged.__setitem__(path, data),
        "path_prefix": "out",
        "snowpipe": {
            "endpoint": server.url, "database": "DB",
            "schema": "SCH", "pipe": "P",
        },
    })
    t.send(['{"n":1}', '{"n":2}'])
    t.send(['{"n":3}'])
    t.close()
    assert sorted(staged) == [
        "out/part-00000-000000.gz", "out/part-00000-000001.gz",
    ]
    assert gzip.decompress(staged["out/part-00000-000000.gz"]) == b'{"n":1}\n{"n":2}\n'
    # one insertFiles per uploaded file
    files = [b["files"][0]["path"] for _p, b in server.calls]
    assert files == sorted(staged)
