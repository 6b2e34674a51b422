"""S3 client/bridge/transport tests against an in-process HTTP server
implementing the REST XML API subset (ListObjectsV2 with pagination,
GET/PUT object) — every request's SigV4 signature (including the
canonical QUERY STRING, which list calls exercise) is verified by
recomputation with the shared secret."""

from __future__ import annotations

import json
import re
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qsl, urlparse

import pytest

from bento_spark.functions.awsauth import sign_request
from bento_spark.serving import HttpServer
from bento_spark.sinks.connector import TRANSPORTS, DeliveryError
from bento_spark.sources.aws_s3 import S3Bridge, S3Client, S3Error

SECRET = "s3-secret"
ACCESS = "AKIAS3"
REGION = "eu-west-1"
PAGE = 2  # objects per ListObjectsV2 page — forces pagination


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _verify(self, method: str, body: bytes) -> bool:
        u = urlparse(self.path)
        query = dict(parse_qsl(u.query, keep_blank_values=True)) or None
        headers = {
            "x-amz-content-sha256":
                self.headers.get("x-amz-content-sha256", ""),
        }
        if self.headers.get("Content-Type"):
            headers["content-type"] = self.headers["Content-Type"]
        expected = sign_request(
            method, self.headers.get("Host"), u.path, headers, body,
            ACCESS, SECRET, REGION, "s3",
            self.headers.get("x-amz-date", ""), query=query,
        )["Authorization"]
        got = re.search(r"Signature=(\w+)", self.headers.get("Authorization", ""))
        want = re.search(r"Signature=(\w+)", expected)
        return bool(got) and got.group(1) == want.group(1)

    def _reply(self, status: int, body: bytes, ctype="application/xml"):
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if not self._verify("GET", b""):
            return self._reply(403, b"<Error>SignatureDoesNotMatch</Error>")
        srv = self.server
        u = urlparse(self.path)
        parts = u.path.lstrip("/").split("/", 1)
        bucket = parts[0]
        if len(parts) == 1 or not parts[1]:  # ListObjectsV2
            q = dict(parse_qsl(u.query))
            assert q.get("list-type") == "2"
            prefix = q.get("prefix", "")
            keys = sorted(
                k for k in srv.objects.get(bucket, {})
                if k.startswith(prefix)
            )
            start = int(q.get("continuation-token", "0"))
            page = keys[start : start + PAGE]
            truncated = start + PAGE < len(keys)
            xml = ['<ListBucketResult xmlns='
                   '"http://s3.amazonaws.com/doc/2006-03-01/">']
            for k in page:
                data = srv.objects[bucket][k]
                xml.append(
                    f"<Contents><Key>{k}</Key><Size>{len(data)}</Size>"
                    f'<ETag>"{hash(data) & 0xFFFFFFFF:x}"</ETag></Contents>'
                )
            xml.append(
                f"<IsTruncated>{'true' if truncated else 'false'}"
                "</IsTruncated>"
            )
            if truncated:
                xml.append(
                    f"<NextContinuationToken>{start + PAGE}"
                    "</NextContinuationToken>"
                )
            xml.append("</ListBucketResult>")
            return self._reply(200, "".join(xml).encode())
        key = parts[1]
        data = srv.objects.get(bucket, {}).get(key)
        if data is None:
            return self._reply(404, b"<Error>NoSuchKey</Error>")
        return self._reply(200, data, ctype="application/octet-stream")

    def do_PUT(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if not self._verify("PUT", body):
            return self._reply(403, b"<Error>SignatureDoesNotMatch</Error>")
        srv = self.server
        if srv.fail_500_once:
            srv.fail_500_once = False
            return self._reply(500, b"<Error>InternalError</Error>")
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        bucket, key = u.path.lstrip("/").split("/", 1)
        if "uploadId" in q:  # UploadPart
            up = srv.uploads[q["uploadId"]]
            assert up["key"] == key
            etag = f"etag-{q['partNumber']}-{len(body)}"
            up["parts"][int(q["partNumber"])] = (etag, body)
            self.send_response(200)
            self.send_header("ETag", f'"{etag}"')
            self.send_header("Content-Length", "0")
            self.end_headers()
            return None
        srv.objects.setdefault(bucket, {})[key] = body
        return self._reply(200, b"")

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if not self._verify("POST", body):
            return self._reply(403, b"<Error>SignatureDoesNotMatch</Error>")
        srv = self.server
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query, keep_blank_values=True))
        bucket, key = u.path.lstrip("/").split("/", 1)
        if "uploads" in q:  # CreateMultipartUpload
            uid = f"up-{len(srv.uploads) + 1}"
            srv.uploads[uid] = {"bucket": bucket, "key": key, "parts": {}}
            xml = (
                '<InitiateMultipartUploadResult xmlns='
                '"http://s3.amazonaws.com/doc/2006-03-01/">'
                f"<Bucket>{bucket}</Bucket><Key>{key}</Key>"
                f"<UploadId>{uid}</UploadId>"
                "</InitiateMultipartUploadResult>"
            )
            return self._reply(200, xml.encode())
        if "uploadId" in q:  # CompleteMultipartUpload
            up = srv.uploads.pop(q["uploadId"])
            # manifest must list every part in order with matching etags
            import re as _re

            listed = _re.findall(
                r"<PartNumber>(\d+)</PartNumber><ETag>\"([^\"]+)\"</ETag>",
                body.decode(),
            )
            assert [int(n) for n, _ in listed] == sorted(up["parts"])
            for n, e in listed:
                assert up["parts"][int(n)][0] == e
            srv.objects.setdefault(bucket, {})[key] = b"".join(
                up["parts"][n][1] for n in sorted(up["parts"])
            )
            return self._reply(200, b"<CompleteMultipartUploadResult/>")
        return self._reply(400, b"<Error>BadRequest</Error>")

    def do_DELETE(self):
        if not self._verify("DELETE", b""):
            return self._reply(403, b"<Error>SignatureDoesNotMatch</Error>")
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        if "uploadId" in q:  # AbortMultipartUpload
            self.server.uploads.pop(q["uploadId"], None)
            self.server.aborted.append(q["uploadId"])
            return self._reply(204, b"")
        return self._reply(400, b"<Error>BadRequest</Error>")


class _Server(HttpServer):
    def __init__(self):
        self.objects: dict[str, dict[str, bytes]] = {}
        self.uploads: dict[str, dict] = {}
        self.aborted: list[str] = []
        self.fail_500_once = False
        super().__init__(_Handler)


@pytest.fixture
def server():
    with _Server() as srv:
        yield srv


def _client(server) -> S3Client:
    return S3Client(
        f"http://127.0.0.1:{server.port}", "data",
        region=REGION, access_key=ACCESS, secret_key=SECRET,
    )


def test_put_get_roundtrip_binary_safe(server):
    c = _client(server)
    payload = bytes(range(256)) * 3
    c.put_object("raw/blob.bin", payload)
    assert c.get_object("raw/blob.bin") == payload


def test_list_paginates_and_filters_prefix(server):
    c = _client(server)
    for i in range(5):
        c.put_object(f"docs/d{i}.txt", b"x")
    c.put_object("other/o.txt", b"y")
    objs = c.list_objects("docs/")
    assert [o["key"] for o in objs] == [f"docs/d{i}.txt" for i in range(5)]
    assert all(o["size"] == 1 for o in objs)


def test_bad_secret_rejected(server):
    c = S3Client(
        f"http://127.0.0.1:{server.port}", "data",
        region=REGION, access_key=ACCESS, secret_key="wrong",
    )
    with pytest.raises(S3Error) as ei:
        c.put_object("k", b"v")
    assert ei.value.status == 403


def test_bridge_drain_is_incremental_by_etag(server, tmp_path):
    c = _client(server)
    c.put_object("in/a.jsonl", b'{"v":1}\n')
    c.put_object("in/b.jsonl", b'{"v":2}\n')
    out = str(tmp_path / "staged")
    bridge = S3Bridge(c)
    assert bridge.drain(out, prefix="in/") == 2
    # unchanged objects are skipped on the next drain...
    assert bridge.drain(out, prefix="in/") == 0
    # ...but a changed object (new ETag) is re-downloaded
    c.put_object("in/a.jsonl", b'{"v":9}\n')
    assert bridge.drain(out, prefix="in/") == 1
    with open(tmp_path / "staged" / "in__a.jsonl") as f:
        assert json.loads(f.read())["v"] == 9


def test_transport_one_object_per_batch_with_retry(server):
    t = TRANSPORTS["s3"](
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "bucket": "sink",
            "path_prefix": "out",
            "region": REGION,
            "access_key": ACCESS,
            "secret_key": SECRET,
        }
    )
    t.send(['{"a":1}', '{"a":2}'])
    t.send(['{"a":3}'])
    t.close()
    objs = server.objects["sink"]
    assert sorted(objs) == [
        "out/part-00000-000000.ndjson",
        "out/part-00000-000001.ndjson",
    ]
    assert objs["out/part-00000-000000.ndjson"] == b'{"a":1}\n{"a":2}\n'

    server.fail_500_once = True
    with pytest.raises(DeliveryError) as ei:
        t2 = TRANSPORTS["s3"](
            {
                "endpoint": f"http://127.0.0.1:{server.port}",
                "bucket": "sink",
                "region": REGION,
                "access_key": ACCESS,
                "secret_key": SECRET,
            }
        )
        t2.send(["x"])
    assert ei.value.retryable  # 5xx -> the delivery loop's backoff re-sends


def test_multipart_upload_roundtrip(server):
    c = _client(server)
    from bento_spark.sources.aws_s3 import S3StreamWriter

    w = S3StreamWriter(c, "big/object.ndjson", part_size=10)
    w.write(b"0123456789ABCDEF")  # flushes one 10-byte part, buffers 6
    w.write(b"xyz")
    w.close()  # final 9-byte part + completion
    assert server.objects["data"]["big/object.ndjson"] == b"0123456789ABCDEFxyz"
    assert not server.uploads  # completed upload removed


def test_multipart_abort_on_empty(server):
    from bento_spark.sources.aws_s3 import S3StreamWriter

    c = _client(server)
    w = S3StreamWriter(c, "never/written.ndjson", part_size=10)
    w.close()  # nothing written -> abort, no object
    assert "never/written.ndjson" not in server.objects.get("data", {})
    assert server.aborted


def test_s3_stream_transport(server):
    from bento_spark.sinks.connector import TRANSPORTS

    t = TRANSPORTS["aws_s3_stream"](
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "bucket": "sink",
            "path_prefix": "stream",
            "part_size": 8,
            "region": REGION,
            "access_key": ACCESS,
            "secret_key": SECRET,
        }
    )
    t.send(['{"a":1}', '{"a":2}'])
    t.send(['{"a":3}'])
    t.close()
    objs = server.objects["sink"]
    (key,) = [k for k in objs if k.startswith("stream/")]
    assert key == "stream/part-00000-a0.ndjson"
    assert objs[key] == b'{"a":1}\n{"a":2}\n{"a":3}\n'
