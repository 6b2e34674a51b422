"""GCS / Azure Blob / WebHDFS object-store tests against in-process
servers: GCS JSON API with page-token list pagination, Azure Blob XML
list + Shared Key signatures verified by recomputation, WebHDFS with
the namenode's real two-step 307 redirect on CREATE. All three drive
the shared ObjectStoreBridge incremental mirror and their sink
transports."""

from __future__ import annotations

import base64
import json
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qsl, unquote, urlparse

import pytest

from bento_spark.serving import HttpServer
from bento_spark.sinks.connector import TRANSPORTS
from bento_spark.sources.objectstore import (
    AzureBlobClient,
    GcsClient,
    ObjectStoreBridge,
    WebHdfsClient,
)

AZ_ACCOUNT = "devacct"
AZ_KEY = base64.b64encode(b"azure-blob-secret").decode()


class _GcsHandler(BaseHTTPRequestHandler):
    PAGE = 2

    def log_message(self, *a):
        pass

    def _json(self, payload: dict):
        body = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        parts = u.path.split("/")
        # /storage/v1/b/<bucket>/o[/<object>]
        bucket = parts[4]
        objs = self.server.objects.setdefault(bucket, {})
        if len(parts) > 6 and parts[6]:
            key = unquote(parts[6])
            data = objs.get(key)
            if data is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            return
        keys = sorted(
            k for k in objs if k.startswith(q.get("prefix", ""))
        )
        start = int(q.get("pageToken", "0"))
        page = keys[start : start + self.PAGE]
        doc = {
            "items": [
                {
                    "name": k,
                    "size": str(len(objs[k])),
                    "etag": f"e{hash(objs[k]) & 0xFFFF:x}",
                }
                for k in page
            ]
        }
        if start + self.PAGE < len(keys):
            doc["nextPageToken"] = str(start + self.PAGE)
        self._json(doc)

    def do_POST(self):
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        assert q.get("uploadType") == "media"
        bucket = u.path.split("/")[5]
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.server.objects.setdefault(bucket, {})[q["name"]] = body
        self._json({"name": q["name"]})


class _AzureHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _verify(self, method: str, body: bytes) -> bool:
        from bento_spark.functions.azureauth import sign_request

        url = f"http://{self.headers.get('Host')}{self.path}"
        headers = {
            k.lower(): v
            for k, v in self.headers.items()
            if k.lower().startswith("x-ms-")
            or k.lower() == "content-type"
        }
        expected = sign_request(
            method, url, headers, body, AZ_ACCOUNT, AZ_KEY
        )["Authorization"]
        return self.headers.get("Authorization") == expected

    def do_GET(self):
        if not self._verify("GET", b""):
            self.send_response(403)
            self.end_headers()
            return
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        parts = u.path.lstrip("/").split("/", 1)
        container = parts[0]
        objs = self.server.objects.setdefault(container, {})
        if q.get("comp") == "list":
            prefix = q.get("prefix", "")
            xml = ["<EnumerationResults><Blobs>"]
            for k in sorted(objs):
                if not k.startswith(prefix):
                    continue
                xml.append(
                    f"<Blob><Name>{k}</Name><Properties>"
                    f"<Content-Length>{len(objs[k])}</Content-Length>"
                    f"<Etag>az{hash(objs[k]) & 0xFFFF:x}</Etag>"
                    f"</Properties></Blob>"
                )
            xml.append("</Blobs></EnumerationResults>")
            body = "".join(xml).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        key = unquote(parts[1])
        data = objs.get(key)
        if data is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_PUT(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if not self._verify("PUT", body):
            self.send_response(403)
            self.end_headers()
            return
        assert self.headers.get("x-ms-blob-type") == "BlockBlob"
        container, key = self.path.lstrip("/").split("/", 1)
        self.server.objects.setdefault(container, {})[unquote(key)] = body
        self.send_response(201)
        self.send_header("Content-Length", "0")
        self.end_headers()


class _HdfsHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        assert u.path.startswith("/webhdfs/v1")
        assert q.get("user.name") == "spark"
        path = u.path[len("/webhdfs/v1"):]
        files = self.server.files
        if q["op"] == "LISTSTATUS":
            statuses = [
                {
                    "pathSuffix": k.rsplit("/", 1)[-1],
                    "type": "FILE",
                    "length": len(v),
                    "modificationTime": self.server.mtimes.get(k, 1),
                }
                for k, v in sorted(files.items())
                if k.rsplit("/", 1)[0] == path.rstrip("/")
            ]
            body = json.dumps(
                {"FileStatuses": {"FileStatus": statuses}}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        assert q["op"] == "OPEN"
        data = files.get(path)
        if data is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_PUT(self):
        u = urlparse(self.path)
        q = dict(parse_qsl(u.query))
        path = u.path[len("/webhdfs/v1"):]
        if q.get("op") == "CREATE" and "redirected" not in q:
            # namenode leg: no body accepted, redirect to "datanode"
            self.send_response(307)
            host = self.headers.get("Host")
            self.send_header(
                "Location",
                f"http://{host}{u.path}?{u.query}&redirected=1",
            )
            self.send_header("Content-Length", "0")
            self.end_headers()
            self.server.redirects += 1
            return
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.server.files[path] = body
        self.server.mtimes[path] = self.server.mtimes.get(path, 0) + 1
        self.send_response(201)
        self.send_header("Content-Length", "0")
        self.end_headers()


def _server(handler_cls):
    srv = HttpServer(handler_cls)
    srv.objects, srv.files, srv.mtimes, srv.redirects = {}, {}, {}, 0
    return srv


@pytest.fixture
def gcs_server():
    with _server(_GcsHandler) as srv:
        yield srv


@pytest.fixture
def azure_server():
    with _server(_AzureHandler) as srv:
        yield srv


@pytest.fixture
def hdfs_server():
    with _server(_HdfsHandler) as srv:
        yield srv


# -- GCS ------------------------------------------------------------------


def test_gcs_roundtrip_list_paginates(gcs_server):
    c = GcsClient(gcs_server.url, "data")
    for i in range(5):
        c.put_object(f"in/d{i}.txt", b"x%d" % i)
    objs = c.list_objects("in/")
    assert [o["key"] for o in objs] == [f"in/d{i}.txt" for i in range(5)]
    assert c.get_object("in/d3.txt") == b"x3"


def test_gcs_bridge_incremental(gcs_server, tmp_path):
    c = GcsClient(gcs_server.url, "data")
    c.put_object("in/a.jsonl", b'{"v":1}\n')
    bridge = ObjectStoreBridge(c)
    out = str(tmp_path / "staged")
    assert bridge.drain(out, "in/") == 1
    assert bridge.drain(out, "in/") == 0
    c.put_object("in/a.jsonl", b'{"v":2}\n')  # new etag -> re-download
    assert bridge.drain(out, "in/") == 1


def test_gcs_transport(gcs_server):
    t = TRANSPORTS["gcp_cloud_storage"](
        {"endpoint": gcs_server.url, "bucket": "sink"}
    )
    t.send(['{"a":1}', '{"a":2}'])
    t.close()
    assert gcs_server.objects["sink"]["out/part-00000-000000.ndjson"] == (
        b'{"a":1}\n{"a":2}\n'
    )


# -- Azure Blob -----------------------------------------------------------


def test_azure_blob_signed_roundtrip(azure_server):
    c = AzureBlobClient(azure_server.url, AZ_ACCOUNT, AZ_KEY, "cont")
    c.put_object("in/a.bin", bytes(range(64)))
    assert c.get_object("in/a.bin") == bytes(range(64))
    objs = c.list_objects("in/")
    assert objs[0]["key"] == "in/a.bin"
    assert objs[0]["size"] == 64


def test_azure_blob_bad_key_rejected(azure_server):
    bad = AzureBlobClient(
        azure_server.url, AZ_ACCOUNT,
        base64.b64encode(b"wrong").decode(), "cont",
    )
    from bento_spark.sources.objectstore import ObjectStoreError

    with pytest.raises(ObjectStoreError) as ei:
        bad.put_object("k", b"v")
    assert ei.value.status == 403


def test_azure_blob_bridge_and_transport(azure_server, tmp_path):
    t = TRANSPORTS["azure_blob_storage"](
        {
            "endpoint": azure_server.url,
            "account": AZ_ACCOUNT,
            "key": AZ_KEY,
            "container": "cont",
        }
    )
    t.send(["r1", "r2"])
    t.close()
    c = AzureBlobClient(azure_server.url, AZ_ACCOUNT, AZ_KEY, "cont")
    assert ObjectStoreBridge(c).drain(str(tmp_path / "s"), "out/") == 1


# -- WebHDFS --------------------------------------------------------------


def test_hdfs_create_follows_307_redirect(hdfs_server):
    c = WebHdfsClient(hdfs_server.url, "/data")
    c.put_object("part-0.ndjson", b'{"v":1}\n')
    assert hdfs_server.redirects == 1  # namenode leg exercised
    assert c.get_object("part-0.ndjson") == b'{"v":1}\n'


def test_hdfs_bridge_lists_and_mirrors(hdfs_server, tmp_path):
    c = WebHdfsClient(hdfs_server.url, "/data")
    c.put_object("a.jsonl", b"1\n")
    c.put_object("b.jsonl", b"2\n")
    bridge = ObjectStoreBridge(c)
    out = str(tmp_path / "staged")
    assert bridge.drain(out) == 2
    assert bridge.drain(out) == 0
    c.put_object("a.jsonl", b"9\n")  # bumped mtime -> re-download
    assert bridge.drain(out) == 1


def test_hdfs_transport(hdfs_server):
    t = TRANSPORTS["hdfs"](
        {"endpoint": hdfs_server.url, "base_path": "/sink"}
    )
    t.send(["x"])
    t.close()
    assert hdfs_server.files["/sink/out/part-00000-000000.ndjson"] == b"x\n"
