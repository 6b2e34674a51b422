"""Kinesis / Firehose / SNS tests against in-process, signature-
verifying HTTP servers.

Kinesis: ListShards / GetShardIterator / GetRecords / PutRecords with
per-shard sequence numbers — exercises the bridge's durable per-shard
cursor (incremental re-drain, crash redelivery) and the transport's
per-record throttle re-send loop. Firehose: PutRecordBatch with
FailedPutCount partial failures. SNS: Query-protocol Publish with
form-encoded bodies."""

from __future__ import annotations

import base64
import json
import re
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qsl

import pytest

from bento_spark.functions.awsauth import sign_request
from bento_spark.serving import HttpServer
from bento_spark.sinks.connector import TRANSPORTS, DeliveryError
from bento_spark.sources.aws_kinesis import (
    KinesisBridge,
    KinesisClient,
    KinesisError,
)

SECRET = "k-secret"
ACCESS = "AKIAK"
REGION = "us-west-2"


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _verify(self, body: bytes, service: str) -> bool:
        headers = {"content-type": self.headers.get("Content-Type")}
        if self.headers.get("x-amz-target"):
            headers["x-amz-target"] = self.headers["x-amz-target"]
        expected = sign_request(
            "POST", self.headers.get("Host"), "/", headers, body,
            ACCESS, SECRET, REGION, service,
            self.headers.get("x-amz-date", ""),
        )["Authorization"]
        got = re.search(r"Signature=(\w+)",
                        self.headers.get("Authorization", ""))
        want = re.search(r"Signature=(\w+)", expected)
        return bool(got) and got.group(1) == want.group(1)

    def _json(self, status: int, payload: dict):
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):  # noqa: C901 — one branch per API op
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        target = self.headers.get("x-amz-target", "")

        if not target:  # SNS Query protocol
            if not self._verify(body, "sns"):
                return self._json(403, {"Error": "SignatureDoesNotMatch"})
            form = dict(parse_qsl(body.decode()))
            assert form["Action"] == "Publish"
            srv.sns_messages.append((form["TopicArn"], form["Message"]))
            xml = b"<PublishResponse><PublishResult><MessageId>m-1</MessageId></PublishResult></PublishResponse>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(xml)))
            self.end_headers()
            self.wfile.write(xml)
            return

        service = "firehose" if target.startswith("Firehose") else "kinesis"
        if not self._verify(body, service):
            return self._json(403, {"__type": "InvalidSignatureException"})
        req = json.loads(body)
        op = target.split(".")[1]

        if op == "ListShards":
            return self._json(
                200,
                {"Shards": [{"ShardId": s} for s in srv.shards]},
            )
        if op == "GetShardIterator":
            shard = req["ShardId"]
            if req["ShardIteratorType"] == "TRIM_HORIZON":
                idx = 0
            else:
                idx = int(req["StartingSequenceNumber"].rsplit("-", 1)[1]) + 1
            return self._json(200, {"ShardIterator": f"{shard}:{idx}"})
        if op == "GetRecords":
            shard, idx = self.server_iter(req["ShardIterator"])
            records = srv.shards[shard][idx : idx + 2]  # page size 2
            out = [
                {
                    "SequenceNumber": f"{shard}-{idx + i}",
                    "Data": base64.b64encode(d).decode(),
                }
                for i, d in enumerate(records)
            ]
            nxt = f"{shard}:{idx + len(records)}" if records else None
            return self._json(
                200,
                {"Records": out, "NextShardIterator": nxt},
            )
        if op == "PutRecords":
            recs = req["Records"]
            srv.put_calls.append(len(recs))
            results, failed = [], 0
            for r in recs:
                if srv.throttle_once:
                    results.append(
                        {"ErrorCode":
                         "ProvisionedThroughputExceededException"}
                    )
                    failed += 1
                else:
                    data = base64.b64decode(r["Data"])
                    srv.shards.setdefault("shardId-0", []).append(data)
                    results.append({"SequenceNumber": "s", "ShardId": "0"})
            srv.throttle_once = False
            return self._json(
                200,
                {"FailedRecordCount": failed, "Records": results},
            )
        if op == "PutRecordBatch":
            recs = req["Records"]
            results, failed = [], 0
            for r in recs:
                if srv.throttle_once:
                    results.append({"ErrorCode": "ServiceUnavailable"})
                    failed += 1
                else:
                    srv.firehose.append(base64.b64decode(r["Data"]))
                    results.append({"RecordId": "r"})
            srv.throttle_once = False
            return self._json(
                200,
                {"FailedPutCount": failed, "RequestResponses": results},
            )
        return self._json(400, {"__type": "UnknownOperation"})

    def server_iter(self, token: str) -> tuple[str, int]:
        shard, idx = token.rsplit(":", 1)
        return shard, int(idx)


class _Server(HttpServer):
    def __init__(self):
        self.shards: dict[str, list[bytes]] = {}
        self.firehose: list[bytes] = []
        self.sns_messages: list[tuple[str, str]] = []
        self.put_calls: list[int] = []
        self.throttle_once = False
        super().__init__(_Handler)


@pytest.fixture
def server():
    with _Server() as srv:
        yield srv


def _client(server) -> KinesisClient:
    return KinesisClient(
        f"http://127.0.0.1:{server.port}", "events",
        region=REGION, access_key=ACCESS, secret_key=SECRET,
    )


# -- kinesis client + bridge ---------------------------------------------


def test_bad_secret_rejected(server):
    c = KinesisClient(
        f"http://127.0.0.1:{server.port}", "events",
        region=REGION, access_key=ACCESS, secret_key="wrong",
    )
    with pytest.raises(KinesisError) as ei:
        c.list_shards()
    assert ei.value.status == 403


def test_bridge_drains_all_shards_with_cursor(server, tmp_path):
    server.shards = {
        "shardId-0": [b'{"n":%d}' % i for i in range(5)],
        "shardId-1": [b'{"n":10}'],
    }
    out = str(tmp_path / "staged")
    bridge = KinesisBridge(_client(server))
    assert bridge.drain(out) == 6
    # cursor advanced: an immediate re-drain stages nothing new
    assert bridge.drain(out) == 0
    # new records after the cursor are picked up
    server.shards["shardId-1"].append(b'{"n":11}')
    assert bridge.drain(out) == 1

    import os

    bodies = []
    for f in sorted(os.listdir(out)):
        if f.startswith("."):
            continue
        for line in open(os.path.join(out, f)):
            bodies.append(json.loads(line)["body"])
    assert sorted(bodies) == sorted(
        ['{"n":%d}' % i for i in range(5)] + ['{"n":10}', '{"n":11}']
    )


def test_bridge_crash_before_cursor_redelivers(server, tmp_path):
    server.shards = {"shardId-0": [b"x"]}
    out = tmp_path / "staged"
    KinesisBridge(_client(server)).drain(str(out))
    (out / ".cursor-shardId-0").unlink()  # crash before cursor persisted
    assert KinesisBridge(_client(server)).drain(str(out)) == 1


# -- kinesis transport ----------------------------------------------------


def test_put_records_with_throttle_resend(server):
    server.throttle_once = True  # first call: every record throttled
    t = TRANSPORTS["kinesis"](
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "stream": "events",
            "region": REGION,
            "access_key": ACCESS,
            "secret_key": SECRET,
        }
    )
    t.send(['{"a":1}', '{"a":2}'])
    t.close()
    assert server.shards["shardId-0"] == [b'{"a":1}', b'{"a":2}']
    assert server.put_calls == [2, 2]  # full batch, then the re-send


def test_partition_key_field(server):
    t = TRANSPORTS["kinesis"](
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "stream": "events",
            "partition_key_field": "user",
            "region": REGION,
            "access_key": ACCESS,
            "secret_key": SECRET,
        }
    )
    t.send(['{"user":"u1","v":1}'])
    t.close()
    assert server.shards["shardId-0"] == [b'{"user":"u1","v":1}']


# -- firehose transport ---------------------------------------------------


def test_firehose_batch_with_partial_failure_resend(server):
    server.throttle_once = True
    t = TRANSPORTS["kinesis_firehose"](
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "stream": "delivery",
            "region": REGION,
            "access_key": ACCESS,
            "secret_key": SECRET,
        }
    )
    t.send(['{"a":1}'])
    t.close()
    # newline-terminated so the delivery stream concatenates to NDJSON
    assert server.firehose == [b'{"a":1}\n']


# -- sns transport --------------------------------------------------------


def test_sns_publish_each_message(server):
    t = TRANSPORTS["sns"](
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "topic_arn": "arn:aws:sns:us-west-2:1:alerts",
            "region": REGION,
            "access_key": ACCESS,
            "secret_key": SECRET,
        }
    )
    t.send(["hello", "world & more"])
    t.close()
    assert server.sns_messages == [
        ("arn:aws:sns:us-west-2:1:alerts", "hello"),
        ("arn:aws:sns:us-west-2:1:alerts", "world & more"),
    ]


def test_sns_bad_secret_not_silently_dropped(server):
    t = TRANSPORTS["sns"](
        {
            "endpoint": f"http://127.0.0.1:{server.port}",
            "topic_arn": "arn:x",
            "region": REGION,
            "access_key": ACCESS,
            "secret_key": "wrong",
        }
    )
    with pytest.raises(DeliveryError):
        t.send(["m"])
    t.close()
