"""Azure Table Storage / Cosmos DB / Service Bus against in-process HTTP
servers that VERIFY every signature by recomputation (table Shared Key,
cosmos master-key token, service-bus SAS)."""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qs, unquote, urlparse

import pytest

from bento_spark.operators.azuredata import (
    AzureTableClient,
    CosmosClient,
    ServiceBusQueueClient,
    cosmos_auth,
    cosmosdb_enrich,
    sas_token,
    table_shared_key,
    table_storage_df,
)
from bento_spark.serving import HttpServer

ACCOUNT = "testacct"
KEY_B64 = "dGVzdC1rZXktYnl0ZXM="  # b64("test-key-bytes")
SB_KEY_NAME = "RootManageSharedAccessKey"
SB_KEY = "sb-secret"


class _TableHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _verify(self, body: bytes) -> bool:
        url = f"http://{self.headers['Host']}{self.path}"
        expected = table_shared_key(
            self.command, url, self.headers["x-ms-date"],
            self.headers.get("Content-Type", ""), ACCOUNT, KEY_B64,
        )
        return self.headers.get("Authorization") == expected

    def _send(self, status, payload=b"", headers=None):
        self.send_response(status)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_PUT(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if not self._verify(body):
            return self._send(403, b"bad signature")
        # path: /acct/table(PartitionKey='p',RowKey='r')
        ent = json.loads(body)
        self.server.entities[(ent["PartitionKey"], ent["RowKey"])] = ent
        self._send(204)

    def do_GET(self):
        if not self._verify(b""):
            return self._send(403, b"bad signature")
        qs = parse_qs(urlparse(self.path).query)
        ents = sorted(
            self.server.entities.values(),
            key=lambda e: (e["PartitionKey"], e["RowKey"]),
        )
        filt = unquote(qs.get("$filter", [""])[0])
        if filt:  # one supported shape: PartitionKey eq 'x'
            want = filt.split("'")[1]
            ents = [e for e in ents if e["PartitionKey"] == want]
        # 2-entity pages with continuation tokens
        start = 0
        if "NextRowKey" in qs:
            nrk = qs["NextRowKey"][0]
            start = next(
                i for i, e in enumerate(ents) if e["RowKey"] == nrk
            )
        page = ents[start : start + 2]
        headers = {}
        if start + 2 < len(ents):
            headers["x-ms-continuation-NextPartitionKey"] = "p"
            headers["x-ms-continuation-NextRowKey"] = ents[start + 2]["RowKey"]
        self._send(200, json.dumps({"value": page}).encode(), headers)


class _CosmosHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _send(self, status, payload=b"", headers=None):
        self.send_response(status)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        link = self.path.strip("/").rsplit("/docs", 1)[0]
        expected = cosmos_auth(
            "post", "docs", link, self.headers["x-ms-date"], KEY_B64
        )
        if self.headers.get("Authorization") != expected:
            return self._send(403, b'{"message":"unauthorized"}')
        if self.headers.get("x-ms-documentdb-isquery") == "True":
            req = json.loads(body)
            self.server.queries.append(req)
            docs = list(self.server.docs.values())
            params = {p["name"]: p["value"] for p in req.get("parameters", [])}
            if "@id" in params:
                docs = [d for d in docs if d.get("id") == params["@id"]]
            # 2-doc pages with x-ms-continuation
            start = int(self.headers.get("x-ms-continuation", 0) or 0)
            page = docs[start : start + 2]
            headers = {}
            if start + 2 < len(docs):
                headers["x-ms-continuation"] = str(start + 2)
            return self._send(
                200, json.dumps({"Documents": page}).encode(), headers
            )
        if self.headers.get("x-ms-documentdb-is-upsert") == "true":
            assert "x-ms-documentdb-partitionkey" in self.headers
            doc = json.loads(body)
            self.server.docs[doc["id"]] = doc
            return self._send(201, b"{}")
        return self._send(400, b'{"message":"bad request"}')


class _SbusHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _verify(self) -> bool:
        auth = self.headers.get("Authorization", "")
        m = dict(
            kv.split("=", 1)
            for kv in auth.removeprefix("SharedAccessSignature ").split("&")
        )
        resource = unquote(m.get("sr", ""))
        expected = sas_token(resource, SB_KEY_NAME, SB_KEY, int(m.get("se", 0)))
        return auth == expected and resource.endswith("/q1")

    def _send(self, status, payload=b"", headers=None):
        self.send_response(status)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_POST(self):
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if not self._verify():
            return self._send(401)
        if not self.server.queue:
            return self._send(204)
        mid, body = self.server.queue[0]  # peek-lock: NOT popped
        lock = f"lock-{mid}"
        self.server.locks[mid] = lock
        self._send(
            201, body,
            {"BrokerProperties": json.dumps(
                {"MessageId": mid, "LockToken": lock, "SequenceNumber": 1}
            )},
        )

    def do_DELETE(self):
        if not self._verify():
            return self._send(401)
        parts = self.path.strip("/").split("/")  # q1/messages/<mid>/<lock>
        mid, lock = parts[-2], parts[-1]
        assert self.server.locks.get(mid) == lock
        self.server.queue = [(m, b) for m, b in self.server.queue if m != mid]
        self.server.completed.append(mid)
        self._send(200)


def _mk_server(handler, **attrs):
    srv = HttpServer(handler)
    vars(srv).update(attrs)
    return srv


@pytest.fixture()
def table_server():
    with _mk_server(_TableHandler, entities={}) as srv:
        yield srv


@pytest.fixture()
def cosmos_server():
    with _mk_server(_CosmosHandler, docs={}, queries=[]) as srv:
        yield srv


@pytest.fixture()
def sbus_server():
    with _mk_server(_SbusHandler, queue=[], locks={}, completed=[]) as srv:
        yield srv


# ---- Table Storage --------------------------------------------------------

def test_table_upsert_and_paged_query(table_server):
    c = AzureTableClient(table_server.url, ACCOUNT, KEY_B64, "people")
    for i in range(5):
        c.upsert_entity(
            {"PartitionKey": "p", "RowKey": f"r{i}", "name": f"n{i}"}
        )
    got = c.query_entities()  # 3 continuation pages: 2+2+1
    assert [e["RowKey"] for e in got] == [f"r{i}" for i in range(5)]
    got = c.query_entities(filter_="PartitionKey eq 'p'")
    assert len(got) == 5


def test_table_bad_key_rejected(table_server):
    c = AzureTableClient(
        table_server.url, ACCOUNT, "d3JvbmctYnl0ZXM=", "people"
    )
    with pytest.raises(RuntimeError, match="HTTP 403"):
        c.upsert_entity({"PartitionKey": "p", "RowKey": "r"})


def test_table_storage_input_df(spark, table_server):
    c = AzureTableClient(table_server.url, ACCOUNT, KEY_B64, "dims")
    for i in range(3):
        c.upsert_entity(
            {"PartitionKey": "d", "RowKey": str(i), "label": f"L{i}"}
        )
    df = table_storage_df(spark, {
        "endpoint": table_server.url, "account": ACCOUNT,
        "key": KEY_B64, "table": "dims",
    })
    assert df.count() == 3 and "label" in df.columns


def test_table_sink_transport(spark, table_server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(4).selectExpr(
        "concat('pk') AS part", "string(id) AS rid", "concat('v', id) AS v"
    )
    stats = deliver(
        df, "azure_table_storage",
        {
            "endpoint": table_server.url, "account": ACCOUNT, "key": KEY_B64,
            "table": "t", "partition_key_field": "part", "row_key_field": "rid",
        },
        batch_size=2,
    )
    assert stats["delivered"] == 4
    assert table_server.entities[("pk", "2")]["v"] == "v2"


# ---- Cosmos DB ------------------------------------------------------------

def test_cosmos_upsert_query_roundtrip(cosmos_server):
    c = CosmosClient(cosmos_server.url, KEY_B64, "db1", "coll1")
    for i in range(5):
        c.upsert_document({"id": f"d{i}", "v": i}, f"d{i}")
    got = c.query_documents("SELECT * FROM c")  # continuation-paged
    assert sorted(d["id"] for d in got) == [f"d{i}" for i in range(5)]
    got = c.query_documents(
        "SELECT * FROM c WHERE c.id = @id",
        [{"name": "@id", "value": "d3"}],
    )
    assert [d["v"] for d in got] == [3]


def test_cosmos_bad_key_rejected(cosmos_server):
    c = CosmosClient(cosmos_server.url, "d3JvbmctYnl0ZXM=", "db1", "coll1")
    with pytest.raises(RuntimeError, match="HTTP 403"):
        c.query_documents("SELECT * FROM c")


def test_cosmos_processor_and_registration(spark, cosmos_server):
    src = CosmosClient(cosmos_server.url, KEY_B64, "db1", "coll1")
    for i in range(3):
        src.upsert_document({"id": f"u{i}", "score": 10 * i}, f"u{i}")
    from bento_spark.plans.pipeline import PROCESSORS

    df = spark.range(3).selectExpr("concat('u', id) AS uid")
    out = PROCESSORS["azure_cosmosdb"](df, {
        "endpoint": cosmos_server.url, "key": KEY_B64,
        "database": "db1", "container": "coll1",
        "query": "SELECT * FROM c WHERE c.id = @id",
        "args": {"@id": "uid"},
        "result_column": "docs",
    }).collect()
    rows = {r["uid"]: json.loads(r["docs"]) for r in out}
    assert rows["u2"][0]["score"] == 20
    assert all(r["_error"] is None for r in out)


def test_cosmos_sink_transport(spark, cosmos_server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(3).selectExpr("concat('s', id) AS id", "id AS n")
    stats = deliver(
        df, "azure_cosmosdb",
        {
            "endpoint": cosmos_server.url, "key": KEY_B64,
            "database": "db1", "container": "coll1",
        },
        batch_size=2,
    )
    assert stats["delivered"] == 3
    assert cosmos_server.docs["s1"]["n"] == 1


# ---- Service Bus ----------------------------------------------------------

def test_sbus_receive_complete_drain(sbus_server, tmp_path):
    sbus_server.queue = [(f"m{i}", f"body-{i}".encode()) for i in range(4)]
    c = ServiceBusQueueClient(sbus_server.url, "q1", SB_KEY_NAME, SB_KEY)
    n = c.drain_to_dir(str(tmp_path))
    assert n == 4
    assert sbus_server.completed == [f"m{i}" for i in range(4)]
    files = sorted(tmp_path.glob("sbus-*.bin"))
    assert len(files) == 4
    assert files[0].read_bytes() == b"body-0"


def test_sbus_empty_queue_returns_none(sbus_server):
    c = ServiceBusQueueClient(sbus_server.url, "q1", SB_KEY_NAME, SB_KEY)
    assert c.receive() is None


def test_sbus_bad_sas_rejected(sbus_server):
    c = ServiceBusQueueClient(sbus_server.url, "q1", SB_KEY_NAME, "wrong")
    with pytest.raises(RuntimeError, match="HTTP 401"):
        c.receive()
