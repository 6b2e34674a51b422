"""Azure data-plane components — Table Storage, Cosmos DB, Service Bus —
over the public REST APIs with from-scratch auth, pure stdlib.

Reference parity:
* azure_table_storage in/out — internal/impl/azure/input_table_storage.go,
  output_table_storage.go. Auth is the TABLE-service Shared Key variant
  (learn.microsoft.com/rest/api/storageservices/authorize-with-shared-key
  §Table service): VERB\\nContent-MD5\\nContent-Type\\nDate\\nResource —
  no x-ms-* canonicalization, unlike the Blob/Queue shape in
  functions/azureauth.py.
* azure_cosmosdb in/out/processor — internal/impl/azure/input_cosmosdb.go,
  output_cosmosdb.go, processor_cosmosdb.go. Auth is the master-key
  scheme (learn.microsoft.com/rest/api/cosmos-db/access-control-on-cosmosdb-resources):
  HMAC-SHA256 over "verb\\nresourcetype\\nresourcelink\\ndate\\n\\n"
  (all lowercase), signature URL-encoded into the Authorization header.
* azure_service_bus_queue input — internal/impl/azure/input_service_bus_queue.go.
  Auth is a SAS token (learn.microsoft.com/rest/api/servicebus/generate-sas-token);
  receive uses peek-lock (POST messages/head) + stage-durably-then-DELETE
  the lock — the same at-least-once drain discipline as sources/sqs_bridge.

Every signature is verifiable by recomputation with the shared key, which
is exactly what the in-process test servers do (tests/test_azuredata.py).
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import time
import urllib.error
import urllib.request
from urllib.parse import quote, urlparse


def _http(method: str, url: str, headers: dict, body: bytes = b"") -> tuple[int, dict, bytes]:
    req = urllib.request.Request(url, data=body or None, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


# ---------------------------------------------------------------------------
# Table Storage
# ---------------------------------------------------------------------------

def table_shared_key(
    method: str,
    url: str,
    date: str,
    content_type: str,
    account: str,
    key_b64: str,
) -> str:
    """Table-service Shared Key: the 4-slot string-to-sign (no x-ms-*
    headers, resource = /account/path[?comp=...])."""
    u = urlparse(url)
    resource = f"/{account}{u.path}"
    # only the comp parameter participates, per the spec
    comp = [v for k, v in
            (p.split("=", 1) for p in u.query.split("&") if "=" in p)
            if k == "comp"]
    if comp:
        resource += f"?comp={comp[0]}"
    sts = "\n".join([method.upper(), "", content_type, date, resource])
    sig = base64.b64encode(
        hmac.new(base64.b64decode(key_b64), sts.encode("utf-8"), hashlib.sha256).digest()
    ).decode()
    return f"SharedKey {account}:{sig}"


class AzureTableClient:
    """Entities in/out of one table. OData JSON (nometadata), batched
    reads via continuation tokens — the Spark input pages until done."""

    def __init__(self, endpoint: str, account: str, key_b64: str, table: str):
        self.endpoint = endpoint.rstrip("/")
        self.account = account
        self.key_b64 = key_b64
        self.table = table

    def _call(self, method: str, path_qs: str, body: bytes = b"") -> tuple[int, dict, bytes]:
        url = f"{self.endpoint}/{self.account}/{path_qs}"
        date = time.strftime("%a, %d %b %Y %H:%M:%S GMT", time.gmtime())
        ct = "application/json" if body else ""
        headers = {
            "x-ms-date": date,
            "x-ms-version": "2019-02-02",
            "Accept": "application/json;odata=nometadata",
            "Authorization": table_shared_key(
                method, url, date, ct, self.account, self.key_b64
            ),
        }
        if body:
            headers["Content-Type"] = ct
        status, rh, rbody = _http(method, url, headers, body)
        if status >= 300:
            raise RuntimeError(
                f"azure table {method} {path_qs}: HTTP {status}: {rbody[:200]!r}"
            )
        return status, rh, rbody

    def upsert_entity(self, entity: dict) -> None:
        """InsertOrReplace: PUT /table(PartitionKey='p',RowKey='r')."""
        pk, rk = entity["PartitionKey"], entity["RowKey"]
        path = (
            f"{self.table}(PartitionKey='{quote(str(pk))}',"
            f"RowKey='{quote(str(rk))}')"
        )
        self._call("PUT", path, json.dumps(entity).encode("utf-8"))

    def query_entities(
        self, filter_: str | None = None, select: str | None = None, top: int = 1000
    ) -> list[dict]:
        """All matching entities, following x-ms-continuation-* tokens."""
        out: list[dict] = []
        next_pk = next_rk = None
        while True:
            qs = [f"$top={top}"]
            if filter_:
                qs.append(f"$filter={quote(filter_)}")
            if select:
                qs.append(f"$select={quote(select)}")
            if next_pk:
                qs.append(f"NextPartitionKey={quote(next_pk)}")
            if next_rk:
                qs.append(f"NextRowKey={quote(next_rk)}")
            _s, rh, body = self._call("GET", f"{self.table}()?{'&'.join(qs)}")
            out.extend(json.loads(body).get("value", []))
            lower = {k.lower(): v for k, v in rh.items()}
            next_pk = lower.get("x-ms-continuation-nextpartitionkey")
            next_rk = lower.get("x-ms-continuation-nextrowkey")
            if not next_pk and not next_rk:
                return out


def table_storage_df(spark, conf: dict):
    """`azure_table_storage` input: query -> bounded DataFrame (dimension
    loads for broadcast enrichment, like cassandra_rows/postgres_df)."""
    acct = conf.get("account") or conf.get("storage_account")
    if not acct:
        raise ValueError("azure_table_storage: storage_account is required")
    table = conf.get("table") or conf.get("table_name")
    if not table:
        raise ValueError("azure_table_storage: table_name is required")
    client = AzureTableClient(
        conf.get("endpoint") or f"https://{acct}.table.core.windows.net",
        acct,
        conf.get("key") or conf.get("storage_access_key", ""),
        table,
    )
    rows = client.query_entities(conf.get("filter"), conf.get("select"))
    if not rows:
        raise ValueError("azure_table_storage: empty result, no schema")
    cols = sorted({k for r in rows for k in r})
    data = [tuple(str(r[k]) if r.get(k) is not None else None for k in cols)
            for r in rows]
    return spark.createDataFrame(data, ", ".join(f"`{c}` string" for c in cols))


# ---------------------------------------------------------------------------
# Cosmos DB
# ---------------------------------------------------------------------------

def cosmos_auth(
    verb: str, resource_type: str, resource_link: str, date: str, key_b64: str
) -> str:
    """Master-key token (public access-control scheme, ver 1.0)."""
    text = (
        f"{verb.lower()}\n{resource_type.lower()}\n{resource_link}\n"
        f"{date.lower()}\n\n"
    )
    sig = base64.b64encode(
        hmac.new(base64.b64decode(key_b64), text.encode("utf-8"), hashlib.sha256).digest()
    ).decode()
    return quote(f"type=master&ver=1.0&sig={sig}", safe="")


class CosmosClient:
    def __init__(self, endpoint: str, key_b64: str, db: str, container: str):
        self.endpoint = endpoint.rstrip("/")
        self.key_b64 = key_b64
        self.db = db
        self.container = container
        self.coll_link = f"dbs/{db}/colls/{container}"

    def _headers(self, verb: str, resource_type: str, resource_link: str) -> dict:
        date = time.strftime("%a, %d %b %Y %H:%M:%S GMT", time.gmtime())
        return {
            "x-ms-date": date,
            "x-ms-version": "2018-12-31",
            "Authorization": cosmos_auth(
                verb, resource_type, resource_link, date, self.key_b64
            ),
        }

    def query_documents(
        self, query: str, parameters: list[dict] | None = None
    ) -> list[dict]:
        """POST docs query with continuation paging."""
        url = f"{self.endpoint}/{self.coll_link}/docs"
        out: list[dict] = []
        continuation = None
        while True:
            headers = self._headers("post", "docs", self.coll_link)
            headers.update({
                "Content-Type": "application/query+json",
                "x-ms-documentdb-isquery": "True",
                "x-ms-documentdb-query-enablecrosspartition": "True",
            })
            if continuation:
                headers["x-ms-continuation"] = continuation
            body = json.dumps(
                {"query": query, "parameters": parameters or []}
            ).encode("utf-8")
            status, rh, rbody = _http("POST", url, headers, body)
            if status >= 300:
                raise RuntimeError(
                    f"cosmos query: HTTP {status}: {rbody[:200]!r}"
                )
            out.extend(json.loads(rbody).get("Documents", []))
            continuation = {k.lower(): v for k, v in rh.items()}.get(
                "x-ms-continuation"
            )
            if not continuation:
                return out

    def upsert_document(self, doc: dict, partition_key) -> None:
        url = f"{self.endpoint}/{self.coll_link}/docs"
        headers = self._headers("post", "docs", self.coll_link)
        headers.update({
            "Content-Type": "application/json",
            "x-ms-documentdb-is-upsert": "true",
            "x-ms-documentdb-partitionkey": json.dumps([partition_key]),
        })
        status, _rh, rbody = _http(
            "POST", url, headers, json.dumps(doc).encode("utf-8")
        )
        if status >= 300:
            raise RuntimeError(f"cosmos upsert: HTTP {status}: {rbody[:200]!r}")


def cosmosdb_df(spark, conf: dict):
    """`azure_cosmosdb` input: SQL query -> bounded DataFrame of JSON
    documents (one `doc` string column, like the reference's raw JSON
    messages)."""
    for k in ("endpoint", "database", "container"):
        if not conf.get(k):
            raise ValueError(f"azure_cosmosdb: {k} is required")
    client = CosmosClient(
        conf["endpoint"],
        conf.get("key") or conf.get("account_key", ""),
        conf["database"], conf["container"],
    )
    docs = client.query_documents(
        conf.get("query", "SELECT * FROM c"), conf.get("parameters")
    )
    return spark.createDataFrame(
        [(json.dumps(d, sort_keys=True),) for d in docs], "doc string"
    )


def cosmosdb_enrich(
    df,
    factory,
    query: str,
    param_cols: dict[str, str],
    out_col: str = "cosmos_result",
):
    """`azure_cosmosdb` processor: run a parameterized query per message
    (parameters from row columns), results JSON-encoded in ``out_col``;
    failures flag `_error`."""
    from bento_spark.operators.envelope import per_message

    def call(client, row):
        params = [
            {"name": name, "value": str(row[c])}
            for name, c in param_cols.items()
        ]
        return json.dumps(client.query_documents(query, params), sort_keys=True)

    return per_message(
        df, call, out=out_col, open=factory, skip_errored=False,
        errors={Exception: lambda ex: f"cosmosdb: {ex}"},
    )


# ---------------------------------------------------------------------------
# Service Bus
# ---------------------------------------------------------------------------

def sas_token(resource_uri: str, key_name: str, key: str, expiry: int) -> str:
    """SharedAccessSignature per the public generate-sas-token doc:
    sig = HMAC-SHA256(key, urlencode(uri) + "\\n" + expiry)."""
    encoded = quote(resource_uri, safe="")
    sig = base64.b64encode(
        hmac.new(
            key.encode("utf-8"), f"{encoded}\n{expiry}".encode(), hashlib.sha256
        ).digest()
    ).decode()
    return (
        f"SharedAccessSignature sr={encoded}&sig={quote(sig, safe='')}"
        f"&se={expiry}&skn={key_name}"
    )


class ServiceBusQueueClient:
    """Peek-lock receive + complete over the Service Bus REST API."""

    def __init__(
        self, endpoint: str, queue: str, key_name: str, key: str,
        lock_timeout: int = 30,
    ):
        self.endpoint = endpoint.rstrip("/")
        self.queue = queue
        self.key_name = key_name
        self.key = key
        self.lock_timeout = lock_timeout

    def _auth(self) -> str:
        return sas_token(
            f"{self.endpoint}/{self.queue}",
            self.key_name,
            self.key,
            int(time.time()) + 300,
        )

    def receive(self) -> tuple[dict, bytes] | None:
        """One peek-locked message -> (broker_properties, body); None
        when the queue is empty (204)."""
        url = f"{self.endpoint}/{self.queue}/messages/head?timeout=5"
        status, rh, body = _http(
            "POST", url, {"Authorization": self._auth()}
        )
        if status == 204:
            return None
        if status >= 300:
            raise RuntimeError(f"servicebus receive: HTTP {status}: {body[:200]!r}")
        props = json.loads(
            {k.lower(): v for k, v in rh.items()}.get("brokerproperties", "{}")
        )
        return props, body

    def complete(self, props: dict) -> None:
        """DELETE the peek lock — the message is done."""
        url = (
            f"{self.endpoint}/{self.queue}/messages/"
            f"{props['MessageId']}/{props['LockToken']}"
        )
        status, _rh, body = _http("DELETE", url, {"Authorization": self._auth()})
        if status >= 300:
            raise RuntimeError(f"servicebus complete: HTTP {status}: {body[:200]!r}")

    def drain_to_dir(self, out_dir: str, max_msgs: int = 10_000) -> int:
        """Stage-then-complete drain: each message is durably written
        BEFORE its lock is deleted, so a crash mid-drain redelivers
        (at-least-once, the reference input's contract)."""
        import os

        os.makedirs(out_dir, exist_ok=True)
        n = 0
        while n < max_msgs:
            got = self.receive()
            if got is None:
                break
            props, body = got
            name = f"sbus-{props.get('MessageId', n)}.bin"
            tmp = os.path.join(out_dir, "." + name)
            with open(tmp, "wb") as f:
                f.write(body)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(out_dir, name))
            self.complete(props)
            n += 1
        return n


def _register() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    def _proc_cosmos(df, conf):
        endpoint, key = conf["endpoint"], conf["key"]
        db, container = conf["database"], conf["container"]
        return cosmosdb_enrich(
            df,
            lambda: CosmosClient(endpoint, key, db, container),
            conf["query"],
            dict(conf.get("args", {})),
            conf.get("result_column", "cosmos_result"),
        )

    PROCESSORS["azure_cosmosdb"] = _proc_cosmos


_register()
