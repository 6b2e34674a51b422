"""BigQuery client tests against an in-process REST server: insertAll
with stable insertIds (retry dedupe observable server-side), per-row
error routing (transient vs invalid), jobs.query typed decode with
pageToken pagination, and the sink transport through deliver()."""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler

import pytest

from bento_spark.serving import HttpServer
from bento_spark.sinks.connector import TRANSPORTS, DeliveryError
from bento_spark.sources.gcp_bigquery import (
    BigQueryClient,
    bigquery_rows,
)

PAGE = 2


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _json(self, payload: dict, status: int = 200):
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        srv = self.server
        body = json.loads(
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
        )
        if self.path.endswith("/insertAll"):
            errors = []
            for i, row in enumerate(body["rows"]):
                iid = row.get("insertId")
                if srv.fail_reason and i == 0:
                    errors.append(
                        {"index": i,
                         "errors": [{"reason": srv.fail_reason}]}
                    )
                    continue
                if iid and iid in srv.seen_ids:
                    continue  # dedupe on insertId
                if iid:
                    srv.seen_ids.add(iid)
                srv.rows.append(row["json"])
            srv.fail_reason = None
            return self._json({"insertErrors": errors})
        if self.path.endswith("/queries"):
            srv.queries.append(body["query"])
            srv.params.append(body.get("queryParameters"))
            srv.modes.append(body.get("parameterMode"))
            rows = srv.table
            return self._json(
                {
                    "schema": {"fields": srv.schema},
                    "jobReference": {"jobId": "job-1"},
                    "rows": rows[:PAGE],
                    **({"pageToken": "2"} if len(rows) > PAGE else {}),
                }
            )
        if self.path.endswith("/queries/getResults"):
            start = int(body["pageToken"])
            rows = srv.table[start : start + PAGE]
            nxt = start + PAGE
            return self._json(
                {
                    "rows": rows,
                    **(
                        {"pageToken": str(nxt)}
                        if nxt < len(srv.table)
                        else {}
                    ),
                }
            )
        return self._json({"error": "unknown"}, 404)


class _Server(HttpServer):
    def __init__(self):
        self.rows: list[dict] = []
        self.seen_ids: set[str] = set()
        self.queries: list[str] = []
        self.params: list = []
        self.modes: list = []
        self.fail_reason: str | None = None
        self.schema = [
            {"name": "id", "type": "INTEGER"},
            {"name": "name", "type": "STRING"},
            {"name": "score", "type": "FLOAT"},
            {"name": "ok", "type": "BOOLEAN"},
        ]
        self.table = [
            {"f": [{"v": "1"}, {"v": "a"}, {"v": "0.5"}, {"v": "true"}]},
            {"f": [{"v": "2"}, {"v": None}, {"v": "1.5"}, {"v": "false"}]},
            {"f": [{"v": "3"}, {"v": "c"}, {"v": None}, {"v": "true"}]},
            {"f": [{"v": "4"}, {"v": "d"}, {"v": "2.0"}, {"v": "false"}]},
            {"f": [{"v": "5"}, {"v": "e"}, {"v": "3.5"}, {"v": "true"}]},
        ]
        super().__init__(_Handler)


@pytest.fixture
def server():
    with _Server() as srv:
        yield srv


def test_query_typed_decode_with_pagination(server):
    rows = bigquery_rows(server.url, "proj", "SELECT * FROM t")
    assert len(rows) == 5  # 3 pages of 2/2/1
    assert rows[0] == {"id": 1, "name": "a", "score": 0.5, "ok": True}
    assert rows[1]["name"] is None
    assert rows[2]["score"] is None
    assert isinstance(rows[4]["score"], float)


def test_insert_ids_dedupe_resends(server):
    c = BigQueryClient(server.url, "proj")
    rows = [{"id": 1}, {"id": 2}]
    assert c.insert_all("ds", "t", rows, ["a-0", "a-1"]) == []
    # a task retry re-sends with the SAME ids -> no duplicates land
    assert c.insert_all("ds", "t", rows, ["a-0", "a-1"]) == []
    assert server.rows == rows


def test_transport_routes_reasons(server):
    t = TRANSPORTS["gcp_bigquery"](
        {"endpoint": server.url, "dataset": "ds", "table": "t"}
    )
    t.send(['{"id":1}'])
    assert server.rows == [{"id": 1}]

    server.fail_reason = "backendError"
    with pytest.raises(DeliveryError) as ei:
        t.send(['{"id":2}'])
    assert ei.value.retryable

    server.fail_reason = "invalid"
    with pytest.raises(DeliveryError) as ei:
        t.send(['{"id":3}'])
    assert not ei.value.retryable
    t.close()


def test_query_positional_parameters_encode(server):
    c = BigQueryClient(server.url, "proj")
    c.query("SELECT * FROM t WHERE a = ? AND b = ? AND c = ? AND d = ?",
            params=["x'); DROP TABLE t; --", 7, 0.5, True])
    assert server.modes[-1] == "POSITIONAL"
    assert server.params[-1] == [
        {"parameterType": {"type": "STRING"},
         "parameterValue": {"value": "x'); DROP TABLE t; --"}},
        {"parameterType": {"type": "INT64"}, "parameterValue": {"value": "7"}},
        {"parameterType": {"type": "FLOAT64"},
         "parameterValue": {"value": "0.5"}},
        {"parameterType": {"type": "BOOL"},
         "parameterValue": {"value": "true"}},
    ]
    # the SQL text itself is untouched — no splicing
    assert "DROP TABLE" not in server.queries[-1]


def test_bigquery_select_processor_binds_args(spark, server):
    """gcp_bigquery_select: args_mapping values travel as positional
    query parameters, never spliced into the SQL text (ADVICE r5 #1)."""
    import json

    from bento_spark.plans.pipeline import PROCESSORS

    df = spark.createDataFrame(
        [('{"city": "Lon\'don"}',), ('{"city": "Paris"}',)],
        "content string",
    )
    out = PROCESSORS["gcp_bigquery_select"](
        df,
        {
            "endpoint": server.url, "project": "proj",
            "table": "ds.people", "columns": ["name", "score"],
            "where": "city = ?",
            "args_mapping": "root = [ this.city ]",
        },
    )
    rows = out.select("content", "_error").collect()
    assert all(r["_error"] is None for r in rows)
    decoded = [json.loads(r["content"]) for r in rows]
    assert all(len(d) == 5 for d in decoded)  # server returns the table
    assert (
        "SELECT name, score FROM `ds.people` WHERE city = ?"
        in server.queries
    )
    sent = {
        p[0]["parameterValue"]["value"]
        for p in server.params if p
    }
    assert sent == {"Lon'don", "Paris"}
    # message content never reaches the SQL text
    assert all("Paris" not in q and "Lon" not in q for q in server.queries)


def test_deliver_end_to_end(spark, server):
    from bento_spark.sinks.connector import deliver

    df = spark.range(30).selectExpr("id", "concat('n', id) AS name")
    stats = deliver(
        df, "gcp_bigquery",
        {"endpoint": server.url, "dataset": "ds", "table": "t"},
        batch_size=10,
    )
    assert stats["delivered"] == 30
    assert len(server.rows) == 30
