"""PostgresClient tests against an in-process pgwire v3 server backed
by sqlite: REAL server-side SCRAM-SHA-256 verification (the server
derives StoredKey from the salted password and checks the client
proof bit-for-bit; wrong passwords rejected with 28P01), the simple
query protocol (RowDescription/DataRow/NULLs/unicode), SQL errors
mid-cycle, the sql_select enrichment DataFrame, and the connector
INSERT transport through Spark deliver()."""

from __future__ import annotations

import json

import pytest

from bento_spark.operators.pgwire import PgError, PostgresClient, postgres_df

from bento_spark.testing.pgwire_server import (  # noqa: E402
    DB,
    PASSWORD,
    USER,
    InProcessPgServer as _Server,
)


@pytest.fixture()
def server():
    with _Server() as srv:
        yield srv


def _client(server, password=PASSWORD):
    return PostgresClient(
        port=server.port, user=USER, password=password, database=DB
    )


def test_scram_auth_and_query_roundtrip(server):
    server.db.execute("CREATE TABLE users (id INTEGER, name TEXT)")
    server.db.execute(
        "INSERT INTO users VALUES (1, 'ada'), (2, NULL), (3, 'caf\xe9 ☃')"
    )
    c = _client(server)
    cols, rows = c.query("SELECT id, name FROM users ORDER BY id")
    assert cols == ["id", "name"]
    assert rows == [("1", "ada"), ("2", None), ("3", "caf\xe9 ☃")]
    c.close()


def test_wrong_password_rejected_28P01(server):
    with pytest.raises(PgError, match="28P01"):
        _client(server, password="wrong")


def test_sql_error_surfaces_and_connection_survives(server):
    c = _client(server)
    with pytest.raises(PgError, match="42601"):
        c.query("SELECT * FROM no_such_table")
    server.db.execute("CREATE TABLE t (x TEXT)")
    c.execute("INSERT INTO t VALUES ('after-error')")
    assert c.query("SELECT x FROM t")[1] == [("after-error",)]
    c.close()


def test_postgres_df_enrichment(spark, server):
    server.db.execute("CREATE TABLE dims (k TEXT, label TEXT)")
    server.db.executemany(
        "INSERT INTO dims VALUES (?, ?)", [(f"k{i}", f"L{i}") for i in range(4)]
    )
    dim = postgres_df(
        spark, lambda: _client(server), "SELECT k, label FROM dims"
    )
    facts = spark.range(8).selectExpr("concat('k', id % 4) AS k", "id")
    joined = facts.join(dim, "k").orderBy("id")
    got = [(r["id"], r["label"]) for r in joined.collect()]
    assert got == [(i, f"L{i % 4}") for i in range(8)]


def test_deliver_end_to_end_via_postgres_transport(spark, server):
    from bento_spark.sinks.connector import deliver

    server.db.execute("CREATE TABLE messages (v TEXT)")
    df = spark.range(17).selectExpr("id", "concat('it''s ', id) AS note")
    stats = deliver(
        df, "postgres",
        {
            "host": "127.0.0.1", "port": server.port, "user": USER,
            "password": PASSWORD, "database": DB, "table": "messages",
        },
        batch_size=5,
    )
    assert stats["delivered"] == 17 and stats["dead"] == 0
    with server.lock:
        rows = server.db.execute("SELECT v FROM messages").fetchall()
    notes = {json.loads(v)["note"] for (v,) in rows}
    assert notes == {f"it's {i}" for i in range(17)}  # quoting survived


def test_changefeed_drain(server, tmp_path):
    import json as _json

    from bento_spark.operators.pgwire import cockroachdb_changefeed_drain

    server.feed_rows = [
        ("users", '["u1"]', _json.dumps({"after": {"id": "u1", "n": 1}})),
        ("users", '["u2"]', _json.dumps({"after": {"id": "u2", "n": 2}})),
        ("users", '["u1"]', _json.dumps({"after": {"id": "u1", "n": 3}})),
    ]
    n = cockroachdb_changefeed_drain(
        lambda: _client(server), "users", str(tmp_path), max_rows=3
    )
    assert n == 3
    (f,) = tmp_path.glob("changefeed-*.ndjson")
    events = [_json.loads(x) for x in f.read_text().splitlines()]
    assert [e["key"] for e in events] == ['["u1"]', '["u2"]', '["u1"]']
    assert _json.loads(events[2]["value"])["after"]["n"] == 3


def test_changefeed_stops_at_max_rows(server, tmp_path):
    from bento_spark.operators.pgwire import cockroachdb_changefeed_drain

    server.feed_rows = [("t", f'["k{i}"]', "{}") for i in range(10)]
    n = cockroachdb_changefeed_drain(
        lambda: _client(server), "t", str(tmp_path), max_rows=4
    )
    assert n == 4  # feed abandoned mid-stream by closing the connection
