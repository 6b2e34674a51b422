"""`gcp_bigtable` output — the Cloud Bigtable v2 data API over the
from-scratch gRPC/HTTP-2 client (operators/grpc_wire.py), message
schemas transcribed from the public googleapis proto
(google/bigtable/v2/bigtable.proto, data.proto).

Reference parity: website/docs/components/outputs/gcp_bigtable.md
(the reference writes rows via MutateRows with SetCell mutations).

MutateRows is a server-STREAMING RPC: responses arrive as a stream of
MutateRowsResponse messages, each carrying per-entry google.rpc.Status
codes — partial failures are routed per entry (retryable codes
UNAVAILABLE=14 / DEADLINE_EXCEEDED=4 / ABORTED=10 re-send, the rest
dead-letter), the same partial-success discipline as the DynamoDB and
Kinesis transports."""

from __future__ import annotations

import json

MUTATION = {"fields": {
    1: ("set_cell", {"fields": {
        1: ("family_name", "string"),
        2: ("column_qualifier", "bytes"),
        3: ("timestamp_micros", "int64"),
        4: ("value", "bytes"),
    }}),
}}

MUTATE_ROWS_REQUEST = {"fields": {
    1: ("table_name", "string"),
    2: ("entries", {"repeated": True, "fields": {
        1: ("row_key", "bytes"),
        2: ("mutations", {"repeated": True, **MUTATION}),
    }}),
}}

RPC_STATUS = {"fields": {1: ("code", "int32"), 2: ("message", "string")}}

MUTATE_ROWS_RESPONSE = {"fields": {
    1: ("entries", {"repeated": True, "fields": {
        1: ("index", "int64"),
        2: ("status", RPC_STATUS),
    }}),
}}

RETRYABLE_CODES = {4, 10, 14}  # DEADLINE_EXCEEDED, ABORTED, UNAVAILABLE


class BigtableWriter:
    """MutateRows batches of (row_key, {family:{qualifier: value}})."""

    def __init__(self, grpc_client, table_name: str,
                 timestamp_micros: int = -1):
        # -1 = server-assigned timestamp, per the public data API
        self.client = grpc_client
        self.table_name = table_name
        self.ts = timestamp_micros

    def mutate_rows(
        self, rows: list[tuple[bytes, dict[str, dict[str, bytes]]]]
    ) -> list[tuple[int, int, str]]:
        """Returns [(index, status_code, message)] for FAILED entries
        only (empty list = all applied)."""
        from bento_spark.operators.protobuf import pb_decode, pb_encode

        entries = []
        for row_key, families in rows:
            mutations = [
                {"set_cell": {
                    "family_name": fam,
                    "column_qualifier": (
                        q.encode() if isinstance(q, str) else q
                    ),
                    "timestamp_micros": self.ts,
                    "value": v.encode() if isinstance(v, str) else v,
                }}
                for fam, cols in families.items()
                for q, v in cols.items()
            ]
            entries.append({"row_key": row_key, "mutations": mutations})
        req = pb_encode(
            {"table_name": self.table_name, "entries": entries},
            MUTATE_ROWS_REQUEST,
        )
        failed: list[tuple[int, int, str]] = []
        for msg in self.client.request_stream(
            "/google.bigtable.v2.Bigtable/MutateRows", req
        ):
            resp = pb_decode(msg, MUTATE_ROWS_RESPONSE)
            for e in resp.get("entries", []):
                st = e.get("status", {})
                if st.get("code", 0) != 0:
                    failed.append(
                        (e.get("index", 0), st["code"], st.get("message", ""))
                    )
        return failed


def _register() -> None:
    from bento_spark.sinks.connector import DeliveryError, register_transport

    @register_transport("gcp_bigtable")
    def _bigtable_transport(conf: dict):
        """``gcp_bigtable`` output: JSON rows keyed by ``key_field``
        written as SetCell mutations under ``column_family`` (one cell
        per JSON attribute). Per-entry failures: retryable status codes
        raise a retryable DeliveryError (the loop re-sends the batch —
        Bigtable mutations are idempotent per (key, qualifier, value)),
        others dead-letter."""
        from bento_spark.operators.grpc_wire import GrpcClient, GrpcError, H2Error

        key_field = conf.get("key_field", "id")
        family = conf.get("column_family", "cf")

        class T:
            def __init__(self):
                self.client = GrpcClient(
                    conf.get("host", "localhost"),
                    int(conf.get("port", 8086)),
                )
                self.writer = BigtableWriter(self.client, conf["table"])

            def send(self, batch: list[str]) -> None:
                rows = []
                for m in batch:
                    try:
                        doc = json.loads(m)
                    except ValueError as ex:
                        raise DeliveryError(
                            f"bigtable: not JSON: {ex}", retryable=False
                        ) from ex
                    if key_field not in doc:
                        raise DeliveryError(
                            f"bigtable: row missing key_field {key_field!r}",
                            retryable=False,
                        )
                    cells = {
                        str(k): json.dumps(v) if not isinstance(v, str) else v
                        for k, v in doc.items()
                    }
                    rows.append(
                        (str(doc[key_field]).encode(), {family: cells})
                    )
                try:
                    failed = self.writer.mutate_rows(rows)
                except (GrpcError, H2Error) as ex:
                    raise DeliveryError(str(ex), retryable=True) from ex
                if failed:
                    retryable = all(
                        code in RETRYABLE_CODES for _i, code, _m in failed
                    )
                    raise DeliveryError(
                        f"bigtable: {len(failed)} entries failed "
                        f"(first: {failed[0]})",
                        retryable=retryable,
                    )

            def close(self):
                self.client.close()

        return T()


_register()


# --- ReadRows (the input direction) ----------------------------------------

STRING_VALUE = {"fields": {1: ("value", "string")}}
BYTES_VALUE = {"fields": {1: ("value", "bytes")}}

READ_ROWS_REQUEST = {"fields": {
    1: ("table_name", "string"),
    2: ("rows", {"fields": {1: ("row_keys", "repeated bytes")}}),
    4: ("rows_limit", "int64"),
}}

READ_ROWS_RESPONSE = {"fields": {
    1: ("chunks", {"repeated": True, "fields": {
        1: ("row_key", "bytes"),
        2: ("family_name", STRING_VALUE),
        3: ("qualifier", BYTES_VALUE),
        4: ("timestamp_micros", "int64"),
        6: ("value", "bytes"),
        8: ("reset_row", "bool"),
        9: ("commit_row", "bool"),
    }}),
}}


class BigtableReader:
    """ReadRows with the protocol's chunk-merge semantics: a CellChunk
    omits row_key/family/qualifier when unchanged from the previous
    chunk (the stream is delta-compressed), reset_row discards the
    in-progress row, commit_row finalizes it — the public ReadRows
    state machine (bigtable.proto CellChunk docs)."""

    def __init__(self, grpc_client, table_name: str):
        self.client = grpc_client
        self.table_name = table_name

    def read_rows(
        self, row_keys: list[bytes] | None = None, limit: int = 0
    ) -> list[tuple[bytes, dict[str, dict[bytes, bytes]]]]:
        from bento_spark.operators.protobuf import pb_decode, pb_encode

        req: dict = {"table_name": self.table_name}
        if row_keys:
            req["rows"] = {"row_keys": row_keys}
        if limit:
            req["rows_limit"] = limit
        out: list[tuple[bytes, dict]] = []
        cur_key: bytes | None = None
        cur_fam: str | None = None
        cur_qual: bytes | None = None
        cur_cells: dict[str, dict[bytes, bytes]] = {}
        for msg in self.client.request_stream(
            "/google.bigtable.v2.Bigtable/ReadRows",
            pb_encode(req, READ_ROWS_REQUEST),
        ):
            resp = pb_decode(msg, READ_ROWS_RESPONSE)
            for ch in resp.get("chunks", []):
                if ch.get("reset_row"):
                    cur_key, cur_fam, cur_qual, cur_cells = None, None, None, {}
                    continue
                if ch.get("row_key"):
                    cur_key = ch["row_key"]
                if ch.get("family_name"):
                    cur_fam = ch["family_name"]["value"]
                if ch.get("qualifier") is not None:
                    cur_qual = ch["qualifier"].get("value", b"")
                if cur_key is None or cur_fam is None or cur_qual is None:
                    raise RuntimeError("bigtable: chunk before key/family/qualifier")
                if "value" in ch:
                    cur_cells.setdefault(cur_fam, {})[cur_qual] = ch["value"]
                if ch.get("commit_row"):
                    out.append((cur_key, cur_cells))
                    cur_key, cur_fam, cur_qual, cur_cells = None, None, None, {}
        if cur_key is not None:
            raise RuntimeError("bigtable: stream ended mid-row (no commit_row)")
        return out


def bigtable_rows(spark, conf: dict):
    """`gcp_bigtable` input direction: bounded ReadRows -> DataFrame
    (row_key string + one string column per qualifier of the configured
    family) — dimension loads for broadcast enrichment, the
    cassandra_rows/postgres_df shape."""
    from bento_spark.operators.grpc_wire import GrpcClient

    client = GrpcClient(conf.get("host", "localhost"), int(conf.get("port", 8086)))
    try:
        reader = BigtableReader(client, conf["table"])
        rows = reader.read_rows(
            [k.encode() for k in conf.get("row_keys", [])] or None,
            int(conf.get("limit", 0)),
        )
    finally:
        client.close()
    family = conf.get("column_family", "cf")
    quals = sorted({q for _k, fams in rows for q in fams.get(family, {})})
    data = [
        tuple([k.decode("utf-8")] + [
            fams.get(family, {}).get(q, b"").decode("utf-8") or None
            for q in quals
        ])
        for k, fams in rows
    ]
    cols = ", ".join(["row_key string"] + [f"`{q.decode()}` string" for q in quals])
    return spark.createDataFrame(data, cols)
