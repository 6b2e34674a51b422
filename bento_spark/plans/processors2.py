"""YAML registration, part 2 (processors): the remaining documented
processor names (website/docs/components/processors/) mapped onto the
existing operator library — store lookups (couchbase / mongodb /
nats_kv / nats_object_store), codecs (avro OCF, parquet via pyarrow,
schema-registry framing, dynamic xml), per-message SQL (sql_select),
file operations, Go-template transforms, rate_limit admission, and the
resource indirection — and `wasm`, running per-message guest
functions on the from-scratch interpreter (operators/wasm_vm.py +
wasmproc.py), which closes the processor inventory at 79/79.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bento_spark.operators.envelope import ERROR, ensure_envelope, per_message
from bento_spark.plans.pipeline import (
    PROCESSOR_RESOURCES,
    PROCESSORS,
    ConfigError,
    _apply_children,
    _lookup_processor,
)


# ---- store lookups over the kvstore URL factory ---------------------------

def _kv_get_processor(default_url: str, url_of):
    """`operator: get` store processors route through the existing kv
    enrichment (client-per-partition, batched); write operators belong
    to the store-keyed SINKS (the reference mirrors this split for
    at-least-once)."""

    def proc(df: DataFrame, conf) -> DataFrame:
        op = conf.get("operation") or conf.get("operator", "get")
        if op != "get":
            raise ConfigError(
                f"processor supports operation: get (writes are the "
                f"store-keyed output's job); got {op!r}"
            )
        kv_conf = {
            "url": url_of(conf) or default_url,
            "operator": "get",
            "key": conf.get("key") or conf.get("id", "key"),
            "result_column": conf.get("result_column", "kv_result"),
        }
        return PROCESSORS["kv"](df, kv_conf)

    return proc


def _cb_url(conf):
    u = conf.get("url", "couchbase://localhost:11210")
    bucket = conf.get("bucket", "default")
    return u if u.rstrip("/").endswith(bucket) else f"{u.rstrip('/')}/{bucket}"


PROCESSORS["couchbase"] = _kv_get_processor(
    "couchbase://localhost:11210/default", _cb_url)
PROCESSORS["mongodb"] = _kv_get_processor(
    "mongodb://localhost:27017/test.kv",
    lambda c: c.get("url"))
PROCESSORS["nats_kv"] = _kv_get_processor(
    "nats://localhost:4222/bento",
    lambda c: ((c.get("urls") or [c.get("url", "nats://localhost:4222")])[0]
               .rstrip("/") + "/" + c.get("bucket", "bento")))


def _nats_obj_client(conf):
    from urllib.parse import urlparse

    from bento_spark.operators.jetstream import NatsObjectStore

    urls = conf.get("urls") or [conf.get("url", "nats://localhost:4222")]
    u = urlparse(urls[0] if "://" in urls[0] else f"nats://{urls[0]}")
    return NatsObjectStore(u.hostname or "localhost", u.port or 4222,
                           bucket=conf["bucket"])


def _nats_obj_fetch(client, conf, key):
    return client.get(key).decode("utf-8", "replace")


PROCESSORS["nats_object_store"] = _lookup_processor(
    _nats_obj_client, _nats_obj_fetch)


# ---- codecs ---------------------------------------------------------------

def _proc_avro(df: DataFrame, conf) -> DataFrame:
    """`avro` (avro processor docs): operator to_json decodes OCF
    content to JSON rows; from_json encodes rows to one OCF blob."""
    import json as _json

    from bento_spark.operators.avro import avro_ocf_decode_col, avro_ocf_encode_col

    df = ensure_envelope(df)
    op = conf.get("operator", "to_json")
    if op == "to_json":
        # one OCF container -> one message per record (the reference's
        # scanner/unarchive contract for multi-record containers)
        other = [c for c in df.columns if c != "content"]
        return df.select(
            *other,
            F.explode(avro_ocf_decode_col(F.col("content"))).alias("content"),
        )
    schema = conf.get("schema")
    if isinstance(schema, str):
        schema = _json.loads(schema)
    if schema is None and conf.get("schema_path"):
        with open(str(conf["schema_path"]).removeprefix("file://")) as fh:
            schema = _json.load(fh)
    return df.withColumn(
        "content", avro_ocf_encode_col(F.col("content"), schema)
    )


PROCESSORS["avro"] = _proc_avro


def _proc_parquet_decode(df: DataFrame, conf) -> DataFrame:
    """`parquet_decode`: each binary content blob explodes into its
    rows as JSON documents (pyarrow, Arrow-batched)."""
    import io
    import json as _json
    from collections.abc import Iterator

    import pandas as pd

    df = ensure_envelope(df)
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                blob = r["content"]
                if isinstance(blob, str):
                    blob = blob.encode("latin-1")
                try:
                    table = pq.read_table(io.BytesIO(bytes(blob)))
                    for rec in table.to_pylist():
                        nr = r.copy()
                        nr["content"] = _json.dumps(
                            rec, separators=(",", ":"), default=str)
                        rows.append(nr)
                except Exception as ex:  # noqa: BLE001 - per-message error
                    nr = r.copy()
                    nr[ERROR] = f"parquet_decode: {ex}"
                    rows.append(nr)
            yield pd.DataFrame(rows, columns=pdf.columns) if rows else pdf.iloc[:0]

    return df.mapInPandas(run, schema)


def _proc_parquet_encode(df: DataFrame, conf) -> DataFrame:
    """`parquet_encode`: the batch's JSON documents become ONE parquet
    blob message (the reference's batch->single-part contract)."""
    import io
    import json as _json
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)

    df = ensure_envelope(df)
    out_schema = StructType([
        StructField("content", BinaryType()),
        StructField("n_rows", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs = []
        for pdf in batches:
            for c in pdf["content"]:
                try:
                    docs.append(_json.loads(c))
                except (ValueError, TypeError):
                    docs.append({"content": c})
        if docs:
            buf = io.BytesIO()
            pq.write_table(pa.Table.from_pylist(docs), buf)
            yield pd.DataFrame(
                {"content": [buf.getvalue()], "n_rows": [len(docs)]}
            )

    # one blob per PARTITION at scale; coalesce(1) gives the
    # reference's one-blob-per-batch for bounded gate inputs
    return df.coalesce(1).mapInPandas(run, out_schema)


PROCESSORS["parquet_decode"] = _proc_parquet_decode
PROCESSORS["parquet_encode"] = _proc_parquet_encode


def _sr_registry(conf):
    """``schemas:`` inline map, or ``url:`` for a live Confluent-API
    registry (lazy per-id fetch + cache, like the reference's
    getSchema; processor_schema_registry_decode.go:169)."""
    import json as _json

    reg = {}
    for k, v in (conf.get("schemas") or {}).items():
        reg[int(k)] = _json.loads(v) if isinstance(v, str) else v
    if reg:
        return reg
    url = conf.get("url")
    if url:
        from bento_spark.operators.protobuf import HttpSchemaRegistry

        return HttpSchemaRegistry(str(url))
    return reg


def _proc_sr_decode(df: DataFrame, conf) -> DataFrame:
    """`schema_registry_decode`: strip the magic-0x00 + BE schema-id
    frame and decode the body against the registered schema. A bad
    frame / unknown id errors the MESSAGE (content kept, `_error` set)
    like the reference's Process(), not the whole job."""
    from bento_spark.operators.envelope import ERROR
    from bento_spark.operators.protobuf import sr_decode_result_col

    df = ensure_envelope(df)
    df = df.withColumn(
        "__sr", sr_decode_result_col(
            F.col("content").cast("binary"), _sr_registry(conf)
        )
    )
    return (
        df.withColumn(
            "content",
            F.coalesce(F.col("__sr.out"), F.col("content").cast("string")),
        )
        .withColumn(ERROR, F.coalesce(F.col(ERROR), F.col("__sr.err")))
        .drop("__sr")
    )


def _proc_sr_encode(df: DataFrame, conf) -> DataFrame:
    from bento_spark.operators.protobuf import sr_encode_col

    df = ensure_envelope(df)
    return df.withColumn(
        "content",
        sr_encode_col(
            F.col("content"), int(conf.get("schema_id", 1)),
            _sr_registry(conf),
        ),
    )


PROCESSORS["schema_registry_decode"] = _proc_sr_decode
PROCESSORS["schema_registry_encode"] = _proc_sr_encode


def _proc_xml(df: DataFrame, conf) -> DataFrame:
    """`xml` (xml/processor.go): operator to_json — dynamic XML parse
    (stdlib ElementTree, Arrow-batched; attributes keyed ``-attr``,
    text ``#text``, repeated children fold to arrays — the reference's
    documented conversion rules)."""
    import json as _json
    import xml.etree.ElementTree as ET

    op = conf.get("operator", "to_json") if isinstance(conf, dict) else "to_json"
    if op != "to_json":
        raise ConfigError(f"xml: unknown operator {op!r}")

    def _elem(e):
        d: dict = {}
        for k, v in e.attrib.items():
            d[f"-{k}"] = v
        text = (e.text or "").strip()
        kids = list(e)
        if not kids:
            if d:
                if text:
                    d["#text"] = text
                return d
            return text
        for kid in kids:
            v = _elem(kid)
            if kid.tag in d:
                prev = d[kid.tag]
                d[kid.tag] = prev + [v] if isinstance(prev, list) else [prev, v]
            else:
                d[kid.tag] = v
        return d

    def call(row):
        root = ET.fromstring(row["content"])
        return _json.dumps({root.tag: _elem(root)}, separators=(",", ":"))

    return per_message(
        df, call, errors={ET.ParseError: lambda ex: f"xml: {ex}"}
    )


PROCESSORS["xml"] = _proc_xml


# ---- per-message SQL ------------------------------------------------------

def _proc_sql_select(df: DataFrame, conf) -> DataFrame:
    """`sql_select` (processor_sql_select.go): run a SELECT per message
    against a real database (postgres via pgwire; a registered Spark
    view otherwise) and store the rows as a JSON array in
    ``result_column`` — the reference's array-of-objects shape."""
    driver = conf.get("driver", "")
    cols = ", ".join(conf.get("columns") or ["*"])
    table = conf["table"]
    where = conf.get("where", "")
    sql = f"SELECT {cols} FROM {table}" + (f" WHERE {where}" if where else "")
    result = conf.get("result_column", "sql_result")
    if driver == "postgres":
        import json as _json
        from urllib.parse import urlparse

        from bento_spark.operators.pgwire import PostgresClient

        u = urlparse(conf["dsn"])

        def connect():
            return PostgresClient(
                host=u.hostname or "localhost", port=u.port or 5432,
                user=u.username or "postgres", password=u.password or "",
                database=(u.path or "/postgres").lstrip("/"),
            )

        def call(client, row):
            names, rows = client.query(sql)
            return _json.dumps(
                [dict(zip(names, r)) for r in rows],
                separators=(",", ":"), default=str,
            )

        # every message is queried; a failed query fails the task
        return per_message(
            df, call, out=result, open=connect, skip_errored=False, errors={}
        )
    # Spark-catalog fallback: the dimension is a registered view —
    # one driver-side query, result broadcast as a literal (bounded
    # dimension reads, the sql_select enrichment contract)
    import json as _json

    rows = [r.asDict(recursive=True)
            for r in df.sparkSession.sql(sql).collect()]
    return ensure_envelope(df).withColumn(
        result, F.lit(_json.dumps(rows, separators=(",", ":"), default=str))
    )


PROCESSORS["sql_select"] = _proc_sql_select


# ---- file operations ------------------------------------------------------

def _proc_file(df: DataFrame, conf) -> DataFrame:
    """`file` processor: per-message file operations (read / write /
    delete / move / stat) with interpolated paths — a narrow
    Arrow-batched map; failures flag ``_error``, never the task."""
    import json as _json
    import os

    from bento_spark.bloblang.field import compile_field

    op = conf.get("operation", "read")
    df = ensure_envelope(df)
    df = df.withColumn("__fp", compile_field(str(conf.get("path", "")), df))
    to_tpl = str(conf.get("to", ""))
    df = df.withColumn(
        "__fp2",
        compile_field(to_tpl, df) if to_tpl else F.lit(None).cast("string"),
    )

    def call(row):
        path, c = row["__fp"], row["content"]
        if op == "read":
            with open(path, encoding="utf-8", errors="replace") as fh:
                return fh.read()
        if op == "write":
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(c if c is not None else "")
        elif op == "delete":
            os.remove(path)
        elif op in ("move", "rename"):
            os.replace(path, row["__fp2"])
        elif op == "stat":
            st = os.stat(path)
            return _json.dumps({
                "name": os.path.basename(path),
                "size": st.st_size,
                "mod_time_unix": int(st.st_mtime),
                "is_dir": os.path.isdir(path),
            }, separators=(",", ":"))
        else:
            raise ValueError(f"unknown operation {op!r}")
        return c

    return per_message(
        df, call, errors={Exception: lambda ex: f"file {op}: {ex}"}
    ).drop("__fp", "__fp2")


PROCESSORS["file"] = _proc_file


# ---- template / rate_limit / resource / sync_response ---------------------

def _proc_template(df: DataFrame, conf) -> DataFrame:
    """`template`: Go-template text transform over the document. The
    supported subset is field actions — `{{ .a }}` / `{{ .a.b }}` /
    `{{ . }}` — which covers the data-templating role; control
    constructs (range/if) raise clearly rather than mis-render."""
    import json as _json
    import re as _re

    text = str(conf.get("text", "") if isinstance(conf, dict) else conf)
    if _re.search(r"\{\{-?\s*(range|if|with|template|block)\b", text):
        raise ConfigError(
            "template: only field actions ({{ .path }}) are supported"
        )
    pat = _re.compile(r"\{\{-?\s*\.([A-Za-z0-9_.]*)\s*-?\}\}")

    def call(row):
        try:
            doc = _json.loads(row["content"])
        except (ValueError, TypeError):
            doc = row["content"]

        def sub(m):
            cur = doc
            path = m.group(1)
            if path:
                for part in path.split("."):
                    cur = cur.get(part) if isinstance(cur, dict) else None
            if cur is None:
                return "<no value>"  # Go's missing-key render
            if isinstance(cur, (dict, list)):
                return _json.dumps(cur, separators=(",", ":"))
            return str(cur)

        return pat.sub(sub, text)

    return per_message(df, call, skip_errored=False, errors={})


PROCESSORS["template"] = _proc_template


def _proc_rate_limit(df: DataFrame, conf) -> DataFrame:
    """`rate_limit` processor (processor_rate_limit.go): admission
    against the shared windowed budget, one admit per Arrow batch (the
    engine's batch-unit semantics; the `redis` backend coordinates
    across processes for real distribution)."""
    from collections.abc import Iterator

    import pandas as pd

    from bento_spark.operators.ratelimit import get_rate_limit

    label = conf if isinstance(conf, str) else conf["resource"]
    # resolve at BUILD time (fail fast, and the registry lives in the
    # driver process — Python workers don't see it). The captured
    # object paces per worker; the `redis` backend's budget is
    # server-side and therefore globally shared, the `local` backend's
    # is per-process (documented: distributed admission = redis)
    rl = get_rate_limit(label)
    df = ensure_envelope(df)
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rl.throttle(len(pdf))
            yield pdf

    return df.mapInPandas(run, schema)


PROCESSORS["rate_limit"] = _proc_rate_limit


def _proc_resource(df: DataFrame, conf) -> DataFrame:
    """`resource` processor: indirection through a labelled
    definition (`processor_resources:`)."""
    label = conf if isinstance(conf, str) else conf["resource"]
    if label not in PROCESSOR_RESOURCES:
        from bento_spark.plans.pipeline import PLACEHOLDER_RESOURCES

        if PLACEHOLDER_RESOURCES[0]:
            return df  # lint-mode placeholder: noop
        raise ConfigError(
            f"unknown processor resource {label!r} "
            f"(have {sorted(PROCESSOR_RESOURCES)})"
        )
    return _apply_children(df, [dict(PROCESSOR_RESOURCES[label])], "resource")


PROCESSORS["resource"] = _proc_resource


def _proc_sync_response(df: DataFrame, conf) -> DataFrame:
    """`sync_response` processor (processor_sync_response.go): snapshot
    the message as the request's response. The integrated request/reply
    path is SyncResponseServer (sources/http_server.py:258) — there the
    PROCESSED DOCUMENT IS the HTTP response already, so within this
    engine the processor is the identity on the document (the reply
    copy happens at the server boundary, matching the reference's
    store-and-continue contract)."""
    return ensure_envelope(df)


PROCESSORS["sync_response"] = _proc_sync_response


# ---- wasm (from-scratch interpreter, operators/wasm_vm.py) -----------------

def _proc_wasm(df: DataFrame, conf) -> DataFrame:
    from bento_spark.operators.wasmproc import wasm_processor

    return wasm_processor(df, conf)


PROCESSORS["wasm"] = _proc_wasm
