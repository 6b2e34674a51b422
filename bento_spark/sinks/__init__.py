"""Sink registry: config component -> batch write / streaming query.

The reference's 78 outputs (SURVEY §2.4) group into: file-format sinks
(native writers, dynamic paths via partitionBy on derived columns —
the `${! interpolation }` pattern), console/noop/memory, and the flow
patterns `switch` / `fallback` / `broker` implemented in the writer
layer (foreachBatch for streams, sequential writes for batch). DLQ =
`reject_errored`: the error-flagged rows go to a second sink.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

SINKS: dict[str, Callable] = {}


def register_sink(name: str):
    def deco(fn):
        SINKS[name] = fn
        return fn

    return deco


def run_sink(df: DataFrame, is_streaming: bool, name: str, conf: dict):
    """Execute the sink. Batch: blocking write, returns None. Streaming:
    returns the started StreamingQuery (caller stops/awaits), started
    under the engine's one start policy (streaming/start.py)."""
    if name not in SINKS:
        raise ValueError(f"unknown output type {name!r} (have {sorted(SINKS)})")
    conf = conf or {}
    if not is_streaming:
        return SINKS[name](df, False, conf)
    from bento_spark.streaming.start import streaming_start

    checkpoint = conf.get("checkpoint") if isinstance(conf, dict) else None
    with streaming_start(df.sparkSession, checkpoint):
        return SINKS[name](df, True, conf)


def _file_sink(fmt: str):
    def fn(df: DataFrame, is_streaming: bool, conf: dict):
        path = conf["path"]
        mode = conf.get("mode", "append")
        parts = list(conf.get("partition_by", []))
        if "${!" in str(path):
            # interpolated path (field/expression.go): each ${! expr }
            # segment becomes a derived partition column -> hive-style
            # dirs under the static base (distributed dynamic paths)
            from bento_spark.bloblang.field import compile_field, split_dynamic_path

            path, exprs = split_dynamic_path(path)
            for i, src in enumerate(exprs):
                col_name = f"__path{i}"
                df = df.withColumn(col_name, compile_field(f"${{! {src} }}", df))
                parts.append(col_name)
        rl = None
        if "rate_limit" in conf:
            # `rate_limit: <label>` (processor_rate_limit.go): admission
            # unit is the batch — the driver blocks until the shared
            # windowed budget admits the batch's row count
            from bento_spark.operators.ratelimit import get_rate_limit

            rl = get_rate_limit(conf["rate_limit"])
        if is_streaming:
            if rl is not None:
                def write_batch(bdf, _bid, _fmt=fmt, _path=path, _parts=parts):
                    rows = bdf.count()
                    rl.throttle(rows)
                    w = bdf.write.format(_fmt).mode("append")
                    if _parts:
                        w = w.partitionBy(*_parts)
                    w.save(_path)

                w = df.writeStream.foreachBatch(write_batch)
                w = w.option("checkpointLocation", conf["checkpoint"])
                if conf.get("available_now", True):
                    w = w.trigger(availableNow=True)
                return w.start()
            w = df.writeStream.format(fmt).option("path", path)
            w = w.option("checkpointLocation", conf["checkpoint"])
            if parts:
                w = w.partitionBy(*parts)
            if conf.get("available_now", True):
                w = w.trigger(availableNow=True)
            return w.start()
        if rl is not None:
            rl.throttle(df.count())
        w = df.write.format(fmt).mode(mode)
        if parts:
            w = w.partitionBy(*parts)
        for k, v in conf.get("options", {}).items():
            w = w.option(k, v)
        w.save(path)
        return None

    return fn


register_sink("parquet")(_file_sink("parquet"))
register_sink("csv")(_file_sink("csv"))
register_sink("json")(_file_sink("json"))


@register_sink("console")
def _console(df: DataFrame, is_streaming: bool, conf: dict):
    """`stdout` output (SURVEY §2.4 files/local)."""
    if is_streaming:
        return (
            df.writeStream.format("console")
            .trigger(availableNow=True)
            .option("numRows", conf.get("num_rows", 20))
            .start()
        )
    df.show(conf.get("num_rows", 20), truncate=False)
    return None


@register_sink("noop")
def _noop(df: DataFrame, is_streaming: bool, conf: dict):
    """`drop` output (output_drop.go:14) / bench target."""
    if is_streaming:
        return df.writeStream.format("noop").trigger(availableNow=True).start()
    df.write.format("noop").mode("overwrite").save()
    return None


@register_sink("memory")
def _memory(df: DataFrame, is_streaming: bool, conf: dict):
    """In-memory table (test harness; reference `inproc`-ish)."""
    name = conf["name"]
    if is_streaming:
        return (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(conf.get("output_mode", "append"))
            .trigger(availableNow=True)
            .start()
        )
    # an output DELIVERS: materialize (persist + count) so the pipeline
    # observably ran — `metric` observations only produce values once
    # an action fires (a lazy temp view alone would leave
    # Observation.get blocking forever), and side-effecting processors
    # must not re-run when the view is later read
    df = df.persist()
    df.count()
    df.createOrReplaceTempView(name)
    return None


@register_sink("kafka")
def _kafka(df: DataFrame, is_streaming: bool, conf: dict):
    """`kafka` output -> Spark's native Kafka sink. The interpolated
    `${! meta("topic") }` pattern is a `topic` COLUMN (read natively by
    the sink); requires connector jars + a broker (absent in this
    container — untested passthrough)."""
    from pyspark.sql import functions as F

    out = df
    if "topic_column" in conf:
        out = out.withColumn("topic", F.col(conf["topic_column"]))
    elif "topic" in conf and "${!" in str(conf["topic"]):
        # interpolated topic -> the `topic` column the native sink reads
        from bento_spark.bloblang.field import compile_field

        out = out.withColumn("topic", compile_field(conf["topic"], out))
        conf = {k: v for k, v in conf.items() if k != "topic"}
    writer = (out.writeStream if is_streaming else out.write).format("kafka").option(
        "kafka.bootstrap.servers", conf["addresses"]
    )
    if "topic" in conf:
        writer = writer.option("topic", conf["topic"])
    if is_streaming:
        writer = writer.option("checkpointLocation", conf["checkpoint"])
        return writer.start()
    writer.save()
    return None


# franz-go-backed variants share the kafka config surface
register_sink("kafka_franz")(_kafka)
register_sink("redpanda")(_kafka)
register_sink("redpanda_common")(_kafka)


@register_sink("drop")
def _drop(df: DataFrame, is_streaming: bool, conf: dict):
    """`drop` output (output_drop.go): discard after processing — the
    noop format still materializes the plan so processors run. Without
    a configured `checkpoint`, each query gets a fresh temporary one, so
    no later pipeline resumes from (or clashes with) its offsets."""
    if is_streaming:
        w = df.writeStream.format("noop")
        if "checkpoint" in conf:
            w = w.option("checkpointLocation", conf["checkpoint"])
        return w.start()
    df.write.format("noop").mode("overwrite").save()
    return None


def _transport_sink(backend: str):
    """Named remote outputs (discord/slack/...) delegate to the generic
    connector delivery loop with their conf as the transport conf."""

    def fn(df: DataFrame, is_streaming: bool, conf: dict):
        from bento_spark.sinks import connector as C

        conf = dict(conf or {})
        kw = {
            k: conf.pop(k)
            for k in ("batch_size", "retries", "backoff_s", "dlq_path", "envelope")
            if k in conf
        }
        if is_streaming:
            return C.deliver_stream(
                df, backend, conf, checkpoint=conf.pop("checkpoint"), **kw
            )
        C.deliver(df, backend, conf, **kw)
        return None

    return fn


register_sink("discord")(_transport_sink("discord"))


# Every delivery-loop transport under its REFERENCE output name
# (website/docs/components/outputs/) — a reference user's
# `output: {aws_s3: {...}}` must resolve without knowing about the
# generic `connector:` spelling. Differing names map explicitly; the
# rest are identity. Registration is name-level only: nothing dials
# until the pipeline RUNS (transports construct inside the delivery
# loop), so `lint` stays offline.
_TRANSPORT_OUTPUTS = {
    "amqp_0_9": "amqp_0_9",
    "amqp_1": "amqp_1",
    "aws_dynamodb": "aws_dynamodb",
    "aws_kinesis": "kinesis",
    "aws_kinesis_firehose": "kinesis_firehose",
    "aws_s3": "s3",
    "aws_s3_stream": "aws_s3_stream",
    "aws_sns": "sns",
    "aws_sqs": "sqs",
    "azure_blob_storage": "azure_blob_storage",
    "azure_cosmosdb": "azure_cosmosdb",
    "azure_queue_storage": "azure_queue",
    "azure_table_storage": "azure_table_storage",
    "beanstalkd": "beanstalkd",
    "cache": "cache",
    "cassandra": "cassandra",
    "couchbase": "couchbase",
    "cypher": "cypher",
    "datadog_logs": "datadog_logs",
    "duckdb_append": "duckdb_append",
    "elasticsearch": "elasticsearch",
    "elasticsearch_v2": "elasticsearch_v2",
    "gcp_bigquery": "gcp_bigquery",
    "gcp_bigquery_write_api": "gcp_bigquery_write_api",
    "gcp_bigtable": "gcp_bigtable",
    "gcp_cloud_storage": "gcp_cloud_storage",
    "gcp_pubsub": "gcp_pubsub",
    "hdfs": "hdfs",
    "http_client": "http",
    "mongodb": "mongodb",
    "mqtt": "mqtt",
    "nanomsg": "nanomsg",
    "nats": "nats",
    "nats_jetstream": "nats_jetstream",
    "nsq": "nsq",
    "opensearch": "opensearch",
    "pulsar": "pulsar",
    "pusher": "pusher",
    "questdb": "questdb",
    "redis_hash": "redis_hash",
    "redis_list": "redis_list",
    "redis_pubsub": "redis_pubsub",
    "redis_streams": "redis_streams",
    "slack_webhook": "slack_webhook",
    "snowflake_put": "snowflake_put",
    "socket": "socket",
    "splunk_hec": "splunk_hec",
    "sql_insert": "postgres",
    "sql_raw": "postgres",
    "zmq4": "zmq4",
    "zmq4n": "nanomsg",
}
for _oname, _tname in _TRANSPORT_OUTPUTS.items():
    if _oname not in SINKS:
        register_sink(_oname)(_transport_sink(_tname))


@register_sink("file")
def _file_out(df: DataFrame, is_streaming: bool, conf: dict):
    """`file` output (output_file.go): one message per line as text —
    the document serializes to `content` if typed; interpolated paths
    ride the shared dynamic-partition mechanics."""
    from pyspark.sql import functions as F

    from bento_spark.operators.envelope import data_cols, ensure_envelope

    df = ensure_envelope(df)
    if "content" not in df.columns:
        cols = data_cols(df)
        df = df.withColumn("content", F.to_json(F.struct(*cols))).drop(*cols)
    df = df.select(F.col("content").alias("value"))
    return _file_sink("text")(df, is_streaming, conf)


register_sink("stdout")(SINKS["console"])  # output_stdout.go alias
register_sink("inproc")(SINKS["memory"])   # in-process handoff
register_sink("sql")(SINKS["sql_insert"])  # legacy alias (output_sql.go)
register_sink("nats_stream")(SINKS["nats_jetstream"])  # STAN is EOL; JetStream succeeds it


@register_sink("switch")
def _switch(df: DataFrame, is_streaming: bool, conf: dict):
    """Output `switch` (output_switch.go:164): route each row to the FIRST
    case whose check passes (reference default `continue: false`,
    output_switch.go:440); a case with `continue: true` lets matching rows
    also flow to later cases. No-check case is a catch-all."""
    from pyspark.sql import functions as F

    from bento_spark.bloblang import compile_expr

    cases = conf.get("cases", [])
    results = []
    blocked = F.lit(False)  # rows already consumed by a non-continue case
    for case in cases:
        check = case.get("check")
        sub = case["output"]
        (sname, sconf), = sub.items()
        cond = compile_expr(check, df=df) if check else F.lit(True)
        part = df.filter(cond & ~blocked)
        if not case.get("continue", False):
            blocked = blocked | cond
        results.append(run_sink(part, is_streaming, sname, sconf))
    return results


@register_sink("broker")
def _broker_out(df: DataFrame, is_streaming: bool, conf: dict):
    """Output `broker` (output_broker.go:150). Patterns:
    - fan_out (default) / fan_out_sequential: every sub-output gets the
      whole stream; sequential writes strictly in config order
      (output_broker_fan_out_sequential.go — under Spark the batch write
      loop is already ordered, so the distinction is that fan_out MAY be
      reordered in future async impls while sequential never is).
    - round_robin (output_broker_round_robin.go): rows are dealt to
      outputs in rotation — deterministic modulo over a stable row
      number so each output gets ~1/N of rows.
    - greedy (output_broker_greedy.go): whichever consumer is free takes
      the next message; under a batch engine the throughput-equivalent
      is balanced splitting, implemented as round_robin dealing.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    outs = conf.get("outputs", [])
    pattern = conf.get("pattern", "fan_out")
    results = []
    if pattern in ("fan_out", "fan_out_sequential"):
        for sub in outs:
            (sname, sconf), = sub.items()
            results.append(run_sink(df, is_streaming, sname, sconf))
        return results
    if pattern in ("round_robin", "greedy"):
        n = len(outs)
        if is_streaming:
            # Deal per micro-batch via foreachBatch (row_number needs a
            # bounded frame).
            def write_batch(bdf, _epoch):
                dealt = bdf.withColumn(
                    "__slot",
                    (
                        F.row_number().over(
                            Window.orderBy(F.monotonically_increasing_id())
                        )
                        % n
                    ),
                )
                for i, sub in enumerate(outs):
                    (sname, sconf), = sub.items()
                    run_sink(
                        dealt.filter(F.col("__slot") == i).drop("__slot"),
                        False,
                        sname,
                        sconf,
                    )

            return (
                df.writeStream.foreachBatch(write_batch)
                .trigger(availableNow=True)
                .start()
            )
        # Batch: deal within each partition (row position % n) — every
        # partition rotates through the outputs, so imbalance is at most
        # one row per partition and there is NO global sort/shuffle.
        dealt = df.withColumn(
            "__slot",
            (
                F.row_number().over(
                    Window.partitionBy(F.spark_partition_id()).orderBy(
                        F.monotonically_increasing_id()
                    )
                )
                - 1
            )
            % n,
        )
        for i, sub in enumerate(outs):
            (sname, sconf), = sub.items()
            results.append(
                run_sink(dealt.filter(F.col("__slot") == i).drop("__slot"), False, sname, sconf)
            )
        return results
    raise ValueError(f"unknown broker pattern {pattern!r}")


@register_sink("fallback")
def _fallback(df: DataFrame, is_streaming: bool, conf: dict):
    """`fallback` output (output_fallback.go:18): try outputs in order,
    first success wins (batch semantics; streaming uses foreachBatch)."""
    outs = conf.get("outputs", [])
    if is_streaming:
        def write_batch(bdf, _epoch):
            last = None
            for sub in outs:
                (sname, sconf), = sub.items()
                try:
                    run_sink(bdf, False, sname, sconf)
                    return
                except Exception as e:  # noqa: BLE001
                    last = e
            if last:
                raise last

        return df.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    last = None
    for sub in outs:
        (sname, sconf), = sub.items()
        try:
            run_sink(df, False, sname, sconf)
            return None
        except Exception as e:  # noqa: BLE001
            last = e
    raise last


@register_sink("connector")
def _connector(df: DataFrame, is_streaming: bool, conf: dict):
    """Generic remote-delivery output (the kafka/queue/DB family):
    `backend:` picks a registered transport (sinks/connector.py), the
    rest of the conf is the delivery loop's knobs."""
    from bento_spark.sinks import connector as C

    kw = {
        k: conf[k]
        for k in ("batch_size", "retries", "backoff_s", "dlq_path", "envelope")
        if k in conf
    }
    backend = conf["backend"]
    bconf = conf.get("conf", {})
    if is_streaming:
        return C.deliver_stream(
            df, backend, bconf, checkpoint=conf["checkpoint"], **kw
        )
    C.deliver(df, backend, bconf, **kw)
    return None

class RejectedError(RuntimeError):
    """Raised by the `reject` output: the delivery layer treats it like
    any other failed write (at-least-once retry / DLQ routing), which is
    the Spark-side equivalent of the reference's upstream nack."""


@register_sink("reject")
def _reject(df: DataFrame, is_streaming: bool, conf: dict):
    """`reject` output (output_reject.go:18): every message routed here
    is nacked with an (interpolated) reason. Bento pushes the nack back
    to the input's ack channel; a checkpoint-based engine has no
    per-message nack, so the honest mapping is: materialize the reason
    per row into a rejection record, then fail the write (raising
    RejectedError) so the delivery layer's retry/DLQ contract kicks in.
    `dlq_path` captures the rejected rows + reasons durably first —
    with it set, reject behaves as a terminal DLQ route (no raise),
    which is the pattern the reference docs recommend pairing with
    `switch` for invalid-message routing."""
    from pyspark.sql import functions as F

    reason = conf.get("reason", "message rejected")
    out = df
    if "${!" in str(reason):
        from bento_spark.bloblang.field import compile_field

        out = df.withColumn("_reject_reason", compile_field(reason, df))
    else:
        out = df.withColumn("_reject_reason", F.lit(str(reason)))

    def write_rejections(bdf):
        n = bdf.count()
        if n == 0:
            return
        if "dlq_path" in conf:
            bdf.write.mode("append").parquet(conf["dlq_path"])
            return
        sample = [r["_reject_reason"] for r in bdf.select("_reject_reason").head(3)]
        raise RejectedError(f"{n} message(s) rejected: {sample}")

    if is_streaming:
        return (
            out.writeStream.foreachBatch(lambda bdf, _e: write_rejections(bdf))
            .trigger(availableNow=True)
            .start()
        )
    write_rejections(out)
    return None


@register_sink("reject_errored")
def _reject_errored(df: DataFrame, is_streaming: bool, conf: dict):
    """`reject_errored` output (output_reject_errored.go): wrap a child
    output; rows whose `_error` column is set are rejected (routed to
    the `reject` sink above — durable DLQ with `dlq_path`, else raise)
    while clean rows flow to the child."""
    from bento_spark.operators.processors import reject_errored as _split

    (sname, sconf), = conf["output"].items()
    ok_df, bad_df = _split(df)
    res = run_sink(ok_df, is_streaming, sname, sconf)
    rej_conf = {"reason": conf.get("reason", "${! error() }")}
    if "dlq_path" in conf:
        rej_conf["dlq_path"] = conf["dlq_path"]
    rej = run_sink(bad_df, is_streaming, "reject", rej_conf)
    return [res, rej] if is_streaming else None


@register_sink("drop_on")
def _drop_on(df: DataFrame, is_streaming: bool, conf: dict):
    """`drop_on` output (output_drop_on.go): wrap a child output and
    DROP messages in conditions where the reference would otherwise
    retry forever: `error: true` swallows child write failures (the
    batch is dropped, delivery continues), `error_patterns` narrows the
    swallow to matching failure text. `back_pressure` (drop when the
    child blocks) has no analog under a pull-based batch engine —
    ingestion backpressure is governed by trigger sizing — and is
    accepted but ignored (documented no-op)."""
    import re as _re

    (sname, sconf), = conf["output"].items()
    swallow = bool(conf.get("error", False))
    pats = [_re.compile(p) for p in conf.get("error_patterns", [])]

    def matches(exc: Exception) -> bool:
        if not swallow and not pats:
            return False
        if pats:
            return any(p.search(str(exc)) for p in pats)
        return True

    if is_streaming:
        def write_batch(bdf, _epoch):
            try:
                run_sink(bdf, False, sname, sconf)
            except Exception as e:  # noqa: BLE001
                if not matches(e):
                    raise

        return (
            df.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .start()
        )
    try:
        run_sink(df, False, sname, sconf)
    except Exception as e:  # noqa: BLE001
        if not matches(e):
            raise
    return None


# part-2 registrations (websocket/grpc/nats_kv/object_store/subprocess
# transports + dynamic/resource/retry/sync_response/http_server sinks)
from bento_spark.sinks import yaml_outputs2 as _yaml_outputs2  # noqa: E402,F401
