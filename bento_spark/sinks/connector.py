"""Generic remote-delivery sink contract — the kafka/cloud-queue/DB
output family, Spark-shaped.

Reference parity: the remote outputs under internal/impl/
{kafka,aws,gcp,redis,nats,...}/output*.go all reduce to the same loop —
serialize a batch, hand it to a client, retry with backoff, dead-letter
what still fails (output_broker / fallback wrap the same loop). This
module is that loop as a distributed contract:

* serialization happens JVM-side (``to_json(struct(*))``) — Python only
  ever sees ready-to-send strings;
* ONE transport per Spark partition (never per row), fed Arrow batches
  re-chunked to ``batch_size`` records per send;
* bounded retries under the engine's one retry policy
  (bento_spark/retry.py): jittered exponential backoff, and a fresh
  transport after a connection error; exhausted batches go to a
  dead-letter ndjson dir when ``dlq_path`` is set, else the task fails
  (Spark's task retry = at-least-once);
* each delivery returns a tiny receipt row, so a 1000-executor run
  ships O(batches) receipts to the driver, never payloads.

Delivery is at-least-once: a retried task re-sends its partition's
batches. ``envelope=True`` stamps each record with a stable
``(partition, seq)`` key so an idempotent receiver can dedupe — the
same contract Bento documents for its queue outputs.

Working offline backends: ``sqlite`` (file-backed table = the JDBC
stand-in, WAL, cross-process), ``ndjson_dir`` (append-one-object-per-
batch = the object-store PUT stand-in), ``memory`` (local-mode test
double), ``http`` (POSTs ndjson bodies through the injectable transport
of operators/http.py). A kafka-python/boto3 producer drops into
``register_transport`` unchanged when its library exists.
"""

from __future__ import annotations

import json as _json
import os
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bento_spark import retry


class DeliveryError(Exception):
    """Transport failure. ``retryable=False`` skips straight to DLQ."""

    def __init__(self, msg: str, retryable: bool = True):
        super().__init__(msg)
        self.retryable = retryable


# ---- transport registry ---------------------------------------------------

TRANSPORTS: dict[str, Callable[[dict], "object"]] = {}


def register_transport(name: str):
    def deco(factory):
        TRANSPORTS[name] = factory
        return factory

    return deco


@register_transport("sqlite")
def _sqlite_transport(conf: dict):
    """JDBC-insert stand-in: one WAL connection per partition, one
    transaction per batch (sql_insert semantics without jars)."""
    import sqlite3

    class T:
        def __init__(self):
            self.con = sqlite3.connect(conf["path"], timeout=30)
            # concurrent partitions race on the WAL switch (exclusive
            # lock) and the DDL — retry instead of failing the task
            retry.Client(
                lambda: self.con,
                resend=lambda ex: isinstance(ex, sqlite3.OperationalError),
            ).run(self._init)

        def _init(self, con) -> None:
            try:
                con.execute("PRAGMA journal_mode=WAL")
                con.execute(
                    f"CREATE TABLE IF NOT EXISTS "
                    f"{conf.get('table', 'messages')} (v TEXT)"
                )
                con.commit()
            except sqlite3.OperationalError:
                con.rollback()
                raise

        def send(self, batch: list[str]) -> None:
            try:
                self.con.executemany(
                    f"INSERT INTO {conf.get('table', 'messages')} VALUES (?)",
                    [(r,) for r in batch],
                )
                self.con.commit()
            except sqlite3.OperationalError as ex:  # lock contention: retry
                self.con.rollback()
                raise DeliveryError(str(ex)) from ex

        def close(self):
            self.con.close()

    return T()


@register_transport("ndjson_dir")
def _ndjson_transport(conf: dict):
    """Object-store PUT stand-in: each send writes one immutable object
    keyed by (pid, seq) — re-sends overwrite idempotently."""

    class T:
        def __init__(self):
            os.makedirs(conf["path"], exist_ok=True)
            self.pid = os.getpid()
            self.seq = 0

        def send(self, batch: list[str]) -> None:
            key = f"batch-{self.pid}-{self.seq:06d}.ndjson"
            tmp = os.path.join(conf["path"], "." + key)
            with open(tmp, "w") as f:
                f.write("\n".join(batch) + "\n")
            os.replace(tmp, os.path.join(conf["path"], key))
            self.seq += 1

        def close(self):
            pass

    return T()


def _memory_dir(name: str) -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), "bento_spark_memsink", name)


@register_transport("memory")
def _memory_transport(conf: dict):
    """Local-mode test double. PySpark's Python workers are separate
    processes even on local[*], so 'memory' is really a spill dir the
    driver reads back via ``memory_sink_contents``."""

    class T:
        def __init__(self):
            self.dir = _memory_dir(conf.get("name", "default"))
            os.makedirs(self.dir, exist_ok=True)
            self.fail_first = int(conf.get("fail_first", 0))
            self.fails = 0

        def send(self, batch: list[str]) -> None:
            if self.fails < self.fail_first:
                self.fails += 1
                raise DeliveryError("injected transient failure")
            if conf.get("always_fail"):
                raise DeliveryError("injected permanent failure", retryable=True)
            import tempfile

            fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".part")
            with os.fdopen(fd, "w") as f:
                f.write("\n".join(batch) + "\n")
            os.replace(tmp, tmp[: -len(".part")] + ".ndjson")

        def close(self):
            pass

    return T()


@register_transport("http")
def _http_transport(conf: dict):
    """`http_client` output (internal/impl/io/output_http_client.go):
    one POST per batch, ndjson body, via the injectable transport."""
    from bento_spark.operators.http import fake_echo_transport, urllib_transport

    send_fn = fake_echo_transport if conf.get("fake") else urllib_transport

    class T:
        def send(self, batch: list[str]) -> None:
            status, _body = send_fn("POST", conf["url"], "\n".join(batch))
            if status >= 500:
                raise DeliveryError(f"HTTP {status}")
            if status >= 400:
                raise DeliveryError(f"HTTP {status}", retryable=False)

        def close(self):
            pass

    return T()


@register_transport("kafka")
def _kafka_transport(conf: dict):
    """``kafka``/``kafka_franz`` output
    (internal/impl/kafka/output_kafka_franz.go): real wire-protocol
    producer (operators/kafka_wire.py — Metadata v0 + Produce v3,
    message-format-v2 batches, CRC32C). One connection per Spark
    partition; each send is ONE Produce request; messages round-robin
    across the topic's partitions from metadata. Retriable broker codes
    (leader moves, timeouts, ISR shortfalls) map to retryable
    DeliveryError for the loop's backoff; the rest dead-letter."""
    from bento_spark.operators.kafka_wire import KafkaError, KafkaProducerClient

    RETRIABLE = {5, 6, 7, 19, 20}  # leader/timeout/replication transients

    class T:
        def __init__(self):
            self.client = KafkaProducerClient(
                conf.get("host", "localhost"),
                int(conf.get("port", 9092)),
                client_id=conf.get("client_id", "bento-spark"),
                acks=int(conf.get("acks", -1)),
            )
            self.topic = conf["topic"]
            md = self.client.metadata(self.topic)
            self.partitions = sorted(md["partitions"]) or [0]
            self.rr = 0

        def send(self, batch: list[str]) -> None:
            part = self.partitions[self.rr % len(self.partitions)]
            self.rr += 1
            try:
                self.client.produce(
                    self.topic, part, [(None, v.encode("utf-8")) for v in batch]
                )
            except KafkaError as ex:
                raise DeliveryError(
                    str(ex), retryable=ex.code in RETRIABLE
                ) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("postgres")
def _postgres_transport(conf: dict):
    """``sql_insert``/``sql_raw`` output against a real PostgreSQL
    endpoint (internal/impl/sql/output_sql_insert.go): one multi-row
    INSERT per batch over the from-scratch pgwire client
    (operators/pgwire.py, SCRAM-SHA-256). Connection-class errors
    (SQLSTATE 08xxx) retry; constraint/data errors dead-letter."""
    from bento_spark.operators.pgwire import PgError, PostgresClient, pg_quote

    table = conf.get("table", "messages")
    column = conf.get("column", "v")

    class T:
        def __init__(self):
            self.client = PostgresClient(
                conf.get("host", "localhost"),
                int(conf.get("port", 5432)),
                user=conf.get("user", "postgres"),
                password=conf.get("password", ""),
                database=conf.get("database", "postgres"),
            )

        def send(self, batch: list[str]) -> None:
            values = ", ".join(f"({pg_quote(v)})" for v in batch)
            try:
                self.client.execute(
                    f"INSERT INTO {table} ({column}) VALUES {values}"
                )
            except PgError as ex:
                retryable = ex.fields.get("C", "").startswith("08")
                raise DeliveryError(str(ex), retryable=retryable) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("gcp_pubsub")
def _gcp_pubsub_transport(conf: dict):
    """``gcp_pubsub`` output (internal/impl/gcp/): topics.publish over
    the public REST API (emulator-compatible; injectable bearer-token
    provider for real GCP). 5xx retryable, 4xx dead-letter."""
    from bento_spark.sources.gcp_pubsub import PubSubClient

    class T:
        def __init__(self):
            self.client = PubSubClient(
                conf["endpoint"], conf["project"],
                token_provider=conf.get("token_provider"),
            )
            self.topic = conf["topic"]

        def send(self, batch: list[str]) -> None:
            try:
                self.client.publish(self.topic, batch)
            except RuntimeError as ex:
                raise DeliveryError(
                    str(ex), retryable="HTTP 5" in str(ex)
                ) from ex

        def close(self):
            pass

    return T()


@register_transport("azure_queue")
def _azure_queue_transport(conf: dict):
    """``azure_queue_storage`` output (internal/impl/azure/): Put
    Message through the public REST API with REAL Shared Key signing
    (functions/azureauth.py); HTTP 5xx raise retryable, 4xx dead-letter."""
    from bento_spark.sources.azure_queue import AzureQueueClient

    class T:
        def __init__(self):
            self.client = AzureQueueClient(
                conf["endpoint"], conf["account"], conf["key"], conf["queue"]
            )

        def send(self, batch: list[str]) -> None:
            try:
                self.client.put_messages(batch)
            except RuntimeError as ex:
                retryable = "HTTP 5" in str(ex)
                raise DeliveryError(str(ex), retryable=retryable) from ex

        def close(self):
            pass

    return T()


@register_transport("mqtt")
def _mqtt_transport(conf: dict):
    """``mqtt`` output (internal/impl/mqtt/output.go): QoS-1 pipelined
    PUBLISH batches through the from-scratch 3.1.1 client
    (operators/mqtt_wire.py); every message is PUBACK-confirmed before
    the batch counts as delivered."""
    from bento_spark.operators.mqtt_wire import MqttClient, MqttError

    class T:
        def __init__(self):
            self.client = MqttClient(
                conf.get("host", "localhost"),
                int(conf.get("port", 1883)),
                client_id=conf.get("client_id", "bento-spark"),
            )
            self.topic = conf["topic"]
            self.qos = int(conf.get("qos", 1))

        def send(self, batch: list[str]) -> None:
            try:
                self.client.publish(
                    self.topic, [v.encode("utf-8") for v in batch], qos=self.qos
                )
            except MqttError as ex:
                raise DeliveryError(str(ex)) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("nats")
def _nats_transport(conf: dict):
    """``nats`` output (internal/impl/nats/output.go): pipelined
    verbose-mode PUBs through the from-scratch text-protocol client
    (operators/nats_wire.py); -ERR replies surface after the ack drain
    and are retryable (core NATS errors are connection-state, not
    payload, problems)."""
    from bento_spark.operators.nats_wire import NatsClient, NatsError

    class T:
        def __init__(self):
            self.client = NatsClient(
                conf.get("host", "localhost"), int(conf.get("port", 4222))
            )
            self.subject = conf["subject"]

        def send(self, batch: list[str]) -> None:
            try:
                self.client.publish(
                    self.subject, [v.encode("utf-8") for v in batch]
                )
            except NatsError as ex:
                raise DeliveryError(str(ex)) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("nsq")
def _nsq_transport(conf: dict):
    """``nsq`` output (internal/impl/nsq/output.go): one MPUB frame
    per batch through the from-scratch TCP client
    (operators/nsq_wire.py); the broker's OK confirms the whole batch
    (NSQ has no per-message acks on publish)."""
    from bento_spark.operators.nsq_wire import NsqClient, NsqError

    class T:
        def __init__(self):
            self.client = NsqClient(
                conf.get("host", "localhost"), int(conf.get("port", 4150))
            )
            self.topic = conf["topic"]

        def send(self, batch: list[str]) -> None:
            try:
                self.client.publish(
                    self.topic, [v.encode("utf-8") for v in batch]
                )
            except NsqError as ex:
                raise DeliveryError(str(ex)) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("beanstalkd")
def _beanstalkd_transport(conf: dict):
    """``beanstalkd`` output (internal/impl/beanstalkd/output.go):
    pipelined puts through the from-scratch text-protocol client
    (operators/beanstalk_wire.py); every INSERTED is drained before
    errors surface, so the connection never desyncs."""
    from bento_spark.operators.beanstalk_wire import BeanstalkClient, BeanstalkError

    class T:
        def __init__(self):
            self.client = BeanstalkClient(
                conf.get("host", "localhost"), int(conf.get("port", 11300))
            )
            if conf.get("tube"):
                self.client.use(conf["tube"])

        def send(self, batch: list[str]) -> None:
            try:
                self.client.put_batch([v.encode("utf-8") for v in batch])
            except BeanstalkError as ex:
                raise DeliveryError(str(ex)) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("amqp_0_9")
def _amqp_transport(conf: dict):
    """``amqp_0_9`` output (internal/impl/amqp09/output.go): pipelined
    Basic.Publish batches with publisher confirms through the
    from-scratch 0-9-1 wire client (operators/amqp_wire.py); every
    message is broker-confirmed (Basic.Ack, multiple-flag aware)
    before the batch counts as delivered; Basic.Nack and channel
    closes surface as retryable DeliveryErrors."""
    from bento_spark.operators.amqp_wire import AmqpClient, AmqpError

    class T:
        def __init__(self):
            self.client = AmqpClient(
                conf.get("host", "localhost"),
                int(conf.get("port", 5672)),
                user=conf.get("user", "guest"),
                password=conf.get("password", "guest"),
                vhost=conf.get("vhost", "/"),
            )
            self.exchange = conf.get("exchange", "")
            self.routing_key = conf["routing_key"]
            if conf.get("declare_queue", True) and not self.exchange:
                self.client.queue_declare(self.routing_key)

        def send(self, batch: list[str]) -> None:
            try:
                self.client.publish(
                    self.exchange, self.routing_key,
                    [v.encode("utf-8") for v in batch],
                )
            except AmqpError as ex:
                raise DeliveryError(str(ex)) from ex

        def close(self):
            self.client.close()

    return T()


def _redis_conf_client(conf: dict):
    from bento_spark.operators.kvstore import RedisKV

    if "client" in conf:  # injected test double
        return conf["client"]
    return RedisKV(
        conf.get("host", "localhost"),
        int(conf.get("port", 6379)),
        db=int(conf.get("db", 0)),
        password=conf.get("password"),
    )


@register_transport("redis_list")
def _redis_list_transport(conf: dict):
    """``redis_list`` output (internal/impl/redis/output_list.go): one
    multi-value RPUSH per delivery batch over the from-scratch RESP2
    client — a whole Spark batch is one round trip."""
    client = _redis_conf_client(conf)
    key = conf["key"]

    class T:
        def send(self, batch: list[str]) -> None:
            client.command("RPUSH", key, *batch)

        def close(self):
            client.close()

    return T()


@register_transport("redis_pubsub")
def _redis_pubsub_transport(conf: dict):
    """``redis_pubsub`` output (internal/impl/redis/output_pubsub.go):
    pipelined PUBLISH per message — one round trip per batch,
    fire-and-forget delivery semantics exactly like the reference."""
    client = _redis_conf_client(conf)
    channel = conf["channel"]

    class T:
        def send(self, batch: list[str]) -> None:
            client.pipeline([("PUBLISH", channel, m) for m in batch])

        def close(self):
            client.close()

    return T()


@register_transport("redis_streams")
def _redis_streams_transport(conf: dict):
    """``redis_streams`` output (internal/impl/redis/output_streams.go):
    pipelined ``XADD stream * body <msg>`` — server-assigned entry IDs,
    one round trip per batch. The body lands under the configured field
    name (default ``body``), matching the reference's body_key."""
    client = _redis_conf_client(conf)
    stream = conf["stream"]
    body_key = conf.get("body_key", "body")

    class T:
        def send(self, batch: list[str]) -> None:
            client.pipeline(
                [("XADD", stream, "*", body_key, m) for m in batch]
            )

        def close(self):
            client.close()

    return T()


@register_transport("redis_hash")
def _redis_hash_transport(conf: dict):
    """``redis_hash`` output (internal/impl/redis/output_hash.go): each
    JSON row becomes one HSET; the hash field is the row's
    ``key_field`` JSON attribute (the reference interpolates a key the
    same way), fields_mapping = the whole row by default. Pipelined —
    one round trip per batch."""
    import json as _j

    client = _redis_conf_client(conf)
    key = conf["key"]
    key_field = conf.get("key_field", "id")

    class T:
        def send(self, batch: list[str]) -> None:
            cmds = []
            for m in batch:
                row = _j.loads(m)
                if key_field not in row:
                    raise DeliveryError(
                        f"redis_hash: row missing key_field {key_field!r}",
                        retryable=False,
                    )
                cmds.append(("HSET", key, str(row[key_field]), m))
            client.pipeline(cmds)

        def close(self):
            client.close()

    return T()


@register_transport("discord")
def _discord_transport(conf: dict):
    """``discord`` output (internal/impl/discord/output.go): one
    channel-message POST per message (``{"content": ...}``, Bot
    token) — or a webhook URL when ``webhook`` is set. 429 honors the
    API's retry signal."""
    import urllib.error
    import urllib.request

    if "webhook" in conf:
        url = conf["webhook"]
        headers = {"Content-Type": "application/json"}
    else:
        url = (
            f"{conf['endpoint'].rstrip('/')}/api/v10/channels/"
            f"{conf['channel_id']}/messages"
        )
        headers = {
            "Content-Type": "application/json",
            "Authorization": f"Bot {conf['token']}",
        }

    class T:
        def send(self, batch: list[str]) -> None:
            for m in batch:
                body = _json.dumps({"content": m}).encode("utf-8")
                req = urllib.request.Request(
                    url, data=body, headers=headers, method="POST"
                )
                try:
                    with urllib.request.urlopen(req, timeout=30):  # noqa: S310
                        pass
                except urllib.error.HTTPError as e:
                    raise DeliveryError(
                        f"discord HTTP {e.code}",
                        retryable=e.code == 429 or e.code >= 500,
                    ) from e

        def close(self):
            pass

    return T()


@register_transport("etcd")
def _etcd_transport(conf: dict):
    """``etcd`` output side (kv put over the grpc-gateway JSON API):
    rows upsert under their key_field id, like the store-keyed
    sinks."""
    import json as _j

    from bento_spark.sources.watch_inputs import EtcdKV

    client = EtcdKV(conf["endpoint"])
    key_field = conf.get("key_field", "id")
    prefix = conf.get("prefix", "")

    class T:
        def send(self, batch: list[str]) -> None:
            pairs = []
            for m in batch:
                row = _j.loads(m)
                if key_field not in row:
                    raise DeliveryError(
                        f"etcd: row missing key_field {key_field!r}",
                        retryable=False,
                    )
                pairs.append((prefix + str(row[key_field]), m))
            client.mset(pairs)

        def close(self):
            client.close()

    return T()


@register_transport("zmq4")
def _zmq_transport(conf: dict):
    """``zmq4`` output (internal/impl/zeromq/output.go): one ZMTP 3.0
    message per payload over a PUSH (or PUB) socket
    (operators/zmtp_wire.py). ZeroMQ delivery is fire-and-forget."""
    from bento_spark.operators.zmtp_wire import ZmtpSocket

    sock = ZmtpSocket(
        conf.get("host", "localhost"), int(conf["port"]),
        conf.get("socket_type", "PUSH"),
    )
    topic = conf.get("topic", "")

    class T:
        def send(self, batch: list[str]) -> None:
            for m in batch:
                parts = (
                    [topic.encode(), m.encode("utf-8")]
                    if topic
                    else [m.encode("utf-8")]
                )
                sock.send_multipart(parts)

        def close(self):
            sock.close()

    return T()


@register_transport("nanomsg")
def _nanomsg_transport(conf: dict):
    """``nanomsg`` output (internal/impl/nanomsg/output.go): length-
    prefixed SP messages over a PUSH (or PUB) socket
    (operators/nanomsg_wire.py)."""
    from bento_spark.operators.nanomsg_wire import NanomsgSocket

    sock = NanomsgSocket(
        conf.get("host", "localhost"), int(conf["port"]),
        conf.get("socket_type", "PUSH"),
    )

    class T:
        def send(self, batch: list[str]) -> None:
            for m in batch:
                sock.send(m.encode("utf-8"))

        def close(self):
            sock.close()

    return T()


@register_transport("gcp_bigquery")
def _bigquery_transport(conf: dict):
    """``gcp_bigquery`` output (internal/impl/gcp/output_bigquery.go):
    one tabledata.insertAll per delivery batch with STABLE per-row
    insertIds (partition/seq/index) so the API's best-effort dedupe
    absorbs task-retry re-sends. Rows failing with transient reasons
    re-raise retryable; schema/invalid reasons dead-letter."""
    import json as _j

    from pyspark import TaskContext

    from bento_spark.sources.gcp_bigquery import (
        BigQueryClient,
        BigQueryError,
    )

    client = BigQueryClient(
        conf["endpoint"], conf.get("project", "local"),
        token_provider=conf.get("token_provider"),
    )
    dataset, table = conf["dataset"], conf["table"]

    class T:
        def __init__(self):
            ctx = TaskContext.get()
            self.pid = ctx.partitionId() if ctx else 0
            self.seq = 0

        def send(self, batch: list[str]) -> None:
            self.seq += 1
            rows = [_j.loads(m) for m in batch]
            ids = [
                f"p{self.pid}-b{self.seq}-r{i}"
                for i in range(len(rows))
            ]
            try:
                errors = client.insert_all(dataset, table, rows, ids)
            except BigQueryError as ex:
                raise DeliveryError(
                    str(ex), retryable=ex.status >= 500
                ) from ex
            if errors:
                reasons = {
                    e.get("reason", "")
                    for err in errors
                    for e in err.get("errors", [])
                }
                transient = reasons <= {"backendError", "timeout", "stopped"}
                raise DeliveryError(
                    f"bigquery: {len(errors)} rows failed ({reasons})",
                    retryable=transient,
                )

        def close(self):
            pass

    return T()


@register_transport("nats_jetstream")
def _nats_jetstream_transport(conf: dict):
    """``nats_jetstream`` output (internal/impl/nats/output_jetstream.go):
    at-least-once JetStream publishes — N pipelined PUBs carrying the
    reply inbox, N PubAck JSON replies drained in order
    (operators/jetstream.py). A missing/err ack is retryable (the
    stream may be catching up); envelope keys let receivers dedupe the
    re-send."""
    from bento_spark.operators.jetstream import JetStreamClient
    from bento_spark.operators.nats_wire import NatsError

    client = JetStreamClient(
        conf.get("host", "localhost"), int(conf.get("port", 4222))
    )
    subject = conf["subject"]

    class T:
        def send(self, batch: list[str]) -> None:
            try:
                client.publish(
                    subject, [m.encode("utf-8") for m in batch]
                )
            except NatsError as ex:
                raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            client.close()

    return T()


@register_transport("socket")
def _socket_transport(conf: dict):
    """``socket`` output (internal/impl/io/output_socket.go): newline-
    framed writes over one TCP connection per Spark partition
    (sources/socket_input.SocketWriter)."""
    from bento_spark.sources.socket_input import SocketWriter

    writer = SocketWriter(
        conf.get("host", "localhost"), int(conf["port"])
    )

    class T:
        def send(self, batch: list[str]) -> None:
            writer.send_lines(batch)

        def close(self):
            writer.close()

    return T()


def _kv_store_transport(conf: dict):
    """Shared shape for the store-keyed outputs (``elasticsearch`` /
    ``opensearch`` / ``mongodb`` / ``aws_dynamodb`` / ``cache``,
    internal/impl/{elasticsearch,mongodb,aws,pure}/output_*.go): each
    JSON row upserts under the id taken from its ``key_field``
    attribute (the reference interpolates document ids the same way),
    value = the full row. Rides the kvstore URL factory, so every REAL
    protocol client behind it (ES `_bulk`, Mongo OP_MSG upserts,
    DynamoDB BatchWriteItem, redis/memcached/sqlite) is a valid
    destination."""
    import json as _j

    from bento_spark.operators.kvstore import _client_from_url

    client = _client_from_url(conf["url"])
    key_field = conf.get("key_field", "id")

    class T:
        def send(self, batch: list[str]) -> None:
            pairs = []
            for m in batch:
                row = _j.loads(m)
                if key_field not in row:
                    raise DeliveryError(
                        f"kv output: row missing key_field {key_field!r}",
                        retryable=False,
                    )
                pairs.append((str(row[key_field]), m))
            try:
                client.mset(pairs)
            except RuntimeError as ex:
                raise DeliveryError(str(ex), retryable=False) from ex

        def close(self):
            client.close()

    return T()


for _name in ("elasticsearch", "elasticsearch_v2", "opensearch", "mongodb",
              "aws_dynamodb", "cache", "couchbase"):
    # elasticsearch_v2 (internal/impl/elasticsearch/output_v2.go) is the
    # reference's modern-client rewrite of the same _bulk upsert wire
    # call — both names resolve to the one EsKV-backed transport here
    register_transport(_name)(_kv_store_transport)


@register_transport("cassandra")
def _cassandra_transport(conf: dict):
    """``cassandra`` output (internal/impl/cassandra/output.go): one
    UNLOGGED BATCH of INSERTs per delivery batch over the from-scratch
    CQL native-protocol v4 client (operators/cql_wire.py). Row values
    come from JSON attributes named by ``columns`` with client-side
    literal quoting. Unavailable/Overloaded/WriteTimeout/ReadTimeout
    error codes (0x1000/0x1001/0x1100/0x1200) are the protocol's
    transients → retryable."""
    import json as _j

    from bento_spark.operators.cql_wire import CqlClient, CqlError

    RETRIABLE = {0x1000, 0x1001, 0x1100, 0x1200}
    client = CqlClient(
        conf.get("host", "localhost"), int(conf.get("port", 9042))
    )
    table = conf["table"]
    columns = conf["columns"]

    class T:
        def send(self, batch: list[str]) -> None:
            rows = [
                [_j.loads(m).get(c) for c in columns] for m in batch
            ]
            try:
                client.insert_batch(table, columns, rows)
            except CqlError as ex:
                raise DeliveryError(
                    str(ex), retryable=ex.code in RETRIABLE
                ) from ex

        def close(self):
            client.close()

    return T()


@register_transport("duckdb_append")
def _duckdb_transport(conf: dict):
    """``duckdb_append`` output (internal/impl/duckdb/output.go,
    Appender API): REAL — duckdb ships in-container. Each delivery
    batch appends parsed JSON rows to ``table`` (created from
    ``columns`` on first write) in the database file at ``path``.

    DuckDB allows ONE read-write process per file, and Spark partitions
    deliver in parallel — so each append takes an exclusive flock on a
    sidecar lock file and opens/closes the connection inside it.
    Parallel partitions serialize on the lock: correct single-writer
    semantics, documented cost. At scale, point each partition at its
    own file (path pattern) or coalesce(1) upstream."""
    import json as _j

    path = conf["path"]
    table = conf["table"]
    columns = conf["columns"]  # ordered names; JSON rows supply values

    class T:
        def send(self, batch: list[str]) -> None:
            import fcntl

            import duckdb

            rows = [
                tuple(_j.loads(m).get(c) for c in columns) for m in batch
            ]
            with open(path + ".lock", "w") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                con = duckdb.connect(path)
                try:
                    cols = ", ".join(f'"{c}"' for c in columns)
                    con.execute(
                        f'CREATE TABLE IF NOT EXISTS "{table}" ('
                        + ", ".join(f'"{c}" VARCHAR' for c in columns)
                        + ")"
                    )
                    ph = ", ".join("?" for _ in columns)
                    con.executemany(
                        f'INSERT INTO "{table}" ({cols}) VALUES ({ph})',
                        [tuple(None if v is None else str(v) for v in r)
                         for r in rows],
                    )
                finally:
                    con.close()

        def close(self):
            pass

    return T()


@register_transport("slack_webhook")
def _slack_webhook_transport(conf: dict):
    """``slack_webhook`` output (internal/impl/slack/output_webhook.go):
    one ``{"text": ...}`` POST per message to the incoming-webhook URL.
    Slack rate-limits with 429 → retryable."""
    import urllib.error
    import urllib.request

    url = conf["webhook"]

    class T:
        def send(self, batch: list[str]) -> None:
            for m in batch:
                body = _json.dumps({"text": m}).encode("utf-8")
                req = urllib.request.Request(
                    url, data=body,
                    headers={"Content-Type": "application/json"},
                    method="POST",
                )
                try:
                    with urllib.request.urlopen(req, timeout=30):  # noqa: S310
                        pass
                except urllib.error.HTTPError as e:
                    raise DeliveryError(
                        f"slack HTTP {e.code}",
                        retryable=e.code == 429 or e.code >= 500,
                    ) from e

        def close(self):
            pass

    return T()


@register_transport("datadog_logs")
def _datadog_logs_transport(conf: dict):
    """``datadog_logs`` output (internal/impl/datadog/output_logs.go):
    one gzip'd JSON-array POST per batch to /api/v2/logs with the
    DD-API-KEY header — the log-intake public API shape, batch-level
    like the reference's batching policy."""
    import gzip as _gz
    import urllib.error
    import urllib.request

    endpoint = conf["endpoint"].rstrip("/")
    api_key = conf.get("api_key", "")
    meta = {
        k: conf[k]
        for k in ("source", "service", "hostname")
        if conf.get(k)
    }

    class T:
        def send(self, batch: list[str]) -> None:
            events = [
                {"message": m,
                 **({"ddsource": meta["source"]} if "source" in meta else {}),
                 **({"service": meta["service"]} if "service" in meta else {}),
                 **({"hostname": meta["hostname"]} if "hostname" in meta else {})}
                for m in batch
            ]
            body = _gz.compress(_json.dumps(events).encode("utf-8"))
            req = urllib.request.Request(
                endpoint + "/api/v2/logs", data=body,
                headers={
                    "Content-Type": "application/json",
                    "Content-Encoding": "gzip",
                    "DD-API-KEY": api_key,
                },
                method="POST",
            )
            try:
                with urllib.request.urlopen(req, timeout=30):  # noqa: S310
                    pass
            except urllib.error.HTTPError as e:
                raise DeliveryError(
                    f"datadog HTTP {e.code}",
                    retryable=e.code == 429 or e.code >= 500,
                ) from e

        def close(self):
            pass

    return T()


@register_transport("splunk_hec")
def _splunk_hec_transport(conf: dict):
    """``splunk_hec`` output (internal/impl/splunk/output.go): one POST
    per batch of concatenated ``{"event": ...}`` objects to the HTTP
    Event Collector with ``Authorization: Splunk <token>`` — HEC's
    documented multi-event body format."""
    import urllib.error
    import urllib.request

    url = conf["url"].rstrip("/")
    token = conf["token"]
    extra = {
        k: conf[f"event_{k}"]
        for k in ("host", "source", "sourcetype", "index")
        if conf.get(f"event_{k}")
    }

    class T:
        def send(self, batch: list[str]) -> None:
            body = "".join(
                _json.dumps({"event": m, **extra}) for m in batch
            ).encode("utf-8")
            req = urllib.request.Request(
                url + "/services/collector/event", data=body,
                headers={"Authorization": f"Splunk {token}"},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req, timeout=30):  # noqa: S310
                    pass
            except urllib.error.HTTPError as e:
                raise DeliveryError(
                    f"splunk HTTP {e.code}",
                    retryable=e.code == 429 or e.code >= 500,
                ) from e

        def close(self):
            pass

    return T()


@register_transport("pusher")
def _pusher_transport(conf: dict):
    """``pusher`` output (internal/impl/pusher/output.go): POSTs events
    to /apps/<app_id>/events with Pusher's REAL HMAC request auth (the
    public scheme: body_md5 + auth_* query params, signature =
    HMAC-SHA256 over ``POST\\n<path>\\n<sorted query>``) — the test
    server verifies it by recomputation. Events batch 10 per call (the
    API's batch limit)."""
    import hashlib as _hl
    import hmac as _hmac
    import urllib.error
    import urllib.request

    endpoint = conf["endpoint"].rstrip("/")
    app_id = conf["app_id"]
    key, secret = conf["key"], conf["secret"]
    channel, event = conf["channel"], conf["event"]

    class T:
        def send(self, batch: list[str]) -> None:
            for i in range(0, len(batch), 10):  # events API batch limit
                body = _json.dumps(
                    {
                        "batch": [
                            {"name": event, "channel": channel, "data": m}
                            for m in batch[i : i + 10]
                        ]
                    }
                ).encode("utf-8")
                path = f"/apps/{app_id}/batch_events"
                params = {
                    "auth_key": key,
                    "auth_timestamp": str(int(time.time())),
                    "auth_version": "1.0",
                    "body_md5": _hl.md5(body).hexdigest(),
                }
                qs = "&".join(
                    f"{k}={params[k]}" for k in sorted(params)
                )
                to_sign = f"POST\n{path}\n{qs}"
                sig = _hmac.new(
                    secret.encode(), to_sign.encode(), _hl.sha256
                ).hexdigest()
                req = urllib.request.Request(
                    f"{endpoint}{path}?{qs}&auth_signature={sig}",
                    data=body,
                    headers={"Content-Type": "application/json"},
                    method="POST",
                )
                try:
                    with urllib.request.urlopen(req, timeout=30):  # noqa: S310
                        pass
                except urllib.error.HTTPError as e:
                    raise DeliveryError(
                        f"pusher HTTP {e.code}",
                        retryable=e.code >= 500,
                    ) from e

        def close(self):
            pass

    return T()


@register_transport("questdb")
def _questdb_transport(conf: dict):
    """``questdb`` output (internal/impl/questdb/output.go): InfluxDB
    Line Protocol over TCP — the ingestion path QuestDB documents.
    Each JSON row becomes one ILP line (``table col1="s",col2=1i``);
    strings are quote-escaped, ints get the ``i`` suffix, bools t/f,
    name chars escaped per the ILP spec. One socket write per batch,
    server-assigned timestamps."""
    import socket as _socket

    host, port = conf["address"].rsplit(":", 1)
    table = conf["table"]

    def _escape_name(s: str) -> str:
        return (
            s.replace("\\", "\\\\").replace(",", "\\,")
            .replace(" ", "\\ ").replace("=", "\\=")
        )

    def _field(v) -> str | None:
        if v is None:
            return None
        if isinstance(v, bool):
            return "t" if v else "f"
        if isinstance(v, int):
            return f"{v}i"
        if isinstance(v, float):
            return repr(v)
        s = str(v).replace("\\", "\\\\").replace('"', '\\"')
        return f'"{s}"'

    class T:
        def __init__(self):
            self.sock = _socket.create_connection(
                (host, int(port)), timeout=30
            )

        def send(self, batch: list[str]) -> None:
            lines = []
            for m in batch:
                row = _json.loads(m)
                fields = ",".join(
                    f"{_escape_name(k)}={f}"
                    for k, v in row.items()
                    if (f := _field(v)) is not None
                )
                if fields:
                    lines.append(f"{_escape_name(table)} {fields}\n")
            self.sock.sendall("".join(lines).encode("utf-8"))

        def close(self):
            self.sock.close()

    return T()


def _object_put_transport(client, prefix: str):
    """One NDJSON object per delivery batch at
    ``<prefix>/part-<partition>-<seq>.ndjson`` — the batching+archive
    form every object-store output shares (s3 / gcp_cloud_storage /
    azure_blob_storage / hdfs). 5xx → retryable DeliveryError."""
    from pyspark import TaskContext

    from bento_spark.sources.objectstore import ObjectStoreError

    class T:
        def __init__(self):
            ctx = TaskContext.get()
            self.pid = ctx.partitionId() if ctx else 0
            self.seq = 0

        def send(self, batch: list[str]) -> None:
            key = f"{prefix}/part-{self.pid:05d}-{self.seq:06d}.ndjson"
            self.seq += 1
            try:
                client.put_object(
                    key, ("\n".join(batch) + "\n").encode("utf-8"),
                    content_type="application/x-ndjson",
                )
            except ObjectStoreError as ex:
                raise DeliveryError(
                    str(ex), retryable=ex.status >= 500
                ) from ex

        def close(self):
            pass

    return T()


@register_transport("gcp_cloud_storage")
def _gcs_transport(conf: dict):
    """``gcp_cloud_storage`` output
    (internal/impl/gcp/output_cloud_storage.go): media upload through
    the public JSON API (sources/objectstore.GcsClient) — emulator
    no-auth contract, injectable bearer-token provider for real GCP."""
    from bento_spark.sources.objectstore import GcsClient

    client = GcsClient(
        conf["endpoint"], conf["bucket"],
        token_provider=conf.get("token_provider"),
    )
    return _object_put_transport(client, conf.get("path_prefix", "out"))


@register_transport("azure_blob_storage")
def _azure_blob_transport(conf: dict):
    """``azure_blob_storage`` output
    (internal/impl/azure/output_blob_storage.go): Put Blob
    (BlockBlob) with REAL Shared Key signing on every request
    (sources/objectstore.AzureBlobClient)."""
    from bento_spark.sources.objectstore import AzureBlobClient

    client = AzureBlobClient(
        conf["endpoint"], conf["account"], conf["key"], conf["container"]
    )
    return _object_put_transport(client, conf.get("path_prefix", "out"))


@register_transport("hdfs")
def _hdfs_transport(conf: dict):
    """``hdfs`` output (internal/impl/hdfs/output.go): CREATE through
    the public WebHDFS REST API incl. the namenode's two-step 307
    redirect (sources/objectstore.WebHdfsClient)."""
    from bento_spark.sources.objectstore import WebHdfsClient

    client = WebHdfsClient(
        conf["endpoint"], conf.get("base_path", "/"),
        user=conf.get("user", "spark"),
    )
    return _object_put_transport(client, conf.get("path_prefix", "out"))


@register_transport("s3")
def _s3_transport(conf: dict):
    """``aws_s3`` output (internal/impl/aws/output_s3.go): one NDJSON
    object per delivery batch (the reference's batching+archive form)
    at ``<path_prefix>/part-<partition>-<seq>.ndjson``, PUT through the
    SigV4-signed S3 REST client. 5xx → retryable DeliveryError; 4xx is
    a caller error (straight to DLQ)."""
    from pyspark import TaskContext

    from bento_spark.sources.aws_s3 import S3Client, S3Error

    client = S3Client(
        conf["endpoint"],
        conf["bucket"],
        region=conf.get("region", "us-east-1"),
        access_key=conf.get("access_key"),
        secret_key=conf.get("secret_key"),
    )
    prefix = conf.get("path_prefix", "out").strip("/")

    class T:
        def __init__(self):
            ctx = TaskContext.get()
            self.pid = ctx.partitionId() if ctx else 0
            self.seq = 0

        def send(self, batch: list[str]) -> None:
            key = f"{prefix}/part-{self.pid:05d}-{self.seq:06d}.ndjson"
            self.seq += 1
            try:
                client.put_object(
                    key, ("\n".join(batch) + "\n").encode("utf-8"),
                    content_type="application/x-ndjson",
                )
            except S3Error as ex:
                raise DeliveryError(
                    str(ex), retryable=ex.status >= 500
                ) from ex

        def close(self):
            pass

    return T()


def _put_failed_again(put, records: list, what: str) -> None:
    """The Kinesis and Firehose batch puts' retry contract: a put that
    fails some records (an ``ErrorCode`` in their reply) re-sends only
    those."""
    from bento_spark.sources.aws_kinesis import KinesisError

    for _ in retry.attempts():
        try:
            replies = put(records)
        except KinesisError as ex:
            raise DeliveryError(str(ex), retryable=ex.status >= 500) from ex
        records = [rec for rec, r in zip(records, replies) if "ErrorCode" in r]
        if not records:
            return
    raise DeliveryError(
        f"{what}: {len(records)} records still failing", retryable=True
    )


@register_transport("kinesis")
def _kinesis_transport(conf: dict):
    """``aws_kinesis`` output (internal/impl/aws/output_kinesis.go):
    PutRecords through the SigV4-signed JSON API, honoring the 500-
    records-per-call protocol limit. Partition key = a stable hash of
    the record body (even shard spread) unless ``partition_key_field``
    names a JSON attribute. Per-record throttles
    (FailedRecordCount > 0) re-send ONLY the failed records — the
    API's documented retry contract."""
    import hashlib as _hl
    import json as _j

    from bento_spark.sources.aws_kinesis import KinesisClient

    client = KinesisClient(
        conf["endpoint"],
        conf["stream"],
        region=conf.get("region", "us-east-1"),
        access_key=conf.get("access_key"),
        secret_key=conf.get("secret_key"),
    )
    pk_field = conf.get("partition_key_field")

    def pkey(m: str) -> str:
        if pk_field:
            return str(_j.loads(m).get(pk_field, ""))
        return _hl.sha256(m.encode("utf-8")).hexdigest()[:16]

    class T:
        def send(self, batch: list[str]) -> None:
            for i in range(0, len(batch), 500):  # PutRecords limit
                _put_failed_again(
                    lambda records: client.put_records(records)["Records"],
                    [(pkey(m), m.encode("utf-8")) for m in batch[i : i + 500]],
                    "kinesis",
                )

        def close(self):
            pass

    return T()


@register_transport("kinesis_firehose")
def _firehose_transport(conf: dict):
    """``aws_kinesis_firehose`` output
    (internal/impl/aws/output_kinesis_firehose.go): PutRecordBatch
    (Firehose_20150804) with the same 500-record limit and per-record
    failure re-send loop as kinesis. Records are newline-terminated so
    the delivery stream concatenates to valid NDJSON."""
    import base64 as _b64

    from bento_spark.sources.aws_kinesis import _aws_json
    from urllib.parse import urlparse

    endpoint = conf["endpoint"].rstrip("/")
    host = urlparse(endpoint).netloc
    stream = conf["stream"]
    kw = dict(
        region=conf.get("region", "us-east-1"),
        service="firehose",
        access_key=conf.get("access_key")
        or os.environ.get("AWS_ACCESS_KEY_ID", "local"),
        secret_key=conf.get("secret_key")
        or os.environ.get("AWS_SECRET_ACCESS_KEY", "local"),
    )

    class T:
        def send(self, batch: list[str]) -> None:
            for i in range(0, len(batch), 500):  # PutRecordBatch limit
                recs = [
                    {"Data": _b64.b64encode(
                        (m + "\n").encode("utf-8")).decode("ascii")}
                    for m in batch[i : i + 500]
                ]
                _put_failed_again(
                    lambda records: _aws_json(
                        endpoint, host, "Firehose_20150804.PutRecordBatch",
                        {"DeliveryStreamName": stream, "Records": records},
                        **kw,
                    )["RequestResponses"],
                    recs,
                    "firehose",
                )

        def close(self):
            pass

    return T()


@register_transport("sns")
def _sns_transport(conf: dict):
    """``aws_sns`` output (internal/impl/aws/output_sns.go): one
    Publish per message through SNS's Query protocol (form-encoded
    ``Action=Publish``, XML reply), SigV4-signed. SNS has no batch
    publish in the Query API, so a delivery batch is a loop of signed
    POSTs on one connection-per-partition."""
    import urllib.error
    import urllib.parse
    import urllib.request

    from bento_spark.functions.awsauth import sign_request

    endpoint = conf["endpoint"].rstrip("/")
    host = urllib.parse.urlparse(endpoint).netloc
    topic_arn = conf["topic_arn"]
    region = conf.get("region", "us-east-1")
    access = conf.get("access_key") or os.environ.get(
        "AWS_ACCESS_KEY_ID", "local"
    )
    secret = conf.get("secret_key") or os.environ.get(
        "AWS_SECRET_ACCESS_KEY", "local"
    )

    class T:
        def send(self, batch: list[str]) -> None:
            for m in batch:
                body = urllib.parse.urlencode(
                    {
                        "Action": "Publish",
                        "Version": "2010-03-31",
                        "TopicArn": topic_arn,
                        "Message": m,
                    }
                ).encode("utf-8")
                amz = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
                headers = sign_request(
                    "POST", host, "/",
                    {"content-type":
                     "application/x-www-form-urlencoded"},
                    body, access, secret, region, "sns", amz,
                )
                req = urllib.request.Request(
                    endpoint + "/", data=body, headers=headers,
                    method="POST",
                )
                try:
                    with urllib.request.urlopen(req, timeout=30):  # noqa: S310
                        pass
                except urllib.error.HTTPError as e:
                    raise DeliveryError(
                        f"sns HTTP {e.code}: "
                        f"{e.read().decode()[:200]}",
                        retryable=e.code >= 500,
                    ) from e

        def close(self):
            pass

    return T()


@register_transport("sqs")
def _sqs_transport(conf: dict):
    """``aws_sqs`` output (internal/impl/aws/output_sqs.go):
    SendMessageBatch through the public JSON API with REAL SigV4
    signing (functions/awsauth.py) — no boto3. Honors the protocol's
    10-entries-per-call limit. Entries failing with SenderFault=false
    (throttling/internal) raise a retryable DeliveryError so the
    delivery loop's backoff re-sends the batch (at-least-once; envelope
    keys let receivers dedupe); SenderFault=true and 4xx are
    non-retryable (straight to DLQ)."""
    import json
    import urllib.error
    import urllib.request
    from urllib.parse import urlparse

    endpoint = conf["endpoint"].rstrip("/")
    queue_url = conf["queue_url"]
    region = conf.get("region", "us-east-1")
    access = conf.get("access_key") or os.environ.get("AWS_ACCESS_KEY_ID", "local")
    secret = conf.get("secret_key") or os.environ.get(
        "AWS_SECRET_ACCESS_KEY", "local"
    )
    host = urlparse(endpoint).netloc

    def call(entries: list[dict]) -> dict:
        from bento_spark.functions.awsauth import sign_request

        body = json.dumps({"QueueUrl": queue_url, "Entries": entries}).encode()
        amz = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
        headers = sign_request(
            "POST",
            host,
            "/",
            {
                "content-type": "application/x-amz-json-1.0",
                "x-amz-target": "AmazonSQS.SendMessageBatch",
            },
            body,
            access,
            secret,
            region,
            "sqs",
            amz,
        )
        req = urllib.request.Request(
            endpoint + "/", data=body, headers=headers, method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            raise DeliveryError(
                f"sqs HTTP {e.code}: {e.read().decode()[:200]}",
                retryable=e.code >= 500,
            ) from e

    class T:
        def send(self, batch: list[str]) -> None:
            for i in range(0, len(batch), 10):  # SendMessageBatch limit
                chunk = batch[i : i + 10]
                resp = call(
                    [
                        {"Id": str(j), "MessageBody": m}
                        for j, m in enumerate(chunk)
                    ]
                )
                failed = resp.get("Failed") or []
                if failed:
                    sender_fault = any(f.get("SenderFault") for f in failed)
                    raise DeliveryError(
                        f"sqs: {len(failed)} entries failed: {failed[:3]}",
                        retryable=not sender_fault,
                    )

        def close(self):
            pass

    return T()


def memory_sink_contents(name: str = "default") -> list[str]:
    d = _memory_dir(name)
    if not os.path.isdir(d):
        return []
    out: list[str] = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".ndjson"):
            with open(os.path.join(d, fn)) as f:
                out.extend(f.read().splitlines())
    return out


def clear_memory_sink(name: str = "default") -> None:
    import shutil

    shutil.rmtree(_memory_dir(name), ignore_errors=True)


# ---- the delivery loop ----------------------------------------------------

_RECEIPT_SCHEMA = "partition int, batches bigint, delivered bigint, dead bigint"


def deliver(
    df: DataFrame,
    backend: str,
    conf: dict | None = None,
    *,
    batch_size: int = 500,
    retries: int = 3,
    backoff_s: float = 0.05,
    dlq_path: str | None = None,
    envelope: bool = False,
) -> dict:
    """Serialize every row to JSON and deliver it through ``backend``.

    Blocking action; returns aggregate delivery stats. Rows are
    serialized JVM-side; the Python delivery loop handles only strings.
    """
    if backend not in TRANSPORTS:
        raise ValueError(f"unknown transport {backend!r} (have {sorted(TRANSPORTS)})")
    conf = dict(conf or {})
    payload = df.select(F.to_json(F.struct(*df.columns)).alias("v"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        n_batches = n_ok = n_dead = 0
        # a retryable DeliveryError re-sends on the same transport; a
        # connection error gets a fresh one
        with retry.Client(
            lambda: TRANSPORTS[backend](conf),
            attempts=retries + 1,
            backoff_s=backoff_s,
            resend=lambda ex: isinstance(ex, DeliveryError) and ex.retryable,
        ) as transport:
            # built outside the dead-letter branch: a bad host or key
            # file fails the task instead of dead-lettering every row
            transport.run(lambda t: t)
            pending: list[str] = []

            def flush(chunk: list[str]):
                nonlocal n_batches, n_ok, n_dead
                if not chunk:
                    return
                n_batches += 1
                if envelope:
                    # stable (partition, seq) keys let an idempotent
                    # receiver dedupe re-sent batches after task retries
                    chunk = [
                        _json.dumps(
                            {"p": pid, "seq": n_batches - 1, "i": i, "body": r},
                            sort_keys=True,
                        )
                        for i, r in enumerate(chunk)
                    ]
                try:
                    transport.run(lambda t: t.send(chunk))
                    n_ok += len(chunk)
                except (DeliveryError, OSError):
                    # OSError from a send: a connection error that
                    # outlasted the retries, or one no retry mends
                    if dlq_path is None:
                        raise  # task failure -> Spark retry (at-least-once)
                    os.makedirs(dlq_path, exist_ok=True)
                    dead = os.path.join(
                        dlq_path, f"dead-{pid}-{n_batches:06d}.ndjson"
                    )
                    with open(dead, "w") as f:
                        f.write("\n".join(chunk) + "\n")
                    n_dead += len(chunk)

            for b in batches:
                pending.extend(b["v"].tolist())
                while len(pending) >= batch_size:
                    flush(pending[:batch_size])
                    pending = pending[batch_size:]
            flush(pending)
        yield pd.DataFrame(
            [[pid, n_batches, n_ok, n_dead]],
            columns=["partition", "batches", "delivered", "dead"],
        )

    receipts = payload.mapInPandas(run, _RECEIPT_SCHEMA).collect()
    stats = {
        "partitions": len(receipts),
        "batches": int(sum(r["batches"] for r in receipts)),
        "delivered": int(sum(r["delivered"] for r in receipts)),
        "dead": int(sum(r["dead"] for r in receipts)),
    }
    # the reference's output metrics (output_sent / output_error),
    # recorded on the engine-wide registry any configured metrics
    # emitter flushes (bento_spark/observability.py)
    from bento_spark.observability import default_registry

    reg = default_registry()
    reg.counter("output.sent", stats["delivered"], output=backend)
    if stats["dead"]:
        reg.counter("output.error", stats["dead"], output=backend)
    reg.counter("output.batches", stats["batches"], output=backend)
    return stats


def deliver_stream(
    df: DataFrame,
    backend: str,
    conf: dict | None = None,
    *,
    checkpoint: str,
    **kw,
):
    """Streaming form: foreachBatch -> the same delivery loop per
    micro-batch (the reference's output write loop under its input
    acknowledgement — checkpointed offsets give effective at-least-once)."""

    def handle(bdf: DataFrame, _bid: int):
        deliver(bdf, backend, conf, **kw)

    return (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )


@register_transport("azure_table_storage")
def _azure_table_transport(conf: dict):
    """``azure_table_storage`` output (internal/impl/azure/
    output_table_storage.go): InsertOrReplace entities through the
    Table-service REST API with the table-variant Shared Key signing
    (operators/azuredata.py). Rows are JSON objects; PartitionKey /
    RowKey come from the configured fields (default partition/row keys
    mirror the reference's interpolated defaults)."""
    import json as _json

    from bento_spark.operators.azuredata import AzureTableClient

    pk_field = conf.get("partition_key_field", "PartitionKey")
    rk_field = conf.get("row_key_field", "RowKey")

    class T:
        def __init__(self):
            self.client = AzureTableClient(
                conf["endpoint"], conf["account"], conf["key"], conf["table"]
            )

        def send(self, batch: list[str]) -> None:
            for msg in batch:
                try:
                    doc = _json.loads(msg)
                except ValueError as ex:
                    raise DeliveryError(
                        f"azure_table: not JSON: {ex}", retryable=False
                    ) from ex
                entity = dict(doc)
                entity["PartitionKey"] = str(doc.get(pk_field, "default"))
                entity["RowKey"] = str(doc.get(rk_field, ""))
                try:
                    self.client.upsert_entity(entity)
                except RuntimeError as ex:
                    retryable = "HTTP 5" in str(ex) or "HTTP 429" in str(ex)
                    raise DeliveryError(str(ex), retryable=retryable) from ex

        def close(self):
            pass

    return T()


@register_transport("azure_cosmosdb")
def _azure_cosmos_transport(conf: dict):
    """``azure_cosmosdb`` output (internal/impl/azure/output_cosmosdb.go):
    upsert JSON documents through the Cosmos REST API with master-key
    auth (operators/azuredata.py); partition key value from the
    configured document field."""
    import json as _json

    from bento_spark.operators.azuredata import CosmosClient

    pk_field = conf.get("partition_key_field", "id")

    class T:
        def __init__(self):
            self.client = CosmosClient(
                conf["endpoint"], conf["key"], conf["database"], conf["container"]
            )

        def send(self, batch: list[str]) -> None:
            for msg in batch:
                try:
                    doc = _json.loads(msg)
                except ValueError as ex:
                    raise DeliveryError(
                        f"cosmosdb: not JSON: {ex}", retryable=False
                    ) from ex
                try:
                    self.client.upsert_document(doc, doc.get(pk_field))
                except RuntimeError as ex:
                    retryable = "HTTP 5" in str(ex) or "HTTP 429" in str(ex)
                    raise DeliveryError(str(ex), retryable=retryable) from ex

        def close(self):
            pass

    return T()


@register_transport("aws_s3_stream")
def _s3_stream_transport(conf: dict):
    """``aws_s3_stream`` output (internal/impl/aws/output_s3_stream.go):
    ONE growing NDJSON object per partition via the multipart-upload
    API (S3StreamWriter) instead of an object per batch — the shape for
    long-running appends where object-per-batch would litter millions
    of tiny objects. Parts flush at ``part_size`` (protocol min 5 MiB;
    configurable down for tests), close() completes the upload
    atomically; a failure before completion aborts, never leaving a
    partial object."""
    from pyspark import TaskContext

    from bento_spark.sources.aws_s3 import S3Client, S3Error, S3StreamWriter

    client = S3Client(
        conf["endpoint"],
        conf["bucket"],
        region=conf.get("region", "us-east-1"),
        access_key=conf.get("access_key"),
        secret_key=conf.get("secret_key"),
    )
    prefix = conf.get("path_prefix", "stream").strip("/")
    part_size = int(conf.get("part_size", S3StreamWriter.PART_MIN))

    class T:
        def __init__(self):
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else 0
            attempt = ctx.attemptNumber() if ctx else 0
            # attempt-suffixed keys: a retried task writes a NEW object,
            # the completed one from the failed attempt never exists
            # (multipart atomicity), so no duplicate-partial risk
            key = f"{prefix}/part-{pid:05d}-a{attempt}.ndjson"
            try:
                self.w = S3StreamWriter(client, key, part_size)
            except S3Error as ex:
                raise DeliveryError(str(ex), retryable=ex.status >= 500) from ex

        def send(self, batch: list[str]) -> None:
            try:
                self.w.write(("\n".join(batch) + "\n").encode("utf-8"))
            except S3Error as ex:
                raise DeliveryError(str(ex), retryable=ex.status >= 500) from ex

        def close(self):
            try:
                self.w.close()
            except S3Error as ex:
                self.w.abort()
                raise DeliveryError(str(ex), retryable=ex.status >= 500) from ex

    return T()


@register_transport("cypher")
def _cypher_transport(conf: dict):
    """``cypher`` output (website/docs/components/outputs/cypher.md):
    write each delivery batch with ONE parameterized statement —
    ``UNWIND $rows AS row <query>`` — over the from-scratch Bolt/
    PackStream client (operators/bolt_wire.py). The reference binds
    args per message; collapsing a batch into UNWIND is the documented
    neo4j bulk-write idiom and turns N round trips into one. Transient
    cluster errors (Neo.TransientError.*) are retryable; Cypher/client
    errors dead-letter."""
    import json as _json

    from bento_spark.operators.bolt_wire import BoltClient, BoltError

    query = conf["query"]  # e.g. "MERGE (n:Doc {id: row.id}) SET n += row"

    class T:
        def __init__(self):
            self.client = BoltClient(
                conf.get("host", "localhost"), int(conf.get("port", 7687)),
                conf.get("user", "neo4j"), conf.get("password", ""),
            )

        def send(self, batch: list[str]) -> None:
            rows = []
            for m in batch:
                try:
                    rows.append(_json.loads(m))
                except ValueError as ex:
                    raise DeliveryError(
                        f"cypher: not JSON: {ex}", retryable=False
                    ) from ex
            try:
                self.client.run(
                    f"UNWIND $rows AS row {query}", {"rows": rows}
                )
            except BoltError as ex:
                retryable = ex.code.startswith("Neo.TransientError")
                raise DeliveryError(str(ex), retryable=retryable) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("pulsar")
def _pulsar_transport(conf: dict):
    """``pulsar`` output (internal/impl/pulsar/output.go): pipelined
    SENDs through the from-scratch binary-protocol client
    (operators/pulsar_wire.py); every message is SEND_RECEIPT-confirmed
    before the delivery batch acks, SEND_ERROR raises retryable (broker
    transient) after the receipt drain."""
    from bento_spark.operators.pulsar_wire import PulsarClient, PulsarError

    class T:
        def __init__(self):
            self.client = PulsarClient(
                conf.get("host", "localhost"), int(conf.get("port", 6650))
            )
            self.client.create_producer(conf["topic"])

        def send(self, batch: list[str]) -> None:
            try:
                self.client.send([m.encode("utf-8") for m in batch])
            except PulsarError as ex:
                raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            try:
                self.client.close_producer()
            finally:
                self.client.close()

    return T()


@register_transport("amqp_1")
def _amqp1_transport(conf: dict):
    """``amqp_1`` output (internal/impl/amqp1/output.go): unsettled
    transfers through the from-scratch AMQP 1.0 client
    (operators/amqp1_wire.py); every delivery is disposition-confirmed
    (accepted) before the batch acks, rejections raise after the
    disposition drain."""
    from bento_spark.operators.amqp1_wire import Amqp1Client, Amqp1Error

    class T:
        def __init__(self):
            self.client = Amqp1Client(
                conf.get("host", "localhost"), int(conf.get("port", 5672))
            )
            self.client.attach_sender(conf["address"])

        def send(self, batch: list[str]) -> None:
            try:
                self.client.send([m.encode("utf-8") for m in batch])
            except Amqp1Error as ex:
                raise DeliveryError(str(ex), retryable="rejected" not in str(ex)) from ex

        def close(self):
            self.client.close()

    return T()


# transports defined next to their protocol clients
from bento_spark.operators import bigquery_write as _bqw  # noqa: E402,F401  (registers gcp_bigquery_write_api)
from bento_spark.operators import bigtable as _bigtable  # noqa: E402,F401  (registers gcp_bigtable)
from bento_spark.operators import snowflake as _snowflake  # noqa: E402,F401  (registers snowflake_put)
