"""``bento_kafka`` — a REAL Kafka source on the Spark 4 Python Data
Source API, reading through the from-scratch wire-protocol client
(operators/kafka_wire.py: Metadata v0 / ListOffsets v1 / Fetch v4).

Unlike SQS (destructive reads -> staging bridge, sources/sqs_bridge.py),
Kafka's log offsets ARE Spark's replayable-offset contract: offsets map
1:1 onto the DataSourceStreamReader protocol —

* ``initialOffset``  -> ListOffsets(earliest) per partition
  (or 0-pinned with ``option("starting_offsets", "zero")`` for tests)
* ``latestOffset``   -> ListOffsets(latest) per partition
* ``partitions``     -> one InputPartition per Kafka partition with a
  [start, end) offset range — Spark parallelism = topic parallelism
* ``read``           -> Fetch loop over the range (executor-side
  connection, CRC-verified batch decode)
* ``commit``         -> no-op (the log is the retention story)

Reference parity: the kafka/kafka_franz inputs
(internal/impl/kafka/input_kafka_franz.go) with key/partition/offset
landing as columns like the reference's metadata fields. Batch reads
(``spark.read``) cover the earliest..latest snapshot the same way.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
    ]
)


class _Range(InputPartition):
    def __init__(self, host, port, topic, partition, start, end):
        self.host, self.port = host, port
        self.topic, self.partition = topic, partition
        self.start, self.end = start, end


def _read_range(part: _Range):
    from bento_spark.operators.kafka_wire import KafkaProducerClient
    from bento_spark.retry import Client

    if part.start >= part.end:
        return
    # Fetch is a pure read from a replayable log, so it is retried on a
    # fresh connection from the current cursor: the cursor only
    # advances past yielded records, so none is skipped or duplicated
    with Client(lambda: KafkaProducerClient(part.host, part.port)) as client:
        offset = part.start
        while offset < part.end:
            records, hw = client.run(
                lambda c: c.fetch(part.topic, part.partition, offset)
            )
            if not records:
                break  # nothing more visible yet
            for off, key, value in records:
                if off >= part.end:
                    return
                if off >= part.start:
                    yield (key, value.decode("utf-8", "replace"),
                           part.partition, off)
                offset = max(offset, off + 1)


class _Common:
    def __init__(self, options):
        self.host = options.get("host", "localhost")
        self.port = int(options.get("port", 9092))
        self.topic = options["topic"]
        self.start_mode = options.get("starting_offsets", "earliest")

    def _client(self):
        from bento_spark.operators.kafka_wire import KafkaProducerClient

        return KafkaProducerClient(self.host, self.port)

    def _partition_ids(self, client) -> list[int]:
        return sorted(client.metadata(self.topic)["partitions"])

    def _offsets(self, client, pids, ts) -> dict[str, int]:
        return {str(p): client.list_offsets(self.topic, p, ts) for p in pids}

    def _read(self, op):
        # metadata and ListOffsets are pure reads, safe to retry
        from bento_spark.retry import Client

        with Client(self._client) as client:
            return client.run(op)


class KafkaStreamReader(_Common, DataSourceStreamReader):
    def initialOffset(self) -> dict:
        def earliest(client):
            pids = self._partition_ids(client)
            if self.start_mode == "zero":
                return {str(p): 0 for p in pids}
            return self._offsets(client, pids, -2)

        return self._read(earliest)

    def latestOffset(self) -> dict:
        return self._read(
            lambda c: self._offsets(c, self._partition_ids(c), -1)
        )

    def partitions(self, start: dict, end: dict):
        return [
            _Range(self.host, self.port, self.topic, int(p),
                   start.get(p, 0), end[p])
            for p in sorted(end)
        ]

    def read(self, partition: _Range):
        yield from _read_range(partition)

    def commit(self, end: dict) -> None:
        pass  # log retention is broker-side; offsets live in the checkpoint


class KafkaBatchReader(_Common, DataSourceReader):
    def partitions(self):
        def ranges(client):
            pids = self._partition_ids(client)
            start = (
                {str(p): 0 for p in pids} if self.start_mode == "zero"
                else self._offsets(client, pids, -2)
            )
            end = self._offsets(client, pids, -1)
            return [
                _Range(self.host, self.port, self.topic, p,
                       start[str(p)], end[str(p)])
                for p in pids
            ]

        return self._read(ranges)

    def read(self, partition: _Range):
        yield from _read_range(partition)


class BentoKafkaDataSource(DataSource):
    @classmethod
    def name(cls):
        return "bento_kafka"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return KafkaBatchReader(self.options)

    def streamReader(self, schema):
        return KafkaStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(BentoKafkaDataSource)
