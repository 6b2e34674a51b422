"""Kafka wire-protocol tests: public CRC32C / zigzag-varint vectors, an
independent record-batch parser, an in-process broker (Metadata v0 +
Produce v3) that checksums and decodes every batch before accepting it,
error-code propagation, acks=0 fire-and-forget, and the Spark deliver()
loop end-to-end through the kafka transport."""

from __future__ import annotations

import json

import pytest

from bento_spark.operators.kafka_wire import (
    KafkaError,
    KafkaProducerClient,
    crc32c,
    encode_record_batch,
    zigzag_decode,
    zigzag_encode,
)

# --- public vectors --------------------------------------------------------


def test_crc32c_public_vector():
    # RFC 3720 / Castagnoli reference vector
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_crc32c_vectorized_matches_scalar():
    # the >=512-byte numpy path (chunked registers + GF(2) combine)
    # must agree with the byte-serial reference form on every size
    # class: below/at/above the cutover, odd tails, non-power-of-two
    # chunk counts, and megabyte inputs
    import random

    from bento_spark.operators.kafka_wire import _crc32c_scalar

    rng = random.Random(17)
    for n in (0, 1, 7, 511, 512, 513, 520, 1000, 4096, 65537, 1 << 20):
        data = rng.randbytes(n)
        assert crc32c(data) == (_crc32c_scalar(data) ^ 0xFFFFFFFF), n


def test_zigzag_public_vectors():
    # protobuf/kafka zigzag examples: 0->0, -1->1, 1->2, -2->3, 150->300
    assert zigzag_encode(0) == b"\x00"
    assert zigzag_encode(-1) == b"\x01"
    assert zigzag_encode(1) == b"\x02"
    assert zigzag_encode(-2) == b"\x03"
    assert zigzag_encode(150) == b"\xac\x02"
    for n in (0, -1, 1, 63, -64, 64, 12345, -98765, 2**40):
        assert zigzag_decode(zigzag_encode(n), 0) == (n, len(zigzag_encode(n)))


# --- independent batch parser + in-process broker: shared with the
# stream_kafka_wire gate query ---------------------------------------------

from bento_spark.testing.kafka_broker import (  # noqa: E402
    InProcessKafkaBroker as _Broker,
    parse_record_batch,
)


def test_record_batch_roundtrip_via_independent_parser():
    records = [(None, b"v0"), (b"k1", "caf\xe9 \u2603".encode()), (b"", b"")]
    assert parse_record_batch(encode_record_batch(records)) == [
        (None, b"v0"),
        (b"k1", "caf\xe9 \u2603".encode()),
        (b"", b""),
    ]


def test_corrupted_batch_fails_crc():
    raw = bytearray(encode_record_batch([(None, b"x")]))
    raw[-1] ^= 0xFF
    with pytest.raises(AssertionError, match="CRC32C"):
        parse_record_batch(bytes(raw))


@pytest.fixture()
def broker():
    b = _Broker()
    yield b
    b.stop()


def test_metadata_discovery(broker):
    c = KafkaProducerClient(port=broker.port)
    md = c.metadata("t1")
    assert md["partitions"] == {0: 1, 1: 1, 2: 1}
    assert md["brokers"][1] == ("127.0.0.1", broker.port)
    c.close()


def test_produce_roundtrip_and_offsets(broker):
    c = KafkaProducerClient(port=broker.port)
    assert c.produce("t1", 0, [(None, b"a"), (b"k", b"b")]) == 0
    assert c.produce("t1", 0, [(None, b"c")]) == 2  # base offset advances
    assert broker.log[0] == [(None, b"a"), (b"k", b"b"), (None, b"c")]
    c.close()


def test_produce_error_code_raises(broker):
    broker.error_script = [6]  # NOT_LEADER_FOR_PARTITION
    c = KafkaProducerClient(port=broker.port)
    with pytest.raises(KafkaError) as ei:
        c.produce("t1", 0, [(None, b"x")])
    assert ei.value.code == 6
    c.close()


def test_acks0_fire_and_forget(broker):
    c = KafkaProducerClient(port=broker.port, acks=0)
    assert c.produce("t1", 1, [(None, b"noack")]) == -1
    c.produce("t1", 1, [(None, b"noack2")])  # connection still usable
    c.close()
    import time

    for _ in range(50):  # server applies asynchronously
        if len(broker.log.get(1, [])) == 2:
            break
        time.sleep(0.05)
    assert [v for _, v in broker.log[1]] == [b"noack", b"noack2"]


def test_deliver_end_to_end_round_robins_partitions(spark, broker):
    from bento_spark.sinks.connector import deliver

    df = spark.range(40).selectExpr("id", "concat('m', id) AS msg").coalesce(2)
    stats = deliver(
        df, "kafka",
        {"host": "127.0.0.1", "port": broker.port, "topic": "t1"},
        batch_size=10,
    )
    assert stats["delivered"] == 40 and stats["dead"] == 0
    vals = [json.loads(v.decode())["msg"] for p in broker.log.values() for _, v in p]
    assert sorted(vals) == sorted(f"m{i}" for i in range(40))
    assert len(broker.log) >= 2  # round-robined across partitions


def test_list_offsets_and_fetch(broker):
    c = KafkaProducerClient(port=broker.port)
    c.produce("t1", 0, [(None, b"a"), (b"k1", b"b"), (None, b"c")])
    assert c.list_offsets("t1", 0, -2) == 0  # earliest
    assert c.list_offsets("t1", 0, -1) == 3  # latest
    recs, hw = c.fetch("t1", 0, 1)
    assert hw == 3
    assert recs == [(1, b"k1", b"b"), (2, None, b"c")]
    c.close()


def test_fetch_pages_through_the_log(broker):
    broker.fetch_page = 4  # force multiple fetches per range
    c = KafkaProducerClient(port=broker.port)
    c.produce("t1", 0, [(None, f"m{i}".encode()) for i in range(10)])
    c.close()
    from bento_spark.sources.kafka_source import _Range, _read_range

    rows = list(_read_range(_Range("127.0.0.1", broker.port, "t1", 0, 0, 10)))
    assert [r[1] for r in rows] == [f"m{i}" for i in range(10)]
    assert [r[3] for r in rows] == list(range(10))


class _DeniedClient:
    """A broker client whose reads fail with a non-connection OSError."""

    built = 0

    def __init__(self, host="localhost", port=9092):
        _DeniedClient.built += 1

    def fetch(self, *a):
        raise PermissionError("denied")

    def list_offsets(self, *a):
        raise PermissionError("denied")

    def close(self):
        pass


@pytest.fixture
def denied_client(monkeypatch):
    import bento_spark.operators.kafka_wire as kw

    monkeypatch.setattr(_DeniedClient, "built", 0)
    monkeypatch.setattr(kw, "KafkaProducerClient", _DeniedClient)
    return _DeniedClient


def test_fetch_does_not_retry_non_connection_errors(denied_client):
    from bento_spark.sources.kafka_source import _Range, _read_range

    with pytest.raises(PermissionError):
        list(_read_range(_Range("127.0.0.1", 1, "t1", 0, 0, 10)))
    assert denied_client.built == 1


def test_list_offsets_does_not_retry_non_connection_errors(denied_client):
    from bento_spark.sources.kafka_source import _Common

    common = _Common({"topic": "t1"})
    with pytest.raises(PermissionError):
        common._offsets(common._client(), [0], -2)
    assert denied_client.built == 1


def test_spark_batch_read_bento_kafka(spark, broker):
    from bento_spark.operators.kafka_wire import KafkaProducerClient as KPC
    from bento_spark.sources.kafka_source import register

    c = KPC(port=broker.port)
    for p in range(3):
        c.produce("t1", p, [(None, f"p{p}-{i}".encode()) for i in range(5)])
    c.close()
    register(spark)
    df = (
        spark.read.format("bento_kafka")
        .option("host", "127.0.0.1")
        .option("port", str(broker.port))
        .option("topic", "t1")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 15
    assert {r["value"] for r in rows} == {f"p{p}-{i}" for p in range(3) for i in range(5)}
    assert {r["partition"] for r in rows} == {0, 1, 2}
    assert all(r["offset"] in range(5) for r in rows)


def test_spark_stream_read_bento_kafka_with_new_arrivals(spark, broker):
    import time

    from bento_spark.operators.kafka_wire import KafkaProducerClient as KPC
    from bento_spark.sources.kafka_source import register

    register(spark)
    c = KPC(port=broker.port)
    c.produce("t1", 0, [(None, b"first-0"), (None, b"first-1")])
    sdf = (
        spark.readStream.format("bento_kafka")
        .option("host", "127.0.0.1")
        .option("port", str(broker.port))
        .option("topic", "t1")
        .load()
    )
    query = (
        sdf.writeStream.format("memory")
        .queryName("t_kafka_stream")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        def count():
            return spark.sql(
                "SELECT count(*) n FROM t_kafka_stream"
            ).collect()[0]["n"]

        deadline = time.time() + 60
        while time.time() < deadline and count() < 2:
            time.sleep(0.5)
        assert count() == 2
        # new messages mid-stream -> next offset range picks them up
        c.produce("t1", 1, [(None, b"late-0"), (None, b"late-1"), (None, b"late-2")])
        deadline = time.time() + 60
        while time.time() < deadline and count() < 5:
            time.sleep(0.5)
        assert count() == 5
        vals = {
            r["value"]
            for r in spark.sql("SELECT value FROM t_kafka_stream").collect()
        }
        assert vals == {"first-0", "first-1", "late-0", "late-1", "late-2"}
    finally:
        query.stop()
        c.close()


def test_deliver_retries_transient_broker_error(spark, broker):
    from bento_spark.sinks.connector import deliver

    broker.error_script = [7]  # REQUEST_TIMED_OUT -> retryable
    df = spark.range(6).coalesce(1).selectExpr("id")
    stats = deliver(
        df, "kafka",
        {"host": "127.0.0.1", "port": broker.port, "topic": "t1"},
        batch_size=10,
    )
    assert stats["delivered"] == 6 and stats["dead"] == 0


def test_yaml_kafka_input_dials_configured_address(spark, broker):
    """The `kafka` input's fallback (no native connector jars) dials the
    configured seed broker, not localhost:9092."""
    from bento_spark.operators.kafka_wire import KafkaProducerClient as KPC
    from bento_spark.sources import build_source

    assert broker.port != 9092
    c = KPC(port=broker.port)
    c.produce("t1", 0, [(None, b"a"), (None, b"b")])
    c.close()
    for addresses in ([f"127.0.0.1:{broker.port}"],
                      f"127.0.0.1:{broker.port},127.0.0.1:1"):
        df, stream = build_source(spark, "kafka", {
            "addresses": addresses, "topics": ["t1"], "stream": False,
        })
        assert not stream
        assert sorted(r["value"] for r in df.collect()) == ["a", "b"]
