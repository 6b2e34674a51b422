"""BSR module resolution + url-backed schema registry: the engine's
Connect-JSON FileDescriptorSetService client (protoparse.py
fetch_bsr_registry; reference multimodule_watcher.go) against an
in-process BSR stub, and HttpSchemaRegistry against an in-process
Confluent-API registry — the processor-docs sweep's runnable backends
(VERDICT r11 next #4)."""

from __future__ import annotations

import json

import pytest

from bento_spark.testing.bsr_server import (
    InProcessBsrServer,
    InProcessSchemaRegistry,
)

# proto-JSON FileDescriptorSet for the protobuf.md docs' testing.Person
PERSON_FDS = {
    "file": [
        {
            "name": "testing/person.proto",
            "package": "testing",
            "syntax": "proto3",
            "messageType": [
                {
                    "name": "Person",
                    "field": [
                        {"name": "first_name", "number": 1,
                         "type": "TYPE_STRING", "label": "LABEL_OPTIONAL"},
                        {"name": "last_name", "number": 2,
                         "type": "TYPE_STRING", "label": "LABEL_OPTIONAL"},
                        {"name": "full_name", "number": 3,
                         "type": "TYPE_STRING", "label": "LABEL_OPTIONAL"},
                        {"name": "age", "number": 4,
                         "type": "TYPE_INT32", "label": "LABEL_OPTIONAL"},
                        {"name": "id", "number": 5,
                         "type": "TYPE_INT32", "label": "LABEL_OPTIONAL"},
                        {"name": "email", "number": 6,
                         "type": "TYPE_STRING", "label": "LABEL_OPTIONAL"},
                        {"name": "last_updated", "number": 7,
                         "type": "TYPE_MESSAGE", "label": "LABEL_OPTIONAL",
                         "typeName": ".google.protobuf.Timestamp"},
                    ],
                }
            ],
        }
    ]
}


@pytest.fixture()
def bsr():
    with InProcessBsrServer({"buf.build/exampleco/mymodule": PERSON_FDS}) as srv:
        yield srv


def test_fetch_bsr_registry_schema(bsr):
    from bento_spark.functions.protoparse import load_message_schema_bsr

    schema = load_message_schema_bsr(
        "testing.Person",
        [{"module": "buf.build/exampleco/mymodule", "url": bsr.url,
          "api_key": "xxx"}],
    )
    names = {name for _n, (name, _t) in schema["fields"].items()}
    assert {"firstName", "lastName", "age", "email", "lastUpdated"} <= names


def test_protobuf_processor_bsr_roundtrip(spark, bsr):
    from bento_spark.plans.pipeline import PROCESSORS

    df = spark.createDataFrame(
        [('{"firstName":"caleb","lastName":"quaye","email":"caleb@myspace.com"}',)],
        "content string",
    )
    conf = {
        "operator": "from_json", "message": "testing.Person",
        "bsr": [{"module": "buf.build/exampleco/mymodule", "url": bsr.url,
                 "api_key": "xxx"}],
    }
    enc = PROCESSORS["protobuf"](df, conf)
    dec = PROCESSORS["protobuf"](
        enc, {**conf, "operator": "to_json"}
    ).first()
    doc = json.loads(dec["content"])
    assert doc["firstName"] == "caleb" and doc["email"] == "caleb@myspace.com"


def test_unknown_module_errors(bsr):
    from bento_spark.functions.protoparse import load_message_schema_bsr

    with pytest.raises(ValueError, match="not found in any BSR module"):
        load_message_schema_bsr(
            "testing.Person",
            [{"module": "buf.build/nope/missing", "url": bsr.url}],
        )


def test_http_schema_registry_decode(spark):
    from bento_spark.plans.processors2 import PROCESSORS
    from bento_spark.operators.protobuf import sr_frame
    from bento_spark.operators.avro import _enc

    schema = {
        "type": "record", "name": "R",
        "fields": [{"name": "a", "type": "long"}],
    }
    srv = InProcessSchemaRegistry({1: schema})
    try:
        body = bytearray()
        _enc(schema, {"a": 7}, body)
        df = spark.createDataFrame(
            [(sr_frame(1, bytes(body)),)], "content binary"
        )
        out = PROCESSORS["schema_registry_decode"](
            df, {"url": srv.url}
        ).first()
        assert json.loads(out["content"]) == {"a": 7}
    finally:
        srv.stop()
