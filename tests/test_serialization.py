"""Deserializer-family tests (SURVEY §2.1 S3/S4/S8): gzip payloads,
Confluent wire-format header strip, empty-payload guard. Avro
single-object-encoding fingerprint routing is covered in
``test_avro_python.py``."""

import gzip
import json

from pyspark.sql import Row, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark.serialization import (
    gunzip,
    json_payload_to_struct,
    strip_confluent_header,
)

SCHEMA = StructType([StructField("id", LongType()), StructField("name", StringType())])


def _binary_df(spark, payloads: list[bytes]):
    return spark.createDataFrame(
        [Row(value=bytearray(p)) for p in payloads], "value binary"
    )


def test_gzip_payload_decodes(spark):
    """S3 gzip flag (reference src/serialization.rs:108-114)."""
    msgs = [json.dumps({"id": i, "name": f"n{i}"}).encode() for i in range(4)]
    df = _binary_df(spark, [gzip.compress(m) for m in msgs])
    parsed, err = json_payload_to_struct(F.col("value"), SCHEMA, gzip=True)
    out = df.select(parsed.alias("p"), err.alias("e")).collect()
    assert all(r["e"] is None for r in out)
    assert sorted(r["p"]["id"] for r in out) == [0, 1, 2, 3]


def test_gzip_passthrough_for_plain_payloads(spark):
    """The reference decompresses transparently only when the payload IS
    gzip; plain bytes pass through (flate2 fallback behavior)."""
    msgs = [json.dumps({"id": 7, "name": "plain"}).encode()]
    df = _binary_df(spark, msgs)
    parsed, err = json_payload_to_struct(F.col("value"), SCHEMA, gzip=True)
    row = df.select(parsed.alias("p"), err.alias("e")).collect()[0]
    assert row["e"] is None and row["p"]["id"] == 7


def test_confluent_header_strip(spark):
    """S4: magic 0x0 + 4-byte schema id stripped before JSON decode
    (reference src/serialization.rs:317-346)."""
    body = json.dumps({"id": 42, "name": "confluent"}).encode()
    wire = b"\x00" + (1234).to_bytes(4, "big") + body
    df = _binary_df(spark, [wire])
    parsed, err = json_payload_to_struct(
        F.col("value"), SCHEMA, confluent_wire_format=True
    )
    row = df.select(parsed.alias("p"), err.alias("e")).collect()[0]
    assert row["e"] is None
    assert row["p"]["id"] == 42 and row["p"]["name"] == "confluent"


def test_strip_header_then_gunzip_compose(spark):
    """Column stages compose: strip → gunzip → parse."""
    body = gzip.compress(json.dumps({"id": 5, "name": "zipped"}).encode())
    wire = b"\x00\x00\x00\x00\x01" + body
    df = _binary_df(spark, [wire])
    out = df.select(
        gunzip(strip_confluent_header(F.col("value"))).cast("string").alias("s")
    ).collect()[0]
    assert json.loads(out["s"])["name"] == "zipped"


def test_empty_payload_guard(spark):
    """S8: null/empty payloads are skipped silently, not dead-lettered
    (reference src/lib.rs:847-852)."""
    import datetime

    from kafka_delta_ingest_spark.config import IngestOptions
    from kafka_delta_ingest_spark.ingest import IngestJob

    rows = [
        Row(
            value=bytearray(json.dumps({"id": 1, "name": "x"}).encode()),
            partition=0,
            offset=0,
            topic="t",
            timestamp=datetime.datetime(2024, 1, 1),
            timestampType=0,
        ),
        Row(
            value=None,
            partition=0,
            offset=1,
            topic="t",
            timestamp=datetime.datetime(2024, 1, 1),
            timestampType=0,
        ),
        Row(
            value=bytearray(b""),
            partition=0,
            offset=2,
            topic="t",
            timestamp=datetime.datetime(2024, 1, 1),
            timestampType=0,
        ),
    ]
    raw = spark.createDataFrame(
        rows,
        "value binary, partition int, offset long, topic string, "
        "timestamp timestamp, timestampType int",
    )
    job = IngestJob(IngestOptions(topic="t", table_uri="/tmp/unused-kdi"), SCHEMA)
    planned = job.plan(raw)
    good, dlq = job.split(planned)
    assert good.count() == 1  # only the real message
    assert dlq.count() == 0  # empties skipped, NOT dead-lettered


def test_decoders_map_null_to_null(spark):
    """IngestJob hands an empty or tombstone message to the decoders as
    NULL: each one returns NULL for it, without decoding anything."""
    from kafka_delta_ingest_spark import avro_python as ap
    from kafka_delta_ingest_spark.serialization import (
        avro_payload_to_json,
        avro_registry_to_json,
    )

    schema_json = json.dumps(
        {"type": "record", "name": "E", "fields": [{"name": "id", "type": "long"}]}
    )

    def fetch(url):
        raise AssertionError(f"no schema id to resolve, asked for {url}")

    v = F.col("value")
    cols = {
        "gzip": gunzip(v),
        "avro": avro_payload_to_json(v, avro_schema_json=schema_json),
        "soe": avro_payload_to_json(
            v, soe_schemas={ap.schema_fingerprint(schema_json): schema_json}
        ),
        "container": avro_payload_to_json(v),
        "registry": avro_registry_to_json(v, "http://registry.test", fetcher=fetch),
    }
    df = spark.createDataFrame([Row(value=None)], "value binary")
    row = df.select(*[c.alias(k) for k, c in cols.items()]).first()
    assert row.asDict() == dict.fromkeys(cols)
