"""Pure-Python Avro codec + jar-free Spark decode paths.

The reference decodes Avro three ways — explicit reader schema,
object-container files, and single-object encoding routed by Rabin
fingerprint (reference src/serialization.rs:142-315, tested there in
tests/deserialization_tests.rs:37-340). These tests prove the jar-free
fallback end-to-end: encode with our codec, decode through the Spark
plan, assert typed rows.
"""

import json

import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark import avro_python as ap
from kafka_delta_ingest_spark.serialization import (
    avro_payload_to_struct,
    avro_to_spark_schema,
    soe_routed_avro,
)

SCHEMA = {
    "type": "record",
    "name": "Email",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "subject", "type": "string"},
        {"name": "read", "type": "boolean"},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "maybe", "type": ["null", "long"]},
        {
            "name": "meta",
            "type": {
                "type": "record",
                "name": "Meta",
                "fields": [{"name": "src", "type": "string"}],
            },
        },
    ],
}
ROW = {
    "id": 42,
    "subject": "hello",
    "read": True,
    "score": 1.5,
    "tags": ["a", "b"],
    "maybe": None,
    "meta": {"src": "unit"},
}


def test_roundtrip_all_shapes():
    parsed = ap.parse_schema(SCHEMA)
    assert ap.decode(ap.encode(ROW, parsed), parsed) == ROW
    # negative/large zigzag edges
    prim = ap.parse_schema({"type": "record", "name": "N", "fields": [{"name": "v", "type": "long"}]})
    for v in (0, -1, 1, -(1 << 62), (1 << 62), 127, -128):
        assert ap.decode(ap.encode({"v": v}, prim), prim) == {"v": v}
    # maps and enums
    m = ap.parse_schema(
        {"type": "record", "name": "M", "fields": [
            {"name": "kv", "type": {"type": "map", "values": "long"}},
            {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
        ]}
    )
    datum = {"kv": {"x": 1, "y": -2}, "e": "B"}
    assert ap.decode(ap.encode(datum, m), m) == datum


def test_container_file_roundtrip_with_deflate():
    rows = [{**ROW, "id": i} for i in range(50)]
    for codec in ("null", "deflate"):
        blob = ap.write_container(rows, json.dumps(SCHEMA), codec=codec)
        schema, got = ap.read_container(blob)
        assert got == rows


def test_spark_decode_without_jar(spark):
    msgs = [(ap.encode({**ROW, "id": i}, ap.parse_schema(SCHEMA)),) for i in range(5)]
    df = spark.createDataFrame(msgs, "value binary")
    out = df.select(
        avro_payload_to_struct(F.col("value"), json.dumps(SCHEMA)).alias("m")
    ).select("m.id", "m.subject", "m.tags", "m.meta.src")
    rows = sorted(out.collect())
    assert [r.id for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0].subject == "hello" and rows[0].tags == ["a", "b"]
    assert rows[0].src == "unit"


def test_spark_decode_confluent_header(spark):
    body = ap.encode(ROW, ap.parse_schema(SCHEMA))
    framed = b"\x00\x00\x00\x00\x07" + body  # magic 0 + schema id 7
    df = spark.createDataFrame([(framed,)], "value binary")
    out = df.select(
        avro_payload_to_struct(
            F.col("value"), json.dumps(SCHEMA), confluent_wire_format=True
        ).alias("m")
    ).select("m.id")
    assert out.collect()[0].id == 42


def test_soe_fingerprint_routing(spark):
    other = {
        "type": "record",
        "name": "Click",
        "fields": [{"name": "url", "type": "string"}],
    }
    s1, s2 = json.dumps(SCHEMA), json.dumps(other)
    fp1, fp2 = ap.schema_fingerprint(s1), ap.schema_fingerprint(s2)
    assert fp1 != fp2
    msgs = [
        (ap.soe_message(ROW, s1),),
        (ap.soe_message({"url": "http://x"}, s2),),
        (b"\xc3\x01" + b"\x99" * 8 + b"junk",),  # unknown fingerprint
    ]
    df = spark.createDataFrame(msgs, "value binary")
    out = df.select(
        soe_routed_avro(F.col("value"), {fp1: s1, fp2: s2}).alias("m")
    ).select("m.id", "m.url")
    rows = out.collect()
    assert (rows[0].id, rows[0].url) == (42, None)
    assert (rows[1].id, rows[1].url) == (None, "http://x")
    assert rows[2].id is None and rows[2].url is None  # unknown → NULL → DLQ


def test_ingest_job_avro_message_path(spark):
    """Avro messages through the full IngestJob plan/split: good rows
    decode into the destination schema, undecodable payloads route to
    the DLQ split — identical semantics to the JSON path (reference
    tests/deserialization_tests.rs:37-340)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kafka_delta_ingest_spark.config import IngestOptions, MessageFormat
    from kafka_delta_ingest_spark.ingest import IngestJob

    schema_json = json.dumps(
        {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "color", "type": "string"},
            ],
        }
    )
    parsed = ap.parse_schema(schema_json)
    msgs = [
        (ap.encode({"id": i, "color": "red"}, parsed), 0, i) for i in range(10)
    ] + [(b"\xff\xfe garbage", 0, 10)]
    raw = spark.createDataFrame(
        [
            (v, p, o, "t", __import__("datetime").datetime(2024, 1, 1), 0)
            for v, p, o in msgs
        ],
        "value binary, partition int, offset long, topic string, "
        "timestamp timestamp, timestampType int",
    )
    target = StructType(
        [StructField("id", LongType()), StructField("color", StringType())]
    )
    job = IngestJob(
        IngestOptions(
            topic="t",
            table_uri="/tmp/kdi-avro-noop",
            message_format=MessageFormat.AVRO,
            avro_schema_json=schema_json,
        ),
        target,
    )
    good, dlq = job.split(job.plan(raw))
    assert sorted(r.id for r in good.collect()) == list(range(10))
    assert dlq.count() == 1


def test_ingest_job_avro_empty_messages_are_not_dead_letters(spark):
    """Empty and tombstone Avro messages reach the decoder as NULL and
    are neither written nor dead-lettered (reference src/lib.rs:847-852)."""
    import datetime

    from pyspark.sql.types import LongType, StructField, StructType

    from kafka_delta_ingest_spark.config import IngestOptions, MessageFormat
    from kafka_delta_ingest_spark.ingest import IngestJob

    schema_json = json.dumps(
        {"type": "record", "name": "E", "fields": [{"name": "id", "type": "long"}]}
    )
    good = ap.encode({"id": 7}, ap.parse_schema(schema_json))
    raw = spark.createDataFrame(
        [
            (v, 0, o, "t", datetime.datetime(2024, 1, 1), 0)
            for o, v in enumerate([good, b"", None])
        ],
        "value binary, partition int, offset long, topic string, "
        "timestamp timestamp, timestampType int",
    )
    job = IngestJob(
        IngestOptions(
            topic="t",
            table_uri="/tmp/kdi-avro-noop",
            message_format=MessageFormat.AVRO,
            avro_schema_json=schema_json,
        ),
        StructType([StructField("id", LongType())]),
    )
    good_df, dlq = job.split(job.plan(raw))
    assert [r.id for r in good_df.collect()] == [7]
    assert dlq.count() == 0


def test_soe_schema_dir_cli_loading(tmp_path):
    """--soe-avro with a directory registers every schema under its
    Rabin fingerprint (reference SoeAvroDeserializer::try_from_path)."""
    from kafka_delta_ingest_spark.cli import build_parser, options_from_args

    s1 = json.dumps({"type": "record", "name": "A", "fields": [{"name": "x", "type": "long"}]})
    s2 = json.dumps({"type": "record", "name": "B", "fields": [{"name": "y", "type": "string"}]})
    (tmp_path / "a.avsc").write_text(s1)
    (tmp_path / "b.avsc").write_text(s2)
    args = build_parser().parse_args(
        ["ingest", "topic", "/tmp/tbl", "--soe-avro", str(tmp_path)]
    )
    opts = options_from_args(args)
    assert opts.soe_schemas == {
        ap.schema_fingerprint(s1): s1,
        ap.schema_fingerprint(s2): s2,
    }


def test_container_payload_self_describing(spark):
    """MessageFormat.AVRO with no reader schema: each payload is an
    object-container whose writer schema drives the decode."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kafka_delta_ingest_spark.serialization import (
        avro_payload_to_json,
        json_text_to_struct,
    )

    sch = {"type": "record", "name": "C", "fields": [
        {"name": "id", "type": "long"}, {"name": "color", "type": "string"}]}
    blob = ap.write_container([{"id": 5, "color": "teal"}], json.dumps(sch))
    df = spark.createDataFrame([(blob,)], "value binary")
    target = StructType([StructField("id", LongType()), StructField("color", StringType())])
    text = avro_payload_to_json(F.col("value"))
    parsed, err = json_text_to_struct(text, target)
    row = df.select(parsed.alias("m"), err.alias("e")).collect()[0]
    assert row.m.id == 5 and row.m.color == "teal" and row.e is None


def test_avro_to_spark_schema_types():
    st = avro_to_spark_schema(json.dumps(SCHEMA))
    assert st["id"].dataType.simpleString() == "bigint"
    assert st["score"].dataType.simpleString() == "double"
    assert st["tags"].dataType.simpleString() == "array<string>"
    assert st["maybe"].dataType.simpleString() == "bigint"
    assert st["meta"].dataType.simpleString() == "struct<src:string>"


# -- Confluent Schema Registry resolution --------------------------------

_REGISTRY_SCHEMAS = {
    1: json.dumps(
        {
            "type": "record",
            "name": "V1",
            "fields": [{"name": "id", "type": "long"}, {"name": "name", "type": "string"}],
        }
    ),
    2: json.dumps(
        {
            "type": "record",
            "name": "V2",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": "string"},
                {"name": "age", "type": ["null", "long"], "default": None},
            ],
        }
    ),
}

_FETCH_CALLS: list[str] = []


def _fake_fetch(url: str) -> str:
    # Picklable dict-backed stand-in for the Confluent HTTP endpoint.
    _FETCH_CALLS.append(url)
    schema_id = int(url.rsplit("/", 1)[1])
    return _REGISTRY_SCHEMAS[schema_id]


def _framed(schema_id: int, value: dict, schema_json: str) -> bytes:
    # Confluent wire format: magic 0x0 + big-endian schema id + body.
    return b"\x00" + schema_id.to_bytes(4, "big") + ap.encode(
        value, ap.parse_schema(schema_json)
    )


def test_registry_client_caches_per_schema_id():
    from kafka_delta_ingest_spark.schema_registry import (
        SchemaRegistryClient,
        clear_caches,
    )

    clear_caches()
    _FETCH_CALLS.clear()
    c = SchemaRegistryClient("http://registry.test", _fake_fetch)
    assert json.loads(c.schema_by_id(1))["name"] == "V1"
    c.schema_by_id(1)
    c.parsed_avro_by_id(1)
    assert len(_FETCH_CALLS) == 1  # every later hit served from cache
    c.schema_by_id(2)
    assert len(_FETCH_CALLS) == 2


def test_registry_resolves_writer_schema_per_message(spark):
    """Messages written under two registry schema ids (an evolution)
    decode in ONE plan against the destination schema — new fields from
    the later writer schema surface, old messages null-fill."""
    from kafka_delta_ingest_spark.schema_registry import clear_caches
    from kafka_delta_ingest_spark.serialization import (
        avro_registry_to_json,
        json_text_to_struct,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    clear_caches()
    schemas = dict(_REGISTRY_SCHEMAS)

    def fetch(url: str) -> str:
        # Defined inside the test so cloudpickle ships it BY VALUE to
        # executor workers (a test-module global would pickle by
        # reference to a module the worker cannot import).
        return schemas[int(url.rsplit("/", 1)[1])]

    msgs = [
        (_framed(1, {"id": 1, "name": "a"}, _REGISTRY_SCHEMAS[1]),),
        (_framed(2, {"id": 2, "name": "b", "age": 30}, _REGISTRY_SCHEMAS[2]),),
        (b"\x01garbage-wrong-magic",),
        (_framed(9, {"id": 3, "name": "c"}, _REGISTRY_SCHEMAS[1]),),  # unknown id
    ]
    df = spark.createDataFrame(msgs, "value binary")
    dest = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("age", LongType()),
        ]
    )
    text = avro_registry_to_json(F.col("value"), "http://registry.test", fetch)
    parsed, err = json_text_to_struct(text, dest)
    rows = df.select(parsed.alias("p"), err.alias("e")).collect()
    ok = [r.p for r in rows if r.e is None]
    bad = [r for r in rows if r.e is not None]
    assert {(p.id, p.name, p.age) for p in ok} == {(1, "a", None), (2, "b", 30)}
    assert len(bad) == 2  # wrong magic + unknown schema id -> DLQ path


# ---------------------------------------------------------------------------
# Parsing Canonical Form + CLI misconfig guard
# ---------------------------------------------------------------------------


def test_parsing_canonical_form_rules():
    """PCF must strip non-parsing attributes, resolve fullnames, inline
    primitives, fix attribute order, and drop whitespace (Avro spec
    'Transforming into Parsing Canonical Form')."""
    verbose = """
    {
      "type": "record", "name": "Email", "namespace": "com.example.mail",
      "doc": "an email", "aliases": ["Mail"],
      "fields": [
        {"name": "id", "type": {"type": "long"}, "doc": "pk", "default": 0},
        {"name": "tag", "type": {"type": "enum", "name": "Tag",
          "symbols": ["A", "B"], "doc": "x"}},
        {"name": "raw", "type": {"type": "fixed", "name": "Raw16", "size": 16}},
        {"name": "hdrs", "type": {"type": "map", "values": "string"}},
        {"name": "refs", "type": {"type": "array", "items": "Tag"}},
        {"name": "opt", "type": ["null", {"type": "string", "avro.java.string": "String"}]}
      ]
    }
    """
    pcf = ap.parsing_canonical_form(verbose)
    assert pcf == (
        '{"name":"com.example.mail.Email","type":"record","fields":['
        '{"name":"id","type":"long"},'
        '{"name":"tag","type":{"name":"com.example.mail.Tag","type":"enum","symbols":["A","B"]}},'
        '{"name":"raw","type":{"name":"com.example.mail.Raw16","type":"fixed","size":16}},'
        '{"name":"hdrs","type":{"type":"map","values":"string"}},'
        '{"name":"refs","type":{"type":"array","items":"com.example.mail.Tag"}},'
        '{"name":"opt","type":["null","string"]}]}'
    )


def test_equivalent_schemas_fingerprint_identically():
    """The cross-producer case the raw-text fingerprint broke: same
    schema, different formatting/attribute order/docs → same wire
    fingerprint."""
    a = '{"type":"record","name":"T","namespace":"n","fields":[{"name":"x","type":"long"}]}'
    b = """{
        "doc": "same schema, different producer",
        "fields": [ {"type": {"type": "long"}, "name": "x", "default": 1} ],
        "name": "n.T",
        "type": "record"
    }"""
    assert ap.parsing_canonical_form(a) == ap.parsing_canonical_form(b)
    assert ap.schema_fingerprint(a) == ap.schema_fingerprint(b)
    assert ap.rabin_fingerprint(a) != ap.rabin_fingerprint(b)  # why PCF exists


def test_soe_decode_accepts_cross_producer_formatting(spark):
    """End-to-end: a message encoded from a reformatted-but-equivalent
    schema must route to the registered reader schema, not the DLQ."""
    reader = json.dumps(SCHEMA)
    producer_variant = json.dumps(json.loads(reader), indent=4, sort_keys=True)
    msg = ap.soe_message(ROW, producer_variant)
    df = spark.createDataFrame([(msg,)], "value binary")
    out = df.select(
        soe_routed_avro(
            F.col("value"), {ap.schema_fingerprint(reader): reader}
        ).alias("m")
    ).select("m.id")
    assert out.collect()[0].id == 42


def test_soe_cli_single_file_any_extension(tmp_path):
    """A single schema file named explicitly is read whatever its
    extension (the filter only applies to directory scans)."""
    from kafka_delta_ingest_spark.cli import build_parser, options_from_args

    s = json.dumps({"type": "record", "name": "A",
                    "fields": [{"name": "x", "type": "long"}]})
    f = tmp_path / "schema.txt"
    f.write_text(s)
    args = build_parser().parse_args(
        ["ingest", "topic", "/tmp/tbl", "--soe-avro", str(f)]
    )
    opts = options_from_args(args)
    assert opts.soe_schemas == {ap.schema_fingerprint(s): s}


def test_soe_cli_empty_schema_dir_raises(tmp_path):
    """A directory with no usable schema files must be a loud
    configuration error, never a silent fallthrough to container mode
    (which dead-letters every message)."""
    import pytest

    from kafka_delta_ingest_spark.cli import build_parser, options_from_args

    (tmp_path / "README.md").write_text("not a schema")
    args = build_parser().parse_args(
        ["ingest", "topic", "/tmp/tbl", "--soe-avro", str(tmp_path)]
    )
    with pytest.raises(ValueError, match="no .avsc/.json"):
        options_from_args(args)
