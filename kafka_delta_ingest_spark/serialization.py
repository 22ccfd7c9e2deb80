"""Message deserializers: Kafka payload bytes → typed struct column.

Spark-first rebuild of the reference's ``MessageDeserializer`` family
(reference src/serialization.rs:31-68): each deserializer returns a
Column expression (or a thin DataFrame stage) that turns the raw
``value: binary`` Kafka column into a parsed struct plus an error
column, instead of a per-message virtual call.

Formats (reference src/lib.rs:213-240 MessageFormat):

* **JSON** (default) — ``from_json`` with the destination-derived wire
  schema; optional gzip decompression first
  (src/serialization.rs:99-140).
* **JSON + Confluent Schema Registry** — strip the 5-byte wire-format
  header (magic 0x0 + 4-byte schema id), then ``from_json``
  (src/serialization.rs:317-346).
* **Avro (container / schema file / registry)** — the pure-Python
  codec (avro_python.py) inside one Arrow-batched UDF that emits JSON
  text for ``from_json`` (src/serialization.rs:142-154, 212-241); no
  spark-avro jar needed.
* **Avro single-object encoding** — per-message schema routed by the
  8-byte Rabin fingerprint at bytes [2, 10)
  (src/serialization.rs:161-210), inside the same UDF.

The "wire schema" trick: every leaf of the destination schema that is
``string`` or ``timestamp`` is parsed as **string**. Spark's JSON parser
captures non-string JSON values targeted at a string field as their raw
JSON text — exactly the reference's ToString coercion — and leaves
timestamp parsing to the strict RFC3339 coercion layer so that the
reference's accept/reject behavior (src/coercions.rs tests) is preserved
rather than Spark's laxer cast.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

CORRUPT_COL = "_corrupt_record"


def wire_schema(target: DataType) -> DataType:
    """Destination schema → decode schema (timestamps read as strings)."""
    if isinstance(target, StructType):
        return StructType(
            [StructField(f.name, wire_schema(f.dataType), True) for f in target.fields]
        )
    if isinstance(target, ArrayType):
        return ArrayType(wire_schema(target.elementType), True)
    if isinstance(target, (TimestampType, TimestampNTZType)):
        return StringType()
    return target


def gunzip(col: Column) -> Column:
    """Transparent gzip decompress (reference src/serialization.rs:108-114).

    Implemented as an Arrow-batched pandas UDF — Spark has no builtin
    gunzip; this is off the hot path unless the topic is gzipped.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _gunzip(s: pd.Series) -> pd.Series:
        import gzip

        def one(b):
            if b is None:
                return None
            try:
                return gzip.decompress(bytes(b))
            except Exception:
                return bytes(b)  # non-gzip payloads pass through

        return s.map(one)

    return _gunzip(col)


def strip_confluent_header(col: Column) -> Column:
    """Drop the Confluent wire-format header: 1 magic byte + 4-byte
    schema id; payload starts at byte 6 (1-based substring)."""
    return F.expr(f"substring({_sql(col)}, 6, length({_sql(col)}) - 5)")


def _sql(col: Column) -> str:
    # Column → SQL text for use inside expr(); only used on simple refs.
    return col._jc.toString()  # noqa: SLF001


def json_text_to_struct(text: Column, target: StructType) -> tuple[Column, Column]:
    """JSON text → (parsed wire struct, error string or NULL).

    PERMISSIVE parse with corrupt-record capture: text that is not valid
    JSON (or not an object) yields a NULL struct and the error column
    carries the raw text — the reference's deserialization-failure DLQ
    path (src/lib.rs:853-865). NULL text (an upstream binary decode
    failed) is an error too, never a silent drop.
    """
    schema = StructType(
        list(wire_schema(target).fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    parsed = F.from_json(
        text,
        schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    err = F.when(
        parsed.isNull() | parsed[CORRUPT_COL].isNotNull() | text.isNull(),
        F.coalesce(parsed[CORRUPT_COL], text, F.lit("payload decode failed")),
    )
    clean = F.when(err.isNull(), parsed.dropFields(CORRUPT_COL))
    return clean, err


def json_payload_to_struct(
    value: Column,
    target: StructType,
    gzip: bool = False,
    confluent_wire_format: bool = False,
) -> tuple[Column, Column]:
    """binary payload → (parsed wire struct, error string or NULL)."""
    payload = value
    if confluent_wire_format:
        payload = strip_confluent_header(payload)
    if gzip:
        payload = gunzip(payload)
    return json_text_to_struct(payload.cast("string"), target)


def avro_to_spark_schema(avro_schema) -> DataType:
    """Avro schema → Spark DataType (for the jar-free decode path).

    bytes/fixed surface as base64 strings (JSON hand-off); unions with
    null become the nullable non-null branch.
    """
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        MapType,
    )
    from kafka_delta_ingest_spark import avro_python

    s = avro_python.parse_schema(avro_schema)

    def conv(s) -> DataType:
        if isinstance(s, list):
            non_null = [b for b in s if b != "null"]
            return conv(non_null[0]) if non_null else StringType()
        if isinstance(s, dict):
            t = s["type"]
            if t == "record":
                return StructType(
                    [StructField(f["name"], conv(f["type"]), True) for f in s["fields"]]
                )
            if t == "array":
                return ArrayType(conv(s["items"]), True)
            if t == "map":
                return MapType(StringType(), conv(s["values"]), True)
            if t in ("enum", "fixed"):
                return StringType()
            return conv(t)
        return {
            "boolean": BooleanType(),
            "int": LongType(),
            "long": LongType(),
            "float": DoubleType(),
            "double": DoubleType(),
            "bytes": StringType(),
            "string": StringType(),
            "null": StringType(),
        }[s]

    return conv(s)


def _avro_json_udf(decode):
    """binary → JSON-text pandas UDF over the pure-Python Avro codec:
    ``decode(raw bytes)`` returns the Avro datum; bytes values surface
    as base64 strings. A NULL payload, and any decode failure (an
    unknown schema, a truncated body), yields NULL (→ DLQ via the JSON
    corrupt path)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _dec(series: pd.Series) -> pd.Series:
        import base64
        import json

        def jdefault(o):
            if isinstance(o, (bytes, bytearray)):
                return base64.b64encode(bytes(o)).decode("ascii")
            raise TypeError(type(o).__name__)

        def one(b):
            if b is None:
                return None
            try:
                return json.dumps(decode(bytes(b)), default=jdefault)
            except Exception:
                return None

        return series.map(one)

    return _dec


def avro_registry_to_json(
    value: Column,
    registry_url: str,
    fetcher=None,
) -> Column:
    """Confluent wire-format Avro → JSON text with PER-MESSAGE writer
    schema resolution from the registry (reference
    src/serialization.rs:212-241): byte 0 is the magic, bytes [1, 5)
    the big-endian schema id, byte 5 onward the Avro body.

    Runs executor-side inside an Arrow-batched UDF: each Python worker
    resolves a schema id once (process-wide cache in
    ``schema_registry``), so registry traffic is O(distinct ids ×
    workers), independent of message volume. Messages with an unknown
    magic byte or a failing/unknown schema id decode to NULL → the
    standard DLQ path. The JSON text re-enters ``json_text_to_struct``
    against the DESTINATION schema, so writer-schema evolution between
    messages needs no plan change at all.
    """
    from kafka_delta_ingest_spark import avro_python as ap
    from kafka_delta_ingest_spark.schema_registry import SchemaRegistryClient

    def decode(raw: bytes):
        if len(raw) < 6 or raw[0] != 0:
            raise ValueError("not Confluent wire format")
        schema_id = int.from_bytes(raw[1:5], "big", signed=False)
        client = SchemaRegistryClient(registry_url, fetcher)
        return ap.decode(raw[5:], client.parsed_avro_by_id(schema_id))

    return _avro_json_udf(decode)(value)


def avro_payload_to_json(
    value: Column,
    avro_schema_json: str | None = None,
    confluent_wire_format: bool = False,
    soe_schemas: dict[int, str] | None = None,
) -> Column:
    """binary Avro payload → JSON text, covering the reference's three
    Avro shapes (src/serialization.rs:142-315): explicit reader schema
    (optionally Confluent-framed), single-object encoding routed by
    fingerprint, or — when no schema is given — object-container bytes
    carrying their own writer schema. The text re-enters the normal
    ``json_text_to_struct`` path, so Avro messages get the identical
    destination-schema decode, coercion, and DLQ semantics as JSON ones.
    Decode failures yield NULL (→ error capture downstream)."""
    from kafka_delta_ingest_spark import avro_python as ap

    if soe_schemas:
        # route by the little-endian i64 fingerprint at bytes [2, 10)
        by_fp = {fp: ap.parse_schema(s) for fp, s in soe_schemas.items()}

        def decode(raw: bytes):
            fp = int.from_bytes(raw[2:10], "little", signed=True)
            return ap.decode(raw[10:], by_fp[fp])

    elif avro_schema_json:
        parsed = ap.parse_schema(avro_schema_json)
        skip = 5 if confluent_wire_format else 0

        def decode(raw: bytes):
            return ap.decode(raw[skip:], parsed)

    else:
        # container mode: each payload is a self-describing container
        def decode(raw: bytes):
            return ap.read_container(raw)[1][0]

    return _avro_json_udf(decode)(value)


def avro_payload_to_struct(
    value: Column,
    avro_json_schema: str,
    confluent_wire_format: bool = False,
):
    """binary payload → struct, through the pure-Python Avro decoder
    (avro_python.py) as an Arrow-batched UDF emitting JSON that
    re-enters the native ``from_json`` path — jar-free."""
    text = avro_payload_to_json(
        value, avro_json_schema, confluent_wire_format=confluent_wire_format
    )
    return F.from_json(text, avro_to_spark_schema(avro_json_schema))


def soe_routed_avro(value: Column, schemas_by_fingerprint: dict[int, str]):
    """Single-object-encoding: fingerprint-dispatched Avro decode
    (reference src/serialization.rs:161-210).

    ``schemas_by_fingerprint`` maps the 8-byte Rabin fingerprint
    (little-endian i64, as ``avro_python.schema_fingerprint`` returns
    it) to the Avro reader schema JSON. Unknown fingerprints → NULL
    (route to DLQ). The decoded struct is the field-union of all
    reader schemas (a message leaves the other schemas' fields NULL).
    """
    merged = StructType()
    seen: set[str] = set()
    for schema_json in schemas_by_fingerprint.values():
        st = avro_to_spark_schema(schema_json)
        for field in st.fields:
            if field.name not in seen:
                seen.add(field.name)
                merged = merged.add(field)
    text = avro_payload_to_json(value, soe_schemas=schemas_by_fingerprint)
    return F.from_json(text, merged)
