"""Coercion layer: destination-schema-driven casts.

Re-expresses the reference's coercion tree (reference src/coercions.rs)
as plan-time Column expressions derived from the destination
``StructType`` — the analyzer then folds them into the single projection
the message path compiles to.

Reference semantics (src/coercions.rs:80-140 + tests 340-453):

* **ToString** (C2): any non-string value destined for a ``string``
  column becomes its compact JSON text (``{"a":1}`` → ``"{\"a\":1}"``).
* **ToTimestamp** (C3): strings destined for ``timestamp`` columns are
  parsed ONLY if they are RFC 3339 (``T``/space separator, mandatory
  offset). ISO-8601-basic (``20211111T22115800Z``), Java-style
  (``2021-11-11 22:11:58`` — no offset), prose, and numeric strings
  (``"1636668718000000"``) are NOT coerced; in the reference they pass
  through and are quarantined by the Arrow decode → our typed pipeline
  yields NULL plus a conformance flag that routes the row to the DLQ.
* Numeric values destined for timestamps pass through as epoch-µs.
* Recursion through nested structs, arrays of primitives and arrays of
  structs (C4, src/coercions.rs:94-122).

Everything is built from ``pyspark.sql.functions`` (JVM/codegen path);
arrays recurse via the ``transform``/``forall`` higher-order functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    AtomicType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    ByteType,
    StringType,
    StructType,
    TimestampType,
    TimestampNTZType,
)

# RFC 3339: date 'T'/'t'/' ' time [fraction] offset(Z|±hh:mm) — matches
# chrono's DateTime<Utc>::from_str acceptance (reference
# src/coercions.rs:128-140 + tests: '+00:00'/'-00:00'/Z accepted,
# missing offset or basic-format rejected).
RFC3339_PATTERN = r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"

_NUMERIC = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)


def rfc3339_to_timestamp(col: Column) -> Column:
    """Strict RFC3339 gate + parse; non-matching strings → NULL."""
    return F.when(col.rlike(RFC3339_PATTERN), F.to_timestamp(col)).otherwise(
        F.lit(None).cast("timestamp")
    )


def rfc3339_conforms(col: Column) -> Column:
    """True when a string is NULL or strictly RFC3339 (coercible)."""
    return col.isNull() | col.rlike(RFC3339_PATTERN)


def coerce_column(col: Column, src: DataType, dst: DataType) -> tuple[Column, Column]:
    """Return (coerced column, conformance predicate) for one field."""
    ok = F.lit(True)
    if isinstance(dst, StringType):
        if isinstance(src, StringType):
            return col, ok
        if isinstance(src, (StructType, ArrayType)):
            # ToString: compact JSON text (reference src/coercions.rs:82-86).
            return F.to_json(col), ok
        return col.cast("string"), ok
    if isinstance(dst, (TimestampType, TimestampNTZType)):
        t = "timestamp" if isinstance(dst, TimestampType) else "timestamp_ntz"
        if isinstance(src, StringType):
            coerced = rfc3339_to_timestamp(col).cast(t)
            return coerced, rfc3339_conforms(col)
        if isinstance(src, _NUMERIC):
            # Numeric epoch-µs passes through (reference test:
            # "Timestamp passed in as an i64 ... will work anyway").
            return F.timestamp_micros(col.cast("long")).cast(t), ok
        return col.cast(t), ok
    if isinstance(dst, StructType):
        if not isinstance(src, StructType):
            return F.lit(None).cast(dst), col.isNull()
        fields, oks = [], []
        for f in dst.fields:
            if f.name in src.fieldNames():
                c, o = coerce_column(col[f.name], src[f.name].dataType, f.dataType)
                fields.append(c.alias(f.name))
                oks.append(F.when(col.isNull(), F.lit(True)).otherwise(o))
            else:
                # Missing fields become nulls (reference §1.2: arrow JSON
                # decoder fills nulls; tests/schema_update_tests.rs:98-110).
                fields.append(F.lit(None).cast(f.dataType).alias(f.name))
        out = F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(F.struct(*fields))
        ok_all = oks[0] if oks else ok
        for o in oks[1:]:
            ok_all = ok_all & o
        return out, ok_all
    if isinstance(dst, ArrayType):
        if not isinstance(src, ArrayType):
            return F.lit(None).cast(dst), col.isNull()
        elem_coerce = lambda e: coerce_column(e, src.elementType, dst.elementType)[0]
        elem_ok = lambda e: coerce_column(e, src.elementType, dst.elementType)[1]
        out = F.transform(col, elem_coerce)
        ok_arr = F.when(col.isNull(), F.lit(True)).otherwise(F.forall(col, elem_ok))
        return out, ok_arr
    # Remaining primitives: plain cast; a non-null input that casts to
    # null failed conformance (reference: arrow decode error → quarantine).
    casted = col.cast(dst)
    if isinstance(dst, AtomicType) and not isinstance(src, dst.__class__):
        return casted, col.isNull() | casted.isNotNull()
    return casted, ok


def coercion_columns(
    src_schema: StructType,
    target: StructType,
    conform_col: str = "_conforms",
    keep_extra: bool = False,
) -> list[Column]:
    """The projection :func:`apply_coercions` runs over a frame of
    ``src_schema``, built from the schemas alone."""
    src_names = src_schema.fieldNames()
    cols: list[Column] = []
    ok_all: Column = F.lit(True)
    for f in target.fields:
        if f.name in src_names:
            c, o = coerce_column(F.col(f"`{f.name}`"), src_schema[f.name].dataType, f.dataType)
            cols.append(c.alias(f.name))
            ok_all = ok_all & o
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    if keep_extra:
        names = target.fieldNames()
        cols.extend(F.col(f"`{c}`") for c in src_names if c not in names)
    return cols + [ok_all.alias(conform_col)]


def apply_coercions(
    df: DataFrame,
    target: StructType,
    conform_col: str = "_conforms",
    keep_extra: bool = False,
) -> DataFrame:
    """Project ``df`` onto ``target``, applying the coercion tree.

    Extra input columns are dropped (the Arrow JSON decoder drops unknown
    fields, SURVEY §1.2) unless ``keep_extra``; missing columns become
    typed NULLs. Adds boolean ``conform_col`` — rows that required an
    impossible coercion (the reference's parquet-decode quarantine path,
    src/writer.rs:618-639) get False and should be routed to the DLQ.
    """
    return df.select(*coercion_columns(df.schema, target, conform_col, keep_extra))
