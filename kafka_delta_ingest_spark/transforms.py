"""Transform compiler: ``"PROPERTY: SOURCE"`` strings → Spark Columns.

Re-implements the semantics of the reference's transform layer
(reference src/transforms.rs) Spark-first: transforms are compiled ONCE
into a list of (target path, Column) assignments and applied as a single
projection over the source DataFrame — Catalyst then plans/codegens the
whole message path, where the reference interprets JMESPath per message.

Semantics preserved from the reference:

* SOURCE is either a well-known ``kafka.*`` property
  (src/transforms.rs:441-476) or a JMESPath expression evaluated against
  the ORIGINAL message snapshot (src/transforms.rs:399) — therefore all
  expressions here are compiled against the *input* DataFrame's columns,
  never against the output of other transforms.
* Five custom functions beyond path lookups
  (src/transforms.rs:149-289): ``substr`` (char-based skip/take),
  ``epoch_seconds_to_iso8601``, ``epoch_millis_to_iso8601``,
  ``epoch_micros_to_iso8601``, ``epoch_millis_to_micro``; plus JMESPath
  built-ins ``to_number`` / ``to_string``.
* Null results are NOT assigned — the pre-existing value (or absence)
  survives (src/transforms.rs:345-346 "Don't set if the extracted value
  is null").
* Dotted TARGET paths create intermediate structs
  (src/transforms.rs:323-371).
* Kafka timestamp is converted ms → µs (src/transforms.rs:467-470);
  timestamp_type maps NotAvailable/CreateTime/LogAppendTime →
  -1/0/1 (src/transforms.rs:455-459).

The ingest pipeline flattens the parsed payload struct to top-level
columns before transforming (the reference's "message" is the top-level
JSON object), so targets/sources here are plain (possibly nested-struct)
DataFrame columns.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DataType, StructType

# Well-known Kafka metadata properties (reference src/transforms.rs:310-316).
KAFKA_PROPERTIES = (
    "kafka.partition",
    "kafka.offset",
    "kafka.topic",
    "kafka.timestamp",
    "kafka.timestamp_type",
)

DEFAULT_KAFKA_COLS = {
    "partition": "partition",
    "offset": "offset",
    "topic": "topic",
    "timestamp": "timestamp",
    "timestamp_type": "timestampType",
}


class TransformError(ValueError):
    """Raised when a transform expression cannot be compiled."""


# ---------------------------------------------------------------------------
# Custom scalar functions (JVM-side Column expressions — no Python UDFs)
# ---------------------------------------------------------------------------


def substr_chars(col: Column, skip, take) -> Column:
    """Char-based skip/take substring (reference src/transforms.rs:216-235).

    Rust ``chars().skip(n).take(m)``: Spark's ``substring`` is already
    char-based on strings and returns '' past the end, matching the
    iterator semantics for non-negative arguments.
    """
    skip_c = skip if isinstance(skip, Column) else F.lit(int(skip))
    take_c = take if isinstance(take, Column) else F.lit(int(take))
    return F.substring(col, skip_c.cast("int") + 1, take_c.cast("int"))


def _iso8601_variable_precision(micros: Column) -> Column:
    """Format epoch-µs like chrono's ``{:?}`` on ``DateTime<Utc>``:
    RFC3339 with the shortest of 0/3/6 fractional digits
    (reference src/transforms.rs:243-261 ``iso8601_from_epoch``).
    Requires session timezone UTC.
    """
    ts = F.timestamp_micros(micros)
    sec = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    sub_us = micros % F.lit(1_000_000)
    # Spark's % is C-style; normalize negative epochs into [0, 1e6).
    sub_us = F.when(sub_us < 0, sub_us + 1_000_000).otherwise(sub_us)
    frac3 = F.concat(F.lit("."), F.lpad((sub_us / 1000).cast("long").cast("string"), 3, "0"))
    frac6 = F.concat(F.lit("."), F.lpad(sub_us.cast("string"), 6, "0"))
    frac = (
        F.when(sub_us == 0, F.lit(""))
        .when(sub_us % 1000 == 0, frac3)
        .otherwise(frac6)
    )
    return F.concat(sec, frac, F.lit("Z"))


def epoch_seconds_to_iso8601(col: Column) -> Column:
    """Epoch seconds (int or float, truncated) → RFC3339 string
    (reference src/transforms.rs:187-192, 243-261)."""
    return _iso8601_variable_precision(col.cast("double").cast("long") * 1_000_000)


def epoch_millis_to_iso8601(col: Column) -> Column:
    return _iso8601_variable_precision(col.cast("double").cast("long") * 1_000)


def epoch_micros_to_iso8601(col: Column) -> Column:
    return _iso8601_variable_precision(col.cast("double").cast("long"))


def epoch_millis_to_micro(col: Column) -> Column:
    """ms → µs (reference src/transforms.rs:209-214)."""
    return col.cast("double").cast("long") * 1000


_FUNCTIONS = {
    "substr": lambda a: substr_chars(a[0], a[1], a[2]),
    "epoch_seconds_to_iso8601": lambda a: epoch_seconds_to_iso8601(_c(a[0])),
    "epoch_millis_to_iso8601": lambda a: epoch_millis_to_iso8601(_c(a[0])),
    "epoch_micros_to_iso8601": lambda a: epoch_micros_to_iso8601(_c(a[0])),
    "epoch_millis_to_micro": lambda a: epoch_millis_to_micro(_c(a[0])),
    "to_number": lambda a: _c(a[0]).cast("double"),
    "to_string": lambda a: _c(a[0]).cast("string"),
    # Extension beyond the reference's function set: scrub PII in-flight
    # so raw identifiers never reach the destination table (the DLQ
    # still records the original payload for replay). Same codegen
    # projection as operators/pii.py — zero extra plan nodes.
    "redact_pii": lambda a: _redact_pii(_c(a[0])),
}


def _redact_pii(col: Column) -> Column:
    from kafka_delta_ingest_spark.operators.pii import redact

    return redact(col)


def _c(v) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


# ---------------------------------------------------------------------------
# JMESPath-subset expression parser
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<number>-?\d+(\.\d+)?)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<backtick>`[^`]*`)
  | (?P<squote>'[^']*')
  | (?P<dquote>"[^"]*")
  | (?P<punct>[().,])
    """,
    re.VERBOSE,
)


def _tokenize(expr: str) -> list[tuple[str, str]]:
    tokens, pos = [], 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if not m:
            raise TransformError(f"cannot tokenize transform expression at {expr[pos:]!r}")
        pos = m.end()
        if m.lastgroup != "ws":
            tokens.append((m.lastgroup, m.group()))
    return tokens


@dataclass
class _Parser:
    tokens: list[tuple[str, str]]
    pos: int = 0

    def peek(self):
        return self.tokens[self.pos] if self.pos < len(self.tokens) else (None, None)

    def take(self):
        tok = self.peek()
        self.pos += 1
        return tok

    def parse_expr(self):
        kind, tok = self.take()
        if kind == "number":
            return ("lit", float(tok) if "." in tok else int(tok))
        if kind == "backtick":
            return ("lit", json.loads(tok[1:-1]))  # JMESPath literal = JSON
        if kind in ("squote", "dquote"):
            return ("lit", tok[1:-1])
        if kind == "ident":
            if self.peek()[1] == "(":
                self.take()
                args = []
                while self.peek()[1] != ")":
                    args.append(self.parse_expr())
                    if self.peek()[1] == ",":
                        self.take()
                self.take()  # ')'
                return ("call", tok, args)
            parts = [tok]
            while self.peek()[1] == ".":
                self.take()
                k, t = self.take()
                if k != "ident":
                    raise TransformError(f"bad path segment {t!r}")
                parts.append(t)
            return ("path", parts)
        raise TransformError(f"unexpected token {tok!r}")


def _to_column(ast) -> Column:
    kind = ast[0]
    if kind == "lit":
        return ast[1]  # raw python literal; callers wrap with _c as needed
    if kind == "path":
        return F.col(".".join(f"`{p}`" for p in ast[1]))
    if kind == "call":
        name, args = ast[1], ast[2]
        if name not in _FUNCTIONS:
            raise TransformError(
                f"unsupported transform function {name!r}; supported: {sorted(_FUNCTIONS)}"
            )
        return _FUNCTIONS[name]([_to_column(a) for a in args])
    raise TransformError(f"bad AST node {ast!r}")


def compile_expression(expr: str) -> Column:
    """Compile a JMESPath-subset expression to a Spark Column."""
    parser = _Parser(_tokenize(expr))
    ast = parser.parse_expr()
    if parser.pos != len(parser.tokens):
        raise TransformError(f"trailing tokens in expression {expr!r}")
    out = _to_column(ast)
    return _c(out)


# ---------------------------------------------------------------------------
# Kafka metadata properties
# ---------------------------------------------------------------------------


def kafka_meta_column(prop: str, kafka_cols: dict[str, str]) -> Column:
    """Column for a well-known ``kafka.*`` property.

    ``kafka_cols`` maps logical meta name → source DataFrame column; the
    defaults match Spark's Kafka source column names.
    """
    name = prop.split(".", 1)[1]
    src = kafka_cols.get(name)
    if src is None:
        raise TransformError(f"unknown kafka property {prop!r}")
    col = F.col(src)
    if name == "timestamp":
        # Kafka gives ms; Delta expects µs (reference src/transforms.rs:467-470).
        return F.when(
            col.isNotNull(), F.unix_millis(col.cast("timestamp")) * 1000
        ).otherwise(F.lit(None).cast("long"))
    if name == "timestamp_type":
        # -1 NotAvailable / 0 CreateTime / 1 LogAppendTime
        return F.coalesce(col.cast("int"), F.lit(-1))
    return col


# ---------------------------------------------------------------------------
# Transformer: compile once, apply as one projection
# ---------------------------------------------------------------------------


@dataclass
class Transformer:
    """Compiled set of transforms, applied against a DataFrame.

    Mirrors reference ``Transformer::from_transforms`` /
    ``compile_transforms`` (src/transforms.rs:95-122, 383-387): the dict
    key is the (possibly dotted) target property, the value is the
    source expression or kafka property.
    """

    transforms: dict[str, str]
    kafka_cols: dict[str, str] = field(default_factory=lambda: dict(DEFAULT_KAFKA_COLS))

    def apply(self, df: DataFrame) -> DataFrame:
        return df.select(*self.columns(df.schema))

    def columns(self, schema: StructType) -> list[Column]:
        """The one projection :meth:`apply` runs over a frame of
        ``schema``: every input column (assigned ones rebuilt in place),
        then each new target root in first-assignment order.

        Every SOURCE is compiled against the pristine input columns —
        one logical snapshot, matching reference src/transforms.rs:399 —
        and the assignments are then composed in order, each one over
        the previous one's result (the reference's read-snapshot /
        write-mutable-object split)."""
        out: dict[str, Column] = {f.name: F.col(f"`{f.name}`") for f in schema.fields}
        # the type of each root as far as the composition has changed
        # it: None once assigned, read back from the analyzer only if a
        # later dotted target descends into it
        types: dict[str, DataType | None] = {f.name: f.dataType for f in schema.fields}
        for target, source in self.transforms.items():
            if source in KAFKA_PROPERTIES:
                value = kafka_meta_column(source, self.kafka_cols)
            else:
                value = compile_expression(source)
            parts = target.split(".")
            root = parts[0]
            if root not in out:
                out[root] = (
                    value if len(parts) == 1
                    else F.when(value.isNotNull(), _nested_struct(parts[1:], value))
                )
            elif len(parts) == 1:
                # Null result → keep the previous value (coalesce also
                # finds the common type when the transform retypes it).
                out[root] = F.coalesce(value, out[root])
            else:
                dtype = types[root]
                if dtype is None:
                    dtype = _analyzed_type(schema, out[root])
                out[root] = _set_in_struct(out[root], dtype, parts[1:], value)
            types[root] = None
        return [c.alias(name) for name, c in out.items()]


def _analyzed_type(schema: StructType, col: Column) -> DataType:
    """The type ``col`` resolves to over a frame of ``schema``."""
    from pyspark.sql import SparkSession

    probe = SparkSession.active().createDataFrame([], schema)
    return probe.select(col).schema[0].dataType


def _nested_struct(parts: list[str], value: Column) -> Column:
    inner = value
    for p in reversed(parts):
        inner = F.struct(inner.alias(p))
    return inner


def _set_in_struct(cur: Column, dtype, parts: list[str], value: Column) -> Column:
    """Rebuild ``cur`` (struct-typed, possibly NULL) with ``value`` set at
    ``parts``; creates intermediate structs and preserves siblings — the
    reference's "parent object does not exist yet → create an object,
    then recurse" (src/transforms.rs:323-371), which
    ``Column.withField`` would not do for a NULL parent."""
    p = parts[0]
    is_struct = isinstance(dtype, StructType)
    existing_names = dtype.fieldNames() if is_struct else []
    if p in existing_names:
        sub_t = dtype[p].dataType
        if len(parts) == 1:
            # Null-skip at the leaf: keep the prior value on null results.
            new_child = F.coalesce(value, cur[p])
        elif isinstance(sub_t, StructType):
            new_child = _set_in_struct(cur[p], sub_t, parts[1:], value)
        else:
            # Existing leaf is not an object: replace it with a fresh
            # struct (reference: as_object_mut fails → insert new map).
            new_child = _nested_struct(parts[1:], value)
        fields = [
            (new_child if f.name == p else cur[f.name]).alias(f.name)
            for f in dtype.fields
        ]
        return F.struct(*fields)
    new_child = value if len(parts) == 1 else _nested_struct(parts[1:], value)
    if is_struct and dtype.fields:
        fields = [cur[f.name].alias(f.name) for f in dtype.fields]
        fields.append(new_child.alias(p))
        return F.struct(*fields)
    return F.struct(new_child.alias(p))
