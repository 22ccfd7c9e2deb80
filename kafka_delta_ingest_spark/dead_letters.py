"""Dead-letter queue: failed-message capture and routing.

Rebuilds the reference's DLQ (reference src/dead_letters.rs) as a
DataFrame split inside the sink stage:

* ``DeadLetter`` shape {base64_bytes, json_string, error, timestamp(µs)}
  (src/dead_letters.rs:26-38): deserialization failures carry the
  base64-encoded raw payload; transform/coercion/write failures carry
  the message JSON text.
* Factory semantics (src/dead_letters.rs:145-219): default is a no-op
  sink; a table location enables a second append, to a standard Delta
  table, alongside the data table.
* ``dlq_transforms`` (src/dead_letters.rs:240-316): the same transform
  compiler runs over the DLQ rows (e.g. deriving a ``date`` partition
  from the failure timestamp).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from kafka_delta_ingest_spark.delta_standard import DeltaStandardSink
from kafka_delta_ingest_spark.transforms import Transformer

DEAD_LETTER_SCHEMA = StructType(
    [
        StructField("base64_bytes", StringType(), True),
        StructField("json_string", StringType(), True),
        StructField("error", StringType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)


def dead_letter_columns(
    raw_bytes: Column | None,
    json_string: Column | None,
    error: Column,
) -> list[Column]:
    """Build the DeadLetter projection.

    ``from_failed_deserialization`` carries bytes, no JSON
    (src/dead_letters.rs:58-69); transform/write failures carry JSON,
    no bytes (src/dead_letters.rs:44-56, 71-82).
    """
    return [
        (F.base64(raw_bytes) if raw_bytes is not None else F.lit(None).cast("string")).alias(
            "base64_bytes"
        ),
        (json_string if json_string is not None else F.lit(None).cast("string")).alias(
            "json_string"
        ),
        error.cast("string").alias("error"),
        F.current_timestamp().alias("timestamp"),
    ]


@dataclass
class DeadLetterQueue:
    """noop / Delta-table DLQ (src/dead_letters.rs:145-219)."""

    table_location: str | None = None
    dlq_transforms: dict[str, str] = field(default_factory=dict)
    # the dlq_transforms projection over DEAD_LETTER_SCHEMA, built at
    # the first write: the schema never changes, so neither does it
    _columns: list[Column] | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def write(self, dlq_df: DataFrame, txn: dict[str, int] | None = None) -> int:
        """Write dead letters (rows of ``DEAD_LETTER_SCHEMA``) with the
        batch's ``txn`` ledger entries, so a replayed batch appends
        them once; returns the count routed (for metrics), 0 on a
        replay."""
        if self.table_location is None:
            return 0  # noop DLQ: dead letters are dropped (default)
        out = dlq_df
        if self.dlq_transforms:
            if self._columns is None:
                self._columns = Transformer(self.dlq_transforms).columns(
                    DEAD_LETTER_SCHEMA
                )
            out = out.select(*self._columns)
        # Synchronous append to a standard Delta table (reference
        # insert_all, src/dead_letters.rs:240-316 + src/writer.rs:577-601)
        # through the same sink as the data table.
        sink = DeltaStandardSink(self.table_location)
        return sink.write_batch(out, txn=txn).num_records
