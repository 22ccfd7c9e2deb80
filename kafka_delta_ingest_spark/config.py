"""Ingest configuration — mirror of the reference's ``IngestOptions``
(reference src/lib.rs:256-305) plus Spark-specific knobs."""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class MessageFormat(str, Enum):
    """reference src/lib.rs:213-240."""

    JSON = "json"
    JSON_GZIP = "json_gzip"
    JSON_SCHEMA_REGISTRY = "json_schema_registry"
    AVRO = "avro"
    AVRO_SCHEMA_REGISTRY = "avro_schema_registry"
    AVRO_SOE = "avro_soe"


class AutoOffsetReset(str, Enum):
    """reference src/lib.rs:244-254 → Kafka source startingOffsets."""

    EARLIEST = "earliest"
    LATEST = "latest"


@dataclass
class IngestOptions:
    topic: str = ""
    table_uri: str = ""
    # Consumer group / txn ledger id (reference: app_id, default "kafka_delta_ingest").
    app_id: str = "kafka_delta_ingest"
    # Flush deadline seconds (reference default 300, src/lib.rs:315).
    allowed_latency: int = 300
    # Messages per record batch (reference default 5000, src/lib.rs:316).
    max_messages_per_batch: int = 5000
    # Min bytes per parquet file (reference default 128 MiB, src/lib.rs:317).
    min_bytes_per_file: int = 134_217_728
    # target property -> JMESPath-subset expression or kafka.* property.
    transforms: dict[str, str] = field(default_factory=dict)
    partition_by: list[str] = field(default_factory=list)
    dlq_table_location: str | None = None
    dlq_transforms: dict[str, str] = field(default_factory=dict)
    message_format: MessageFormat = MessageFormat.JSON
    auto_offset_reset: AutoOffsetReset = AutoOffsetReset.EARLIEST
    # Explicit start offsets {kafka_partition: offset} (reference src/offsets.rs).
    seek_offsets: dict[int, int] | None = None
    # Stop when the initial high watermark is reached (→ availableNow trigger).
    ends_at_latest_offsets: bool = False
    # Pass-through kafka client settings (reference -K key=value).
    kafka_settings: dict[str, str] = field(default_factory=dict)
    kafka_brokers: str = "localhost:9092"
    # statsd endpoint (observability parity; optional).
    statsd_endpoint: str | None = None
    # Avro reader schema JSON (AVRO / AVRO_SCHEMA_REGISTRY); None for
    # object-container payloads, which carry their writer schema
    # (reference src/serialization.rs:243-315).
    avro_schema_json: str | None = None
    # AVRO_SOE: little-endian i64 Rabin fingerprint → reader schema JSON
    # (reference src/serialization.rs:161-210).
    soe_schemas: dict[int, str] | None = None
    # Confluent Schema Registry endpoint for AVRO_SCHEMA_REGISTRY with
    # per-message schema-id resolution (reference
    # src/serialization.rs:212-241). When set and no explicit
    # avro_schema_json is given, writer schemas are fetched by the id in
    # each message's wire-format header.
    schema_registry_url: str | None = None
    # Test / air-gapped hook: replaces the HTTP fetch (url -> schema
    # JSON). Must be picklable (top-level function) to reach executors.
    schema_registry_fetcher: object | None = None
    # Continuous file-size management (reference B4: min_bytes_per_file
    # via held-open writers, doc/DESIGN.md:61-76 — not reproducible in
    # Spark's per-micro-batch commit model; SURVEY §7.2 substitutes
    # periodic OPTIMIZE). 0 = off; N > 0 bin-packs the table's small
    # files toward min_bytes_per_file after every N ingest commits,
    # inside the same streaming loop.
    auto_optimize_interval: int = 0
    # Destination table format, opened by sinks.base.open_sink. "delta"
    # = a STANDARD _delta_log (delta_standard.DeltaStandardSink) that
    # delta-rs / delta-spark / any protocol-conformant reader consumes —
    # the reference daemon's interop property (src/delta_helpers.rs:15-40);
    # "iceberg" = an Iceberg v2 table (offsets in snapshot summaries);
    # "hudi" = CoW inserts; "hudi_mor" = MERGE_ON_READ — with record_key
    # set, every batch streams as an UPSERT (DeltaStreamer's continuous
    # upsert operation). The exactly-once txn ledger works identically
    # on all four. Dead letters always go to a standard Delta table.
    log_format: str = "delta"
    # hoodie.datasource.write.recordkey.field analog: the column
    # Hudi destinations key records on (enables MoR upsert streaming;
    # unset = synthetic seqno keys, append-only ingest)
    record_key: str | None = None
