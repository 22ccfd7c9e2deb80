"""CLI argument parity (reference src/main.rs:334-490, 512-624) and
seek-offset ledger semantics (reference src/offsets.rs:159-236)."""

import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark.cli import (
    build_parser,
    options_from_args,
    parse_seek_offsets,
    parse_transform_args,
    prepare_ingest,
)
from kafka_delta_ingest_spark.config import AutoOffsetReset, MessageFormat
from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardSink,
    DeltaStandardWriter,
    read_delta,
)
from kafka_delta_ingest_spark.offsets import (
    InconsistentStoredOffsets,
    write_offsets_to_table,
)


def _parse(argv):
    return options_from_args(build_parser().parse_args(argv))


def test_cli_full_option_surface():
    opts = _parse(
        [
            "ingest", "web_requests", "/tmp/t",
            "--kafka", "broker:9092",
            "--app_id", "myapp",
            "--seek_offsets", '{"0":123, "1":321}',
            "--auto_offset_reset", "latest",
            "--allowed_latency", "60",
            "--max_messages_per_batch", "1000",
            "--min_bytes_per_file", "370",
            "--transform", "date: substr(meta.producer.timestamp, `0`, `10`)",
            "--transform", "meta.kafka.offset: kafka.offset",
            "--dlq_table_location", "/tmp/dlq",
            "--dlq_transform", "date: substr(timestamp, `0`, `10`)",
            "--checkpoints",
            "--kafka_setting", "security.protocol=SASL_SSL",
            "--statsd_endpoint", "localhost:8125",
            "--ends_at_latest_offsets",
        ]
    )
    assert opts.topic == "web_requests" and opts.table_uri == "/tmp/t"
    assert opts.app_id == "myapp"
    assert opts.seek_offsets == {0: 123, 1: 321}  # reference parse_seek_offsets_test
    assert opts.auto_offset_reset == AutoOffsetReset.LATEST
    assert opts.allowed_latency == 60
    assert opts.max_messages_per_batch == 1000
    assert opts.min_bytes_per_file == 370
    assert opts.transforms["date"] == "substr(meta.producer.timestamp, `0`, `10`)"
    assert opts.transforms["meta.kafka.offset"] == "kafka.offset"
    assert opts.dlq_table_location == "/tmp/dlq"
    assert opts.kafka_settings == {"security.protocol": "SASL_SSL"}
    assert opts.statsd_endpoint == "localhost:8125"
    assert opts.ends_at_latest_offsets is True
    # -c/--checkpoints still parses (reference command lines keep
    # working); checkpoints are always written, so no option carries it
    assert build_parser().parse_args(["ingest", "t", "/x", "-c"]).checkpoints
    assert opts.message_format == MessageFormat.JSON
    assert opts.log_format == "delta"


def test_cli_format_flags(tmp_path):
    assert _parse(["ingest", "t", "/x", "--decompress_gzip"]).message_format == MessageFormat.JSON_GZIP
    assert _parse(["ingest", "t", "/x", "--json", "http://registry"]).message_format == MessageFormat.JSON_SCHEMA_REGISTRY
    assert _parse(["ingest", "t", "/x", "--avro", ""]).message_format == MessageFormat.AVRO
    assert _parse(["ingest", "t", "/x", "--avro", "http://registry"]).message_format == MessageFormat.AVRO_SCHEMA_REGISTRY
    schema_dir = tmp_path / "schemas"
    schema_dir.mkdir()
    (schema_dir / "a.avsc").write_text(
        '{"type":"record","name":"A","fields":[{"name":"x","type":"long"}]}'
    )
    assert _parse(["ingest", "t", "/x", "--soe-avro", str(schema_dir)]).message_format == MessageFormat.AVRO_SOE


def test_transform_parse_rejects_garbage():
    with pytest.raises(SystemExit):
        parse_transform_args(["no-colon-here"])


def test_seek_offsets_ledger_semantics(tmp_path):
    """reference write_offsets_to_delta_test (src/offsets.rs:159-236)."""
    table = DeltaStandardSink(str(tmp_path / "t"))

    # fresh table → offsets committed
    assert write_offsets_to_table(table, "app", {0: 5, 1: 10}) is True
    assert table.snapshot()["txn"] == {"app-0": 5, "app-1": 10}

    # identical request → idempotent no-op
    assert write_offsets_to_table(table, "app", {0: 5, 1: 10}) is False

    # stored ahead of request → already applied, no-op
    assert write_offsets_to_table(table, "app", {0: 3}) is False
    assert table.snapshot()["txn"]["app-0"] == 5

    # stored BEHIND request → refuse (InconsistentStoredOffsets)
    with pytest.raises(InconsistentStoredOffsets, match="0:stored=5/seek=9"):
        write_offsets_to_table(table, "app", {0: 9})


def test_dlq_delta_sink_with_transforms(spark, tmp_path):
    """D3: dead letters land in their own standard Delta table, with
    dlq_transforms applied (reference tests/dead_letter_tests.rs:46-48
    derives a date partition from the failure timestamp)."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.dead_letters import (
        DeadLetterQueue,
        dead_letter_columns,
    )

    dlq_dir = str(tmp_path / "dlq")
    rows = spark.createDataFrame(
        [("eyJvb3BzIjo=", None, "JsonParseError")],
        "b64 string, js string, err string",
    ).select(*dead_letter_columns(F.unbase64("b64"), None, F.col("err")))
    q = DeadLetterQueue(
        table_location=dlq_dir,
        dlq_transforms={"date": "substr(to_string(timestamp), `0`, `10`)"},
    )
    n = q.write(rows)
    assert n == 1
    assert os.path.isdir(os.path.join(dlq_dir, "_delta_log"))
    assert not os.path.exists(os.path.join(dlq_dir, "_kdi_log"))
    back = read_delta(spark, dlq_dir).collect()
    assert len(back) == 1
    assert back[0]["error"] == "JsonParseError"
    assert len(back[0]["date"]) == 10  # yyyy-MM-dd derived by the transform
    assert back[0]["base64_bytes"] is not None


def test_cli_ingest_startup_on_standard_table(spark, tmp_path):
    """``ingest --log_format delta`` on an existing standard table:
    the startup reads the schema from ``_delta_log`` and seeds
    ``--seek_offsets`` there as ``txn`` actions (no ``_kdi_log``)."""
    table = str(tmp_path / "t")
    schema = StructType(
        [StructField("id", LongType()), StructField("color", StringType())]
    )
    DeltaStandardWriter(table).write(
        spark.createDataFrame([(1, "red")], schema)
    )
    job = prepare_ingest(
        _parse(["ingest", "t", table, "--app_id", "cli",
                "--log_format", "delta", "--seek_offsets", '{"0":7,"1":9}'])
    )
    assert job.target_schema == schema
    assert not os.path.exists(os.path.join(table, "_kdi_log"))
    txn = {}
    log = os.path.join(table, "_delta_log")
    for name in sorted(os.listdir(log)):
        if name.endswith(".json"):
            with open(os.path.join(log, name)) as f:
                for line in f:
                    act = json.loads(line)
                    if "txn" in act:
                        txn[act["txn"]["appId"]] = act["txn"]["version"]
    assert txn == {"cli-0": 7, "cli-1": 9}
    assert job.ledger_floors() == {0: 7, 1: 9}


@pytest.mark.parametrize("fmt", ["iceberg", "hudi", "hudi_mor"])
def test_cli_ingest_startup_refuses_schemaless_formats(tmp_path, fmt):
    """Only ``delta`` declares the schema the startup decodes with; the
    other formats exit with a clear message before the location is
    touched (no table directory, no seeded offsets)."""
    table = str(tmp_path / "t")
    with pytest.raises(SystemExit, match="--log_format delta"):
        prepare_ingest(
            _parse(["ingest", "t", table, "--log_format", fmt,
                    "--seek_offsets", '{"0":7}'])
        )
    assert not os.path.exists(table)


def test_avro_requires_package(spark):
    """Avro decode paths are gated with a clear error when spark-avro is
    absent (it is not bundled with plain pyspark)."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.serialization import avro_payload_to_struct

    try:
        from pyspark.sql.avro.functions import from_avro  # noqa: F401

        has_avro_fn = True
    except ImportError:
        has_avro_fn = False
    if has_avro_fn:
        pytest.skip("pyspark exposes avro functions; gating not reachable")
    with pytest.raises(RuntimeError, match="spark-avro"):
        avro_payload_to_struct(F.lit(b""), '{"type":"record"}')
