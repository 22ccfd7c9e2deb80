"""Replays of the reference's offset-bootstrap integration tests
(tests/offset_tests.rs:109-317) on the file-stream harness: explicit
seek, auto_offset_reset=earliest, and auto_offset_reset=latest, each
ending in the reference test's own written-ids assertion.

The reference runs these against a live broker: ``seek_offsets`` /
``latest`` become consumer seeks, and the per-partition ValueBuffer
rejects anything at or below the stored ledger offset
(src/lib.rs:812-819, 1045-1075). Here the same decision tree writes the
ledger (offsets.py), and IngestJob's ledger-floor row guard enforces it
on sources that cannot seek.
"""

import datetime
import json

from pyspark.sql import Row

from kafka_delta_ingest_spark.config import AutoOffsetReset, IngestOptions
from kafka_delta_ingest_spark.delta_standard import read_delta
from kafka_delta_ingest_spark.ingest import IngestJob
from kafka_delta_ingest_spark.offsets import write_offsets_to_table
from tests.test_streaming import RAW_SCHEMA, TABLE_SCHEMA, _stream, _write_raw


def _msgs(first_id: int, n: int, partition: int = 0, first_offset: int | None = None):
    """create_generator parity (offset_tests.rs:303-308): id n at offset
    n-1, color always red, one partition unless told otherwise."""
    first_offset = first_id - 1 if first_offset is None else first_offset
    return [
        Row(
            value=bytearray(
                json.dumps({"id": first_id + i, "color": "red"}).encode()
            ),
            partition=partition,
            offset=first_offset + i,
            topic="t",
            timestamp=datetime.datetime(2024, 1, 1, 0, 0, i % 60),
            timestampType=0,
        )
        for i in range(n)
    ]


def _written_ids(spark, table_dir):
    return sorted(
        r["id"] for r in read_delta(spark, table_dir).collect()
    )


def _run(spark, job, src, ckpt):
    q = job.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q.awaitTermination(120)


def test_start_from_explicit(spark, tmp_path):
    """offset_tests.rs:109-175: seek_offsets [(0, 3)] → first ingested
    message is offset 4 (id 5); pre-seek messages never land."""
    src, table_dir, ckpt = (
        str(tmp_path / p) for p in ("src", "table", "ckpt")
    )
    # ids 1..10 at offsets 0..9 exist before the job starts
    _write_raw(spark, _msgs(1, 10), src)

    opts = IngestOptions(
        topic="t",
        table_uri=table_dir,
        app_id="starting_offsets_explicit",
        seek_offsets={0: 3},
        ends_at_latest_offsets=True,
    )
    job = IngestJob(opts, TABLE_SCHEMA)
    # the CLI writes seek offsets through the offsets.rs decision tree
    # before consuming (cli.py:496-497); do the same here
    write_offsets_to_table(job.table, opts.app_id, opts.seek_offsets)
    _run(spark, job, src, ckpt)
    assert _written_ids(spark, table_dir) == list(range(5, 11))

    # the reference then produces 5 more (ids 11..15) and ends with
    # ids 5.. in the table, 1..4 still absent
    _write_raw(spark, _msgs(11, 5), src)
    _run(spark, IngestJob(opts, TABLE_SCHEMA), src, ckpt)
    assert _written_ids(spark, table_dir) == list(range(5, 16))


def test_start_from_earliest(spark, tmp_path):
    """offset_tests.rs:179-235: auto_offset_reset=earliest on a fresh
    ledger consumes everything already in the topic — ids 1..10."""
    src, table_dir, ckpt = (
        str(tmp_path / p) for p in ("src", "table", "ckpt")
    )
    _write_raw(spark, _msgs(1, 10), src)
    opts = IngestOptions(
        topic="t",
        table_uri=table_dir,
        app_id="starting_offsets_earliest",
        auto_offset_reset=AutoOffsetReset.EARLIEST,
        ends_at_latest_offsets=True,
    )
    _run(spark, IngestJob(opts, TABLE_SCHEMA), src, ckpt)
    assert _written_ids(spark, table_dir) == list(range(1, 11))


def test_start_from_latest(spark, tmp_path):
    """offset_tests.rs:239-317: a consumer starting at LATEST sees only
    rows produced after its watermark — pre-existing ids 1..6 (the
    last of which arrives while the seek resolves, exactly the
    reference's offset-5 'trigger' message) are skipped; ids 7..16 at
    offsets 6..15 land. Final assertion is the reference's verbatim:
    written ids == 7..16."""
    src, table_dir, ckpt = (
        str(tmp_path / p) for p in ("src", "table", "ckpt")
    )
    # offsets 0..5 (ids 1..6) exist before the stream starts
    _write_raw(spark, _msgs(1, 6), src)
    opts = IngestOptions(
        topic="t",
        table_uri=table_dir,
        app_id="starting_offsets_latest",
        auto_offset_reset=AutoOffsetReset.LATEST,
        ends_at_latest_offsets=True,
    )
    job = IngestJob(opts, TABLE_SCHEMA)
    # latest-bootstrap: snapshot the source's high watermark into the
    # ledger (what startingOffsets=latest does against a real broker)
    job.seek_to_high_watermark(spark.read.schema(RAW_SCHEMA).parquet(src))

    # the 10 messages produced after the seek
    _write_raw(spark, _msgs(7, 10), src)
    _run(spark, job, src, ckpt)
    assert _written_ids(spark, table_dir) == list(range(7, 17))

    # second consumer group on the SAME topic from earliest still sees
    # everything — the floor is per-app, not destructive
    table2 = str(tmp_path / "table2")
    opts2 = IngestOptions(
        topic="t",
        table_uri=table2,
        app_id="second_group",
        ends_at_latest_offsets=True,
    )
    _run(spark, IngestJob(opts2, TABLE_SCHEMA), src, str(tmp_path / "ckpt2"))
    assert _written_ids(spark, table2) == list(range(1, 17))
