"""Sink contract: every ingest destination (sinks.base.Sink) behaves the
same at the write / replay / offset-bootstrap / read surface
(reference src/delta_helpers.rs:15-40, src/offsets.rs:36-102), and the
jar-free logs normalize to one recorded action stream
(tests/fixtures/sink_action_stream.json), so protocol drift in either
Delta writer is caught.
"""

import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark.config import IngestOptions
from kafka_delta_ingest_spark.offsets import (
    InconsistentStoredOffsets,
    write_offsets_to_table,
)
from kafka_delta_ingest_spark.sinks.base import open_sink
from kafka_delta_ingest_spark.sinks.delta_like import DeltaLikeTable
from kafka_delta_ingest_spark.sinks.log_compare import normalize_log

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "sink_action_stream.json")

FORMATS = ["delta", "iceberg", "hudi", "hudi_mor"]
SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("user", StringType()),
        StructField("date", StringType()),
    ]
)


def _batch(spark, lo, hi, date):
    return spark.createDataFrame(
        [(i, f"u{i % 4}", date) for i in range(lo, hi)], "id long, user string, date string"
    ).repartition(1)


def _sink(path, fmt):
    opts = IngestOptions(table_uri=path, log_format=fmt, partition_by=["date"])
    return open_sink(opts, SCHEMA)


def _ids(spark, sink):
    return sorted(r.id for r in sink.read(spark).select("id").collect())


@pytest.mark.parametrize("fmt", FORMATS)
def test_append_replay_read_contract(spark, fmt, tmp_path):
    """Exactly-once at the shared surface: appends report their files,
    records and bytes; a replayed batch comes back skipped and adds no
    rows; the table reads back as the exact id set."""
    t = _sink(str(tmp_path / "t"), fmt)
    first = t.write_batch(
        _batch(spark, 0, 10, "2024-01-01"), partition_by=["date"], txn={"app-0": 5}
    )
    assert not first.skipped
    assert first.num_records == 10 and first.num_files >= 1
    assert first.num_bytes > 0
    second = t.write_batch(
        _batch(spark, 10, 20, "2024-01-02"), partition_by=["date"], txn={"app-0": 6}
    )
    assert second.num_records == 10 and second.num_bytes > 0
    replay = t.write_batch(
        _batch(spark, 10, 20, "2024-01-02"), partition_by=["date"], txn={"app-0": 6}
    )
    assert replay.skipped and replay.num_records == 0 and replay.num_bytes == 0
    assert t.snapshot()["txn"] == {"app-0": 6}
    assert _ids(spark, t) == list(range(20))


@pytest.mark.parametrize("fmt", FORMATS)
def test_offset_bootstrap_contract(spark, fmt, tmp_path):
    """--seek_offsets through commit_offsets: a fresh table takes the
    offsets, a repeat or lower request is a no-op, a higher one is
    refused, and the seeded ledger gates the first data batch."""
    t = _sink(str(tmp_path / "t"), fmt)
    assert write_offsets_to_table(t, "app", {0: 5, 1: 10}) is True
    assert t.snapshot()["txn"] == {"app-0": 5, "app-1": 10}
    assert write_offsets_to_table(t, "app", {0: 5, 1: 10}) is False
    assert write_offsets_to_table(t, "app", {0: 3}) is False
    with pytest.raises(InconsistentStoredOffsets, match="0:stored=5/seek=9"):
        write_offsets_to_table(t, "app", {0: 9})
    assert t.write_batch(
        _batch(spark, 0, 5, "2024-01-01"), partition_by=["date"], txn={"app-0": 5}
    ).skipped
    res = t.write_batch(
        _batch(spark, 5, 8, "2024-01-01"), partition_by=["date"], txn={"app-0": 8}
    )
    assert res.num_records == 3 and res.num_bytes > 0
    assert t.snapshot()["txn"] == {"app-0": 8, "app-1": 10}
    assert _ids(spark, t) == [5, 6, 7]


def _append(t, df, txn):
    return t.write_batch(df, partition_by=["date"], txn=txn)


def _run_scenario(spark, path):
    """The canonical batch sequence for the recorded-log comparison."""
    t = DeltaLikeTable(path)
    _append(t, _batch(spark, 0, 10, "2024-01-01"), {"app-0": 5})
    _append(t, _batch(spark, 10, 20, "2024-01-02"), {"app-0": 6, "app-1": 3})
    assert _append(t, _batch(spark, 10, 20, "2024-01-02"), {"app-0": 6}).skipped
    t.delete_where(spark, [("id", "<", 5)])
    src = spark.createDataFrame(
        [(7, "patched", "2024-01-01"), (42, "new", "2024-01-02")],
        "id long, user string, date string",
    )
    t.merge(spark, src, key_cols=["id"])
    return t


def test_action_stream_matches_recorded_fixture(spark, tmp_path):
    """The normalized action stream for the canonical scenario must be
    byte-stable against the recorded fixture — the contract a real
    Delta log can be diffed against on a jarred cluster."""
    t = _run_scenario(spark, str(tmp_path / "t"))
    got = normalize_log(t.path)
    with open(FIXTURE) as f:
        want = json.load(f)
    assert got == want
    ids = sorted(r.id for r in t.read(spark).select("id").collect())
    assert ids == list(range(5, 20)) + [42]


def test_standard_writer_log_normalizes_like_recorded_fixture(
    spark, tmp_path
):
    """The STANDARD-layout writer (delta_standard.DeltaStandardWriter)
    must produce the same normalized action stream the kdi sink
    records for the append scenario. Covers operation category, txn
    (appId, version) pairs, add counts, per-file record counts, and
    partition values; also pins the txn replay-skip."""
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
    )

    t = DeltaStandardWriter(str(tmp_path / "t"))
    t.write(_batch(spark, 0, 10, "2024-01-01"), partition_by=["date"],
            txn={"app-0": 5})
    t.write(_batch(spark, 10, 20, "2024-01-02"),
            txn={"app-0": 6, "app-1": 3})
    # identical replay must be skipped (no third commit)
    assert t.write(_batch(spark, 10, 20, "2024-01-02"),
                   txn={"app-0": 6}) == 1
    keys = ("operation", "txn", "numAdds", "numRemoves", "numRecords",
            "adds", "metaData")
    got = [
        {k: c[k] for k in keys}
        for c in normalize_log(str(tmp_path / "t"))
    ]
    with open(FIXTURE) as f:
        want = [{k: c[k] for k in keys} for c in json.load(f)[:2]]
    assert got == want


def test_action_stream_protocol_shape(spark, tmp_path):
    """Delta-protocol structural laws the reference's consumers rely on:
    commitInfo leads every commit, rewrites list removes before adds,
    every add carries parseable stats, and partitionValues mirror the
    Hive directory the file lives in."""
    t = _run_scenario(spark, str(tmp_path / "t"))
    log = os.path.join(t.path, "_kdi_log")
    for fname in sorted(f for f in os.listdir(log) if f.endswith(".json") and f[:20].isdigit()):
        with open(os.path.join(log, fname)) as f:
            actions = [json.loads(line) for line in f]
        kinds = [next(iter(a)) for a in actions]
        assert kinds[0] == "commitInfo"
        if "remove" in kinds and "add" in kinds:
            assert kinds.index("remove") < kinds.index("add")
        for a in actions:
            if "add" not in a:
                continue
            add = a["add"]
            assert add["stats"]["numRecords"] > 0
            for col, val in add["partitionValues"].items():
                assert f"{col}={val}" in add["path"]
