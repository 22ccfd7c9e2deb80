"""Sink contract: every ingest destination (sinks.base.Sink) behaves the
same at the write / replay / offset-bootstrap / read surface
(reference src/delta_helpers.rs:15-40, src/offsets.rs:36-102), and the
standard Delta writer's log normalizes to one recorded action stream
(tests/fixtures/sink_action_stream.json), so protocol drift is caught.
"""

import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark.config import IngestOptions
from kafka_delta_ingest_spark.delta_standard import DeltaStandardWriter, read_delta
from kafka_delta_ingest_spark.offsets import (
    InconsistentStoredOffsets,
    write_offsets_to_table,
)
from kafka_delta_ingest_spark.sinks.base import STAGING_PREFIX, open_sink

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


#: operation name → category, so the recorded stream names what a
#: commit did rather than one engine's spelling of it.
_OP_CATEGORY = {
    "WRITE": "append",
    "STREAMING UPDATE": "append",
    "DELETE": "delete",
    "MERGE": "merge",
}


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "hudi"])
def test_failed_write_leaves_no_staging(spark, fmt, tmp_path):
    """A batch whose Spark job fails raises, leaves no staging
    directory under the table root, and leaves the table readable at
    its previous version."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    t = _sink(root, fmt)
    t.write_batch(
        _batch(spark, 0, 10, "2024-01-01"), partition_by=["date"], txn={"app-0": 5}
    )
    before = t.snapshot()
    bad = _batch(spark, 10, 20, "2024-01-02").withColumn(
        "user",
        F.when(F.col("id") == 15, F.raise_error(F.lit("poisoned row")))
        .otherwise(F.col("user")),
    )
    with pytest.raises(Exception, match="poisoned row"):
        t.write_batch(bad, partition_by=["date"], txn={"app-0": 6})
    assert not [n for n in os.listdir(root) if n.startswith(STAGING_PREFIX)]
    after = t.snapshot()
    assert after["version"] == before["version"]
    assert after["txn"] == {"app-0": 5}
    assert _ids(spark, t) == list(range(10))


def normalize_log(table_path: str) -> list[dict]:
    """One engine-independent dict per commit of a ``_delta_log``:
    operation category, txn (appId, version) pairs, add/remove counts,
    per-file record counts and partition values, and how many adds
    carry a deletion vector. Timestamps, file names and byte sizes
    are dropped."""
    log = os.path.join(table_path, "_delta_log")
    versions = sorted(
        int(f[:20]) for f in os.listdir(log) if f.endswith(".json") and f[:20].isdigit()
    )
    out = []
    for v in versions:
        with open(os.path.join(log, f"{v:020d}.json")) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        op = next(a["commitInfo"]["operation"] for a in acts if "commitInfo" in a)
        adds = sorted(
            (
                {
                    "partitionValues": dict(a["add"].get("partitionValues", {})),
                    "numRecords": json.loads(a["add"]["stats"])["numRecords"],
                }
                for a in acts
                if "add" in a
            ),
            key=lambda d: (sorted(d["partitionValues"].items()), d["numRecords"]),
        )
        out.append(
            {
                "version": v,
                "operation": _OP_CATEGORY.get(op, op.lower()),
                "metaData": any("metaData" in a for a in acts),
                "txn": sorted([a["txn"]["appId"], a["txn"]["version"]] for a in acts if "txn" in a),
                "numAdds": len(adds),
                "numRemoves": sum("remove" in a for a in acts),
                "numRecords": sum(a["numRecords"] for a in adds),
                "adds": adds,
                "numDeletionVectors": sum(
                    "deletionVector" in a.get("add", {}) for a in acts
                ),
            }
        )
    return out


def _run_scenario(spark, path):
    """The canonical batch sequence for the recorded-log comparison."""
    t = DeltaStandardWriter(path)
    t.write(_batch(spark, 0, 10, "2024-01-01"), partition_by=["date"], txn={"app-0": 5})
    t.write(_batch(spark, 10, 20, "2024-01-02"), txn={"app-0": 6, "app-1": 3})
    _v, adds = t.write_adds(_batch(spark, 10, 20, "2024-01-02"), txn={"app-0": 6})
    assert not adds  # replay skipped
    t.delete_where(spark, "id < 5")
    src = spark.createDataFrame(
        [(7, "patched", "2024-01-01"), (42, "new", "2024-01-02")],
        "id long, user string, date string",
    )
    t.merge(spark, src, "source.id = target.id", when_matched_update={"user": "source.user"})
    return t


def test_action_stream_matches_recorded_fixture(spark, tmp_path):
    """The normalized action stream for the canonical scenario must be
    byte-stable against the recorded fixture — the contract a real
    Delta log can be diffed against on a jarred cluster."""
    t = _run_scenario(spark, str(tmp_path / "t"))
    got = normalize_log(t.root)
    with open(FIXTURE) as f:
        want = json.load(f)
    assert got == want
    ids = sorted(r.id for r in read_delta(spark, t.root).select("id").collect())
    assert ids == list(range(5, 20)) + [42]


def test_standard_writer_log_normalizes_like_recorded_fixture(
    spark, tmp_path
):
    """The append half of the scenario through the sink surface
    (DeltaStandardSink.write_batch, what ingest calls) normalizes to
    the recorded appends. Covers operation category, txn (appId,
    version) pairs, add counts, per-file record counts, and partition
    values; also pins the txn replay-skip."""
    from kafka_delta_ingest_spark.delta_standard import DeltaStandardSink

    t = DeltaStandardSink(str(tmp_path / "t"))
    t.write_batch(_batch(spark, 0, 10, "2024-01-01"), partition_by=["date"],
                  txn={"app-0": 5})
    t.write_batch(_batch(spark, 10, 20, "2024-01-02"),
                  txn={"app-0": 6, "app-1": 3})
    # identical replay must be skipped (no third commit)
    replay = t.write_batch(_batch(spark, 10, 20, "2024-01-02"), txn={"app-0": 6})
    assert replay.skipped and replay.version == 1
    with open(FIXTURE) as f:
        want = json.load(f)[:2]
    assert normalize_log(str(tmp_path / "t")) == want


def test_action_stream_protocol_shape(spark, tmp_path):
    """Delta-protocol structural laws the reference's consumers rely on:
    commitInfo leads every commit, rewrites list removes before adds,
    every add carries parseable stats, and partitionValues mirror the
    Hive directory the file lives in."""
    from urllib.parse import unquote

    t = _run_scenario(spark, str(tmp_path / "t"))
    log = os.path.join(t.root, "_delta_log")
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
            assert json.loads(add["stats"])["numRecords"] > 0
            for col, val in add["partitionValues"].items():
                assert f"{col}={val}" in unquote(add["path"])
