"""Aborted Iceberg commits. A commit that does not land removes the
data and delete files it promoted and the manifests and manifest list
it wrote, so the table is left as if it never ran. A compaction whose
rewrite a racer overtook raises instead of dropping the racer's files,
and a claim that landed without its ``version-hint.text`` swap is
current for the reader and the writer alike."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark import iceberg
from kafka_delta_ingest_spark.iceberg import (
    IcebergSink,
    IcebergWriter,
    read_iceberg,
    snapshots,
)
from kafka_delta_ingest_spark.logstore import LocalLogStore
from tests.conftest import untracked_iceberg_files

FIELDS = [
    {"id": 1, "name": "doc_id", "type": "long", "required": False},
    {"id": 2, "name": "grp", "type": "string", "required": False},
]
SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("grp", StringType())]
)


def _rows(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("grp")
    ).coalesce(1)


def _ids(spark, root):
    return sorted(r.doc_id for r in read_iceberg(spark, root).collect())


def _table(spark, tmp_path, batches=((0, 3), (3, 3))):
    root = str(tmp_path / "t")
    w = IcebergWriter(root, FIELDS)
    for lo, n in batches:
        w.append(_rows(spark, lo, n))
    return root


class ClaimFails(LocalLogStore):
    """Raises at every metadata claim, before it lands."""

    def put_if_absent(self, path, data):
        raise OSError("injected fault in put_if_absent")


class RacedClaim(LocalLogStore):
    """Runs ``racer`` just before the first metadata claim, which it
    then loses."""

    def __init__(self, racer):
        self.racer = racer

    def put_if_absent(self, path, data):
        if self.racer is not None:
            self.racer, racer = None, self.racer
            racer()
        return LocalLogStore.put_if_absent(self, path, data)


def test_optimize_racing_an_append_keeps_the_append(spark, tmp_path, monkeypatch):
    """A racer appends between the compaction's rewrite and its commit:
    the compaction derives from the snapshot it read, so it raises and
    withdraws its rewrite rather than publish a manifest list without
    the racer's file."""
    root = _table(spark, tmp_path, [(0, 3), (3, 3), (6, 3)])
    real = iceberg.read_iceberg

    def racing_read(*args, **kwargs):
        if kwargs.get("_file_subset"):
            monkeypatch.setattr(iceberg, "read_iceberg", real)
            IcebergWriter(root, FIELDS).append(_rows(spark, 100, 2))
        return real(*args, **kwargs)

    monkeypatch.setattr(iceberg, "read_iceberg", racing_read)
    with pytest.raises(RuntimeError, match="rerun optimize"):
        IcebergWriter(root, FIELDS).optimize(spark)
    assert _ids(spark, root) == list(range(9)) + [100, 101]
    assert untracked_iceberg_files(root) == []


@pytest.mark.parametrize(
    "op", ["append", "upsert", "delete_where", "optimize_conflict"]
)
def test_aborted_iceberg_commit_leaves_no_untracked_files(spark, tmp_path, op):
    root = _table(spark, tmp_path)
    expected = list(range(6))
    if op == "optimize_conflict":
        racer = IcebergWriter(root, FIELDS)
        w = IcebergWriter(root, FIELDS, store=RacedClaim(
            lambda: racer.append(_rows(spark, 100, 2))
        ))
        with pytest.raises(RuntimeError, match="rerun optimize"):
            w.optimize(spark)
        expected += [100, 101]
    else:
        w = IcebergWriter(root, FIELDS, store=ClaimFails())
        run = {
            "append": lambda: w.append(_rows(spark, 100, 2)),
            "upsert": lambda: w.upsert(_rows(spark, 1, 2), ["doc_id"]),
            "delete_where": lambda: w.delete_where(spark, "doc_id < 2"),
        }[op]
        with pytest.raises(OSError, match="injected"):
            run()
    assert _ids(spark, root) == expected
    assert untracked_iceberg_files(root) == []


def test_stale_hint_after_a_landed_claim_is_read_past(spark, tmp_path, monkeypatch):
    """The hint swap fails after the claim landed: the reader and the
    sink's ledger both resolve the claimed version, so a replay skips
    the batch and every row reads back once."""
    root = str(tmp_path / "t")
    IcebergSink(root, SCHEMA).write_batch(_rows(spark, 0, 3), txn={"app-0": 2})
    real = LocalLogStore.put_atomic

    def put_atomic(self, path, data):
        if path.endswith("version-hint.text"):
            raise OSError("injected fault in put_atomic")
        return real(self, path, data)

    monkeypatch.setattr(LocalLogStore, "put_atomic", put_atomic)
    with pytest.raises(OSError, match="injected"):
        IcebergSink(root, SCHEMA).write_batch(
            _rows(spark, 3, 3), txn={"app-0": 5}
        )
    monkeypatch.undo()
    sink = IcebergSink(root, SCHEMA)
    assert sink.snapshot()["txn"] == {"app-0": 5}
    assert _ids(spark, root) == list(range(6))
    assert sink.write_batch(_rows(spark, 3, 3), txn={"app-0": 5}).skipped
    assert _ids(spark, root) == list(range(6))
    assert untracked_iceberg_files(root) == []


def test_append_after_expiry_gets_a_fresh_snapshot_id(spark, tmp_path):
    """Snapshot ids follow the largest one kept, not the snapshot
    count: after an expiry a new snapshot must not reuse the id of one
    still in the history."""
    root = str(tmp_path / "t")
    w = IcebergWriter(root, FIELDS)
    for i in range(3):
        w.append(_rows(spark, 3 * i, 3), ts_ms=1000 * (i + 1))
    w.expire_snapshots(older_than_ms=1500)
    w.append(_rows(spark, 100, 2), ts_ms=4000)
    ids = [s["snapshot-id"] for s in snapshots(root)]
    assert len(set(ids)) == len(ids) == 3
    assert _ids(spark, root) == list(range(9)) + [100, 101]


def test_expiry_that_loses_its_claim_retries_on_fresh_state(spark, tmp_path):
    """An append lands between the expiry's plan and its claim: the
    expiry retries from the racer's metadata, keeps the racer's
    snapshot and files, and reclaims only what no kept snapshot
    names."""
    root = _table(spark, tmp_path)
    IcebergWriter(root, FIELDS).optimize(spark)
    racer = IcebergWriter(root, FIELDS)
    store = RacedClaim(lambda: racer.append(_rows(spark, 100, 2)))
    before = {s["snapshot-id"] for s in snapshots(root)}
    deleted = IcebergWriter(root, FIELDS, store=store).expire_snapshots(
        retain_last=1
    )
    assert store.racer is None  # the racer ran and won the first claim
    kept = [s["snapshot-id"] for s in snapshots(root)]
    assert len(kept) == 1 and kept[0] not in before
    assert sum(p.endswith(".parquet") for p in deleted) == 2
    assert not any(map(os.path.exists, deleted))
    assert _ids(spark, root) == list(range(6)) + [100, 101]
    assert untracked_iceberg_files(root) == []


def test_sink_refuses_a_partition_column_not_in_the_schema(spark, tmp_path):
    """On a new table the sink's ``partition_by`` is checked against
    the schema before any Spark work or file write."""
    root = str(tmp_path / "t")
    sink = IcebergSink(root, SCHEMA)
    with pytest.raises(ValueError, match=r"\['nope'\] not in schema"):
        sink.write_batch(_rows(spark, 0, 3), partition_by=["nope"],
                         txn={"app-0": 2})
    assert sink.snapshot()["version"] == -1
    assert untracked_iceberg_files(root) == []


def test_sink_writes_into_a_hidden_partitioned_table(spark, tmp_path):
    """A batch without ``partition_by`` adopts the table's spec, hidden
    transforms included: the sink's files land under the bucket
    directories and every row reads back once."""
    root = str(tmp_path / "t")
    IcebergWriter(root, FIELDS, partition_by=["bucket(4, doc_id)"]).append(
        _rows(spark, 0, 6)
    )
    res = IcebergSink(root, SCHEMA).write_batch(
        _rows(spark, 100, 4), txn={"app-0": 3}
    )
    assert not res.skipped and res.num_records == 4
    assert _ids(spark, root) == list(range(6)) + list(range(100, 104))
    data = os.path.join(root, "data")
    assert sorted(os.listdir(data)) == sorted(
        f"doc_id_bucket={b}" for b in {
            iceberg.iceberg_bucket(i, 4)
            for i in list(range(6)) + list(range(100, 104))
        }
    )
    assert IcebergSink(root, SCHEMA).snapshot()["txn"] == {"app-0": 3}
    assert untracked_iceberg_files(root) == []
