"""Deletion-vector DELETE: row-level deletes without file rewrites.

Delta's DV protocol shape (remove+add of the SAME data file carrying a
deletionVector descriptor; readers mask rows by (file, row_index)) on
the standard log: ``deletion_vector_<uuid>.bin`` sidecars, an
anti-join on the parquet ``_metadata.row_index`` at read time.
"""

import os
import time

import pytest
from pyspark.sql import Row, functions as F

from kafka_delta_ingest_spark.delta_standard import (
    ConcurrentDeltaWriteError,
    DeltaStandardWriter,
    read_delta,
)


def _mk(spark, path, n=20, partitions=2):
    t = DeltaStandardWriter(str(path))
    df = spark.createDataFrame(
        [Row(id=i, grp=i % 2, val=f"v{i}") for i in range(n)]
    ).repartition(partitions)
    t.write(df)
    return t


def _files(t):
    return list(t._py_replay()["adds"].values())


def _card(t):
    return sum(
        f["deletionVector"]["cardinality"]
        for f in _files(t)
        if f.get("deletionVector")
    )


def _dv_bins(t):
    return [f for f in os.listdir(t.root) if f.startswith("deletion_vector_")]


def test_dv_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = {f["path"] for f in _files(t)}
    t.delete_where(spark, "id < 5")

    after = _files(t)
    assert {f["path"] for f in after} == before  # no file was rewritten
    assert any(f.get("deletionVector") for f in after)
    assert _card(t) == 5

    back = read_delta(spark, t.root)
    assert back.count() == 15
    assert back.filter(F.col("id") < 5).count() == 0
    assert back.columns == ["id", "grp", "val"]
    # Physical files still hold all 20 rows.
    raw = spark.read.parquet(*[os.path.join(t.root, f["path"]) for f in after])
    assert raw.count() == 20


def test_second_dv_delete_unions_with_existing_vector(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where(spark, "id < 5")
    t.delete_where(spark, "id < 8")
    # Rows 0-4 are already masked; only 5,6,7 are new matches.
    back = read_delta(spark, t.root)
    assert back.count() == 12
    assert back.agg(F.min("id")).collect()[0][0] == 8
    # One descriptor per file; cardinalities total the cumulative 8.
    assert _card(t) == 8


def test_dv_delete_skips_when_nothing_matches(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v = t.latest_version()
    assert t.delete_where(spark, "id > 1000") == v
    assert t.latest_version() == v
    assert read_delta(spark, t.root).count() == 20


def test_optimize_materializes_dv_away(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where(spark, "id < 5")
    t.optimize(spark)
    assert not any(f.get("deletionVector") for f in _files(t))
    back = read_delta(spark, t.root)
    assert back.count() == 15 and back.filter(F.col("id") < 5).count() == 0


def test_dv_survives_checkpoint_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")  # version 0
    pre_delete = t.latest_version()
    t.delete_where(spark, "grp = 0 AND id < 10")
    # Drive the log past a checkpoint boundary.
    for i in range(10):
        t.write(spark.createDataFrame([Row(id=100 + i, grp=3, val="x")]))
    assert os.path.exists(os.path.join(t.log, "_last_checkpoint"))
    # DV still applies after the checkpointed snapshot...
    assert read_delta(spark, t.root).filter(
        (F.col("grp") == 0) & (F.col("id") < 10)
    ).count() == 0
    # ...and the metaData (declared schema) survived the checkpoint too.
    assert t._py_replay()["meta"] is not None
    # Time travel BEFORE the DV delete shows the original rows.
    old = read_delta(spark, t.root, version=pre_delete)
    assert old.filter((F.col("grp") == 0) & (F.col("id") < 10)).count() == 5


def test_dv_delete_conflicts_with_racing_rewrite(spark, tmp_path, monkeypatch):
    """A DV delete whose snapshot a racing DELETE has since re-added
    (new descriptor on the same file) must conflict, not overwrite
    the racer's vector and resurrect its rows."""
    import kafka_delta_ingest_spark.roaring as roaring

    t = _mk(spark, tmp_path / "t", partitions=1)
    real = roaring.write_dv_file

    def racing_write(*a, **k):
        monkeypatch.setattr(roaring, "write_dv_file", real)
        DeltaStandardWriter(t.root).delete_where(spark, "id < 3")
        return real(*a, **k)

    monkeypatch.setattr(roaring, "write_dv_file", racing_write)
    with pytest.raises(ConcurrentDeltaWriteError):
        t.delete_where(spark, "id >= 15")
    ids = sorted(r.id for r in read_delta(spark, t.root).collect())
    assert ids == list(range(3, 20))


def test_merge_reads_logical_rows_after_dv(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where(spark, "id < 5")
    src = spark.createDataFrame([Row(id=2, grp=0, val="resurrect?")])
    t.merge(
        spark, src, "source.id = target.id",
        when_matched_update={"val": "source.val"},
    )
    back = read_delta(spark, t.root)
    # id=2 was DV-deleted; MERGE sees logical rows, so it INSERTS the
    # new id=2 row (no stale physical row resurfaces alongside it).
    assert back.filter(F.col("id") == 2).count() == 1
    assert back.filter(F.col("id") == 2).collect()[0].val == "resurrect?"
    assert back.count() == 16


def test_vacuum_reclaims_unreferenced_dv_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitions=1)
    t.delete_where(spark, "id < 5")
    assert len(_dv_bins(t)) == 1

    # Still referenced: vacuum must NOT touch it even with retention 0.
    t.vacuum(retention_ms=0)
    assert len(_dv_bins(t)) == 1
    assert read_delta(spark, t.root).count() == 15

    # A crashed delete leaves a sidecar no add references: reclaimed,
    # while the referenced one stays.
    orphan = "deletion_vector_00000000-0000-0000-0000-000000000000.bin"
    with open(os.path.join(t.root, orphan), "wb") as f:
        f.write(b"x")
    # untracked files are reclaimable only past the one-day floor
    old = time.time() - 2 * 24 * 3600
    os.utime(os.path.join(t.root, orphan), (old, old))
    assert orphan in t.vacuum(retention_ms=0)
    assert len(_dv_bins(t)) == 1
    assert read_delta(spark, t.root).count() == 15
