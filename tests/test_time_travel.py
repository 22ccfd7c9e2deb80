"""Time travel + VACUUM on the standard Delta log.

The reference gets versioned reads for free from delta-rs/Delta Lake
(`DeltaTable::load_version`); these tests prove our log replay gives
the same guarantees: any historical version is reconstructable until
vacuum reclaims its files, OPTIMIZE never breaks in-flight readers
(tombstones, not deletions), and vacuum honors its retention window.
"""

import os
import time

import pytest

from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardWriter,
    read_delta,
    table_changes,
)


def _write(t, spark, lo, n=10):
    df = spark.createDataFrame([(i, f"r{i}") for i in range(lo, lo + n)], "id long, s string")
    return t.write(df)


# an instant past the untracked-file floor of every file a test makes
_LATER = int(time.time() * 1000) + 30 * 24 * 3600 * 1000


def _live(t):
    return set(t._py_replay()["adds"])


def test_time_travel_reads_historical_versions(spark, tmp_path):
    t = DeltaStandardWriter(str(tmp_path / "t"))
    v0 = _write(t, spark, 0)
    v1 = _write(t, spark, 10)
    v2 = _write(t, spark, 20)
    assert (v0, v1, v2) == (0, 1, 2)
    assert read_delta(spark, t.root, version=0).count() == 10
    assert read_delta(spark, t.root, version=1).count() == 20
    assert sorted(
        r.id for r in read_delta(spark, t.root, version=1).collect()
    ) == list(range(20))
    assert read_delta(spark, t.root).count() == 30

    with pytest.raises(ValueError, match="beyond log end"):
        read_delta(spark, t.root, version=99)


def test_optimize_preserves_time_travel_until_vacuum(spark, tmp_path):
    t = DeltaStandardWriter(str(tmp_path / "t"))
    for b in range(3):
        _write(t, spark, b * 10)
    before = _live(t)
    assert t.optimize(spark, target_file_bytes=64 * 1024 * 1024) == 3

    # Tombstoned files stay on disk: reading the pre-OPTIMIZE
    # version still works and sees the identical row set.
    old = read_delta(spark, t.root, version=2)
    assert sorted(r.id for r in old.collect()) == list(range(30))
    assert read_delta(spark, t.root).count() == 30

    # Inside the retention window nothing is reclaimed.
    assert t.vacuum(retention_ms=24 * 3600 * 1000) == []
    for p in before:
        assert os.path.exists(os.path.join(t.root, p))

    # retention 0: tombstones go, the live snapshot is untouched.
    deleted = t.vacuum(retention_ms=0)
    assert sorted(deleted) == sorted(before)
    assert read_delta(spark, t.root).count() == 30
    for p in before:
        assert not os.path.exists(os.path.join(t.root, p))


def test_vacuum_reclaims_aborted_staging_orphans(spark, tmp_path):
    t = DeltaStandardWriter(str(tmp_path / "t"))
    _write(t, spark, 0)
    # Simulate an aborted write: a data file on disk, never committed.
    orphan = os.path.join(t.root, "part-orphan-dead.snappy.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    # an untracked file may be a commit in flight: too young even at
    # retention 0 until it passes the fixed floor
    assert t.vacuum(retention_ms=0) == []
    assert t.vacuum(retention_ms=0, now_ms=_LATER) == [
        "part-orphan-dead.snappy.parquet"
    ]
    assert not os.path.exists(orphan)
    assert read_delta(spark, t.root).count() == 10


def test_vacuum_keeps_promoted_files_of_a_commit_in_flight(spark, tmp_path):
    """A writer promotes its parquet into the table root before the
    commit names it, and the promoted file keeps its write mtime:
    vacuum at retention 0 must not delete it in that window."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    _write(t, spark, 0)
    df = spark.createDataFrame([(99, "r99")], "id long, s string")
    adds = t._stage_adds(df, None, int(time.time() * 1000))
    promoted = [os.path.join(t.root, a["path"]) for a in adds]
    assert promoted and all(os.path.exists(p) for p in promoted)
    assert t.vacuum(retention_ms=0) == []
    assert all(os.path.exists(p) for p in promoted)
    t._atomic_commit(
        [{"add": a} for a in adds], read_version=t.latest_version()
    )
    assert read_delta(spark, t.root).count() == 11


def test_vacuum_reclaims_aborted_staging(spark, tmp_path):
    """A crashed writer's ``_staging-*`` directory (Spark output never
    promoted, its ``_SUCCESS`` marker included) is reclaimed once it
    is older than the untracked-file floor."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    _write(t, spark, 0)
    orphan = os.path.join(t.root, "_staging-deadbeef", "date=x")
    os.makedirs(orphan)
    for name in ("part-0.parquet", "_SUCCESS"):
        with open(os.path.join(orphan, name), "wb") as f:
            f.write(b"x")
    assert t.vacuum(retention_ms=0) == []
    assert sorted(t.vacuum(retention_ms=0, now_ms=_LATER)) == [
        "_staging-deadbeef/date=x/_SUCCESS",
        "_staging-deadbeef/date=x/part-0.parquet",
    ]
    assert not os.path.exists(os.path.join(t.root, "_staging-deadbeef"))
    assert read_delta(spark, t.root).count() == 10


def test_append_change_feed_skips_rewrites(spark, tmp_path):
    t = DeltaStandardWriter(str(tmp_path / "t"))
    for b in range(3):  # versions 0, 1, 2
        _write(t, spark, b * 10)
    assert t.optimize(spark, target_file_bytes=64 * 1024 * 1024) == 3
    _write(t, spark, 100)  # version 4

    rows = table_changes(spark, t.root, 1).collect()
    # versions 1, 2, 4 — never the OPTIMIZE rewrite (dataChange=false).
    assert sorted({r._commit_version for r in rows}) == [1, 2, 4]
    assert {r._change_type for r in rows} == {"insert"}
    assert sorted(r.id for r in rows) == list(range(10, 30)) + list(range(100, 110))
    assert table_changes(spark, t.root, 0).count() == 40
    # a window holding only the rewrite has no changes
    with pytest.raises(ValueError, match="no changes"):
        table_changes(spark, t.root, 3, 3)
