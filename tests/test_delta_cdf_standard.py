"""Change Data Feed over STANDARD _delta_log tables
(delta_standard.table_changes): cdc actions, derived inserts/deletes,
version windows, and the DV-without-cdc guard."""

import glob
import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark.delta_standard import (
    DeltaFixtureWriter,
    table_changes,
)

_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("grp", StringType()),
        StructField("val", LongType()),
    ]
)


@pytest.fixture()
def table(tmp_path):
    t = str(tmp_path / "t")
    w = DeltaFixtureWriter(t, _SCHEMA)
    w.add_files(
        [({}, [{"doc_id": i, "grp": "a", "val": i} for i in range(5)])],
        timestamp_ms=1000,
    )
    w.add_files(
        [({}, [{"doc_id": i, "grp": "b", "val": i}
               for i in range(5, 8)])],
        timestamp_ms=2000,
    )
    return t, w


def test_derived_inserts(spark, table):
    t, _ = table
    ch = table_changes(spark, t, 0, 1)
    got = sorted(
        (r.doc_id, r._change_type, r._commit_version)
        for r in ch.collect()
    )
    assert got == [(i, "insert", 0) for i in range(5)] + [
        (i, "insert", 1) for i in range(5, 8)
    ]
    # window selects a single commit
    assert table_changes(spark, t, 1, 1).count() == 3
    ts = {r._commit_timestamp for r in
          table_changes(spark, t, 1, 1).collect()}
    assert ts == {2000}


def test_derived_delete_from_remove(spark, table):
    t, w = table
    first = sorted(
        os.path.relpath(p, t) for p in glob.glob(t + "/part-*.parquet")
    )[0]
    w.remove_files([first], timestamp_ms=3000)
    ch = table_changes(spark, t, 2, 2)
    got = sorted((r.doc_id, r._change_type) for r in ch.collect())
    assert got == [(i, "delete") for i in range(5)]


def test_cdc_action_wins_over_derivation(spark, table):
    t, w = table
    first = sorted(
        os.path.relpath(p, t) for p in glob.glob(t + "/part-*.parquet")
    )[0]
    # an UPDATE recorded via cdc: pre/post images for one row
    w.commit_with_cdc(
        [first],
        [
            {"doc_id": 2, "grp": "a", "val": 2,
             "_change_type": "update_preimage"},
            {"doc_id": 2, "grp": "a", "val": 99,
             "_change_type": "update_postimage"},
        ],
        timestamp_ms=3000,
    )
    ch = table_changes(spark, t, 2, 2)
    got = sorted((r.doc_id, r.val, r._change_type) for r in ch.collect())
    # ONLY the cdc rows — the remove in the same commit must not also
    # derive deletes
    assert got == [
        (2, 2, "update_preimage"), (2, 99, "update_postimage")
    ]


def test_dv_delete_without_cdc_raises(spark, table):
    t, w = table
    first = sorted(
        os.path.relpath(p, t) for p in glob.glob(t + "/part-*.parquet")
    )[0]
    w.delete_rows(first, [0], timestamp_ms=3000)
    with pytest.raises(ValueError, match="deletion vectors"):
        table_changes(spark, t, 2, 2).collect()
    # earlier windows still work
    assert table_changes(spark, t, 0, 1).count() == 8


def test_empty_window_raises(spark, table):
    t, _ = table
    with pytest.raises(ValueError, match="no changes"):
        table_changes(spark, t, 5, 9)


def test_partitioned_table_changes(spark, tmp_path):
    t = str(tmp_path / "p")
    w = DeltaFixtureWriter(t, _SCHEMA, partition_cols=["grp"])
    w.add_files(
        [({"grp": "a"},
          [{"doc_id": i, "grp": "a", "val": i} for i in range(3)]),
         ({"grp": "b"},
          [{"doc_id": 9, "grp": "b", "val": 9}])],
        timestamp_ms=1000,
    )
    ch = table_changes(spark, t, 0)
    got = sorted((r.doc_id, r.grp) for r in ch.collect())
    assert got == [(0, "a"), (1, "a"), (2, "a"), (9, "b")]


def test_writer_dv_delete_emits_cdc_when_cdf_enabled(spark, tmp_path):
    """r8: DeltaStandardWriter(enable_cdf=True) — a DV delete_where
    writes the deleted rows as _change_data/ cdc parquet + cdc
    actions, so table_changes serves the exact change set (without
    CDF the same commit raises, pinned below)."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "wcdf")
    w = DeltaStandardWriter(t, enable_cdf=True)
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    w.write(df)                                   # v0
    v = w.delete_where(spark, "doc_id % 3 = 0")   # v1: DV + cdc
    # live view: DV applied
    assert sorted(
        r.doc_id for r in read_delta(spark, t).collect()
    ) == [i for i in range(10) if i % 3 != 0]
    # CDF serves the DELETE's exact change set
    ch = table_changes(spark, t, v, v)
    got = sorted(
        (r.doc_id, r._change_type) for r in ch.collect()
    )
    assert got == [(i, "delete") for i in range(10) if i % 3 == 0]
    assert {r._commit_version for r in ch.collect()} == {v}
    # metaData carries the table property
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardSink,
    )

    meta = DeltaStandardSink(t).snapshot()["metaData"]
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    # contrast: a CDF-OFF writer's DV delete stays underivable
    t2 = str(tmp_path / "nocdf")
    w2 = DeltaStandardWriter(t2)
    w2.write(df)
    v2 = w2.delete_where(spark, "doc_id = 1")
    with pytest.raises(ValueError, match="enable CDF"):
        table_changes(spark, t2, v2, v2).collect()


def test_table_changes_seeds_from_checkpoint_not_v0(spark, tmp_path, monkeypatch):
    """An incremental poll must read O(range) commit files, seeded from
    the newest checkpoint at or below the range — never replay the
    whole log per poll."""
    import builtins

    from kafka_delta_ingest_spark.delta_standard import DeltaStandardWriter, table_changes

    t = str(tmp_path / "t")
    w = DeltaStandardWriter(t)
    for i in range(12):  # checkpoint lands at version 10
        w.write(spark.createDataFrame([(i,)], "id long"))
    w.enable_change_data_feed()  # v12
    w.write(spark.createDataFrame([(100,)], "id long"))  # v13

    opened = []
    real_open = builtins.open

    def spy(path, *a, **k):
        name = os.path.basename(str(path))
        if name.endswith(".json") and name[:20].isdigit():
            opened.append(int(name[:20]))
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", spy)
    ch = table_changes(spark, t, 13).collect()
    monkeypatch.undo()
    assert [r.id for r in ch] == [100]
    # Seeded from checkpoint.10: versions 0..9 never opened.
    assert opened and min(opened) >= 11


def _grp_docs(spark, n=12, lo=0):
    """doc_id in [lo, lo + n), a three-valued string ``grp`` and
    ``val`` = 10 · doc_id."""
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )


def test_delete_where_conflict_cleans_cdc(spark, tmp_path, monkeypatch):
    """A DV delete that loses its commit race removes the cdc parquet
    it staged: every ``_change_data`` file left is named by a commit."""
    import pytest

    import kafka_delta_ingest_spark.roaring as roaring
    from kafka_delta_ingest_spark.delta_standard import (
        ConcurrentDeltaWriteError,
        DeltaStandardWriter,
    )

    t = str(tmp_path / "cdcabort")
    w = DeltaStandardWriter(t, enable_cdf=True)
    w.write(_grp_docs(spark).coalesce(1))

    real = roaring.write_dv_file
    fired = {"done": False}

    def wrapper(*a, **k):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.undo()
            # racer DV-deletes from the same file -> our commit conflicts
            DeltaStandardWriter(t).delete_where(spark, "doc_id = 1")
        return real(*a, **k)

    monkeypatch.setattr(roaring, "write_dv_file", wrapper)
    with pytest.raises(ConcurrentDeltaWriteError):
        w.delete_where(spark, "doc_id = 2")
    # every surviving _change_data file is referenced by a committed
    # cdc action — the aborted delete left no orphan
    referenced = set()
    log = os.path.join(t, "_delta_log")
    for fname in os.listdir(log):
        if not fname.endswith(".json"):
            continue
        with open(os.path.join(log, fname)) as f:
            for line in f:
                act = json.loads(line)
                if "cdc" in act:
                    referenced.add(act["cdc"]["path"])
    cd = os.path.join(t, "_change_data")
    on_disk = {
        f"_change_data/{f}" for f in os.listdir(cd)
    } if os.path.isdir(cd) else set()
    assert on_disk == referenced
    assert referenced  # the racer's own CDF files did land


def test_vacuum_reclaims_aged_change_data(spark, tmp_path):
    """VACUUM ages ``_change_data`` files on the retention clock of
    the commit that names them."""
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "cdcvac")
    w = DeltaStandardWriter(t, enable_cdf=True)
    w.write(_grp_docs(spark).coalesce(1))
    w.delete_where(spark, "doc_id = 3")
    cd = os.path.join(t, "_change_data")
    assert os.listdir(cd)
    # inside the retention window: kept
    assert not any(
        d.startswith("_change_data/") for d in w.vacuum()
    )
    assert os.listdir(cd)
    # aged past retention: reclaimed (same clock as data tombstones)
    future = int(os.path.getmtime(os.path.join(t, "_delta_log")) * 1000)
    deleted = w.vacuum(retention_ms=0, now_ms=future + 10**10)
    assert any(d.startswith("_change_data/") for d in deleted)
    assert not os.listdir(cd)
    # live rows unaffected
    assert read_delta(spark, t).count() == 11
