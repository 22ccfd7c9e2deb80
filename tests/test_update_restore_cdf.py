"""UPDATE WHERE, RESTORE, and the full Change Data Feed on the standard
Delta log.

Rounds out Delta parity beyond the append-only reference
(kafka-delta-ingest writes only adds — src/writer.rs): UPDATE completes
the DML triad next to MERGE/DELETE; RESTORE is the instant O(diff)
rollback lever after a bad batch; CDF records row-level diffs as `cdc`
actions (real Delta's action shape) so incremental consumers track the
change rate, never table size. CDF is enabled on an existing table by
one metadata commit, as ALTER TABLE SET TBLPROPERTIES does.
"""

import os
import shutil
import time

import pytest

from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardWriter,
    read_delta,
    table_changes,
)


def _t(tmp_path):
    return DeltaStandardWriter(str(tmp_path / "t"))


def _rows(spark, t, version=None):
    return sorted(tuple(r) for r in read_delta(spark, t.root, version=version).collect())


def _cdf(spark, t, after, to_v=None):
    """The feed of the commits after version ``after``."""
    return table_changes(spark, t.root, after + 1, to_v)


# -- UPDATE WHERE ----------------------------------------------------------


def test_update_set_evaluates_against_preimage(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1, 2), (3, 4)], "a long, b long"))
    # SQL UPDATE semantics: SET a=b, b=a swaps (both RHS read pre-image).
    t.update_where(spark, "a >= 0", {"a": "b", "b": "a"})
    assert _rows(spark, t) == [(2, 1), (4, 3)]


def test_update_null_predicate_rows_survive_unchanged(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1, "x"), (None, "y")], "id long, s string"))
    t.update_where(spark, "id = 1", {"s": "'z'"})
    got = {tuple(r) for r in read_delta(spark, t.root).collect()}
    # NULL-id row keeps its value: predicate NULL is not TRUE.
    assert got == {(1, "z"), (None, "y")}


def test_update_honors_deletion_vectors(spark, tmp_path):
    t = _t(tmp_path)
    t.write(
        spark.createDataFrame(
            [(i, i) for i in range(10)], "id long, val long"
        ).coalesce(1)
    )
    t.delete_where(spark, "id = 3")
    t.update_where(spark, "id < 5", {"val": "val + 100"})
    got = {r.id: r.val for r in read_delta(spark, t.root).collect()}
    assert 3 not in got  # DV-deleted row did not resurrect
    assert got[0] == 100 and got[4] == 104 and got[9] == 9


# -- Change Data Feed ------------------------------------------------------


def test_cdf_append_streams_inserts(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    v = t.enable_change_data_feed()
    t.write(spark.createDataFrame([(2, "b"), (3, "c")], "id long, s string"))
    ch = _cdf(spark, t, v).select("id", "s", "_change_type").collect()
    assert sorted((r.id, r.s, r._change_type) for r in ch) == [
        (2, "b", "insert"),
        (3, "c", "insert"),
    ]


def test_enable_cdf_is_one_idempotent_metadata_commit(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    v = t.enable_change_data_feed()
    assert v == 1
    assert t.enable_change_data_feed() == v  # already on: no commit
    meta = t._py_replay()["meta"]
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    assert _rows(spark, t) == [(1, "a")]


def test_cdf_delete_records_deleted_rows(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(i, f"s{i}") for i in range(6)], "id long, s string"))
    v = t.enable_change_data_feed()
    t.delete_where(spark, "id < 2")
    ch = _cdf(spark, t, v).collect()
    assert sorted((r.id, r._change_type) for r in ch) == [
        (0, "delete"),
        (1, "delete"),
    ]
    assert all(r._commit_version == t.latest_version() for r in ch)


def test_cdf_merge_classifies_updates_vs_inserts(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1, "old1"), (2, "old2")], "id long, s string"))
    v = t.enable_change_data_feed()
    src = spark.createDataFrame([(2, "new2"), (9, "new9")], "id long, s string")
    t.merge(spark, src, "source.id = target.id", when_matched_update={"s": "source.s"})
    ch = sorted((r.id, r.s, r._change_type) for r in _cdf(spark, t, v).collect())
    assert ch == [
        (2, "new2", "update_postimage"),
        (2, "old2", "update_preimage"),
        (9, "new9", "insert"),
    ]


def test_merge_conditional_cdf_classification(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    v = t.enable_change_data_feed()
    src = spark.createDataFrame(
        [(1, "x", True), (2, "b2", False), (7, "n", False)],
        "id long, s string, is_del boolean",
    )
    t.merge(
        spark, src, "source.id = target.id",
        when_matched_delete="source.is_del",
        when_matched_update={"s": "source.s"},
        when_not_matched_insert={"id": "source.id", "s": "source.s"},
    )
    ch = sorted((r.id, r.s, r._change_type) for r in _cdf(spark, t, v).collect())
    assert ch == [
        (1, "a", "delete"),
        (2, "b", "update_preimage"),
        (2, "b2", "update_postimage"),
        (7, "n", "insert"),
    ]


def test_cdf_dv_delete_only_newly_deleted_rows(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(i, i) for i in range(8)], "id long, val long").coalesce(1))
    v0 = t.enable_change_data_feed()
    v1 = t.delete_where(spark, "id < 2")
    t.delete_where(spark, "id < 4")  # 0,1 already gone
    first = sorted(r.id for r in _cdf(spark, t, v0, v1).collect())
    second = sorted(r.id for r in _cdf(spark, t, v1).collect())
    assert first == [0, 1]
    assert second == [2, 3]  # cumulative vector, but cdc has only the delta
    assert {r._change_type for r in _cdf(spark, t, v0).collect()} == {"delete"}


# -- RESTORE ---------------------------------------------------------------


def _seed(t, spark, batches=3, n=10):
    for b in range(batches):
        lo = b * n
        t.write(
            spark.createDataFrame(
                [(i, f"old{i}", i * 10) for i in range(lo, lo + n)],
                "id long, s string, val long",
            ).coalesce(1)
        )


def test_restore_undoes_delete_preserving_history(spark, tmp_path):
    t = _t(tmp_path)
    _seed(t, spark)
    v_good = t.latest_version()
    t.delete_where(spark, "id < 15")
    assert read_delta(spark, t.root).count() == 15
    assert t.restore(v_good, spark) == v_good + 2
    assert read_delta(spark, t.root).count() == 30
    # History preserved: the deleted state is still time-travelable,
    # and the restore landed as a NEW version on top.
    assert read_delta(spark, t.root, version=v_good + 1).count() == 15


def test_restore_is_log_only_when_cdf_off(spark, tmp_path):
    t = _t(tmp_path)
    _seed(t, spark)
    v_good = t.latest_version()
    t.update_where(spark, "id >= 20", {"val": "0"})

    def files():
        return {
            os.path.join(dp, f) for dp, _d, fs in os.walk(t.root) for f in fs
            if "_delta_log" not in dp
        }

    before = files()
    t.restore(v_good, spark)
    # The restore re-references existing files and writes no cdc.
    assert files() == before
    assert _rows(spark, t) == _rows(spark, t, v_good)


def test_restore_reverts_schema_evolution(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1,)], "id long"))
    v0 = t.latest_version()
    t.evolve_schema(
        StructType([StructField("id", LongType()), StructField("extra", LongType())])
    )
    assert read_delta(spark, t.root).columns == ["id", "extra"]
    t.restore(v0, spark)
    assert read_delta(spark, t.root).columns == ["id"]


def test_restore_emits_row_level_cdf(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(i, f"s{i}") for i in range(6)], "id long, s string").coalesce(1))
    v_good = t.enable_change_data_feed()
    v_del = t.update_where(spark, "id < 2", {"s": "'gone'"})
    t.restore(v_good, spark)
    ch = sorted(
        (r.id, r.s, r._change_type) for r in _cdf(spark, t, v_del).collect()
    )
    # Exactly the changed rows come back; the surviving rows carried
    # through the rewritten file must NOT appear as changes.
    assert ch == [
        (0, "gone", "delete"),
        (0, "s0", "insert"),
        (1, "gone", "delete"),
        (1, "s1", "insert"),
    ]


def test_restore_across_dv_descriptor_change(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(i, i) for i in range(8)], "id long, val long").coalesce(1))
    v_good = t.enable_change_data_feed()
    v_del = t.delete_where(spark, "id = 5")
    assert read_delta(spark, t.root).count() == 7
    t.restore(v_good, spark)
    assert sorted(r.id for r in read_delta(spark, t.root).collect()) == list(range(8))
    # Row-exact CDF even though only the DV descriptor changed: the one
    # masked row is the only insert.
    ch = sorted((r.id, r._change_type) for r in _cdf(spark, t, v_del).collect())
    assert ch == [(5, "insert")]


def test_restore_after_vacuum_raises(spark, tmp_path):
    t = _t(tmp_path)
    _seed(t, spark, batches=2)
    v_good = t.latest_version()
    t.write(spark.createDataFrame([(99, "x", 0)], "id long, s string, val long"), mode="overwrite")
    t.vacuum(retention_ms=0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(v_good, spark)


def test_vacuum_reclaims_orphaned_cdc_files(spark, tmp_path):
    t = _t(tmp_path)
    t.write(spark.createDataFrame([(1,), (2,)], "id long"))
    t.enable_change_data_feed()
    t.delete_where(spark, "id = 1")
    cdc_dir = os.path.join(t.root, "_change_data")
    referenced = {os.path.join(cdc_dir, f) for f in os.listdir(cdc_dir)}
    # Plant an orphan (simulating a lost commit race).
    orphan = os.path.join(cdc_dir, "cdc-orphan.parquet")
    shutil.copy(next(iter(referenced)), orphan)
    # young, it may belong to a commit in flight; past the one-day
    # floor for untracked files it is reclaimed
    t.vacuum(retention_ms=0)
    assert os.path.exists(orphan)
    old = time.time() - 2 * 24 * 3600
    os.utime(orphan, (old, old))
    t.vacuum(retention_ms=0)
    assert not os.path.exists(orphan)
    # Referenced change files age out with their commit, like data
    # tombstones; inside the retention window they survive.
    t2 = _t(tmp_path / "b")
    t2.write(spark.createDataFrame([(1,), (2,)], "id long"))
    t2.enable_change_data_feed()
    t2.delete_where(spark, "id = 1")
    t2.vacuum()
    assert os.listdir(os.path.join(t2.root, "_change_data"))
