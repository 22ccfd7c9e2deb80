"""Hudi CoW reader: timeline walk, file-slice selection across
insert/upsert/delete commits, time travel, plan-time partition
pruning, meta-column handling, and pending/unsupported instants."""

import json
import os

import pytest

from pyspark.sql import functions as F

from kafka_delta_ingest_spark.hudi import (
    HudiFixtureWriter,
    META_COLS,
    completed_commits,
    plan_snapshot,
    read_hudi,
    table_properties,
)


@pytest.fixture()
def table(tmp_path):
    w = HudiFixtureWriter(
        str(tmp_path / "t"), record_key="id", partition_field="lang"
    )
    rows = [
        {"id": i, "lang": ["en", "fr"][i % 2], "text": f"doc {i}"}
        for i in range(20)
    ]
    i1 = w.insert(rows[:10], ts_ms=1000, groups_per_partition=2)
    i2 = w.insert(rows[10:], ts_ms=2000, groups_per_partition=2)
    i3 = w.upsert([{"id": 4, "lang": "en", "text": "UPDATED"}], ts_ms=3000)
    i4 = w.delete([7, 9], ts_ms=4000)
    return str(tmp_path / "t"), (i1, i2, i3, i4)


def test_snapshot_reads_latest_slice_per_group(spark, table):
    path, _ = table
    got = sorted((r.id, r.text) for r in read_hudi(spark, path).collect())
    exp = sorted(
        (i, "UPDATED" if i == 4 else f"doc {i}")
        for i in range(20)
        if i not in (7, 9)
    )
    assert got == exp


def test_time_travel_by_instant(spark, table):
    path, (i1, i2, i3, _) = table
    assert read_hudi(spark, path, as_of_instant=i1).count() == 10
    assert read_hudi(spark, path, as_of_instant=i2).count() == 20
    d3 = read_hudi(spark, path, as_of_instant=i3)
    assert d3.count() == 20
    assert d3.filter("text = 'UPDATED'").count() == 1
    # deletes are visible only at the final instant
    assert {r.id for r in d3.collect()} >= {7, 9}


def test_plan_time_partition_pruning(spark, table):
    path, _ = table
    files, _ = plan_snapshot(path, partition_filter=lambda p: p == "lang=en")
    assert files and all("lang=en" in f for f in files)
    df = read_hudi(spark, path, partition_filter=lambda p: p == "lang=en")
    assert df.filter("lang <> 'en'").count() == 0
    assert df.count() == 10  # deletes (7, 9) were both fr


def test_meta_columns_dropped_by_default(spark, table):
    path, _ = table
    assert not set(read_hudi(spark, path).columns) & set(META_COLS)
    dm = read_hudi(spark, path, keep_meta=True)
    assert set(META_COLS) <= set(dm.columns)
    r = dm.filter("id = 4").collect()[0]
    assert r._hoodie_record_key == "4"
    assert r._hoodie_partition_path == "lang=en"


def test_pending_instants_are_invisible(spark, table):
    path, (_, _, _, i4) = table
    # fabricate a NEWER instant that never completed: only
    # .requested/.inflight exist → snapshot must ignore it
    hoodie = os.path.join(path, ".hoodie")
    open(os.path.join(hoodie, "99999999999999999.commit.requested"),
         "w").close()
    open(os.path.join(hoodie, "99999999999999999.commit.inflight"),
         "w").close()
    assert completed_commits(path)[-1][0] == i4
    assert read_hudi(spark, path).count() == 18


def test_unknown_actions_raise_and_service_markers_ignored(table):
    path, _ = table
    hoodie = os.path.join(path, ".hoodie")
    # table-service markers are invisible to planning
    n = len(completed_commits(path))
    with open(os.path.join(hoodie, "99999999999999997.clean"), "w") as f:
        json.dump({}, f)
    assert len(completed_commits(path)) == n
    os.remove(os.path.join(hoodie, "99999999999999997.clean"))
    # genuinely unknown actions raise
    with open(os.path.join(hoodie, "99999999999999998.wat"), "w") as f:
        json.dump({}, f)
    with pytest.raises(ValueError, match="unknown Hudi timeline"):
        completed_commits(path)
    os.remove(os.path.join(hoodie, "99999999999999998.wat"))


def test_clustering_merges_groups_and_preserves_commit_times(
    spark, tmp_path
):
    from kafka_delta_ingest_spark.hudi import (
        plan_file_groups,
        read_hudi_incremental,
    )

    w = HudiFixtureWriter(
        str(tmp_path / "cl"), record_key="id", partition_field="lang"
    )
    rows = [
        {"id": i, "lang": ["en", "fr"][i % 2], "text": f"doc {i}"}
        for i in range(12)
    ]
    i1 = w.insert(rows, ts_ms=1000, groups_per_partition=3)
    w.upsert([{"id": 2, "lang": "en", "text": "V2"}], ts_ms=2000)
    t = str(tmp_path / "cl")
    groups_before, _ = plan_file_groups(t)
    assert len(groups_before) == 6  # 3 groups x 2 partitions
    ic = w.cluster(ts_ms=3000)
    groups_after, _ = plan_file_groups(t)
    assert len(groups_after) == 2  # one coalesced group per partition
    # data unchanged through clustering
    got = {(r.id, r.text) for r in read_hudi(spark, t).collect()}
    exp = {(i, "V2" if i == 2 else f"doc {i}") for i in range(12)}
    assert got == exp
    # clustering is a LAYOUT operation: rows keep their original
    # commit times, so an incremental pull after the upsert still
    # returns exactly the one updated row
    got = {(r.id, r.text) for r in
           read_hudi_incremental(spark, t, i1).collect()}
    assert got == {(2, "V2")}
    # time travel to before the clustering sees the old layout
    g_pre, _ = plan_file_groups(t, as_of_instant=i1)
    assert len(g_pre) == 6


def test_properties_and_errors(tmp_path, table):
    path, _ = table
    props = table_properties(path)
    assert props["hoodie.table.type"] == "COPY_ON_WRITE"
    with pytest.raises(ValueError, match="not a Hudi table"):
        completed_commits(str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="no completed commits"):
        plan_snapshot(path, as_of_instant="19000101000000000")


def test_upsert_missing_key_raises(tmp_path):
    w = HudiFixtureWriter(str(tmp_path / "u"), record_key="id")
    w.insert([{"id": 1, "v": "a"}], ts_ms=1000)
    with pytest.raises(ValueError, match="not present"):
        w.upsert([{"id": 99, "v": "x"}], ts_ms=2000)


def test_delete_emptying_a_file_group_writes_zero_record_slice(
    spark, tmp_path
):
    """Hudi CoW represents an all-victims group as a new base file
    with ZERO records (typed columns, no rows) — the delete must be
    total over any victim set, not raise (review fix: an unlucky
    victim distribution previously failed the certification query)."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "z")
    w = HudiFixtureWriter(root, record_key="id")
    w.insert([{"id": 1, "v": "a"}, {"id": 2, "v": None}], ts_ms=1000)
    w.delete([1, 2], ts_ms=2000)
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
    latest = max(files, key=lambda p: os.path.basename(p))
    t = pq.read_table(latest)
    assert t.num_rows == 0
    assert "v" in t.schema.names  # typed data column survives
    got = read_hudi(spark, root)
    assert got.count() == 0


# ---------------------------------------------------------------------------
# clean (table service, r9)


def test_clean_reclaims_superseded_slices(spark, tmp_path):
    """KEEP_LATEST_COMMITS: a CoW upsert rewrites its file group —
    after clean, the superseded base file is gone, the snapshot is
    byte-identical, and the .clean marker records the deletion."""
    from kafka_delta_ingest_spark.hudi import HudiCowWriter

    t = str(tmp_path / "cl")
    w = HudiFixtureWriter(t, record_key="id")
    rows = [{"id": i, "text": f"doc {i}"} for i in range(8)]
    w.insert(rows, ts_ms=1000, groups_per_partition=1)
    w.upsert([{"id": 2, "text": "U1"}], ts_ms=2000)
    w.upsert([{"id": 3, "text": "U2"}], ts_ms=3000)
    before = read_hudi(spark, t).collect()
    n_files_before = sum(
        1 for f in os.listdir(t) if f.endswith(".parquet")
    )
    cw = HudiCowWriter(t)
    deleted = cw.clean(retain_last=1)
    assert deleted  # the two superseded slices of the rewritten group
    n_files_after = sum(
        1 for f in os.listdir(t) if f.endswith(".parquet")
    )
    assert n_files_after == n_files_before - len(deleted)
    after = read_hudi(spark, t).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # marker on the timeline, ignored by planning
    markers = [f for f in os.listdir(os.path.join(t, ".hoodie"))
               if f.endswith(".clean")]
    assert len(markers) == 1
    meta = json.load(
        open(os.path.join(t, ".hoodie", markers[0]))
    )
    assert sorted(meta["deleted"]) == sorted(deleted)


def test_clean_reclaims_replaced_groups(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.hudi import HudiCowWriter

    t = str(tmp_path / "clr")
    w = HudiCowWriter(t)
    df = spark.range(4).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("val")
    )
    w.insert_batch(df.coalesce(1))
    w.insert_batch(df.coalesce(1))
    assert w.cluster(spark, target_file_bytes=1 << 20) is not None
    w.insert_batch(df.coalesce(1))  # push the boundary past the replace
    w.insert_batch(df.coalesce(1))
    deleted = w.clean(retain_last=2)
    assert len(deleted) == 2  # both pre-cluster group files
    assert read_hudi(spark, t).count() == 16


def test_clean_noop_inside_retention(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.hudi import HudiCowWriter

    t = str(tmp_path / "cln")
    w = HudiCowWriter(t)
    df = spark.range(3).select(F.col("id").alias("doc_id"))
    w.insert_batch(df.coalesce(1))
    w.insert_batch(df.coalesce(1))
    assert w.clean(retain_last=5) == []
    assert read_hudi(spark, t).count() == 6


def _grp_docs(spark, n=12, lo=0):
    """doc_id in [lo, lo + n), a three-valued string ``grp`` and
    ``val`` = 10 · doc_id."""
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )


def test_hudi_cluster_merges_heterogeneous_schemas(spark, tmp_path):
    """CoW clustering merges the footer schemas of the groups it
    rewrites (the sink accepts per-batch drift), so a column only the
    newer group carries survives the replacement group."""
    from kafka_delta_ingest_spark.hudi import HudiCowWriter, read_hudi

    t = str(tmp_path / "hcl")
    w = HudiCowWriter(t)
    w.insert_batch(_grp_docs(spark, n=4).coalesce(1))
    w.insert_batch(
        _grp_docs(spark, n=4, lo=10)
        .withColumn("score", F.col("doc_id") * 3)
        .coalesce(1)
    )
    assert read_hudi(spark, t).filter("score IS NOT NULL").count() == 4
    instant = w.cluster(spark, target_file_bytes=1 << 20)
    assert instant is not None
    after = read_hudi(spark, t)
    assert after.count() == 8
    got = {
        r.doc_id: r.score
        for r in after.filter("score IS NOT NULL").collect()
    }
    assert got == {d: d * 3 for d in range(10, 14)}


def test_incremental_snapshot_with_end_instant_filters(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.hudi import (
        HudiCowWriter,
        read_hudi,
        read_hudi_incremental,
    )

    t = str(tmp_path / "t")
    w = HudiCowWriter(t, record_key="k")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    w.insert_batch(df)
    i1 = w.latest_instant()
    w.upsert_batch(
        spark.createDataFrame([(2, "b")], "k long, v string")
    )
    i2 = w.latest_instant()
    w.upsert_batch(
        spark.createDataFrame([(3, "c")], "k long, v string")
    )
    snap = read_hudi(spark, t, keep_meta=True)
    # snapshot supplied AND end_instant supplied: rows committed after
    # end_instant (k=3) must NOT leak through (previously silently did)
    got = {
        r.k
        for r in read_hudi_incremental(
            spark, t, i1, end_instant=i2, snapshot=snap
        ).collect()
    }
    assert got == {2}
