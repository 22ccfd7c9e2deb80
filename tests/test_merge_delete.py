"""MERGE (upsert) and DELETE on the standard Delta log.

The reference is append-only by design; these are the Delta-native
row-mutation operators a training-data pipeline needs (late-arriving
corrections, GDPR deletes). The tests pin the scale property — files
holding no matched key / row are NOT touched — alongside the
row-level semantics.
"""

from kafka_delta_ingest_spark.delta_standard import DeltaStandardWriter, read_delta


def _seed(t, spark, batches=3, n=10):
    for b in range(batches):
        lo = b * n
        df = spark.createDataFrame(
            [(i, f"old{i}") for i in range(lo, lo + n)], "id long, s string"
        ).coalesce(1)
        t.write(df)


def _live(t):
    return t._py_replay()["adds"]


def _upsert(spark, t, src):
    return t.merge(
        spark, src, "source.id = target.id",
        when_matched_update={"s": "source.s"},
    )


def test_merge_upserts_and_prunes_untouched_files(spark, tmp_path):
    t = DeltaStandardWriter(str(tmp_path / "t"))
    _seed(t, spark)  # files: ids 0-9, 10-19, 20-29
    files_before = set(_live(t))

    # Updates confined to ids 0-4: files 10-19 and 20-29 hold no
    # matched row, so they must survive untouched.
    src = spark.createDataFrame(
        [(i, f"new{i}") for i in range(5)], "id long, s string"
    )
    assert _upsert(spark, t, src) == 3

    got = {r.id: r.s for r in read_delta(spark, t.root).collect()}
    assert len(got) == 30
    assert all(got[i] == f"new{i}" for i in range(5))
    assert all(got[i] == f"old{i}" for i in range(5, 30))

    files_after = set(_live(t))
    # Two of the three original files survived the merge unrewritten.
    assert len(files_before & files_after) == 2

    # Insert-only merge (keys match no row): nothing is rewritten, the
    # source appends.
    ins = spark.createDataFrame(
        [(i, f"ins{i}") for i in range(100, 105)], "id long, s string"
    )
    pre = set(_live(t))
    _upsert(spark, t, ins)
    assert pre <= set(_live(t))  # old files all survive
    assert read_delta(spark, t.root).count() == 35


def test_merge_source_dedup_and_time_travel(spark, tmp_path):
    t = DeltaStandardWriter(str(tmp_path / "t"))
    _seed(t, spark, batches=1)
    v_before = t.latest_version()
    # The source is deduplicated to one row per key before the upsert
    # (a key matching twice is a cardinality violation).
    src = spark.createDataFrame(
        [(3, "a"), (3, "b"), (99, "x")], "id long, s string"
    ).dropDuplicates(["id"])
    _upsert(spark, t, src)
    assert read_delta(spark, t.root).count() == 11
    # Pre-merge snapshot still reconstructable (tombstones, no deletes).
    old = read_delta(spark, t.root, version=v_before)
    assert old.count() == 10
    assert {r.s for r in old.filter("id = 3").collect()} == {"old3"}


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """DELETE writes a deletion vector on each file holding a matching
    row — the file fully matched gets a DV over all its rows — and
    leaves every other file's add untouched."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    _seed(t, spark)
    before = _live(t)

    v = t.delete_where(spark, "id >= 20")
    assert v == 3
    assert sorted(r.id for r in read_delta(spark, t.root).collect()) == list(range(20))
    after = _live(t)
    touched = {p for p, a in after.items() if a != before.get(p)}
    assert len(touched) == 1
    (dv,) = [after[p]["deletionVector"] for p in touched]
    assert dv["cardinality"] == 10

    # A predicate no row matches is a commit-free no-op.
    assert t.delete_where(spark, "id >= 1000") == v
    assert t.latest_version() == v


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE removes rows where the predicate is TRUE — rows where
    it evaluates to NULL (here: s IS NULL under ``s = 'x'``) must
    survive, not be silently dropped by ``~NULL``."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, None), (4, "x"), (5, None)],
            "id long, s string",
        ).coalesce(1)
    )
    t.delete_where(spark, "s = 'x'")
    got = {(r.id, r.s) for r in read_delta(spark, t.root).collect()}
    # Only the TRUE rows (1, 4) are deleted; NULL-predicate rows stay.
    assert got == {(2, "y"), (3, None), (5, None)}


def test_delete_everything_reads_empty(spark, tmp_path):
    """Deleting every row must leave a readable EMPTY table — also once
    OPTIMIZE has materialized the deletion vectors away and no data
    file is left (the minimal case of the model fuzz: optimize →
    delete-all → optimize)."""
    from pyspark.sql import Row

    t = DeltaStandardWriter(str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=i, val=f"v{i}") for i in range(8)]))
    t.optimize(spark, target_file_bytes=1 << 20)
    t.delete_where(spark, "id < 100")
    empty = read_delta(spark, t.root)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "val"}  # schema survives
    t.optimize(spark, target_file_bytes=1 << 20)
    assert not _live(t)
    empty = read_delta(spark, t.root)
    assert empty.count() == 0 and set(empty.columns) == {"id", "val"}
    # DML on the file-less table: deletes are no-ops, MERGE inserts.
    assert t.delete_where(spark, "id < 100") == t.latest_version()
    t.merge(spark, spark.createDataFrame([Row(id=1, val="back")]), "source.id = target.id")
    assert [(r.id, r.val) for r in read_delta(spark, t.root).collect()] == [(1, "back")]
