"""Multi-writer optimistic concurrency on the standard Delta log.

The reference's flagship e2e runs 2 concurrent workers over 4 Kafka
partitions and asserts the exact id set 0..199 lands with no dupes or
loss (reference tests/emails_s3_tests.rs:21-77, coordinator-free by
design, doc/DESIGN.md:12,42). This is the same proof against our
commit protocol: many writers race the put-if-absent version claim;
every batch must land exactly once at a distinct version, and the
per-partition txn ledger must converge to the max offset per appId.
"""

import time
from concurrent.futures import ThreadPoolExecutor

import pytest

import kafka_delta_ingest_spark.sinks.base as sink_base
from kafka_delta_ingest_spark.delta_standard import (
    ConcurrentDeltaWriteError,
    DeltaStandardWriter,
    read_delta,
)


def _ids(spark, path):
    return sorted(r.id for r in read_delta(spark, path).select("id").collect())


def test_concurrent_writers_no_loss_no_dupes(spark, tmp_path):
    path = str(tmp_path / "t")
    n_writers, batches_per_writer, rows_per_batch = 4, 5, 10
    # The table exists before the race: concurrent CREATEs conflict on
    # metadata, as in Delta; racing appends never do.
    DeltaStandardWriter(path).write(
        spark.createDataFrame([(-1, "seed")], "id long, writer string")
    )

    def work(w: int) -> list[int]:
        t = DeltaStandardWriter(path)  # own handle, like a separate process
        versions = []
        for b in range(w * batches_per_writer, (w + 1) * batches_per_writer):
            lo = b * rows_per_batch
            df = spark.createDataFrame(
                [(i, f"w{w}") for i in range(lo, lo + rows_per_batch)],
                "id long, writer string",
            )
            version, adds = t.write_adds(df, txn={f"app-{w}": b})
            assert adds
            versions.append(version)
        return versions

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        all_versions = [
            v for vs in ex.map(work, range(n_writers)) for v in vs
        ]

    # Every commit claimed a distinct version — no lost updates.
    assert len(all_versions) == len(set(all_versions)) == n_writers * batches_per_writer

    expect = n_writers * batches_per_writer * rows_per_batch
    assert _ids(spark, path) == [-1] + list(range(expect))  # no dupes, no loss

    # txn ledger converged to each writer's last batch number.
    txn = DeltaStandardWriter(path)._py_replay()["txn"]
    for w in range(n_writers):
        assert txn[f"app-{w}"] == (w + 1) * batches_per_writer - 1


def test_replay_after_race_is_skipped(spark, tmp_path):
    """A writer that loses its ack and replays the same (appId, version)
    txn must be skipped — the reference's AlreadyProcessedPartitionOffset
    path (src/value_buffers.rs:14-35) at the commit layer."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    v1, adds1 = t.write_adds(df, txn={"app-0": 7})
    assert adds1
    v2, adds2 = t.write_adds(df, txn={"app-0": 7})  # replay
    assert not adds2 and v2 == v1
    assert read_delta(spark, t.root).count() == 1


def _race_before_commit(monkeypatch, race):
    """Run ``race()`` once, after a mutating op read its snapshot but
    BEFORE it commits — inside the footer-stats read of its staged
    data files."""
    real = sink_base._parquet_stats

    def wrapper(path):
        monkeypatch.setattr(sink_base, "_parquet_stats", real)
        race()
        return real(path)

    monkeypatch.setattr(sink_base, "_parquet_stats", wrapper)


def test_racing_deletes_raise_concurrent_delete_delete(spark, tmp_path, monkeypatch):
    """Two DELETEs computed from the same snapshot race on one file;
    the loser must fail with ConcurrentDeltaWriteError instead of
    silently resurrecting the winner's deleted rows (Delta
    ConcurrentDeleteDeleteException; reference conflict loop
    src/lib.rs:966-1024)."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    # One physical file so both predicates hit the same file.
    t.write(
        spark.createDataFrame(
            [(i, "x" if i < 50 else "y") for i in range(100)], "id long, v string"
        ).repartition(1)
    )
    _inject_before_commit(
        monkeypatch,
        lambda: DeltaStandardWriter(t.root).delete_where(spark, "id < 10"),
    )
    with pytest.raises(ConcurrentDeltaWriteError):
        t.delete_where(spark, "id >= 90")
    # The table still reflects exactly writer A's delete.
    assert _ids(spark, t.root) == list(range(10, 100))


def test_merge_racing_optimize_conflicts(spark, tmp_path, monkeypatch):
    """MERGE computed from a snapshot that OPTIMIZE has since compacted
    must conflict (its rewrite would re-add the compacted small files'
    rows alongside the compacted copy — duplication)."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    for lo in (0, 50):
        t.write(
            spark.createDataFrame(
                [(i, "x") for i in range(lo, lo + 50)], "id long, v string"
            )
        )
    compacted = []
    _race_before_commit(
        monkeypatch,
        lambda: compacted.append(DeltaStandardWriter(t.root).optimize(spark)),
    )
    src = spark.createDataFrame([(5, "updated")], "id long, v string")
    with pytest.raises(ConcurrentDeltaWriteError):
        t.merge(
            spark, src, "source.id = target.id",
            when_matched_update={"v": "source.v"},
        )
    assert compacted == [2]
    assert read_delta(spark, t.root).count() == 100
    assert read_delta(spark, t.root).filter("v = 'updated'").count() == 0


def test_append_does_not_conflict_with_delete(spark, tmp_path, monkeypatch):
    """A blind append landing between a DELETE's snapshot read and its
    commit must NOT conflict (WriteSerializable): the appended rows
    survive and the delete applies to the snapshot it read."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    t.write(spark.createDataFrame([(i, "x") for i in range(50)], "id long, v string"))
    _inject_before_commit(
        monkeypatch,
        lambda: DeltaStandardWriter(t.root).write(
            spark.createDataFrame([(i, "new") for i in range(100, 110)], "id long, v string")
        ),
    )
    t.delete_where(spark, "id < 10")
    assert _ids(spark, t.root) == list(range(10, 50)) + list(range(100, 110))


def test_delete_retry_recomputes_after_conflict(spark, tmp_path, monkeypatch):
    """Two DV deletes race from the same snapshot: the loser's retry
    re-reads the fresh snapshot, recomputes against the winner's state,
    and lands — the reference's bounded conflict loop
    (src/lib.rs:966-1024) on the delete path."""
    from pyspark.sql import Row

    t = DeltaStandardWriter(str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [Row(id=i, val=f"v{i}") for i in range(20)]
        ).repartition(1)
    )
    _inject_before_commit(
        monkeypatch,
        lambda: DeltaStandardWriter(t.root).delete_where(spark, "id < 3"),
    )
    with pytest.raises(ConcurrentDeltaWriteError):
        t.delete_where(spark, "id >= 15")
    t.delete_where(spark, "id >= 15")  # retry: fresh snapshot
    back = read_delta(spark, t.root)
    assert back.count() == 12
    assert back.filter("id < 3 OR id >= 15").count() == 0


def test_update_racing_delete_conflicts_then_retry_lands(spark, tmp_path, monkeypatch):
    """UPDATE computed from a snapshot a DELETE has since changed must
    conflict (its rewrite would resurrect the deleted rows); the retry
    recomputes from the fresh snapshot and lands against the winner's
    state."""
    t = DeltaStandardWriter(str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(100)], "id long, val long"
        ).repartition(1)
    )
    _race_before_commit(
        monkeypatch,
        lambda: DeltaStandardWriter(t.root).delete_where(spark, "id < 10"),
    )
    with pytest.raises(ConcurrentDeltaWriteError):
        t.update_where(spark, "id >= 90", {"val": "val + 1"})

    t.update_where(spark, "id >= 90", {"val": "val + 1"})  # retry
    got = {r.id: r.val for r in read_delta(spark, t.root).collect()}
    assert len(got) == 90  # the racing delete's rows stayed dead
    assert all(got[i] == i * 10 + 1 for i in range(90, 100))
    assert all(got[i] == i * 10 for i in range(10, 90))


# ---------------------------------------------------------------------------
# standard-layout writer (DeltaStandardWriter): schema guard, add-only
# evolution, snapshot-conflict detection (r8 verdict items 1 and 2)


def _std_docs(spark, n=12, lo=0):
    from pyspark.sql import functions as F

    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )


def test_standard_writer_schema_drift_raises(spark, tmp_path):
    import pytest

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "sg")
    w = DeltaStandardWriter(t)
    w.write(_std_docs(spark))
    # extra column: refused (evolution is explicit)
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="evolve_schema"):
        w.write(_std_docs(spark).withColumn("extra", F.lit(1)))
    # retyped column: refused
    with pytest.raises(ValueError, match="type"):
        w.write(
            _std_docs(spark).withColumn(
                "val", F.col("val").cast("string")
            )
        )
    # SUBSET append is legal: the omitted nullable column reads null
    w.write(_std_docs(spark, n=2, lo=100).drop("val"))
    got = {r.doc_id: r.val for r in read_delta(spark, t).collect()}
    assert got[100] is None and got[0] == 0 and len(got) == 14


def test_standard_writer_evolve_schema_add_only(spark, tmp_path):
    import pytest

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        delta_history,
        read_delta,
    )

    t = str(tmp_path / "ev")
    w = DeltaStandardWriter(t)
    w.write(_std_docs(spark, n=4))
    evolved = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("grp", StringType()),
            StructField("val", LongType()),
            StructField("score", LongType()),
        ]
    )
    v = w.evolve_schema(evolved)
    assert delta_history(t)[v]["operation"] == "ADD COLUMNS"
    # post-evolution write carries the new column
    w.write(
        _std_docs(spark, n=2, lo=50).withColumn(
            "score", F.col("doc_id") * 2
        )
    )
    df = read_delta(spark, t)
    assert "score" in df.columns
    got = {r.doc_id: r.score for r in df.collect()}
    # pre-evolution rows read back with NULL in the new column
    assert got[0] is None and got[50] == 100 and len(got) == 6
    # omission / retype refused
    with pytest.raises(ValueError, match="add-only"):
        w.evolve_schema(
            StructType([StructField("doc_id", LongType())])
        )
    bad = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("grp", StringType()),
            StructField("val", LongType()),
            StructField("score", LongType()),
        ]
    )
    with pytest.raises(ValueError, match="type change"):
        w.evolve_schema(bad)
    # idempotent: same schema → no new commit
    assert w.evolve_schema(evolved) == w.latest_version()


def _inject_before_commit(monkeypatch, race):
    """Run ``race()`` after a mutating op derived its action set but
    BEFORE it commits — by wrapping the DV-file writer it calls."""
    import kafka_delta_ingest_spark.roaring as roaring

    real = roaring.write_dv_file
    fired = {"done": False}

    def wrapper(*a, **k):
        if not fired["done"]:
            fired["done"] = True
            race()
        return real(*a, **k)

    monkeypatch.setattr(roaring, "write_dv_file", wrapper)


def test_standard_raced_delete_conflicts(spark, tmp_path, monkeypatch):
    # another writer DV-deletes from the same file between our
    # snapshot and our commit → ConcurrentDeltaWriteError, never a
    # lost update
    import pytest

    from kafka_delta_ingest_spark.delta_standard import (
        ConcurrentDeltaWriteError,
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "race1")
    w1 = DeltaStandardWriter(t)
    w1.write(_std_docs(spark).coalesce(1))

    def race():
        import kafka_delta_ingest_spark.roaring as roaring

        monkeypatch.undo()  # the racer must use the REAL dv writer
        DeltaStandardWriter(t).delete_where(spark, "doc_id = 1")

    _inject_before_commit(monkeypatch, race)
    with pytest.raises(ConcurrentDeltaWriteError):
        w1.delete_where(spark, "doc_id = 2")
    # the racer's delete survives; ours never landed
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [0] + list(range(2, 12))


def test_standard_raced_delete_rebases_over_blind_append(
    spark, tmp_path, monkeypatch
):
    # an append of NEW files between snapshot and commit is not a
    # conflict — the delete rebases to the next version
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "race2")
    w1 = DeltaStandardWriter(t)
    w1.write(_std_docs(spark).coalesce(1))

    def race():
        monkeypatch.undo()
        DeltaStandardWriter(t).write(_std_docs(spark, n=2, lo=200))

    _inject_before_commit(monkeypatch, race)
    w1.delete_where(spark, "doc_id = 2")
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [0, 1] + list(range(3, 12)) + [200, 201]


def test_standard_raced_overwrite_conflicts(spark, tmp_path, monkeypatch):
    # overwrite's read set is the whole table: ANY concurrent data
    # commit invalidates it
    import pytest

    import kafka_delta_ingest_spark.sinks.base as dl
    from kafka_delta_ingest_spark.delta_standard import (
        ConcurrentDeltaWriteError,
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "race3")
    w1 = DeltaStandardWriter(t)
    w1.write(_std_docs(spark))

    real_stats = dl._parquet_stats
    fired = {"done": False}

    def stats_wrapper(path):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.undo()
            DeltaStandardWriter(t).write(_std_docs(spark, n=1, lo=500))
        return real_stats(path)

    monkeypatch.setattr(dl, "_parquet_stats", stats_wrapper)
    with pytest.raises(ConcurrentDeltaWriteError):
        w1.write(_std_docs(spark, n=3), mode="overwrite")
    # the concurrent append survives, the overwrite never landed
    assert read_delta(spark, t).count() == 13


def test_standard_raced_same_txn_skips(spark, tmp_path, monkeypatch):
    # two workers race the SAME batch (same txn appId/version): the
    # loser must skip, not double-append — exactly-once under races
    import kafka_delta_ingest_spark.sinks.base as dl
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "race4")
    w1 = DeltaStandardWriter(t)
    w1.write(_std_docs(spark, n=4))

    real_stats = dl._parquet_stats
    fired = {"done": False}

    def stats_wrapper(path):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.undo()
            DeltaStandardWriter(t).write(
                _std_docs(spark, n=3, lo=100), txn={"app-0": 7}
            )
        return real_stats(path)

    monkeypatch.setattr(dl, "_parquet_stats", stats_wrapper)
    v = w1.write(_std_docs(spark, n=3, lo=100), txn={"app-0": 7})
    assert v == w1.latest_version()  # skipped to the winner's commit
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [0, 1, 2, 3, 100, 101, 102]  # no duplicates


def test_standard_raced_same_txn_merge_skips(spark, tmp_path, monkeypatch):
    # the MERGE twin of the race above: a CDC merge that loses the race
    # to a worker applying the SAME txn skips instead of committing
    import kafka_delta_ingest_spark.sinks.base as dl
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "race_merge")
    w1 = DeltaStandardWriter(t)
    w1.write(_std_docs(spark, n=4))
    src = _std_docs(spark, n=3, lo=2)  # doc_id 2, 3 match; 4 inserts
    upd = {"val": "source.val + 1"}

    real_stats = dl._parquet_stats
    fired = {"done": False}

    def stats_wrapper(path):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.undo()
            DeltaStandardWriter(t).merge(
                spark, src, "source.doc_id = target.doc_id",
                when_matched_update=upd, txn={"cdc-0": 5},
            )
        return real_stats(path)

    monkeypatch.setattr(dl, "_parquet_stats", stats_wrapper)
    v = w1.merge(
        spark, src, "source.doc_id = target.doc_id",
        when_matched_update=upd, txn={"cdc-0": 5},
    )
    assert fired["done"]
    assert v == w1.latest_version() == 1  # skipped to the winner's commit
    got = sorted((r.doc_id, r.val) for r in read_delta(spark, t).collect())
    assert got == [(0, 0), (1, 10), (2, 21), (3, 31), (4, 40)]


def test_standard_first_commit_same_txn_race_skips(spark, tmp_path):
    # r8 review: the exactly-once re-check must also cover the FIRST
    # commit of a brand-new table (read_version=-1 previously disabled
    # it): two workers bootstrapping the same batch → one commit.
    import kafka_delta_ingest_spark.sinks.base as dl
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "boot")
    w1 = DeltaStandardWriter(t)

    real_stats = dl._parquet_stats
    fired = {"done": False}

    def stats_wrapper(path, monkey=None):
        if not fired["done"]:
            fired["done"] = True
            DeltaStandardWriter(t).write(
                _std_docs(spark, n=4), txn={"app-0": 3}
            )
        return real_stats(path)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(dl, "_parquet_stats", stats_wrapper)
        v = w1.write(_std_docs(spark, n=4), txn={"app-0": 3})
    finally:
        mp.undo()
    assert v == w1.latest_version() == 0  # single commit
    assert read_delta(spark, t).count() == 4  # no duplicates


@pytest.mark.parametrize(
    "case", ["same_txn_skip", "overwrite_conflict", "optimize_conflict"]
)
def test_aborted_commit_leaves_no_untracked_parquet(
    spark, tmp_path, monkeypatch, case
):
    """A write whose commit is known not to land (a racer committed
    the same txn, or a racer's commit conflicts with it) removes the
    parquet it promoted into the table root, instead of leaving it to
    VACUUM's one-day floor."""
    from tests.conftest import untracked_parquet

    t = DeltaStandardWriter(str(tmp_path / "t"))
    t.write(_std_docs(spark, n=4))
    t.write(_std_docs(spark, n=4, lo=10))
    racer = DeltaStandardWriter(t.root)
    if case == "same_txn_skip":
        _race_before_commit(
            monkeypatch,
            lambda: racer.write(_std_docs(spark, n=3, lo=100), txn={"app-0": 7}),
        )
        t.write(_std_docs(spark, n=3, lo=100).repartition(3), txn={"app-0": 7})
        assert read_delta(spark, t.root).count() == 11
    elif case == "overwrite_conflict":
        _race_before_commit(
            monkeypatch, lambda: racer.write(_std_docs(spark, n=1, lo=500))
        )
        with pytest.raises(ConcurrentDeltaWriteError):
            t.write(_std_docs(spark, n=3).repartition(3), mode="overwrite")
        assert read_delta(spark, t.root).count() == 9
    else:
        _race_before_commit(
            monkeypatch, lambda: racer.delete_where(spark, "doc_id = 0")
        )
        with pytest.raises(ConcurrentDeltaWriteError):
            t.optimize(spark)
        assert read_delta(spark, t.root).count() == 7
    assert untracked_parquet(t.root) == []


def test_standard_checkpoint_pinned_to_version(spark, tmp_path):
    # r8 review: a checkpoint named for version N must hold N's state,
    # never a later concurrent commit's.
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "ckpin")
    w = DeltaStandardWriter(t)
    w.write(_std_docs(spark, n=3))            # v0
    w.write(_std_docs(spark, n=2, lo=100))    # v1
    w.write(_std_docs(spark, n=2, lo=200))    # v2
    # checkpoint written for v1 while v2 already exists (the
    # concurrent-writer interleaving)
    w._write_checkpoint(1)
    got = sorted(
        r.doc_id for r in read_delta(spark, t, version=1).collect()
    )
    assert got == [0, 1, 2, 100, 101]  # v2's rows must NOT leak in
    assert read_delta(spark, t).count() == 7


def test_conform_frame_refuses_omitting_required_column(spark, tmp_path):
    # r8 review: omitting a NON-NULLABLE table column is a
    # table-corrupting write and must be refused (nullable columns may
    # be omitted — they read back as null).
    import json as _json

    import pytest as _pytest

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaFixtureWriter,
        DeltaStandardWriter,
    )

    t = str(tmp_path / "req")
    schema = StructType(
        [
            StructField("doc_id", LongType(), nullable=False),
            StructField("grp", StringType(), nullable=True),
        ]
    )
    fw = DeltaFixtureWriter(t, schema)
    fw.add_files(
        [({}, [{"doc_id": 1, "grp": "a"}])], timestamp_ms=1000
    )
    meta = _json.loads(
        open(t + "/_delta_log/" + "0".zfill(20) + ".json").readline()
    )
    w = DeltaStandardWriter(t)
    with _pytest.raises(ValueError, match="non-nullable"):
        w.write(
            spark.createDataFrame([("x",)], "grp string")
        )
    # omitting the NULLABLE column stays legal
    w.write(spark.createDataFrame([(7,)], "doc_id long"))


def test_overlap_returns_results_in_argument_order():
    from kafka_delta_ingest_spark.io import overlap

    def slow():
        time.sleep(0.05)
        return "slow"

    assert overlap(slow, lambda: "fast") == ["slow", "fast"]
    assert overlap(lambda: 1) == [1]


def test_overlap_waits_for_all_then_raises_first_error():
    from kafka_delta_ingest_spark.io import overlap

    state = {"b_done": False}

    def a():
        raise ValueError("leg a failed")

    def b():
        time.sleep(0.1)
        state["b_done"] = True
        return "b"

    with pytest.raises(ValueError, match="leg a failed"):
        overlap(a, b)
    # the healthy leg ran to completion (no abandoned half-written leg)
    assert state["b_done"]
