"""Standard-layout Delta WRITER certification: every table it writes
is read back through the INDEPENDENT ``read_delta`` log-replay path
(and its layout inspected directly), so a protocol deviation in either
side breaks the roundtrip. Reference interop property:
README.adoc:3-5, src/delta_helpers.rs:15-40."""

import glob
import json
import os
import time

import pytest

from pyspark.sql import functions as F

from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardWriter,
    delta_history,
    read_delta,
)


def _docs(spark, n=20):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )


def test_append_roundtrip_and_log_layout(spark, tmp_path):
    t = str(tmp_path / "t")
    w = DeltaStandardWriter(t)
    v = w.write(_docs(spark), mode="append")
    assert v == 0
    # layout: one JSON commit with protocol + metaData + adds
    log = os.path.join(t, "_delta_log")
    acts = [json.loads(x) for x in open(os.path.join(log, "%020d.json" % 0))]
    kinds = [next(iter(a)) for a in acts]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    # every add carries parseable stats with footer min/max
    for a in acts:
        if "add" in a:
            st = json.loads(a["add"]["stats"])
            assert st["numRecords"] > 0
            assert "doc_id" in st["minValues"]
    got = sorted(
        (r.doc_id, r.grp, r.val) for r in read_delta(spark, t).collect()
    )
    assert got == [(i, str(i % 3), i * 10) for i in range(20)]


def test_second_append_accumulates(spark, tmp_path):
    t = str(tmp_path / "t")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 5))
    v1 = w.write(
        spark.range(5, 8).select(
            F.col("id").alias("doc_id"),
            F.lit("x").alias("grp"),
            F.lit(0).alias("val"),
        )
    )
    assert v1 == 1
    assert read_delta(spark, t).count() == 8
    assert read_delta(spark, t, version=0).count() == 5


def test_partitioned_write_hive_layout_and_types(spark, tmp_path):
    t = str(tmp_path / "p")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark), partition_by=["grp"])
    # hive directory layout on disk
    assert glob.glob(t + "/grp=0/*.parquet")
    # add actions carry the partition values map
    acts = [
        json.loads(x)
        for x in open(
            os.path.join(t, "_delta_log", "%020d.json" % 0)
        )
    ]
    pvs = {a["add"]["partitionValues"]["grp"] for a in acts if "add" in a}
    assert pvs == {"0", "1", "2"}
    df = read_delta(spark, t)
    assert dict(df.dtypes)["grp"] == "string"
    got = sorted((r.doc_id, r.grp) for r in df.collect())
    assert got == [(i, str(i % 3)) for i in range(20)]
    # subsequent appends inherit the declared partitioning
    w.write(
        spark.createDataFrame(
            [(99, "9", 0)], "doc_id long, grp string, val long"
        )
    )
    assert glob.glob(t + "/grp=9/*.parquet")
    # conflicting partitioning is refused
    with pytest.raises(ValueError, match="declared partitioning"):
        w.write(_docs(spark), partition_by=["val"])


def test_null_partition_value(spark, tmp_path):
    t = str(tmp_path / "n")
    w = DeltaStandardWriter(t)
    df = spark.createDataFrame(
        [(1, None, 5), (2, "a", 6)], "doc_id long, grp string, val long"
    )
    w.write(df, partition_by=["grp"])
    assert glob.glob(t + "/grp=__HIVE_DEFAULT_PARTITION__/*.parquet")
    acts = [
        json.loads(x)
        for x in open(os.path.join(t, "_delta_log", "%020d.json" % 0))
    ]
    vals = {a["add"]["partitionValues"]["grp"] for a in acts if "add" in a}
    assert vals == {None, "a"}
    got = sorted(
        (r.doc_id, r.grp) for r in read_delta(spark, t).collect()
    )
    assert got == [(1, None), (2, "a")]


def test_overwrite_removes_previous_files(spark, tmp_path):
    t = str(tmp_path / "o")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 10))
    w.write(_docs(spark, 3), mode="overwrite")
    assert read_delta(spark, t).count() == 3
    # time travel to the pre-overwrite version still sees 10 rows
    assert read_delta(spark, t, version=0).count() == 10
    hist = delta_history(t)
    assert [h["operation"] for h in hist] == ["WRITE", "OVERWRITE"]
    # the overwrite commit carries remove actions
    acts = [
        json.loads(x)
        for x in open(os.path.join(t, "_delta_log", "%020d.json" % 1))
    ]
    assert any("remove" in a for a in acts)


def test_checkpoint_cadence_and_replay_from_checkpoint(spark, tmp_path):
    t = str(tmp_path / "cp")
    w = DeltaStandardWriter(t, checkpoint_every=5)
    for i in range(6):  # versions 0..5 — checkpoint lands at 5
        w.write(
            spark.createDataFrame(
                [(i, "g", i)], "doc_id long, grp string, val long"
            )
        )
    log = os.path.join(t, "_delta_log")
    assert os.path.exists(os.path.join(log, "%020d.checkpoint.parquet" % 5))
    ptr = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert ptr["version"] == 5
    # drop the pre-checkpoint commits: replay must come from the
    # checkpoint alone
    for v in range(5):
        os.remove(os.path.join(log, "%020d.json" % v))
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == list(range(6))


def test_empty_append_never_commits(spark, tmp_path):
    t = str(tmp_path / "e")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 4))
    v = w.write(_docs(spark, 4).filter(F.lit(False)))
    assert v == 0  # no new version
    assert w.latest_version() == 0


def test_txn_idempotent_replay(spark, tmp_path):
    # the Delta protocol's application-transaction ledger: a batch
    # whose appIds are all at-or-beyond their stored versions is a
    # REPLAY and must not commit (the reference's exactly-once
    # mechanism, src/offsets.rs:36-102 — now on the standard layout)
    t = str(tmp_path / "tx")
    w = DeltaStandardWriter(t)
    v0 = w.write(_docs(spark, 4), txn={"app-0": 10, "app-1": 20})
    assert v0 == 0
    assert w.txn_version("app-0") == 10 and w.txn_version("app-1") == 20
    # exact replay → skipped, no new version, no duplicate rows
    v = w.write(_docs(spark, 4), txn={"app-0": 10, "app-1": 20})
    assert v == 0 and w.latest_version() == 0
    assert read_delta(spark, t).count() == 4
    # progress on one partition → commits
    v1 = w.write(_docs(spark, 2), txn={"app-0": 11, "app-1": 20})
    assert v1 == 1 and w.txn_version("app-0") == 11
    assert read_delta(spark, t).count() == 6


def test_txn_ledger_survives_checkpoint(spark, tmp_path):
    t = str(tmp_path / "txcp")
    w = DeltaStandardWriter(t, checkpoint_every=2)
    w.write(_docs(spark, 2), txn={"app-0": 1})
    w.write(_docs(spark, 2), txn={"app-0": 2})
    w.write(_docs(spark, 2), txn={"app-0": 3})  # v2 → checkpoint
    # drop pre-checkpoint commits: the ledger must come from the
    # checkpoint's txn rows
    for v in (0, 1):
        os.remove(os.path.join(t, "_delta_log", "%020d.json" % v))
    w2 = DeltaStandardWriter(t, checkpoint_every=100)
    assert w2.txn_version("app-0") == 3
    v = w2.write(_docs(spark, 2), txn={"app-0": 3})  # replay
    assert v == 2 and w2.latest_version() == 2


def test_writer_then_fixture_reader_checkpoint_interop(spark, tmp_path):
    # a checkpoint written by the WRITER replays through the Spark-side
    # read path including remove reconciliation after an overwrite
    t = str(tmp_path / "x")
    w = DeltaStandardWriter(t, checkpoint_every=2)
    w.write(_docs(spark, 6))
    w.write(_docs(spark, 2), mode="overwrite")  # v1
    w.write(_docs(spark, 1))                    # v2 → checkpoint
    assert os.path.exists(
        os.path.join(t, "_delta_log", "%020d.checkpoint.parquet" % 2)
    )
    assert read_delta(spark, t).count() == 3  # 2 overwritten + 1 appended


def test_delete_where_via_deletion_vectors(spark, tmp_path):
    t = str(tmp_path / "dvw")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 20), partition_by=["grp"])
    v = w.delete_where(spark, "val >= 100")
    assert v == 1
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == list(range(10))
    # no data file was rewritten: the DELETE commit adds carry
    # dataChange=false and a deletionVector descriptor
    acts = [
        json.loads(x)
        for x in open(os.path.join(t, "_delta_log", "%020d.json" % 1))
    ]
    dvs = [a["add"]["deletionVector"] for a in acts if "add" in a]
    assert dvs and all(d["storageType"] == "u" for d in dvs)
    assert all(not a["add"]["dataChange"] for a in acts if "add" in a)
    # cumulative: second delete unions with the first per file
    w.delete_where(spark, "doc_id % 2 = 1")
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [0, 2, 4, 6, 8]
    # time travel: pre-delete version still sees everything
    assert read_delta(spark, t, version=0).count() == 20
    # no-op predicate → no new commit
    before = w.latest_version()
    assert w.delete_where(spark, "val > 99999") == before


def test_dv_descriptors_survive_writer_checkpoint(spark, tmp_path):
    t = str(tmp_path / "dvcp")
    w = DeltaStandardWriter(t, checkpoint_every=2)
    w.write(_docs(spark, 10))          # v0
    w.delete_where(spark, "doc_id < 3")  # v1
    w.write(
        spark.createDataFrame(
            [(90, "x", 0)], "doc_id long, grp string, val long"
        )
    )  # v2 → checkpoint
    # drop pre-checkpoint commits: DVs must come from the checkpoint
    for v in (0, 1):
        os.remove(os.path.join(t, "_delta_log", "%020d.json" % v))
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == list(range(3, 10)) + [90]


def test_optimize_compacts_and_materializes_dvs(spark, tmp_path):
    t = str(tmp_path / "opt")
    w = DeltaStandardWriter(t)
    # three small appends → three small files per partition
    for k in range(3):
        w.write(
            spark.createDataFrame(
                [(k * 10 + i, str(i % 2), i) for i in range(4)],
                "doc_id long, grp string, val long",
            ),
            partition_by=["grp"],
        )
    w.delete_where(spark, "doc_id = 0")  # attach a DV
    before = sorted(r.doc_id for r in read_delta(spark, t).collect())
    v = w.optimize(spark, target_file_bytes=1 << 20)
    after = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert after == before  # identical rows pre/post compaction
    # post-optimize state: one file per partition, no deletion vectors
    # (tombstoned rows physically dropped), all actions dataChange=false
    state = w._py_replay()
    assert len(state["adds"]) == 2
    assert not any(a.get("deletionVector") for a in state["adds"].values())
    acts = [
        json.loads(x)
        for x in open(os.path.join(t, "_delta_log", "%020d.json" % v))
    ]
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    ) and all(
        not a["remove"]["dataChange"] for a in acts if "remove" in a
    )
    # second optimize is a no-op (single compacted file per partition)
    assert w.optimize(spark, target_file_bytes=1 << 20) == v


def test_restore_to_version(spark, tmp_path):
    t = str(tmp_path / "rst")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 10))                       # v0
    w.write(_docs(spark, 3), mode="overwrite")      # v1
    w.delete_where(spark, "doc_id = 1")             # v2 (DV)
    v = w.restore(0, spark)                         # v3
    assert v == 3
    assert read_delta(spark, t).count() == 10
    # history preserved: the rolled-back states stay travelable
    assert read_delta(spark, t, version=1).count() == 3
    assert read_delta(spark, t, version=2).count() == 2
    # restoring to a DV'd version brings the descriptor back
    w.restore(2, spark)
    assert sorted(
        r.doc_id for r in read_delta(spark, t).collect()
    ) == [0, 2]
    with pytest.raises(ValueError, match="does not exist"):
        w.restore(99, spark)


def test_vacuum_reclaims_tombstones(spark, tmp_path):
    t = str(tmp_path / "vac")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 10))                       # v0
    w.write(_docs(spark, 3), mode="overwrite")      # v1
    n_files_before = len(glob.glob(t + "/part-*.parquet"))
    deleted = w.vacuum(retention_ms=0)
    assert deleted
    assert len(glob.glob(t + "/part-*.parquet")) < n_files_before
    # live state unaffected
    assert read_delta(spark, t).count() == 3
    # time travel to the vacuumed version now fails at scan time
    # (the protocol contract); restore refuses up front
    with pytest.raises(ValueError, match="already vacuumed"):
        w.restore(0, spark)
    # retention respected: fresh tombstones survive a default vacuum
    w.write(_docs(spark, 2), mode="overwrite")      # v2
    assert w.vacuum() == []  # 7-day retention keeps v1's files
    assert read_delta(spark, t, version=2).count() == 2


def test_vacuum_keeps_superseded_dvs_within_retained_log(spark, tmp_path):
    # r7 self-review fix: a cumulative second DV supersedes the first,
    # but the FIRST descriptor is still needed to time-travel to the
    # version that wrote it — vacuum must keep any DV bin referenced
    # by a retained log action, reclaiming only unreferenced strays.
    t = str(tmp_path / "vdv")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 6))                         # v0
    w.delete_where(spark, "doc_id = 0")              # v1 → DV A
    w.delete_where(spark, "doc_id = 1")              # v2 → DV B ⊇ A
    # a stray bin from a crashed write IS reclaimable
    stray = os.path.join(
        t, "deletion_vector_00000000-0000-0000-0000-00000000dead.bin"
    )
    open(stray, "wb").write(b"x")
    # untracked files are reclaimable only past the one-day floor
    old = time.time() - 2 * 24 * 3600
    os.utime(stray, (old, old))
    deleted = w.vacuum(retention_ms=0)
    assert os.path.basename(stray) in deleted
    # both real descriptors survive; v1 stays travelable
    assert read_delta(spark, t, version=1).count() == 5
    assert read_delta(spark, t).count() == 4


def test_vacuum_keeps_dv_bin_of_a_delete_in_flight(spark, tmp_path):
    # A DELETE writes its DV bin before the commit that names it; a
    # VACUUM at retention 0 in between must leave the bin in place.
    t = str(tmp_path / "dvr")
    w = DeltaStandardWriter(t)
    w.write(_docs(spark, 6))
    commit = w._atomic_commit
    swept = []

    def vacuum_then_commit(*args, **kwargs):
        assert [f for f in os.listdir(t) if f.endswith(".bin")]
        swept.extend(DeltaStandardWriter(t).vacuum(retention_ms=0))
        return commit(*args, **kwargs)

    w._atomic_commit = vacuum_then_commit
    w.delete_where(spark, "doc_id = 0")
    assert swept == []
    assert read_delta(spark, t).count() == 5


def test_optimize_zorder_clusters_standard_log(spark, tmp_path):
    """r8: OPTIMIZE ... ZORDER BY on the standard log — every live
    file rewrites range-split on the Morton key; each output file's
    add-action stats carry a NARROW window on every clustered column
    (the property any protocol reader's data skipping consumes), and
    the live rows are identical before and after (dataChange=false)."""
    import json as _json

    t = str(tmp_path / "zo")
    w = DeltaStandardWriter(t)
    # interleaved appends: arrival order correlates with NEITHER column
    df = spark.range(6000).select(
        ((F.col("id") * 769) % 6000).alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        ((F.col("id") * 31) % 500).alias("val"),
    )
    w.write(df.repartition(6))
    before = sorted(r.doc_id for r in read_delta(spark, t).collect())

    def spans_of(version):
        log = os.path.join(t, "_delta_log", f"{version:020d}.json")
        out = []
        for line in open(log):
            act = _json.loads(line)
            if "add" in act:
                st = _json.loads(act["add"]["stats"])
                out.append(
                    (st["minValues"]["doc_id"],
                     st["maxValues"]["doc_id"])
                )
        return out

    pre = spans_of(0)
    v = w.optimize(
        spark, target_file_bytes=4_000, zorder_by=["doc_id", "val"]
    )
    hist = delta_history(t)
    assert hist[v]["operation"] == "OPTIMIZE"
    after = read_delta(spark, t)
    assert sorted(r.doc_id for r in after.collect()) == before
    post = spans_of(v)
    assert len(post) >= 6
    # the data-skipping property zorder exists for: the average
    # per-file doc_id stats window shrinks vs the arrival-ordered
    # input files (which each span ~the whole key space)
    avg_pre = sum(hi - lo for lo, hi in pre) / len(pre)
    avg_post = sum(hi - lo for lo, hi in post) / len(post)
    assert avg_post < 0.6 * avg_pre


def test_struct_and_array_appends_conform_across_nullability(
    spark, tmp_path
):
    """r8 review: appending the SAME frame twice must never read as a
    type change just because Spark's struct/array nullability flags
    are incidentally non-null (range(), F.array)."""
    t = str(tmp_path / "nest")
    w = DeltaStandardWriter(t)
    df = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.struct(F.col("id").alias("a"),
                 F.lit("x").alias("b")).alias("s"),
        F.array(F.col("id"), F.col("id") * 2).alias("xs"),
    )
    w.write(df)
    w.write(df)  # identical second append: must not raise
    back = read_delta(spark, t)
    assert back.count() == 6
    assert back.select("s.a").distinct().count() == 3


def test_evolve_schema_preserves_explicit_not_null(spark, tmp_path):
    """r8 review: evolution must not silently relax an externally
    declared NOT NULL — existing columns keep their stored field json
    verbatim; only NEW columns are normalized nullable."""
    import json as _json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaFixtureWriter,
    )

    t = str(tmp_path / "nn")
    schema = StructType(
        [
            StructField("doc_id", LongType(), nullable=False),
            StructField("grp", StringType(), nullable=True),
        ]
    )
    fw = DeltaFixtureWriter(t, schema)
    fw.add_files([({}, [{"doc_id": 1, "grp": "a"}])], timestamp_ms=1000)
    w = DeltaStandardWriter(t)
    evolved = StructType(
        list(schema.fields) + [StructField("score", LongType())]
    )
    v = w.evolve_schema(evolved)
    stored = _json.loads(
        w._py_replay(target=v)["meta"]["schemaString"]
    )["fields"]
    by_name = {f["name"]: f for f in stored}
    assert by_name["doc_id"]["nullable"] is False  # preserved
    assert by_name["score"]["nullable"] is True    # new col normalized
    # and the non-nullable omission guard still fires post-evolution
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-nullable"):
        w.write(spark.createDataFrame([("x", 1)], "grp string, score long"))


def test_write_decimal_column_stats(spark, tmp_path):
    """DECIMAL columns carry footer min/max as Decimal objects, which
    json.dumps rejects — every stats-carrying write of a decimal
    column crashed before _json_safe stringified them (r10; surfaced
    by an ANSI-mode `id * 1.5` literal in a conversion test). Stats
    serialize as plain numeric strings (the delta-spark convention)
    and pruning coerces them toward the probe's type."""
    import json as _json
    import os as _os

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "dec")
    w = DeltaStandardWriter(t)
    df = spark.range(10).selectExpr(
        "id AS doc_id", "id * 1.5 AS amt"  # ANSI: DECIMAL(21,1)
    )
    w.write(df)
    got = {r.doc_id: r.amt for r in read_delta(spark, t).collect()}
    assert len(got) == 10 and str(got[3]) == "4.5"
    from decimal import Decimal

    log = _os.path.join(t, "_delta_log", f"{0:020d}.json")
    mins, maxs = [], []
    with open(log) as f:
        for line in f:
            act = _json.loads(line)
            if "add" in act:
                s = _json.loads(act["add"]["stats"])
                mins.append(Decimal(s["minValues"]["amt"]))
                maxs.append(Decimal(s["maxValues"]["amt"]))
    assert mins and min(mins) == Decimal("0.0")
    assert max(maxs) == Decimal("13.5")


def test_count_rows_matches_scan_through_dml(spark, tmp_path):
    """The log-only COUNT(*) (add numRecords minus DV cardinalities,
    zero data files read) tracks a scan through every DML kind."""
    t = str(tmp_path / "t")
    w = DeltaStandardWriter(t)
    for b in range(3):
        w.write(_docs(spark, 10).withColumn("doc_id", F.col("doc_id") + b * 10).coalesce(1))
    assert w.count_rows() == 30 == read_delta(spark, t).count()
    w.delete_where(spark, "doc_id < 7")  # DV cardinality path
    assert w.count_rows() == 23 == read_delta(spark, t).count()
    w.update_where(spark, "doc_id = 15", {"val": "0"})  # rewrite path
    assert w.count_rows() == 23 == read_delta(spark, t).count()
    w.merge(
        spark,
        spark.createDataFrame([(100, "1", 0)], "doc_id long, grp string, val long"),
        "source.doc_id = target.doc_id",
    )
    assert w.count_rows() == 24 == read_delta(spark, t).count()
    w.optimize(spark)  # DVs materialized away
    assert w.count_rows() == 24 == read_delta(spark, t).count()


def test_escaped_partition_values_round_trip(spark, tmp_path):
    """Spark percent-escapes ':' etc. in partition dirs; the add path is
    a URI over that directory and partitionValues the UNESCAPED value,
    so reads, filters and DML through the partition all find the file."""
    from urllib.parse import unquote

    t = str(tmp_path / "t")
    w = DeltaStandardWriter(t)
    w.write(
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00"), (3, "a%b+c")],
            "id long, ts string",
        ),
        partition_by=["ts"],
    )
    adds = list(w._py_replay()["adds"].values())
    assert any("%3A" in unquote(a["path"]) for a in adds)  # escaped dir
    assert all(os.path.exists(os.path.join(t, unquote(a["path"]))) for a in adds)
    assert {a["partitionValues"]["ts"] for a in adds} == {
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", "a%b+c",
    }
    got = read_delta(spark, t).filter("ts = '2024-01-01 00:00:00'").collect()
    assert [(r.id, r.ts) for r in got] == [(1, "2024-01-01 00:00:00")]
    # DML through the same window: DV delete, rewrite update, merge.
    w.delete_where(spark, "ts = '2024-01-02 00:00:00'")
    w.update_where(spark, "ts = 'a%b+c'", {"id": "id * 10"})
    w.merge(
        spark,
        spark.createDataFrame([(1, "2024-01-01 00:00:00")], "id long, ts string"),
        "source.id = target.id AND source.ts = target.ts",
        when_matched_delete=True,
    )
    assert [(r.id, r.ts) for r in read_delta(spark, t).collect()] == [(30, "a%b+c")]


def test_zorder_rejects_unordered_types(spark):
    from kafka_delta_ingest_spark.sinks.base import zorder_value

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError, match="unordered type"):
        zorder_value(df, ["id", "s"])


def test_zorder_null_and_constant_columns(spark):
    """Null values rank 0 (sorted first); a constant column contributes
    zero bits but must not error or perturb the other dimension."""
    from kafka_delta_ingest_spark.sinks.base import zorder_value

    df = spark.createDataFrame([(None, 7), (5, 7), (9, 7)], "a int, b int")
    out = df.withColumn("z", zorder_value(df, ["a", "b"])).orderBy("z").collect()
    assert [r.a for r in out] == [None, 5, 9]


def _grp_docs(spark, n=12, lo=0):
    """doc_id in [lo, lo + n), a three-valued string ``grp`` and
    ``val`` = 10 · doc_id."""
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )


def test_optimize_preserves_evolved_column(spark, tmp_path):
    """OPTIMIZE reads its inputs under the table's schemaString: a
    bare read after ``evolve_schema`` sampled one old footer and
    dropped the evolved column from the rewritten files."""
    from pyspark.sql.types import LongType, StructField

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "evopt")
    w = DeltaStandardWriter(t)
    # many old-schema files first: footer sampling is overwhelmingly
    # likely to pick one of them
    for i in range(4):
        w.write(_grp_docs(spark, n=3, lo=i * 3).coalesce(1))
    from pyspark.sql.types import StructType

    stored = StructType.fromJson(
        json.loads(w._py_replay()["meta"]["schemaString"])
    )
    evolved = StructType(
        list(stored.fields) + [StructField("score", LongType())]
    )
    w.evolve_schema(evolved)
    w.write(
        _grp_docs(spark, n=5, lo=100)
        .withColumn("score", F.col("doc_id") * 7)
        .coalesce(1)
    )
    before = read_delta(spark, t)
    assert before.filter("score IS NOT NULL").count() == 5
    w.optimize(spark, target_file_bytes=1 << 20)
    after = read_delta(spark, t)
    assert "score" in after.columns
    assert after.count() == 17
    got = {
        r.doc_id: r.score
        for r in after.filter("score IS NOT NULL").collect()
    }
    assert got == {d: d * 7 for d in range(100, 105)}


def test_optimize_zorder_preserves_evolved_column(spark, tmp_path):
    """The z-order pass rewrites EVERY live file under the table's
    schema, so the evolved column survives it too."""
    from pyspark.sql.types import LongType, StructField

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "evz")
    w = DeltaStandardWriter(t)
    for i in range(4):
        w.write(_grp_docs(spark, n=3, lo=i * 3).coalesce(1))
    from pyspark.sql.types import StructType

    stored = StructType.fromJson(
        json.loads(w._py_replay()["meta"]["schemaString"])
    )
    evolved = StructType(
        list(stored.fields) + [StructField("score", LongType())]
    )
    w.evolve_schema(evolved)
    w.write(
        _grp_docs(spark, n=5, lo=100)
        .withColumn("score", F.col("doc_id") * 7)
        .coalesce(1)
    )
    w.optimize(spark, target_file_bytes=1 << 20, zorder_by=["doc_id"])
    after = read_delta(spark, t)
    assert after.count() == 17
    assert after.filter("score IS NOT NULL").count() == 5
    assert after.agg(F.sum("score")).collect()[0][0] == sum(
        d * 7 for d in range(100, 105)
    )


def test_optimize_keeps_an_escaped_partition_readable(spark, tmp_path):
    """OPTIMIZE promotes into the partition directory Spark escaped
    (``ts=00%3A00``), not into one named by the URI-encoded add path
    (``ts=00%253A00``), so the compacted file is where readers look."""
    t = str(tmp_path / "esc")
    w = DeltaStandardWriter(t)
    for lo in (0, 5):
        w.write(
            spark.createDataFrame(
                [(i, "00:00") for i in range(lo, lo + 5)], "id long, ts string"
            ).coalesce(1),
            partition_by=["ts"],
        )
    w.optimize(spark, target_file_bytes=1 << 20)
    assert sorted(os.listdir(t)) == ["_delta_log", "ts=00%3A00"]
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(range(10))


@pytest.mark.parametrize("kind", ["ledger", "configuration"])
def test_metadata_only_commits_keep_the_checkpoint_cadence(
    spark, tmp_path, kind
):
    """Commits without data files (the ingest ledger's SET TRANSACTION,
    a constraint change) count toward the checkpoint cadence too."""
    from kafka_delta_ingest_spark.delta_standard import DeltaStandardSink

    t = str(tmp_path / "t")
    if kind == "ledger":
        sink = DeltaStandardSink(t)
        for i in range(11):
            sink.commit_offsets({"app-0": i})
        assert sink.snapshot()["txn"] == {"app-0": 10}
    else:
        w = DeltaStandardWriter(t)
        w.write(_docs(spark, 4))
        for i in range(5):
            w.add_constraint(spark, "pos", "doc_id >= 0")
            w.drop_constraint("pos")
        assert w.latest_version() == 10
    log = os.path.join(t, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 10
