"""Standard-layout Delta reader tests: log replay, checkpoints, time
travel, partition reconstruction, column mapping, unsupported-feature
errors."""

import glob
import json
import os
import time

import pytest

from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark.delta_standard import (
    DeltaFixtureWriter,
    DeltaStandardWriter,
    _replay,
    delta_history,
    read_delta,
    table_changes,
)
from kafka_delta_ingest_spark.logstore import LocalLogStore

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
    w = DeltaFixtureWriter(t, _SCHEMA, partition_cols=["grp"])
    v0 = w.add_files(
        [
            ({"grp": "a"},
             [{"doc_id": i, "grp": "a", "val": i * 10} for i in range(5)]),
            ({"grp": "b"},
             [{"doc_id": i, "grp": "b", "val": i * 10}
              for i in range(5, 10)]),
        ],
        timestamp_ms=1000,
    )
    v1 = w.add_files(
        [
            ({"grp": "a"},
             [{"doc_id": i, "grp": "a", "val": i * 10}
              for i in range(10, 13)]),
        ],
        timestamp_ms=2000,
    )
    w.checkpoint()
    rel = os.path.relpath(glob.glob(t + "/grp=b/*.parquet")[0], t)
    v2 = w.remove_files([rel], timestamp_ms=3000)
    return t, (v0, v1, v2)


def test_latest_state_and_partition_columns(spark, table):
    t, _ = table
    df = read_delta(spark, t)
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,grp:string,val:bigint>"
    )
    got = sorted((r.doc_id, r.grp, r.val) for r in df.collect())
    assert got == [
        (i, "a", i * 10) for i in list(range(5)) + list(range(10, 13))
    ]


def test_version_and_timestamp_travel(spark, table):
    t, (v0, v1, v2) = table
    assert sorted(
        r.doc_id for r in read_delta(spark, t, version=v0).collect()
    ) == list(range(10))
    assert sorted(
        r.doc_id for r in read_delta(spark, t, version=v1).collect()
    ) == list(range(13))
    assert sorted(
        r.doc_id for r in read_delta(spark, t, timestamp_ms=2500).collect()
    ) == list(range(13))
    with pytest.raises(ValueError, match="no commit at or before"):
        read_delta(spark, t, timestamp_ms=500)
    with pytest.raises(ValueError, match="beyond log end"):
        read_delta(spark, t, version=99)


def test_checkpoint_is_actually_used(spark, table):
    t, _ = table
    # removing the pre-checkpoint commit forces state from checkpoint
    os.remove(os.path.join(t, "_delta_log", "%020d.json" % 0))
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == list(range(5)) + list(range(10, 13))


def test_history(table):
    t, _ = table
    hist = delta_history(t)
    assert [(h["version"], h["operation"]) for h in hist] == [
        (0, "WRITE"), (1, "WRITE"), (2, "DELETE")
    ]


def test_column_mapping_name_mode(spark, tmp_path):
    t = str(tmp_path / "cm")
    phys = {"doc_id": "col-aaaa", "val": "col-bbbb"}
    schema = StructType(
        [
            StructField(
                "doc_id", LongType(), True,
                {"delta.columnMapping.physicalName": "col-aaaa"},
            ),
            StructField(
                "val", LongType(), True,
                {"delta.columnMapping.physicalName": "col-bbbb"},
            ),
        ]
    )
    w = DeltaFixtureWriter(
        t, schema,
        configuration={"delta.columnMapping.mode": "name"},
    )
    w.add_files(
        [({}, [{"doc_id": 1, "val": 10}, {"doc_id": 2, "val": 20}])],
        timestamp_ms=1000,
        physical_names=phys,
    )
    df = read_delta(spark, t)
    assert set(df.columns) == {"doc_id", "val"}
    assert sorted((r.doc_id, r.val) for r in df.collect()) == [
        (1, 10), (2, 20)
    ]


def test_column_mapping_with_physical_partition_names(spark, tmp_path):
    # r6 review finding: in mapping mode the log stores
    # partitionColumns and add.partitionValues under PHYSICAL names.
    t = str(tmp_path / "cmp")
    schema = StructType(
        [
            StructField(
                "doc_id", LongType(), True,
                {"delta.columnMapping.physicalName": "col-id"},
            ),
            StructField(
                "lang", StringType(), True,
                {"delta.columnMapping.physicalName": "col-lang"},
            ),
        ]
    )
    w = DeltaFixtureWriter(
        t, schema,
        partition_cols=["col-lang"],  # physical, as real writers do
        configuration={"delta.columnMapping.mode": "name"},
    )
    w.add_files(
        [
            ({"col-lang": "en"}, [{"doc_id": 1}, {"doc_id": 2}]),
            ({"col-lang": "fr"}, [{"doc_id": 3}]),
        ],
        timestamp_ms=1000,
        physical_names={"doc_id": "col-id"},
    )
    df = read_delta(spark, t)
    assert set(df.columns) == {"doc_id", "lang"}
    got = sorted((r.doc_id, r.lang) for r in df.collect())
    assert got == [(1, "en"), (2, "en"), (3, "fr")]


def test_null_partition_value_does_not_crash_sort(spark, tmp_path):
    t = str(tmp_path / "np")
    w = DeltaFixtureWriter(t, _SCHEMA, partition_cols=["grp"])
    w.add_files(
        [({"grp": "a"}, [{"doc_id": 1, "grp": "a", "val": 1}])],
        timestamp_ms=1000,
    )
    # hand-add a file whose partition value is null (non-hive path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(t, "loose.parquet")
    pq.write_table(pa.table({"doc_id": [9], "val": [90]}), p)
    with open(os.path.join(t, "_delta_log", "%020d.json" % 1), "w") as f:
        f.write(json.dumps({"commitInfo": {"operation": "WRITE",
                                           "timestamp": 2000}}) + "\n")
        f.write(json.dumps({"add": {"path": "loose.parquet",
                                    "partitionValues": {"grp": None},
                                    "size": 1, "modificationTime": 2000,
                                    "dataChange": True}}) + "\n")
    got = sorted(
        (r.doc_id, r.grp) for r in read_delta(spark, t).collect()
    )
    assert got == [(1, "a"), (9, None)]


def test_hive_detection_matches_whole_segments(spark, tmp_path):
    # a partition column named "e" must NOT substring-match "date=..."
    t = str(tmp_path / "seg")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("e", StringType())]
    )
    w = DeltaFixtureWriter(t, schema, partition_cols=["e"])
    # non-hive layout whose path contains "date=" but no "e=" segment
    import pyarrow as pa
    import pyarrow.parquet as pq

    sub = os.path.join(t, "date=2024")
    os.makedirs(sub, exist_ok=True)
    pq.write_table(pa.table({"doc_id": [5]}), os.path.join(sub, "f.parquet"))
    with open(os.path.join(t, "_delta_log", "%020d.json" % 0), "w") as f:
        f.write(json.dumps({"commitInfo": {"operation": "WRITE",
                                           "timestamp": 1000}}) + "\n")
        f.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}}) + "\n")
        f.write(json.dumps(w._meta_action()) + "\n")
        f.write(json.dumps({"add": {"path": "date=2024/f.parquet",
                                    "partitionValues": {"e": "x"},
                                    "size": 1, "modificationTime": 1000,
                                    "dataChange": True}}) + "\n")
    got = read_delta(spark, t).collect()
    assert [(r.doc_id, r.e) for r in got] == [(5, "x")]


def test_version_before_earliest_commit_raises(spark, table):
    t, _ = table
    with pytest.raises(ValueError, match="before earliest|beyond"):
        read_delta(spark, t, version=-3)


def test_id_mapping_via_native_field_id_matching(spark, tmp_path):
    # id-mode table: random physical column names, parquet field-id
    # metadata carries identity. The reader must resolve by id (Spark
    # native field-id matching), never by name.
    import json as _json

    from pyspark.sql.types import StructType as _St

    t = str(tmp_path / "idm")
    schema_json = _SCHEMA.jsonValue()
    phys = {"doc_id": "col-aaaa", "grp": "col-bbbb", "val": "col-cccc"}
    ids = {"doc_id": 1, "grp": 2, "val": 3}
    for f in schema_json["fields"]:
        f["metadata"] = {
            "delta.columnMapping.id": ids[f["name"]],
            "delta.columnMapping.physicalName": phys[f["name"]],
        }
    w = DeltaFixtureWriter(
        t, _St.fromJson(schema_json),
        configuration={"delta.columnMapping.mode": "id"},
    )
    w.add_files(
        [({}, [{"doc_id": i, "grp": "a", "val": i * 10}
               for i in range(5)])],
        timestamp_ms=1,
        physical_names=phys,
        field_ids=ids,
    )
    df = read_delta(spark, t)
    assert df.columns == ["doc_id", "grp", "val"]
    got = sorted((r.doc_id, r.grp, r.val) for r in df.collect())
    assert got == [(i, "a", i * 10) for i in range(5)]
    # a field missing its columnMapping.id still raises
    t2 = str(tmp_path / "idm2")
    bad = _SCHEMA.jsonValue()
    w2 = DeltaFixtureWriter(
        t2, _St.fromJson(bad),
        configuration={"delta.columnMapping.mode": "id"},
    )
    w2.add_files(
        [({}, [{"doc_id": 1, "grp": "a", "val": 1}])], timestamp_ms=1
    )
    with pytest.raises(ValueError, match="columnMapping.id"):
        read_delta(spark, t2)


def test_missing_log_raises(tmp_path):
    with pytest.raises(ValueError, match="_delta_log"):
        delta_history(str(tmp_path / "none"))


def test_incomplete_multipart_checkpoint_is_skipped(spark, table):
    # r7 ADVICE fix: a crash mid-multi-part-checkpoint write leaves a
    # partial part set; replaying it would silently drop adds. The
    # reader must reject the incomplete set and fall back to pure JSON
    # replay.
    t, _ = table
    log = os.path.join(t, "_delta_log")
    # rename the valid single-part checkpoint into "part 1 of 2"
    # (part 2 never written — the crash scenario)
    single = glob.glob(os.path.join(log, "*.checkpoint.parquet"))[0]
    v = os.path.basename(single)[:20]
    os.rename(
        single,
        os.path.join(
            log, f"{v}.checkpoint.{1:010d}.{2:010d}.parquet"
        ),
    )
    # _last_checkpoint still points at this version; reader must not
    # trust it. JSON replay gives the complete, correct state.
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == list(range(5)) + list(range(10, 13))


def test_complete_multipart_checkpoint_is_used(spark, table):
    t, _ = table
    log = os.path.join(t, "_delta_log")
    single = glob.glob(os.path.join(log, "*.checkpoint.parquet"))[0]
    v = os.path.basename(single)[:20]
    # split the single checkpoint into two real parts
    import pyarrow.parquet as pq

    tbl = pq.read_table(single)
    os.remove(single)
    pq.write_table(
        tbl.slice(0, 2),
        os.path.join(log, f"{v}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        tbl.slice(2),
        os.path.join(log, f"{v}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    # remove the pre-checkpoint commit: state must come from the parts
    os.remove(os.path.join(log, "%020d.json" % 0))
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == list(range(5)) + list(range(10, 13))


def test_checkpoint_memo_misses_when_a_later_part_is_rewritten(spark, table):
    # Rewriting part 2 of 2 of a checkpoint (part 1 untouched) shows
    # up in the next replay and read.
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t, _ = table
    log = os.path.join(t, "_delta_log")
    single = glob.glob(os.path.join(log, "*.checkpoint.parquet"))[0]
    v = os.path.basename(single)[:20]
    tbl = pq.read_table(single)
    os.remove(single)
    os.remove(os.path.join(log, "%020d.json" % 0))
    part2 = os.path.join(log, f"{v}.checkpoint.{2:010d}.{2:010d}.parquet")
    pq.write_table(
        tbl.slice(0, 2),
        os.path.join(log, f"{v}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(tbl.slice(2), part2)
    before = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert before == list(range(5)) + list(range(10, 13))
    # drop the grp=a v0 file's add from part 2
    rest = tbl.slice(2)
    paths = pc.struct_field(rest["add"], "path")
    gone = next(p for p in paths.to_pylist() if p and p.startswith("grp=a/"))
    pq.write_table(rest.filter(pc.invert(pc.fill_null(pc.equal(paths, gone), False))), part2)
    removed = pq.read_table(os.path.join(t, gone)).column("doc_id").to_pylist()
    assert gone not in _replay(log, int(v), LocalLogStore())["adds"]
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert removed and got == sorted(set(before) - set(removed))


def test_checkpoint_remove_tombstones_reconciled_in_spark(spark, tmp_path):
    # checkpoints retain remove tombstones (VACUUM window); the replay
    # must match them out of the add set.
    t = str(tmp_path / "tomb")
    w = DeltaFixtureWriter(t, _SCHEMA)
    w.add_files(
        [({}, [{"doc_id": 1, "grp": "a", "val": 1}]),
         ({}, [{"doc_id": 2, "grp": "b", "val": 2}])],
        timestamp_ms=1000,
    )
    rel = sorted(
        os.path.relpath(p, t) for p in glob.glob(t + "/part-*.parquet")
    )
    w.remove_files([rel[1]], timestamp_ms=2000)
    w.checkpoint(tombstones=[rel[1]])
    # drop the pre-checkpoint commit: state must come from the
    # checkpoint (commit 1 = the checkpoint version stays so the log
    # is non-empty, but replay starts AFTER the checkpoint).
    os.remove(os.path.join(t, "_delta_log", "%020d.json" % 0))
    log = os.path.join(t, "_delta_log")
    assert set(_replay(log, 1, LocalLogStore())["adds"]) == {rel[0]}
    got = [(r.doc_id, r.val) for r in read_delta(spark, t).collect()]
    assert got == [(1, 1)]


@pytest.mark.parametrize("fmt", ["json", "parquet"])
def test_v2_checkpoint_with_sidecars(spark, table, fmt):
    # UUID-named manifest + add actions in a _sidecars/ parquet: the
    # replay must follow the manifest's sidecar actions.
    t, _ = table
    log = os.path.join(t, "_delta_log")
    # drop the classic checkpoint the fixture wrote; build a v2 one
    for p in glob.glob(os.path.join(log, "*.checkpoint.parquet")):
        os.remove(p)
    w = DeltaFixtureWriter(t, _SCHEMA, partition_cols=["grp"])
    w.version = 2
    w.checkpoint_v2(fmt=fmt)
    # remove pre-checkpoint commits: state must come from the v2
    # manifest + sidecar alone
    for v in (0, 1):
        os.remove(os.path.join(log, "%020d.json" % v))
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == list(range(5)) + list(range(10, 13))


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_writer_sees_v2_checkpoint_state(spark, tmp_path, fmt):
    # The writer replays the same V2 manifest + sidecar as the reader:
    # its live set, log-only count and VACUUM all see both files.
    t = str(tmp_path / "v2w")
    w = DeltaFixtureWriter(t, _SCHEMA)
    for lo, ts in ((0, 1000), (3, 2000)):
        w.add_files(
            [({}, [{"doc_id": i, "grp": "a", "val": i}
                   for i in range(lo, lo + 3)])],
            timestamp_ms=ts,
        )
    w.checkpoint_v2(fmt=fmt)
    os.remove(os.path.join(t, "_delta_log", "%020d.json" % 0))
    sw = DeltaStandardWriter(t)
    assert set(sw._py_replay()["adds"]) == {
        "part-00001.parquet", "part-00002.parquet",
    }
    assert sw.count_rows() == 6
    later = int(time.time() * 1000) + 2 * 24 * 3600 * 1000
    assert sw.vacuum(retention_ms=0, now_ms=later) == []
    assert read_delta(spark, t).count() == 6


def test_planning_reads_runs_no_spark_job(spark, tmp_path):
    # Log replay is driver-side pyarrow: planning a read or a change
    # feed over a checkpointed table submits no Spark job.
    t = str(tmp_path / "nojob")
    w = DeltaStandardWriter(t)
    for i in range(11):
        w.write(spark.createDataFrame([(i, "a", i)], _SCHEMA))
    assert os.path.exists(
        os.path.join(t, "_delta_log", "%020d.checkpoint.parquet" % 10)
    )
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = "kdi-replay-jobs"
    sc.setJobGroup(group, group)
    try:
        df = read_delta(spark, t)
        changes = table_changes(spark, t, 0)
        assert st.getJobIdsForGroup(group) == []
        assert df.count() == 11 and changes.count() == 11
        assert st.getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_replay_scales_to_large_checkpoint(spark, tmp_path):
    # Synthetic 100k-add / 40k-tombstone checkpoint, tombstones after
    # the adds they cancel; _replay must return exactly the 60k live
    # adds (no data files needed — replay touches only the log).
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "big")
    log = os.path.join(t, "_delta_log")
    os.makedirs(log)
    meta = {
        "id": "m", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(_SCHEMA.jsonValue()),
        "partitionColumns": [], "configuration": {},
        "createdTime": 0,
    }
    n, dead = 100_000, 40_000
    rows = [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
             "metaData": meta, "add": None, "remove": None}]
    rows += [
        {"protocol": None, "metaData": None,
         "add": {"path": f"p{i:06d}.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True},
         "remove": None}
        for i in range(n)
    ]
    rows += [
        {"protocol": None, "metaData": None, "add": None,
         "remove": {"path": f"p{i:06d}.parquet", "deletionTimestamp": 0,
                    "dataChange": True}}
        for i in range(dead)
    ]
    map_ss = pa.map_(pa.string(), pa.string())
    cp_schema = pa.schema([
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", map_ss)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", map_ss),
            ("createdTime", pa.int64())])),
        ("add", pa.struct([("path", pa.string()),
                           ("partitionValues", map_ss),
                           ("size", pa.int64()),
                           ("modificationTime", pa.int64()),
                           ("dataChange", pa.bool_())])),
        ("remove", pa.struct([("path", pa.string()),
                              ("deletionTimestamp", pa.int64()),
                              ("dataChange", pa.bool_())])),
    ])
    pq.write_table(
        pa.Table.from_pylist(rows, schema=cp_schema),
        os.path.join(log, "%020d.checkpoint.parquet" % 0),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "size": len(rows)}, f)
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        f.write(json.dumps({"commitInfo": {"operation": "WRITE",
                                           "timestamp": 0}}) + "\n")
    state = _replay(log, 0, LocalLogStore())
    assert len(state["adds"]) == n - dead
    paths = set(state["adds"])
    assert f"p{dead:06d}.parquet" in paths
    assert f"p{dead - 1:06d}.parquet" not in paths


def test_checkpoint_dv_tombstone_keeps_live_dv_add(spark, tmp_path):
    # r8 ADVICE (high): reconciliation keys on (path, dv uniqueId).
    # A checkpoint after a DV DELETE retains the dv-LESS remove
    # tombstone for the pre-delete file alongside the live
    # add(path, dv); path-only reconciliation would drop the live add
    # and lose every surviving row of the file.
    t = str(tmp_path / "dvt")
    w = DeltaFixtureWriter(t, _SCHEMA)
    w.add_files(
        [({}, [{"doc_id": i, "grp": "a", "val": i} for i in range(4)])],
        timestamp_ms=1000,
    )
    rel = os.path.relpath(glob.glob(t + "/part-*.parquet")[0], t)
    w.delete_rows(rel, [1], timestamp_ms=2000)  # v1: remove + add(dv)
    # tombstone carries NO dv (the pre-delete add had none), exactly
    # what delta-spark retains in its checkpoint
    w.checkpoint(tombstones=[rel])
    # force replay to start FROM the checkpoint
    os.remove(os.path.join(t, "_delta_log", "%020d.json" % 0))
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [0, 2, 3]
    # the writer's driver-side replay must agree (same keying)
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
    )

    st = DeltaStandardWriter(t)._py_replay()
    assert rel in st["adds"]
    assert st["adds"][rel].get("deletionVector")


def test_column_mapping_nested_struct_name_mode(spark, tmp_path):
    # r8 ADVICE (low): name-mode mapping renames EVERY nesting level;
    # requesting logical nested names against physical file columns
    # silently nulls the nested fields.
    t = str(tmp_path / "cmn")
    schema = StructType(
        [
            StructField(
                "doc_id", LongType(), True,
                {"delta.columnMapping.physicalName": "col-a"},
            ),
            StructField(
                "payload",
                StructType(
                    [
                        StructField(
                            "score", LongType(), True,
                            {"delta.columnMapping.physicalName": "col-s"},
                        ),
                        StructField(
                            "tag", StringType(), True,
                            {"delta.columnMapping.physicalName": "col-t"},
                        ),
                    ]
                ),
                True,
                {"delta.columnMapping.physicalName": "col-p"},
            ),
        ]
    )
    w = DeltaFixtureWriter(
        t, schema, configuration={"delta.columnMapping.mode": "name"}
    )
    # rows carry the PHYSICAL nested shape (what's in the file);
    # add_files maps the top level via physical_names
    w.add_files(
        [({}, [
            {"doc_id": 1, "payload": {"col-s": 7, "col-t": "x"}},
            {"doc_id": 2, "payload": {"col-s": 9, "col-t": "y"}},
        ])],
        timestamp_ms=1000,
        physical_names={"doc_id": "col-a", "payload": "col-p"},
    )
    df = read_delta(spark, t)
    assert df.schema["payload"].dataType.fieldNames() == ["score", "tag"]
    got = sorted(
        (r.doc_id, r.payload.score, r.payload.tag) for r in df.collect()
    )
    assert got == [(1, 7, "x"), (2, 9, "y")]


def test_id_mapping_nested_fields(spark, tmp_path):
    # r8 ADVICE (low): id mode must annotate NESTED fields with
    # parquet.field.id too, or nested columns read back as nulls.
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "idn")
    schema = StructType(
        [
            StructField(
                "doc_id", LongType(), True,
                {"delta.columnMapping.id": 1,
                 "delta.columnMapping.physicalName": "col-a"},
            ),
            StructField(
                "payload",
                StructType(
                    [
                        StructField(
                            "score", LongType(), True,
                            {"delta.columnMapping.id": 3,
                             "delta.columnMapping.physicalName": "col-s"},
                        ),
                        StructField(
                            "tag", StringType(), True,
                            {"delta.columnMapping.id": 4,
                             "delta.columnMapping.physicalName": "col-t"},
                        ),
                    ]
                ),
                True,
                {"delta.columnMapping.id": 2,
                 "delta.columnMapping.physicalName": "col-p"},
            ),
        ]
    )
    os.makedirs(t, exist_ok=True)
    inner = pa.struct(
        [
            pa.field("col-s", pa.int64(),
                     metadata={b"PARQUET:field_id": b"3"}),
            pa.field("col-t", pa.string(),
                     metadata={b"PARQUET:field_id": b"4"}),
        ]
    )
    pa_schema = pa.schema(
        [
            pa.field("col-a", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("col-p", inner,
                     metadata={b"PARQUET:field_id": b"2"}),
        ]
    )
    fp = os.path.join(t, "part-00001.parquet")
    pq.write_table(
        pa.table(
            {
                "col-a": [1, 2],
                "col-p": [
                    {"col-s": 7, "col-t": "x"},
                    {"col-s": 9, "col-t": "y"},
                ],
            },
            schema=pa_schema,
        ),
        fp,
    )
    w = DeltaFixtureWriter(
        t, schema, configuration={"delta.columnMapping.mode": "id"}
    )
    w._commit(
        [{"add": {"path": "part-00001.parquet", "partitionValues": {},
                  "size": os.path.getsize(fp), "modificationTime": 1,
                  "dataChange": True}}],
        "WRITE", 1,
    )
    df = read_delta(spark, t)
    assert df.schema["payload"].dataType.fieldNames() == ["score", "tag"]
    got = sorted(
        (r.doc_id, r.payload.score, r.payload.tag) for r in df.collect()
    )
    assert got == [(1, 7, "x"), (2, 9, "y")]
