"""HudiCowWriter.upsert_batch — Hudi's signature DataFrame UPSERT.

Pins the file-slice contract: a matched record is replaced INSIDE its
existing file group (same fileId, new base-file slice at the upsert
instant — plan_file_groups' later-base-wins rule serves it), unmatched
records insert as new file groups, untouched groups keep their
original base files. Match is on (partition path, record key) — the
non-global-index contract, matching the MoR merge side. The reference
daemon is append-only; this is the DeltaStreamer UPSERT-mode parity
surface (operationType UPSERT).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.hudi import HudiCowWriter, read_hudi


def _df(spark, rows, schema="id long, s string, v long"):
    return spark.createDataFrame(rows, schema)


def test_upsert_updates_in_place_and_inserts_new_groups(spark, tmp_path):
    t = str(tmp_path / "up")
    w = HudiCowWriter(t, record_key="id")
    w.insert_batch(_df(spark, [(i, f"old{i}", i) for i in range(10)])
                   .coalesce(1))
    w.insert_batch(_df(spark, [(i, f"old{i}", i) for i in range(10, 20)])
                   .coalesce(1))
    bases_before = {
        f for f in os.listdir(t) if f.endswith(".parquet")
    }
    assert len(bases_before) == 2
    fid_of = {f: f.split("_")[0] for f in bases_before}

    instant, n_upd, n_ins = w.upsert_batch(
        _df(spark, [(3, "NEW3", -3), (100, "ins", 100)])
    )
    assert instant is not None and n_upd == 1 and n_ins == 1
    got = {
        r["id"]: (r["s"], r["v"], r["_hoodie_commit_time"],
                  r["_hoodie_record_key"])
        for r in read_hudi(spark, t, keep_meta=True).collect()
    }
    assert len(got) == 21
    assert got[3][:2] == ("NEW3", -3)
    assert got[3][2] == instant  # updated row carries the new instant
    assert got[100][:2] == ("ins", 100)
    assert got[4][:2] == ("old4", 4)
    assert got[4][2] != instant  # carried-over row keeps its commit time
    assert got[3][3] == "3"  # real record keys, not synthetic seqnos

    # file-group identity: the group holding id=3 got a NEW slice with
    # the SAME fileId; superseded slices stay on disk until clean()
    bases_after = {f for f in os.listdir(t) if f.endswith(".parquet")}
    assert bases_before <= bases_after  # upsert never deletes slices
    new_slices = {
        f for f in bases_after - bases_before
        if f.endswith(f"_{instant}.parquet")
    }
    assert len(new_slices) == 2  # rewritten slice + inserted group
    old_fids = set(fid_of.values())
    new_fids = {f.split("_")[0] for f in new_slices}
    assert len(new_fids & old_fids) == 1  # same fileId, new slice
    assert len(new_fids - old_fids) == 1  # the brand-new insert group
    # a second upsert to the same key makes the I1 slice cleanable
    # (KEEP_LATEST_COMMITS retains the newest pre-boundary slice)
    w.upsert_batch(_df(spark, [(3, "NEW3b", -33)]))
    deleted = w.clean(retain_last=1)
    assert len(deleted) == 1
    got2 = {r["id"]: r["s"] for r in read_hudi(spark, t).collect()}
    assert len(got2) == 21 and got2[3] == "NEW3b"


def test_upsert_partitioned_non_global_key(spark, tmp_path):
    """The same key in two partitions is two records (non-global
    index): an upsert targeting (p=a, k=1) must not touch (p=b, k=1)."""
    t = str(tmp_path / "upp")
    w = HudiCowWriter(t, partition_by=["p"], record_key="k")
    df = spark.createDataFrame(
        [(1, "a", "x"), (1, "b", "y"), (2, "a", "z")],
        "k long, p string, s string",
    ).coalesce(1)
    w.insert_batch(df)
    instant, n_upd, n_ins = w.upsert_batch(
        spark.createDataFrame(
            [(1, "a", "XX"), (3, "c", "new")], "k long, p string, s string"
        )
    )
    assert n_upd == 1 and n_ins == 1
    got = {
        (r["k"], r["p"]): r["s"] for r in read_hudi(spark, t).collect()
    }
    assert got == {
        (1, "a"): "XX", (1, "b"): "y", (2, "a"): "z", (3, "c"): "new",
    }
    # the insert landed in its hive partition dir
    assert os.path.isdir(os.path.join(t, "p=c"))


def test_upsert_precombine_picks_highest(spark, tmp_path):
    t = str(tmp_path / "upc")
    w = HudiCowWriter(t, record_key="id")
    w.insert_batch(_df(spark, [(1, "old", 0)]).coalesce(1))
    w.upsert_batch(
        _df(spark, [(1, "low", 5), (1, "high", 9)]), precombine="v"
    )
    got = read_hudi(spark, t).collect()
    assert len(got) == 1 and got[0]["s"] == "high"


def test_upsert_duplicate_keys_without_precombine_raise(spark, tmp_path):
    t = str(tmp_path / "upd")
    w = HudiCowWriter(t, record_key="id")
    w.insert_batch(_df(spark, [(1, "old", 0)]).coalesce(1))
    with pytest.raises(ValueError, match="duplicate record keys"):
        w.upsert_batch(_df(spark, [(1, "a", 1), (1, "b", 2)]))


def test_upsert_into_empty_table_is_insert(spark, tmp_path):
    t = str(tmp_path / "upe")
    w = HudiCowWriter(t, record_key="id")
    instant, n_upd, n_ins = w.upsert_batch(
        _df(spark, [(1, "a", 1), (2, "b", 2)])
    )
    assert instant is not None and n_upd == 0 and n_ins >= 1
    assert read_hudi(spark, t).count() == 2
    meta = json.load(
        open(os.path.join(t, ".hoodie", f"{instant}.commit"))
    )
    assert meta["operationType"] == "UPSERT"


def test_upsert_requires_record_key(spark, tmp_path):
    t = str(tmp_path / "upk")
    w = HudiCowWriter(t)
    with pytest.raises(ValueError, match="record_key"):
        w.upsert_batch(_df(spark, [(1, "a", 1)]))


def test_upsert_commit_stats_carry_prev_slice(spark, tmp_path):
    """The rewritten group's write stat must name the replaced slice's
    instant as prevCommit (the slice chain Hudi's timeline shows)."""
    t = str(tmp_path / "ups")
    w = HudiCowWriter(t, record_key="id")
    i0, _, _ = (None, None, None)
    w.insert_batch(_df(spark, [(1, "a", 1)]).coalesce(1))
    first = [
        f for f in os.listdir(os.path.join(t, ".hoodie"))
        if f.endswith(".commit")
    ][0][: -len(".commit")]
    instant, n_upd, _ = w.upsert_batch(_df(spark, [(1, "b", 2)]))
    assert n_upd == 1
    meta = json.load(
        open(os.path.join(t, ".hoodie", f"{instant}.commit"))
    )
    stats = meta["partitionToWriteStats"][""]
    upd = [s for s in stats if s["prevCommit"] != "null"]
    assert len(upd) == 1 and upd[0]["prevCommit"] == first


@pytest.mark.parametrize("with_base", [True, False], ids=["base", "log_only"])
def test_upsert_refuses_a_table_with_mor_logs(spark, tmp_path, with_base):
    """A CoW upsert refuses a table whose live file groups carry log
    files, also when a group is made of log files only (no base)."""
    t = str(tmp_path / "t")
    w = HudiCowWriter(t, record_key="id")
    w.insert_batch(_df(spark, [(i, f"old{i}", i) for i in range(4)]).coalesce(1))
    if with_base:
        fid = next(f for f in os.listdir(t) if f.endswith(".parquet"))
        fid, base_instant = fid.split("_")[0], w.latest_instant()
    else:
        fid, base_instant = "log-only-group", "20000101000000000"
    log = f".{fid}_{base_instant}.log.1_0-1-0"
    stat = {"fileId": fid, "path": log, "prevCommit": base_instant,
            "numWrites": 1, "fileSizeInBytes": 0}
    with open(os.path.join(t, log), "wb"):
        pass
    with open(os.path.join(t, ".hoodie", "29990101000000000.deltacommit"),
              "w") as f:
        json.dump({"partitionToWriteStats": {"": [stat]},
                   "operationType": "UPSERT"}, f)
    with pytest.raises(ValueError, match="CoW upsert on a table with MoR logs"):
        w.upsert_batch(_df(spark, [(1, "new", 1)]))
