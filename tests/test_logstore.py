"""LogStore seam tests (r9, r8 verdict task 2): the three log writers'
commit protocols must survive OBJECT-STORE put semantics — claims are
conditional PUTs that can lose races or fail ambiguously AFTER the
object landed. ``FakeRemoteLogStore`` emulates exactly that over a
local directory: every ``put_if_absent`` goes through an
atomic-conditional gate with injectable faults (lost race, ambiguous
timeout-after-publish), proving no torn commits and that conflict
detection still raises through the seam."""

import json
import os

import pytest

from pyspark.sql import functions as F

from kafka_delta_ingest_spark.logstore import (
    LocalLogStore,
    get_log_store,
)


class FakeRemoteLogStore(LocalLogStore):
    """Object-store-semantics wrapper: conditional-put claims with
    fault injection.

    * ``lose_races_at`` (set of 1-based call indices): the claim is
      answered "already exists" WITHOUT publishing — another writer's
      object won (HTTP 412).
    * ``ambiguous_at`` (set of call indices): the object LANDS
      (complete body — conditional PUTs are all-or-nothing) but the
      call raises TimeoutError — the ambiguous-success case every
      remote SDK has.
    """

    def __init__(self, lose_races_at=(), ambiguous_at=()):
        self.calls = 0
        self.lose_races_at = set(lose_races_at)
        self.ambiguous_at = set(ambiguous_at)
        self.log = []

    def put_if_absent(self, path, data):
        self.calls += 1
        self.log.append(os.path.basename(path))
        if self.calls in self.lose_races_at:
            return False
        ok = super().put_if_absent(path, data)
        if self.calls in self.ambiguous_at and ok:
            raise TimeoutError(
                "simulated: request timed out after the object landed"
            )
        return ok


def _docs(spark, n=8, lo=0):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 10).alias("val"),
    )


def test_local_put_if_absent_is_content_complete(tmp_path):
    s = LocalLogStore()
    p = str(tmp_path / "d" / "x.json")
    assert s.put_if_absent(p, b"hello") is True
    assert s.read_bytes(p) == b"hello"
    assert s.put_if_absent(p, b"other") is False
    assert s.read_bytes(p) == b"hello"  # loser never mutates
    assert s.list_dir(str(tmp_path / "missing")) == []
    # no temp litter
    assert s.list_dir(str(tmp_path / "d")) == ["x.json"]


def test_get_log_store_rejects_remote_schemes(tmp_path):
    assert isinstance(get_log_store(str(tmp_path)), LocalLogStore)
    for uri in ("s3://b/t", "s3a://b/t", "abfss://c@a/t", "gs://b/t"):
        with pytest.raises(NotImplementedError, match="contract"):
            get_log_store(uri)


def test_delta_commit_survives_lost_claim_race(spark, tmp_path):
    # a lost conditional put (another writer's object landed first)
    # must re-run the conflict check and retry at the next version —
    # never overwrite, never tear
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "t")
    w0 = DeltaStandardWriter(t)
    w0.write(_docs(spark).coalesce(1))

    store = FakeRemoteLogStore()
    w = DeltaStandardWriter(t, store=store)
    # lose the race on the writer's FIRST claim: meanwhile the other
    # writer really does commit that version
    orig = FakeRemoteLogStore.put_if_absent
    fired = {"done": False}

    def racing_put(self, path, data):
        if not fired["done"] and path.endswith("1.json"):
            fired["done"] = True
            DeltaStandardWriter(t).write(_docs(spark, lo=100))
            return False  # our conditional PUT: 412
        return orig(self, path, data)

    store.put_if_absent = racing_put.__get__(store)
    v = w.write(_docs(spark, lo=200))
    assert v == 2  # rebased past the racer's version 1
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == sorted(
        list(range(8)) + list(range(100, 108)) + list(range(200, 208))
    )


def test_delta_conflict_still_raises_through_remote_semantics(
    spark, tmp_path
):
    # delete_where whose read set was invalidated between snapshot and
    # claim must still raise ConcurrentDeltaWriteError when the claim
    # is a conditional put that lost the race
    from kafka_delta_ingest_spark.delta_standard import (
        ConcurrentDeltaWriteError,
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "t2")
    DeltaStandardWriter(t).write(_docs(spark).coalesce(1))
    store = FakeRemoteLogStore()
    w = DeltaStandardWriter(t, store=store)

    orig = FakeRemoteLogStore.put_if_absent
    fired = {"done": False}

    def racing_put(self, path, data):
        if not fired["done"]:
            fired["done"] = True
            # racer DV-deletes from the same file before our claim
            DeltaStandardWriter(t).delete_where(spark, "doc_id = 1")
            return False
        return orig(self, path, data)

    store.put_if_absent = racing_put.__get__(store)
    with pytest.raises(ConcurrentDeltaWriteError):
        w.delete_where(spark, "doc_id = 2")
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [0] + list(range(2, 8))  # racer won, ours never tore


def test_delta_ambiguous_claim_failure_leaves_complete_commit(
    spark, tmp_path
):
    # timeout AFTER the object landed: the commit on disk must be the
    # COMPLETE payload (readable by replay), and a retry of the same
    # batch (same txn) must replay-skip, not double-append
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
    )

    t = str(tmp_path / "t3")
    store = FakeRemoteLogStore(ambiguous_at={1})
    w = DeltaStandardWriter(t, store=store)
    with pytest.raises(TimeoutError):
        w.write(_docs(spark).coalesce(1), txn={"app-0": 7})
    # the landed commit is complete and consistent
    assert read_delta(spark, t).count() == 8
    assert w.txn_version("app-0") == 7
    # exactly-once retry: same txn -> skip
    v = w.write(_docs(spark).coalesce(1), txn={"app-0": 7})
    assert v == 0
    assert read_delta(spark, t).count() == 8


@pytest.mark.parametrize("op", ["update", "merge", "delete", "restore"])
def test_delta_ambiguous_claim_keeps_the_landed_commits_files(
    spark, tmp_path, op
):
    # the claim raises after its commit landed: every file the commit
    # names (new parquet, cdc files) must stay, so the table and its
    # change feed still read
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        read_delta,
        table_changes,
    )

    t = str(tmp_path / op)
    DeltaStandardWriter(t, enable_cdf=True).write(_docs(spark).coalesce(1))
    want = {i: i * 10 for i in range(8)}
    if op == "restore":
        DeltaStandardWriter(t).delete_where(spark, "doc_id < 3")
    w = DeltaStandardWriter(t, store=FakeRemoteLogStore(ambiguous_at={1}))
    with pytest.raises(TimeoutError):
        if op == "update":
            w.update_where(spark, "doc_id < 3", {"val": "-1"})
        elif op == "merge":
            w.merge(
                spark,
                spark.createDataFrame([(1, 100), (9, 90)], "doc_id long, val long"),
                "source.doc_id = target.doc_id",
                when_matched_update={"val": "source.val"},
            )
        elif op == "delete":
            w.delete_where(spark, "doc_id < 3")
        else:
            w.restore(0, spark)
    if op == "update":
        want.update({0: -1, 1: -1, 2: -1})
    elif op == "merge":
        want.update({1: 100, 9: 90})
    elif op == "delete":
        want = {i: v for i, v in want.items() if i >= 3}
    got = {r.doc_id: r.val for r in read_delta(spark, t).collect()}
    assert got == want
    changes = table_changes(spark, t, w.latest_version()).collect()
    assert len(changes) == {"update": 6, "merge": 3, "delete": 3, "restore": 3}[op]


def test_iceberg_commit_retries_through_lost_claims(spark, tmp_path):
    from kafka_delta_ingest_spark.iceberg import (
        IcebergWriter,
        read_iceberg,
    )

    t = str(tmp_path / "ice")
    fields = [
        {"id": 1, "name": "doc_id", "type": "long", "required": False},
        {"id": 2, "name": "val", "type": "long", "required": False},
    ]
    w0 = IcebergWriter(t, fields)
    w0.append(_docs(spark), ts_ms=1000)

    store = FakeRemoteLogStore()
    w = IcebergWriter(t, fields, store=store)
    orig = FakeRemoteLogStore.put_if_absent
    fired = {"done": False}

    def racing_put(self, path, data):
        if not fired["done"] and ".metadata.json" in path:
            fired["done"] = True
            IcebergWriter(t, fields).append(
                _docs(spark, lo=100), ts_ms=2000
            )
            return False
        return orig(self, path, data)

    store.put_if_absent = racing_put.__get__(store)
    w.append(_docs(spark, lo=200), ts_ms=3000)
    got = sorted(r.doc_id for r in read_iceberg(spark, t).collect())
    assert got == sorted(
        list(range(8)) + list(range(100, 108)) + list(range(200, 208))
    )
    # the raced metadata version was never overwritten
    metas = sorted(
        f for f in os.listdir(os.path.join(t, "metadata"))
        if f.endswith(".metadata.json")
    )
    assert len(metas) == 3  # v1 (bootstrap+s1 combined layout) .. v3


def test_hudi_instant_claim_retries_through_lost_claims(
    spark, tmp_path
):
    from kafka_delta_ingest_spark.hudi import HudiCowWriter, read_hudi

    t = str(tmp_path / "hudi")
    store = FakeRemoteLogStore(lose_races_at={1, 2})
    w = HudiCowWriter(t, store=store)
    instant, n_files, n_records = w.insert_batch(
        _docs(spark).coalesce(1)
    )
    assert n_records == 8
    assert store.calls >= 3  # two lost claims, third won
    assert read_hudi(spark, t).count() == 8
    # the completed commit is a complete JSON document
    meta = json.loads(
        store.read_bytes(
            os.path.join(t, ".hoodie", f"{instant}.commit")
        )
    )
    assert meta["partitionToWriteStats"]
