"""Aborted Hudi writes. A write that fails while staging removes the
files it wrote and withdraws its instant, and so does one whose
publish raised before the instant landed, so a replay leaves the table
as if the first attempt never ran. A publish that landed and then
raised keeps its commit, and a replay skips it."""

import os
import re

import pytest

from kafka_delta_ingest_spark.hudi import (
    HudiCowWriter,
    HudiMorWriter,
    HudiSink,
    completed_commits,
    read_hudi,
)
from kafka_delta_ingest_spark.logstore import LocalLogStore
from kafka_delta_ingest_spark.sinks import base as sink_base
from tests.conftest import untracked_hudi_files

COMPLETED = re.compile(r"^\d{14,17}\.(commit|deltacommit)$")


def _rows(spark, ids, tag="v0"):
    return spark.createDataFrame(
        [(i, i % 2, f"{tag}-{i}") for i in ids], "id long, p long, s string"
    ).repartition(2)


def _table(spark, root):
    return {r.id: r.s for r in read_hudi(spark, root).collect()}


def _fail_once(monkeypatch, owner, name, when, exc=OSError):
    """Make ``owner.name`` raise ``exc`` at its first call for which
    ``when(*args)`` holds (before the call runs)."""
    real = getattr(owner, name)
    fired = []

    def wrapper(*args, **kwargs):
        if not fired and when(*args):
            fired.append(True)
            raise exc(f"injected fault in {name}")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, wrapper)


def _nth_call(n):
    calls = []

    def when(*_args):
        calls.append(True)
        return len(calls) == n

    return when


def _publish(_store, path, _data=None):
    return bool(COMPLETED.match(os.path.basename(path)))


def _upsert_fails(spark, root, monkeypatch, cls, upsert):
    w = cls(root, partition_by=["p"], record_key="id")
    w.insert_batch(_rows(spark, range(10)))
    before = _table(spark, root)
    _fail_once(
        monkeypatch, HudiCowWriter, "_stage_new_groups", lambda *a: True
    )
    with pytest.raises(OSError, match="injected"):
        getattr(w, upsert)(_rows(spark, [1, 2, 3, 4, 100, 101], "v1"))
    monkeypatch.undo()
    return before


def _sink_publish_fails(spark, root, monkeypatch, mor):
    """A sink batch whose completed-instant publish raises before the
    instant lands, replayed by a fresh sink."""
    key = "id" if mor else None
    batch = _rows(spark, [1, 2, 3, 4, 100, 101], "v1")
    HudiSink(root, mor=mor, record_key=key).write_batch(
        _rows(spark, range(10)), partition_by=["p"], txn={"app-0": 9}
    )
    _fail_once(monkeypatch, LocalLogStore, "put_atomic", _publish)
    with pytest.raises(OSError, match="injected"):
        HudiSink(root, mor=mor, record_key=key).write_batch(
            batch, partition_by=["p"], txn={"app-0": 15}
        )
    monkeypatch.undo()
    # cleaned up before the error propagates, not by a later commit
    assert untracked_hudi_files(root) == []
    replay = HudiSink(root, mor=mor, record_key=key)
    assert not replay.write_batch(
        batch, partition_by=["p"], txn={"app-0": 15}
    ).skipped
    assert replay.snapshot()["txn"] == {"app-0": 15}


@pytest.mark.parametrize(
    "case",
    [
        "cow_upsert_insert_leg",
        "mor_upsert_insert_leg",
        "cluster_promote",
        "sink_cow_publish",
        "sink_mor_publish",
    ],
)
def test_aborted_hudi_write_leaves_no_untracked_file_and_no_pending_instant(
    spark, tmp_path, monkeypatch, case
):
    root = str(tmp_path / "t")
    if case == "cow_upsert_insert_leg":
        before = _upsert_fails(
            spark, root, monkeypatch, HudiCowWriter, "upsert_batch"
        )
        assert _table(spark, root) == before
    elif case == "mor_upsert_insert_leg":
        before = _upsert_fails(
            spark, root, monkeypatch, HudiMorWriter, "upsert_log_batch"
        )
        assert _table(spark, root) == before
    elif case == "cluster_promote":
        w = HudiCowWriter(root, partition_by=["p"])
        for lo in (0, 10):
            w.insert_batch(_rows(spark, range(lo, lo + 10)))
        _fail_once(
            monkeypatch, sink_base.StagedFile, "promote", _nth_call(2)
        )
        with pytest.raises(OSError, match="injected"):
            w.cluster(spark)
        monkeypatch.undo()
        w.insert_batch(_rows(spark, range(20, 30)))
        assert sorted(_table(spark, root)) == list(range(30))
    else:
        mor = case == "sink_mor_publish"
        _sink_publish_fails(spark, root, monkeypatch, mor)
        got = sorted((r.id, r.s) for r in read_hudi(spark, root).collect())
        new = [(i, f"v1-{i}") for i in (1, 2, 3, 4, 100, 101)]
        # the MoR sink upserts by id; the CoW sink appends
        old = [
            (i, f"v0-{i}") for i in range(10) if not (mor and 1 <= i <= 4)
        ]
        assert got == sorted(old + new)
    assert untracked_hudi_files(root) == []


@pytest.mark.parametrize("mor", [False, True], ids=["hudi", "hudi_mor"])
def test_publish_that_lands_then_raises_keeps_its_commit(
    spark, tmp_path, monkeypatch, mor
):
    """The completed instant lands, then the store call raises
    ``TimeoutError``: the commit stands, its rows read back, and a
    fresh sink skips the replay."""
    root = str(tmp_path / "t")
    key = "id" if mor else None
    sink = HudiSink(root, mor=mor, record_key=key)
    sink.write_batch(_rows(spark, range(10)), partition_by=["p"], txn={"a-0": 1})
    real = LocalLogStore.put_atomic

    def lands_then_times_out(self, path, data):
        real(self, path, data)
        if _publish(self, path):
            raise TimeoutError("publish timed out after landing")

    monkeypatch.setattr(LocalLogStore, "put_atomic", lands_then_times_out)
    batch = _rows(spark, range(10, 14), "v1")
    with pytest.raises(TimeoutError):
        HudiSink(root, mor=mor, record_key=key).write_batch(
            batch, partition_by=["p"], txn={"a-0": 2}
        )
    monkeypatch.undo()
    assert sorted(_table(spark, root)) == list(range(14))
    replay = HudiSink(root, mor=mor, record_key=key)
    assert replay.write_batch(batch, partition_by=["p"], txn={"a-0": 2}).skipped
    assert len(completed_commits(root)) == 2
    assert untracked_hudi_files(root) == []


def test_a_commit_landing_before_another_publish_keeps_its_files(
    spark, tmp_path, monkeypatch
):
    """A sibling writer that commits a later instant while another
    writer is about to publish leaves the other writer's staged files
    alone: both commits read back in full."""
    root = str(tmp_path / "t")
    HudiCowWriter(root, partition_by=["p"]).insert_batch(_rows(spark, range(10)))
    real = LocalLogStore.put_atomic
    fired = []

    def sibling_commits_first(self, path, data):
        if _publish(self, path) and not fired:
            fired.append(True)
            HudiCowWriter(root, partition_by=["p"]).insert_batch(
                _rows(spark, range(20, 24))
            )
        return real(self, path, data)

    monkeypatch.setattr(LocalLogStore, "put_atomic", sibling_commits_first)
    HudiCowWriter(root, partition_by=["p"]).insert_batch(
        _rows(spark, range(10, 14))
    )
    monkeypatch.undo()
    assert fired
    assert sorted(_table(spark, root)) == [*range(14), *range(20, 24)]
    assert untracked_hudi_files(root) == []


def test_ledger_only_commit_already_stored_returns_the_latest_instant(
    tmp_path,
):
    """``HudiSink.commit_offsets`` of offsets the ledger already holds
    withdraws its claimed instant and reports the latest instant, as
    the other sinks report their current version."""
    root = str(tmp_path / "t")
    first = HudiSink(root).commit_offsets({"a-0": 3})
    again = HudiSink(root).commit_offsets({"a-0": 3})
    assert again == first
    assert len(completed_commits(root)) == 1
    assert untracked_hudi_files(root) == []


def test_ledger_recheck_reads_only_new_commits(tmp_path, monkeypatch):
    """A stream checks its ledger before every batch; each check
    parses only the commits landed since the last one, not the whole
    timeline again."""
    root = str(tmp_path / "t")
    sink = HudiSink(root)
    reads = []
    real = LocalLogStore.read_bytes

    def read_bytes(self, path):
        if COMPLETED.match(os.path.basename(path)):
            reads.append(path)
        return real(self, path)

    monkeypatch.setattr(LocalLogStore, "read_bytes", read_bytes)
    per_round = []
    for k in range(20):
        before = len(reads)
        assert sink.snapshot()["txn"] == ({"a-0": k - 1} if k else {})
        sink.commit_offsets({"a-0": k})
        per_round.append(len(reads) - before)
    assert max(per_round) <= 1, per_round
