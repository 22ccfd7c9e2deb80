"""CHECK constraints on the STANDARD Delta log.

ALTER TABLE ADD CONSTRAINT parity for DeltaStandardWriter: the
constraint rides in metaData configuration (``delta.constraints.*``,
the protocol channel delta-spark enforces) with the protocol bumped
to minWriterVersion 3; existing rows are validated before the DDL is
accepted; write/UPDATE/MERGE all enforce; NULL check results satisfy
(SQL standard). See also tests/test_constraints.py.
"""

import json
import os
import shutil
import tempfile

import pytest

from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardWriter,
    read_delta,
)
from kafka_delta_ingest_spark.sinks.base import ConstraintViolation


def _w(spark, rows=None):
    root = tempfile.mkdtemp(prefix="kdi-stdcon-") + "/t"
    w = DeltaStandardWriter(root)
    rows = rows or [(i, i + 1) for i in range(5)]
    w.write(spark.createDataFrame(rows, "id long, qty long"))
    return w, root


def test_add_constraint_blocks_violating_write(spark):
    w, root = _w(spark)
    try:
        v = w.add_constraint(spark, "qty_positive", "qty > 0")
        assert w.constraints() == {"qty_positive": "qty > 0"}
        # protocol bumped to the constraint-enforcing writer version
        with open(
            os.path.join(root, "_delta_log", f"{v:020d}.json")
        ) as f:
            acts = [json.loads(l) for l in f]
        assert {"minReaderVersion": 1, "minWriterVersion": 3} in [
            a.get("protocol") for a in acts
        ]
        with pytest.raises(ConstraintViolation, match="qty_positive"):
            w.write(spark.createDataFrame([(99, -1)], "id long, qty long"))
        assert read_delta(spark, root).count() == 5  # nothing landed
        w.write(spark.createDataFrame([(100, 7)], "id long, qty long"))
        assert read_delta(spark, root).count() == 6
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_add_constraint_scans_existing_rows(spark):
    w, root = _w(spark, rows=[(1, -5)])
    try:
        with pytest.raises(ConstraintViolation, match="existing"):
            w.add_constraint(spark, "qty_positive", "qty > 0")
        assert w.constraints() == {}
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_null_satisfies_and_drop_constraint(spark):
    w, root = _w(spark)
    try:
        w.add_constraint(spark, "qty_positive", "qty > 0")
        # NULL check result satisfies (SQL standard)
        w.write(
            spark.createDataFrame([(7, None)], "id long, qty long")
        )
        assert read_delta(spark, root).count() == 6
        w.drop_constraint("qty_positive")
        w.write(spark.createDataFrame([(8, -3)], "id long, qty long"))
        assert read_delta(spark, root).count() == 7
        with pytest.raises(ValueError, match="no such constraint"):
            w.drop_constraint("qty_positive")
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_update_and_merge_enforce(spark):
    w, root = _w(spark)
    try:
        w.add_constraint(spark, "qty_positive", "qty > 0")
        with pytest.raises(ConstraintViolation, match="qty_positive"):
            w.update_where(spark, "id = 1", {"qty": "-9"})
        src = spark.createDataFrame([(2, -4)], "id long, qty long")
        with pytest.raises(ConstraintViolation, match="qty_positive"):
            w.merge(
                spark, src, "source.id = target.id",
                when_matched_update={"qty": "source.qty"},
            )
        # untouched by the refused mutations
        got = {
            r["id"]: r["qty"] for r in read_delta(spark, root).collect()
        }
        assert got == {0: 1, 1: 2, 2: 3, 3: 4, 4: 5}
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_duplicate_constraint_refused(spark):
    w, root = _w(spark)
    try:
        w.add_constraint(spark, "c", "qty > 0")
        with pytest.raises(ValueError, match="already exists"):
            w.add_constraint(spark, "c", "qty > 1")
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_concurrent_constraint_ddls_not_lost(spark, monkeypatch):
    """Two ADD CONSTRAINTs racing from the same snapshot: the loser's
    commit conflicts instead of erasing the winner's constraint, and
    its retry (a fresh snapshot) lands both."""
    from kafka_delta_ingest_spark.delta_standard import ConcurrentDeltaWriteError

    w, root = _w(spark)
    try:
        b = DeltaStandardWriter(root)
        # B's snapshot read sees the pre-race version; A commits first.
        stale = [w.latest_version()]
        real = b.latest_version
        monkeypatch.setattr(
            b, "latest_version", lambda: stale.pop() if stale else real()
        )
        w.add_constraint(spark, "a_pos", "id >= 0")
        with pytest.raises(ConcurrentDeltaWriteError):
            b.add_constraint(spark, "b_pos", "qty > 0")
        assert w.constraints() == {"a_pos": "id >= 0"}
        b.add_constraint(spark, "b_pos", "qty > 0")
        assert set(w.constraints()) == {"a_pos", "b_pos"}
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)
