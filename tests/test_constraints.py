"""CHECK constraints: Delta ALTER TABLE ADD CONSTRAINT parity on the
standard log — appends, MERGE, checkpoints and schema evolution."""

import pytest
from pyspark.sql import Row

from kafka_delta_ingest_spark.delta_standard import DeltaStandardWriter, read_delta
from kafka_delta_ingest_spark.sinks.base import ConstraintViolation


def _t(spark, tmp_path, rows=None):
    t = DeltaStandardWriter(str(tmp_path / "t"))
    rows = rows or [Row(id=i, qty=i + 1) for i in range(5)]
    t.write(spark.createDataFrame(rows))
    return t


def _count(spark, t):
    return read_delta(spark, t.root).count()


def test_constraint_blocks_violating_append(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_constraint(spark, "qty_positive", "qty > 0")
    assert t.constraints() == {"qty_positive": "qty > 0"}

    with pytest.raises(ConstraintViolation, match="qty_positive"):
        t.write(spark.createDataFrame([Row(id=99, qty=-1)]))
    # The failed transaction left nothing behind.
    assert _count(spark, t) == 5

    t.write(spark.createDataFrame([Row(id=100, qty=7)]))
    assert _count(spark, t) == 6


def test_constraint_null_satisfies(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_constraint(spark, "qty_positive", "qty > 0")
    t.write(spark.createDataFrame([(7, None)], "id long, qty long"))
    assert _count(spark, t) == 6  # NULL passes (SQL CHECK semantics)


def test_add_constraint_rejects_violating_table(spark, tmp_path):
    t = _t(spark, tmp_path, rows=[Row(id=0, qty=-5), Row(id=1, qty=3)])
    with pytest.raises(ConstraintViolation, match="1 existing"):
        t.add_constraint(spark, "qty_positive", "qty > 0")
    assert t.constraints() == {}


def test_constraint_survives_checkpoint_and_drop(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_constraint(spark, "qty_positive", "qty > 0")
    for i in range(10):  # drive past a checkpoint boundary
        t.write(spark.createDataFrame([Row(id=200 + i, qty=1)]))
    assert t.latest_version() >= t.checkpoint_every
    assert t.constraints() == {"qty_positive": "qty > 0"}
    with pytest.raises(ConstraintViolation):
        t.write(spark.createDataFrame([Row(id=999, qty=0)]))

    t.drop_constraint("qty_positive")
    t.write(spark.createDataFrame([Row(id=999, qty=0)]))
    assert read_delta(spark, t.root).filter("id = 999").count() == 1
    with pytest.raises(ValueError):
        t.drop_constraint("qty_positive")


def test_merge_enforces_constraints(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_constraint(spark, "qty_positive", "qty > 0")
    bad = spark.createDataFrame([Row(id=2, qty=-9)])
    with pytest.raises(ConstraintViolation):
        t.merge(
            spark, bad, "source.id = target.id",
            when_matched_update={"qty": "source.qty"},
        )
    assert read_delta(spark, t.root).filter("qty < 0").count() == 0


def test_constraint_survives_schema_evolution(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = _t(spark, tmp_path)
    t.add_constraint(spark, "qty_positive", "qty > 0")
    t.evolve_schema(
        StructType(
            [
                StructField("id", LongType()),
                StructField("qty", LongType()),
                StructField("note", StringType()),
            ]
        )
    )
    assert t.constraints() == {"qty_positive": "qty > 0"}
    with pytest.raises(ConstraintViolation):
        t.write(spark.createDataFrame([Row(id=9, qty=-2, note="x")]))
