"""Streaming CDC apply: a change stream upserted into a standard Delta
table via foreachBatch + MERGE.

The pattern every warehouse ingest uses for mutable sources: each
micro-batch keeps only the LATEST change per key (row_number over a
monotonic sequence), then merges — so the result is identical whether
the engine delivers the files as one micro-batch or several, and a
batch replay after a crash converges to the same state (merge is
idempotent for an already-applied change set).
"""

import shutil
import tempfile
import time

from pyspark.sql import Window, functions as F

from kafka_delta_ingest_spark.delta_standard import DeltaStandardWriter, read_delta


def _latest_per_key(bdf, order_col):
    w = Window.partitionBy("k").orderBy(F.col(order_col).desc())
    return (
        bdf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _upsert(t, spark, src):
    return t.merge(
        spark, src, "source.k = target.k",
        when_matched_update={"v": "source.v", "seq": "source.seq"},
    )


def test_stream_of_changes_upserts_to_latest_state(spark):
    d = tempfile.mkdtemp(prefix="kdi-cdc-")
    try:
        src, ckpt, table = d + "/src", d + "/ckpt", d + "/t"
        t = DeltaStandardWriter(table)
        spark.createDataFrame(
            [(1, "a1", 1), (2, "a2", 2)], "k long, v string, seq long"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)  # distinct mtimes -> stable file->batch order
        spark.createDataFrame(
            [(2, "b2", 3), (3, "b3", 4), (3, "b3x", 5)],
            "k long, v string, seq long",
        ).coalesce(1).write.mode("append").parquet(src)

        def apply_cdc(bdf, _bid):
            latest = _latest_per_key(bdf, "seq")
            if t.latest_version() < 0:  # the first batch creates the table
                t.write(latest)
            else:
                _upsert(t, bdf.sparkSession, latest)

        q = (
            spark.readStream.schema("k long, v string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(apply_cdc)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {r.k: r.v for r in read_delta(spark, table).collect()}
        assert got == {1: "a1", 2: "b2", 3: "b3x"}
        # Replaying the same change set converges (idempotent apply).
        replay = spark.createDataFrame(
            [(2, "b2", 3), (3, "b3x", 5)], "k long, v string, seq long"
        )
        _upsert(t, spark, replay)
        assert {r.k: r.v for r in read_delta(spark, table).collect()} == got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_of_cdf_changes_applies_deletes_and_upserts(spark):
    """A change stream carrying inserts, updates, AND delete tombstones
    (the table_changes row shape) folds into the table per
    micro-batch: the latest change per key, MERGEd with a conditional
    delete clause."""
    d = tempfile.mkdtemp(prefix="kdi-cdcd-")
    try:
        src, ckpt, table = d + "/src", d + "/ckpt", d + "/t"
        t = DeltaStandardWriter(table)
        t.write(
            spark.createDataFrame(
                [(1, "seed1"), (2, "seed2"), (3, "seed3")], "k long, v string"
            )
        )
        schema = "k long, v string, _change_type string, _commit_version long"
        spark.createDataFrame(
            [(2, "upd2", "update_postimage", 10), (4, "new4", "insert", 10)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        spark.createDataFrame(
            [(1, "seed1", "delete", 11), (4, "new4x", "update_postimage", 12)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

        def apply_feed(bdf, _bid):
            latest = _latest_per_key(bdf, "_commit_version")
            # a tombstone for a key the table never held inserts nothing
            held = read_delta(bdf.sparkSession, table).select("k")
            changes = latest.filter("_change_type != 'delete'").unionByName(
                latest.filter("_change_type = 'delete'").join(held, "k", "left_semi")
            )
            t.merge(
                bdf.sparkSession,
                changes,
                "source.k = target.k",
                when_matched_delete="source._change_type = 'delete'",
                when_matched_update={"v": "source.v"},
                when_not_matched_insert={"k": "source.k", "v": "source.v"},
            )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(apply_feed)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {r.k: r.v for r in read_delta(spark, table).collect()}
        assert got == {2: "upd2", 3: "seed3", 4: "new4x"}
    finally:
        shutil.rmtree(d, ignore_errors=True)
