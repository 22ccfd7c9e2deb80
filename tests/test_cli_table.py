"""`python -m kafka_delta_ingest_spark table <loc> <action>`: the admin
CLI over a standard ``_delta_log`` table (history, metadata count, DML,
restore, vacuum, change feed)."""

import json
import os
import time

import pytest

from kafka_delta_ingest_spark.cli import main
from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardSink,
    DeltaStandardWriter,
    read_delta,
)


@pytest.fixture()
def table_dir(spark, tmp_path):
    loc = str(tmp_path / "t")
    DeltaStandardWriter(loc).write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "id long, val long"
        ).coalesce(1)
    )
    return loc


def test_cli_count_and_history(spark, table_dir, capsys):
    assert main(["table", table_dir, "count"]) == 0
    assert "count=20 source=log" in capsys.readouterr().out
    assert main(["table", table_dir, "count", "--where", "id < 5"]) == 0
    assert "count=5 source=scan" in capsys.readouterr().out
    assert main(["table", table_dir, "history"]) == 0
    out = capsys.readouterr().out
    assert "v=0" in out and "op=WRITE" in out


def test_cli_delete_update_restore(spark, table_dir, capsys):
    assert main(["table", table_dir, "delete", "--where", "id < 5"]) == 0
    assert main(
        [
            "table", table_dir, "update",
            "--where", "id = 7",
            "--set", '{"val": "val + 1"}',
        ]
    ) == 0
    got = {r.id: r.val for r in read_delta(spark, table_dir).collect()}
    assert len(got) == 15 and got[7] == 71
    # the DV delete is subtracted from the log count
    capsys.readouterr()
    assert main(["table", table_dir, "count"]) == 0
    assert "count=15 source=log" in capsys.readouterr().out

    assert main(["table", table_dir, "restore", "--version", "0"]) == 0
    assert read_delta(spark, table_dir).count() == 20


def test_cli_cdf_changes(spark, table_dir, capsys):
    assert main(["table", table_dir, "enable-cdf"]) == 0
    v = int(capsys.readouterr().out.strip().split("=")[1])
    main(["table", table_dir, "delete", "--where", "id = 3"])
    capsys.readouterr()
    assert main(["table", table_dir, "changes", "--version", str(v + 1)]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    rows = [json.loads(l) for l in lines]
    assert [(r["id"], r["_change_type"]) for r in rows] == [("3", "delete")]


def test_cli_vacuum_reclaims_tombstones(spark, table_dir, capsys):
    """An OPTIMIZE tombstones the small files; vacuum inside the
    retention window reclaims nothing, with retention 0 it reclaims
    exactly the tombstoned files."""
    DeltaStandardWriter(table_dir).write(
        spark.createDataFrame([(100, 0)], "id long, val long")
    )
    assert main(["table", table_dir, "optimize"]) == 0
    capsys.readouterr()
    assert main(["table", table_dir, "vacuum"]) == 0
    assert "reclaimed=0" in capsys.readouterr().out
    assert main(["table", table_dir, "vacuum", "--retention_ms", "0"]) == 0
    assert "reclaimed=2" in capsys.readouterr().out
    assert read_delta(spark, table_dir).count() == 21


def test_cli_vacuum_keeps_ingest_checkpoint(spark, table_dir, capsys):
    """`ingest` keeps its streaming checkpoint inside the table root
    by default; vacuum, like Delta's, never touches ``_``- or
    ``.``-prefixed names, however old."""
    kept = [
        os.path.join(table_dir, "_kdi_checkpoints", "app-0", "offsets", "0"),
        os.path.join(table_dir, ".part-0.parquet.crc"),
    ]
    old = time.time() - 30 * 24 * 3600
    for p in kept:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write("v1")
        os.utime(p, (old, old))
    assert main(["table", table_dir, "vacuum", "--retention_ms", "0"]) == 0
    assert "reclaimed=0" in capsys.readouterr().out
    assert all(os.path.exists(p) for p in kept)
    assert read_delta(spark, table_dir).count() == 20


def test_cli_table_administers_ingested_table(spark, tmp_path, capsys):
    """The table `ingest` writes (a DeltaStandardSink with a txn
    ledger) takes every admin action; vacuum deletes no live file,
    and no admin commit moves the ledger, so `ingest` resumes without
    a replay."""
    loc = str(tmp_path / "std")
    sink = DeltaStandardSink(loc)
    sink.write_batch(
        spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "id long, val long"
        ).coalesce(1),
        txn={"app-0": 19},
    )
    ledger = sink.snapshot()["txn"]

    def live_files():
        return {
            os.path.join(loc, p)
            for p in DeltaStandardWriter(loc)._py_replay()["adds"]
        }

    def run(*action):
        assert main(["table", loc, *action]) == 0
        assert sink.snapshot()["txn"] == ledger == {"app-0": 19}
        return capsys.readouterr().out

    assert "count=20 source=log" in run("count")
    assert "op=WRITE" in run("history")
    run("delete", "--where", "id < 5")
    run("update", "--where", "id = 7", "--set", '{"val": "val + 1"}')
    run("restore", "--version", "0")
    v = int(run("enable-cdf").strip().split("=")[1])
    run("delete", "--where", "id = 3")
    changes = [json.loads(l) for l in run("changes", "--version", str(v + 1)).splitlines()]
    assert [(r["id"], r["_change_type"]) for r in changes] == [("3", "delete")]

    before = live_files()
    assert all(os.path.exists(p) for p in before)
    run("vacuum", "--retention_ms", "0")
    assert live_files() == before
    assert all(os.path.exists(p) for p in before)
    got = {r.id: r.val for r in read_delta(spark, loc).collect()}
    assert len(got) == 19 and got[7] == 70
