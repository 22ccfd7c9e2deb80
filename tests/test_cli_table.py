"""`python -m kafka_delta_ingest_spark table <loc> <action>`: the admin
CLI over the sink's Delta-parity surface (history, metadata count, DML,
restore, vacuum, change feed)."""

import json
import shutil
import tempfile

import pytest

from kafka_delta_ingest_spark.cli import main
from kafka_delta_ingest_spark.sinks.delta_like import DeltaLikeTable


@pytest.fixture()
def table_dir(spark):
    d = tempfile.mkdtemp(prefix="kdi-clitab-")
    t = DeltaLikeTable(d + "/t")
    t.write_batch(
        spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "id long, val long"
        ).coalesce(1)
    )
    yield d + "/t"
    shutil.rmtree(d, ignore_errors=True)


def test_cli_count_and_history(spark, table_dir, capsys):
    assert main(["table", table_dir, "count"]) == 0
    assert "count=20 source=log" in capsys.readouterr().out
    assert main(["table", table_dir, "history"]) == 0
    out = capsys.readouterr().out
    assert "v=0" in out and "op=STREAMING UPDATE" in out


def test_cli_delete_update_restore(spark, table_dir, capsys):
    assert main(["table", table_dir, "delete", "--where", '[["id", "<", 5]]']) == 0
    assert main(
        [
            "table", table_dir, "update",
            "--where", '[["id", "=", 7]]',
            "--set", '{"val": "val + 1"}',
        ]
    ) == 0
    t = DeltaLikeTable(table_dir)
    got = {r.id: r.val for r in t.read(spark).collect()}
    assert len(got) == 15 and got[7] == 71

    assert main(["table", table_dir, "restore", "--version", "0"]) == 0
    assert DeltaLikeTable(table_dir).read(spark).count() == 20


def test_cli_cdf_changes(spark, table_dir, capsys):
    assert main(["table", table_dir, "enable-cdf"]) == 0
    capsys.readouterr()
    v = DeltaLikeTable(table_dir).latest_version()
    main(["table", table_dir, "delete", "--where", '[["id", "=", 3]]', "--dv"])
    capsys.readouterr()
    assert main(["table", table_dir, "changes", "--version", str(v)]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    rows = [json.loads(l) for l in lines]
    assert [(r["id"], r["_change_type"]) for r in rows] == [("3", "delete")]


def test_cli_vacuum_dry_run(spark, table_dir, capsys):
    main(["table", table_dir, "delete", "--where", '[["id", "<", 100]]'])
    capsys.readouterr()
    assert main(["table", table_dir, "vacuum", "--retention_ms", "0", "--dry_run"]) == 0
    out = capsys.readouterr().out
    assert "would_reclaim=1" in out
    assert main(["table", table_dir, "vacuum", "--retention_ms", "0"]) == 0
    assert "reclaimed=1" in capsys.readouterr().out


def test_cli_table_refuses_standard_delta_table(spark, tmp_path):
    """`table` reads `_kdi_log`; on the standard `_delta_log` table that
    `ingest` writes it must refuse instead of vacuuming every data file
    as unreferenced."""
    import os

    from kafka_delta_ingest_spark.delta_standard import DeltaStandardSink, read_delta

    loc = str(tmp_path / "std")
    DeltaStandardSink(loc).write_batch(
        spark.createDataFrame([(i, i * 10) for i in range(20)], "id long, val long"),
        txn={"app-0": 19},
    )

    def data_files():
        return sorted(
            f for _, _, fs in os.walk(loc) for f in fs if f.endswith(".parquet")
        )

    before = data_files()
    assert before
    for action in (["vacuum", "--retention_ms", "0"], ["count"], ["optimize"]):
        with pytest.raises(SystemExit, match="standard Delta table"):
            main(["table", loc, *action])
    assert data_files() == before
    assert not os.path.exists(os.path.join(loc, "_kdi_log"))
    assert read_delta(spark, loc).count() == 20
