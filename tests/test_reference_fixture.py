"""Direct parity: ingest the reference's OWN bundled fixture
(tests/json/web_requests-100.json) against the reference's OWN Delta
table schema (tests/data/web_requests/_delta_log/...0.json
schemaString), with the quick-start transforms from README.adoc:41-49 —
the exact workload the reference demos."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import StructType

from kafka_delta_ingest_spark.config import IngestOptions
from kafka_delta_ingest_spark.delta_standard import DeltaStandardWriter, read_delta
from kafka_delta_ingest_spark.ingest import IngestJob

FIXTURE = "/root/reference/tests/json/web_requests-100.json"
DELTA_LOG = (
    "/root/reference/tests/data/web_requests/_delta_log/"
    "00000000000000000000.json"
)

pytestmark = pytest.mark.skipif(
    not (os.path.exists(FIXTURE) and os.path.exists(DELTA_LOG)),
    reason="reference fixtures not present",
)


def _reference_schema() -> StructType:
    with open(DELTA_LOG) as f:
        for line in f:
            action = json.loads(line)
            if "metaData" in action:
                return StructType.fromJson(
                    json.loads(action["metaData"]["schemaString"])
                )
    raise AssertionError("no metaData action in reference delta log")


def test_reference_quickstart_workload(spark, tmp_path):
    schema = _reference_schema()
    with open(FIXTURE) as f:
        messages = [line.strip() for line in f if line.strip()]
    assert len(messages) == 100

    import datetime

    rows = [
        Row(
            value=bytearray(m.encode()),
            partition=i % 4,
            offset=i // 4,
            topic="web_requests",
            timestamp=datetime.datetime(2021, 3, 24, 15, 6, 17),
            timestampType=0,
        )
        for i, m in enumerate(messages)
    ]
    raw = spark.createDataFrame(
        rows,
        "value binary, partition int, offset long, topic string, "
        "timestamp timestamp, timestampType int",
    )

    table_dir = str(tmp_path / "web_requests")
    opts = IngestOptions(
        topic="web_requests",
        table_uri=table_dir,
        app_id="web_requests",
        # README.adoc quick start transforms, verbatim semantics.
        transforms={
            "date": "substr(meta.producer.timestamp, `0`, `10`)",
            "meta.kafka.offset": "kafka.offset",
            "meta.kafka.partition": "kafka.partition",
            "meta.kafka.topic": "kafka.topic",
        },
        partition_by=["date"],
    )
    job = IngestJob(opts, schema)
    m = job.run_batch(raw)
    assert m.delta_write_num_records == 100
    assert m.messages_deserialization_failed == 0

    table = DeltaStandardWriter(table_dir)
    back = read_delta(spark, table_dir)

    # Exact row content against the raw fixture.
    got = {r["uuid"]: r for r in back.collect()}
    src = {json.loads(m)["uuid"]: json.loads(m) for m in messages}
    assert set(got) == set(src)
    for uuid, orig in src.items():
        r = got[uuid]
        assert r["method"] == orig["method"]
        assert r["status"] == orig["status"]
        assert r["url"] == orig["url"]
        assert r["session_id"] == orig["session_id"]
        assert r["meta"]["producer"]["timestamp"] == orig["meta"]["producer"]["timestamp"]
        # quick-start derived date partition
        assert r["date"] == orig["meta"]["producer"]["timestamp"][:10] == "2021-03-24"
        # kafka metadata injected into the nested meta struct
        assert r["meta"]["kafka"]["topic"] == "web_requests"
        assert r["meta"]["kafka"]["partition"] in (0, 1, 2, 3)

    # partitioned layout + txn ledger per kafka partition
    assert os.path.isdir(os.path.join(table_dir, "date=2021-03-24"))
    for p in range(4):
        assert table.txn_version(f"web_requests-{p}") == 24
