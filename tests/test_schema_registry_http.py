"""LIVE Confluent Schema Registry HTTP e2e (r10; r9 "what's missing"
item 4 — the registry decode was injectable-fetcher-tested only): the
default ``http_fetch`` runs FOR REAL inside executor Arrow workers
against an in-process registry server (localhost sockets work in this
box; only external network is blocked), covering S4/S5's live wire
path (reference src/serialization.rs:212-241, 317-346).

Proves three things no fetcher fake can: the executor-side HTTP call
itself, the 404 -> decode-NULL -> DLQ path on an unknown id, and the
process-wide cache bounding registry traffic to
O(distinct ids x workers) regardless of message volume.
"""

import datetime
import json

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fake_schema_registry import FakeSchemaRegistryServer

from kafka_delta_ingest_spark import avro_python as ap

V1 = json.dumps(
    {
        "type": "record",
        "name": "V1",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "color", "type": "string"},
        ],
    }
)
V2 = json.dumps(
    {
        "type": "record",
        "name": "V2",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "color", "type": "string"},
            {"name": "age", "type": ["null", "long"], "default": None},
        ],
    }
)


def _framed(schema_id: int, value: dict, schema_json: str) -> bytes:
    # Confluent wire format: magic 0x0 + big-endian schema id + body.
    return b"\x00" + schema_id.to_bytes(4, "big") + ap.encode(
        value, ap.parse_schema(schema_json)
    )


def test_live_http_registry_decode_in_executors(spark):
    from kafka_delta_ingest_spark.schema_registry import clear_caches
    from kafka_delta_ingest_spark.serialization import (
        avro_registry_to_json,
        json_text_to_struct,
    )

    clear_caches()
    n = 400
    msgs = [
        (
            _framed(1, {"id": i, "color": "red"}, V1)
            if i % 2
            else _framed(2, {"id": i, "color": "blue", "age": i}, V2),
        )
        for i in range(n)
    ]
    msgs.append((_framed(77, {"id": -1, "color": "x"}, V1),))  # unknown
    dest = StructType(
        [
            StructField("id", LongType()),
            StructField("color", StringType()),
            StructField("age", LongType()),
        ]
    )
    with FakeSchemaRegistryServer({1: V1, 2: V2}) as srv_url:
        df = spark.createDataFrame(msgs, "value binary").repartition(8)
        # fetcher=None -> the REAL http_fetch runs in the workers
        text = avro_registry_to_json(F.col("value"), srv_url)
        parsed, err = json_text_to_struct(text, dest)
        rows = df.select(parsed.alias("p"), err.alias("e")).collect()
        ok = [r.p for r in rows if r.e is None]
        bad = [r for r in rows if r.e is not None]
        assert len(ok) == n and len(bad) == 1  # unknown id -> DLQ path
        assert {p.age for p in ok if p.id % 2} == {None}
        assert all(p.age == p.id for p in ok if p.id % 2 == 0)


def test_live_http_registry_traffic_is_cache_bounded(spark):
    from kafka_delta_ingest_spark.schema_registry import clear_caches
    from kafka_delta_ingest_spark.serialization import (
        avro_registry_to_json,
    )

    clear_caches()
    n = 600
    msgs = [(_framed(1, {"id": i, "color": "c"}, V1),) for i in range(n)]
    srv = FakeSchemaRegistryServer({1: V1})
    with srv as srv_url:
        df = spark.createDataFrame(msgs, "value binary").repartition(16)
        out = df.select(
            avro_registry_to_json(F.col("value"), srv_url).alias("j")
        )
        assert out.filter(F.col("j").isNotNull()).count() == n
        n_workers = spark.sparkContext.defaultParallelism
        reqs = srv.requests
        assert 1 <= len(reqs) <= n_workers  # one fetch per worker max
        assert all(p.startswith("/schemas/ids/1") for p in reqs)


def test_ingest_job_e2e_with_live_registry(spark, tmp_path):
    """Full IngestJob streaming e2e with message_format =
    AVRO_SCHEMA_REGISTRY and NO injected fetcher: wire-format decode,
    registry resolution over live HTTP in the workers, conformance to
    the destination schema, exactly-once ledger."""
    from kafka_delta_ingest_spark.config import (
        IngestOptions,
        MessageFormat,
    )
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardSink,
        read_delta,
    )
    from kafka_delta_ingest_spark.ingest import IngestJob
    from kafka_delta_ingest_spark.schema_registry import clear_caches

    clear_caches()
    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        Row(
            value=bytearray(
                _framed(1, {"id": i, "color": "red"}, V1)
                if i % 2
                else _framed(2, {"id": i, "color": "blue", "age": i}, V2)
            ),
            partition=i % 2,
            offset=i,
            topic="t",
            timestamp=datetime.datetime(2024, 1, 1, 0, 0, i % 60),
            timestampType=0,
        )
        for i in range(30)
    ]
    raw_schema = (
        "value binary, partition int, offset long, topic string, "
        "timestamp timestamp, timestampType int"
    )
    spark.createDataFrame(rows, raw_schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    dest = StructType(
        [
            StructField("id", LongType()),
            StructField("color", StringType()),
            StructField("age", LongType()),
        ]
    )
    with FakeSchemaRegistryServer({1: V1, 2: V2}) as srv_url:
        opts = IngestOptions(
            topic="t",
            table_uri=table_dir,
            app_id="sr_app",
            ends_at_latest_offsets=True,
            message_format=MessageFormat.AVRO_SCHEMA_REGISTRY,
            schema_registry_url=srv_url,
        )
        job = IngestJob(opts, dest)
        q = job.run_stream(
            spark,
            ckpt,
            raw_stream=spark.readStream.schema(raw_schema).parquet(src),
        )
        q.awaitTermination(120)
    t = DeltaStandardSink(table_dir)
    got = {r.id: (r.color, r.age) for r in read_delta(spark, table_dir).collect()}
    assert sorted(got) == list(range(30))
    assert got[3] == ("red", None) and got[4] == ("blue", 4)
    assert t.snapshot()["txn"] == {"sr_app-0": 28, "sr_app-1": 29}
