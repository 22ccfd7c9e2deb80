"""Batch shape of ``IngestJob.process_batch``: a micro-batch narrower
than the cluster is hash-spread before the message path and regrouped
by the table's partition columns before the write; a wide one keeps
the exchange-free plan. The message path is compiled once per schema,
and a batch runs at most seven Spark jobs. Also the slimmed DLQ payload
columns, the job-free width check, the ``delta.write.failed``
counter, and a DLQ that takes each batch exactly once across failures
and replays, with a crash at each log-store write call of a batch into
a Delta, a Hudi (CoW, MoR) or an Iceberg data table."""

import base64
import datetime
import json
import os
import shutil
import uuid

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka_delta_ingest_spark import delta_standard, ingest, logstore
from kafka_delta_ingest_spark.config import IngestOptions
from kafka_delta_ingest_spark.dead_letters import DeadLetterQueue
from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardSink,
    DeltaStandardWriter,
    read_delta,
)
from kafka_delta_ingest_spark.hudi import HudiSink
from kafka_delta_ingest_spark.iceberg import IcebergSink, read_iceberg
from kafka_delta_ingest_spark.ingest import (
    CONFORM_COL,
    ERROR_COL,
    PRE_COERCE_JSON_COL,
    RAW_COL,
    IngestJob,
    narrow_width,
)
from kafka_delta_ingest_spark.logstore import LocalLogStore
from kafka_delta_ingest_spark.metrics import DELTA_WRITE_COMPLETED, DELTA_WRITE_FAILED
from kafka_delta_ingest_spark.transforms import Transformer

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("ts", TimestampType()),
        StructField("date", StringType()),
    ]
)
RAW_DDL = (
    "value binary, partition int, offset long, topic string, "
    "timestamp timestamp, timestampType int"
)
DATES = ("2024-03-01", "2024-03-02", "2024-03-03")
DESER_BYTES = "{not json: é".encode()
BAD_TS = "2024-03-02 10:00:00"  # no offset: not RFC3339


def _messages(batch: int, n: int = 60, bad: bool = True,
              extra=None) -> list[tuple[int, bytes]]:
    """(id, payload) for one batch: good rows over three dates, then
    (if ``bad``) one unparseable payload and one with a non-RFC3339
    ``ts``. ``extra(i)`` adds fields to each good payload."""
    out = []
    for k in range(n):
        i = batch * 1000 + k
        ts = f"{DATES[k % 3]}T{k % 24:02d}:00:00Z"
        payload = {"id": i, "ts": ts, **(extra(i) if extra else {})}
        out.append((i, json.dumps(payload).encode()))
    if bad:
        out.append((batch * 1000 + n, DESER_BYTES))
        i = batch * 1000 + n + 1
        out.append((i, json.dumps({"id": i, "ts": BAD_TS}).encode()))
    return out


def _raw(spark, batch: int, splits: int = 1, **kw):
    """A Kafka-layout frame in ``splits`` input partitions, like the
    frame foreachBatch hands over (a scan of an existing RDD)."""
    stamp = datetime.datetime(2024, 3, 1)
    rows = [
        (bytearray(v), i % 4, i, "events", stamp, 0)
        for i, v in _messages(batch, **kw)
    ]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, splits), RAW_DDL
    )


def _plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def _exchanges(df) -> list[str]:
    """The partitioning of every shuffle exchange in ``df``'s physical
    plan, each exchange once. The walk enters a cached relation through
    its adaptive plan's current plan: the explain string prints an
    adaptive plan that has run twice, as its final and initial plan."""
    out = []

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if name.endswith("QueryStage"):
            return walk(node.plan())
        if name == "InMemoryTableScan":
            walk(node.relation().cachedPlan())
        if name == "Exchange":
            out.append(node.outputPartitioning().toString())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


class RecordingSink(DeltaStandardSink):
    """A real standard-Delta sink that keeps the plan and the shuffle
    exchanges of every frame handed to ``write_batch``."""

    def __init__(self, path):
        super().__init__(path)
        self.plans = []
        self.exchanges = []

    def write_batch(self, df, partition_by=None, txn=None):
        self.plans.append(_plan(df))
        self.exchanges.append(_exchanges(df))
        return super().write_batch(df, partition_by, txn)


def _job(tmp_path, partition_by=("date",), sink=None, dlq_transforms=None):
    opts = IngestOptions(
        topic="events",
        table_uri=str(tmp_path / "table"),
        dlq_table_location=str(tmp_path / "dlq"),
        transforms={"date": "substr(ts, `0`, `10`)"},
        dlq_transforms=dlq_transforms or {},
        partition_by=list(partition_by),
    )
    if sink is None:
        sink = RecordingSink(opts.table_uri)
    return IngestJob(opts, SCHEMA, sink=sink)


def _adds(table: str, version: int) -> list[dict]:
    path = os.path.join(table, "_delta_log", f"{version:020d}.json")
    with open(path) as f:
        acts = [json.loads(line) for line in f if line.strip()]
    return [a["add"] for a in acts if "add" in a]


def test_single_split_batch_is_spread_and_regrouped_by_date(spark, tmp_path):
    job = _job(tmp_path)
    for batch in range(2):
        m = job.run_batch(_raw(spark, batch))
        assert m.delta_write_num_records == 60
        p = " ".join(job.table.exchanges[-1])
        # one regroup on the table's partition column, after the
        # message path's spread on the Kafka coordinates
        assert p.count("hashpartitioning(date") == 1
        assert p.count("hashpartitioning(partition") == 1
        adds = _adds(job.opts.table_uri, m.version)
        assert sorted(a["partitionValues"]["date"] for a in adds) == list(DATES)
        assert len(_adds(job.opts.dlq_table_location, batch)) == 1
    assert read_delta(spark, job.opts.table_uri).count() == 120


def test_unpartitioned_table_writes_one_file_per_batch(spark, tmp_path):
    job = _job(tmp_path, partition_by=())
    for batch in range(2):
        m = job.run_batch(_raw(spark, batch))
        assert len(_adds(job.opts.table_uri, m.version)) == 1
        assert "SinglePartition" in job.table.plans[-1]


def test_wide_batch_keeps_the_exchange_free_plan(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    raw = _raw(spark, 0, splits=width)
    assert narrow_width(raw) is None
    job = _job(tmp_path)
    m = job.run_batch(raw)
    assert "Exchange" not in job.table.plans[-1]
    assert m.delta_write_num_records == 60
    assert read_delta(spark, job.opts.table_uri).count() == 60


def test_width_check_runs_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    width = sc.defaultParallelism
    path = str(tmp_path / "src")
    _raw(spark, 0).coalesce(1).write.parquet(path)
    frames = {
        "rdd": (_raw(spark, 0), width),
        "file": (spark.read.schema(RAW_DDL).parquet(path), width),
        "shuffled": (_raw(spark, 0).repartition(width + 1), None),
    }
    st = sc.statusTracker()
    group = "kdi-width-check"
    sc.setJobGroup(group, group)
    try:
        for name, (df, want) in frames.items():
            assert narrow_width(df) == want, name
        assert st.getJobIdsForGroup(group) == []
        frames["file"][0].count()  # the probe does see jobs
        assert st.getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_dlq_payloads_survive_the_slim_cache(spark, tmp_path):
    job = _job(tmp_path)
    planned = job.plan(_raw(spark, 0)).collect()
    good = [r for r in planned if r[ERROR_COL] is None and r[CONFORM_COL]]
    assert len(good) == 60
    assert all(r[RAW_COL] is None and r[PRE_COERCE_JSON_COL] is None for r in good)

    job.run_batch(_raw(spark, 0))
    dead = read_delta(spark, job.opts.dlq_table_location).collect()
    deser = [r for r in dead if r.base64_bytes is not None]
    coerce = [r for r in dead if r.error == "FailedToCoerceToDestinationSchema"]
    assert len(dead) == 2 and len(deser) == 1 and len(coerce) == 1
    assert base64.b64decode(deser[0].base64_bytes) == DESER_BYTES
    assert deser[0].json_string is None
    assert coerce[0].base64_bytes is None
    assert json.loads(coerce[0].json_string) == {
        "id": 61, "ts": BAD_TS, "date": BAD_TS[:10],
    }
    rows = read_delta(spark, job.opts.table_uri).selectExpr(
        "id", "date_format(ts, \"yyyy-MM-dd'T'HH:mm:ss'Z'\") AS ts", "date"
    ).collect()
    want = set()
    for i, v in _messages(0)[:60]:
        ts = json.loads(v)["ts"]
        want.add((i, ts, ts[:10]))
    assert {(r.id, r.ts, r.date) for r in rows} == want


def test_non_utf8_unparseable_message_lands_in_dlq(spark, tmp_path):
    """A payload that is neither JSON nor UTF-8 must reach the DLQ
    with its exact bytes: the string columns holding it get no
    footer min/max in the add stats (a non-UTF-8 bound cannot be
    decoded), and the write does not crash on it."""
    job = _job(tmp_path)
    stamp = datetime.datetime(2024, 3, 1)
    bad = b"\xff\xfeabc"
    good = json.dumps({"id": 1, "ts": "2024-03-01T00:00:00Z"}).encode()
    raw = spark.createDataFrame(
        [
            (bytearray(good), 0, 0, "events", stamp, 0),
            (bytearray(bad), 0, 1, "events", stamp, 0),
        ],
        RAW_DDL,
    )
    m = job.run_batch(raw)
    assert m.delta_write_num_records == 1
    (dead,) = read_delta(spark, job.opts.dlq_table_location).collect()
    assert base64.b64decode(dead.base64_bytes) == bad
    dlq = DeltaStandardSink(job.opts.dlq_table_location)
    (add,) = dlq.w._py_replay()["adds"].values()
    stats = json.loads(add["stats"])
    assert stats["numRecords"] == 1
    # the error message quotes the payload: no bounds, nullCount kept
    assert "error" not in stats["minValues"] and "error" not in stats["maxValues"]
    assert stats["nullCount"]["error"] == 0
    assert stats["minValues"]["base64_bytes"] == dead.base64_bytes


class FailingSink(DeltaStandardSink):
    def write_batch(self, df, partition_by=None, txn=None):
        raise OSError("disk full")


def test_failed_sink_write_counts_delta_write_failed(spark, tmp_path):
    job = _job(tmp_path, sink=FailingSink(str(tmp_path / "table")))
    with pytest.raises(OSError, match="disk full"):
        job.run_batch(_raw(spark, 0))
    totals = job.metrics.totals()
    assert totals[DELTA_WRITE_FAILED] == 1
    assert DELTA_WRITE_COMPLETED not in totals
    assert job.metrics_history == []


def _dlq_rows(spark, job) -> int:
    return read_delta(spark, job.opts.dlq_table_location).count()


def test_dlq_write_failure_replays_exactly_once(spark, tmp_path, monkeypatch):
    """The DLQ commits first: when it fails, the data table has not
    taken the batch either, and a fresh job's replay lands both."""

    def failing(self, dlq_df, txn=None):
        raise OSError("dlq disk full")

    monkeypatch.setattr(DeadLetterQueue, "write", failing)
    with pytest.raises(OSError, match="dlq disk full"):
        _job(tmp_path).run_batch(_raw(spark, 0))
    monkeypatch.undo()
    job = _job(tmp_path)
    job.run_batch(_raw(spark, 0))
    assert read_delta(spark, job.opts.table_uri).count() == 60
    assert _dlq_rows(spark, job) == 2


def test_data_write_failure_after_dlq_commit_replays_exactly_once(
    spark, tmp_path
):
    """The DLQ committed the batch's txn, the data write failed: the
    replay skips the DLQ and lands the data."""
    job = _job(tmp_path, sink=FailingSink(str(tmp_path / "table")))
    with pytest.raises(OSError, match="disk full"):
        job.run_batch(_raw(spark, 0))
    assert _dlq_rows(spark, job) == 2
    job = _job(tmp_path)
    job.run_batch(_raw(spark, 0))
    assert read_delta(spark, job.opts.table_uri).count() == 60
    assert _dlq_rows(spark, job) == 2


def test_same_batch_twice_appends_dead_letters_once(spark, tmp_path):
    job = _job(tmp_path)
    job.run_batch(_raw(spark, 0))
    m = job.run_batch(_raw(spark, 0))
    assert m.skipped
    assert read_delta(spark, job.opts.table_uri).count() == 60
    assert _dlq_rows(spark, job) == 2


class FaultyLogStore(LocalLogStore):
    """A local ``LogStore`` that numbers its write calls
    (``put_if_absent``, ``put_atomic``, ``remove``) in ``plan``, which
    every store of one run shares, and fails call ``plan["at"]``:
    before the write (``"before"``) or after it landed (``"after"``)."""

    def __init__(self, plan):
        self.plan = plan

    def _write(self, name, write):
        plan = self.plan
        plan["calls"].append(name)
        hit = len(plan["calls"]) == plan["at"]
        if hit and plan["mode"] == "before":
            raise OSError(f"injected fault before {name}")
        out = write()
        if hit:
            raise OSError(f"injected fault after {name}")
        return out

    def put_if_absent(self, path, data):
        return self._write(
            "put_if_absent", lambda: LocalLogStore.put_if_absent(self, path, data)
        )

    def put_atomic(self, path, data):
        return self._write(
            "put_atomic", lambda: LocalLogStore.put_atomic(self, path, data)
        )

    def remove(self, path):
        return self._write("remove", lambda: LocalLogStore.remove(self, path))


# The write calls of a dirty batch landing at version 10 of both
# tables: the DLQ commit and its checkpoint (parquet, then the
# _last_checkpoint pointer), then the data commit and its checkpoint.
BATCH_WRITES = ["put_if_absent", "put_atomic", "put_atomic"] * 2


@pytest.fixture(scope="module")
def crash_base(spark, tmp_path_factory):
    """Data table and DLQ after batch 0, each at version 9: nine
    ledger-only commits of another app follow the batch, so batch 1
    lands at version 10 and checkpoints."""
    base = tmp_path_factory.mktemp("crash")
    job = _job(base, sink=DeltaStandardSink(str(base / "table")))
    job.run_batch(_raw(spark, 0))
    for table in (job.opts.table_uri, job.opts.dlq_table_location):
        sink = DeltaStandardSink(table)
        for i in range(9):
            sink.commit_offsets({"filler-0": i})
    return base


@pytest.mark.parametrize(
    "at, mode",
    [(None, None)]
    + [(i, "before") for i in range(1, len(BATCH_WRITES) + 1)]
    + [(1, "after"), (4, "after")],
)
def test_crash_at_each_write_call_replays_exactly_once(
    spark, tmp_path, monkeypatch, crash_base, at, mode
):
    """Crash points of one dirty batch into a Delta table and its DLQ:
    the log store fails at each write call of the batch, and a fresh
    job replays it. Both tables then hold each row once, both ledgers
    hold the batch's offsets, and unless the fault hit a claim (whose
    commit may have landed) no untracked parquet is left behind."""
    from tests.conftest import untracked_parquet

    base = tmp_path / "t"
    shutil.copytree(crash_base, base)
    plan = {"at": at, "mode": mode, "calls": []}
    monkeypatch.setattr(
        delta_standard, "get_log_store", lambda uri: FaultyLogStore(plan)
    )
    job = _job(base, sink=DeltaStandardSink(str(base / "table")))
    if at is None:
        job.run_batch(_raw(spark, 1))
        assert plan["calls"] == BATCH_WRITES
    else:
        with pytest.raises(OSError, match="injected fault"):
            job.run_batch(_raw(spark, 1))
        assert plan["calls"] == BATCH_WRITES[:at]
    monkeypatch.undo()
    _job(base, sink=DeltaStandardSink(str(base / "table"))).run_batch(
        _raw(spark, 1)
    )

    table, dlq = job.opts.table_uri, job.opts.dlq_table_location
    ids = sorted(r.id for r in read_delta(spark, table).select("id").collect())
    assert ids == list(range(60)) + list(range(1000, 1060))
    assert _dlq_rows(spark, job) == 4
    offsets = {}
    for i, _ in _messages(1):
        key = f"{job.opts.app_id}-{i % 4}"
        offsets[key] = max(offsets.get(key, i), i)
    model = {**offsets, "filler-0": 8}
    assert DeltaStandardSink(table).snapshot()["txn"] == model
    assert DeltaStandardSink(dlq).snapshot()["txn"] == model
    if mode is None or BATCH_WRITES[at - 1] != "put_if_absent":
        assert untracked_parquet(table) == []
        assert untracked_parquet(dlq) == []


# The write calls of a dirty batch into a Hudi table: the DLQ's Delta
# claim (faulted by the Delta slice above), then the instant claim, the
# .inflight marker and the completed-instant publish.
HUDI_BATCH_WRITES = ["put_if_absent", "put_if_absent"] + ["put_atomic"] * 2


def _hudi_sink(base, fmt):
    """The data table of the Hudi harness: a CoW append table, or a
    MoR table taking each batch as an upsert by ``id``."""
    mor = fmt == "hudi_mor"
    return HudiSink(
        str(base / "table"), mor=mor, record_key="id" if mor else None
    )


@pytest.fixture(scope="module")
def hudi_crash_base(spark, tmp_path_factory):
    """Per format, a Hudi data table and its Delta DLQ after batch 0."""
    bases = {}
    for fmt in ("hudi", "hudi_mor"):
        base = tmp_path_factory.mktemp(fmt)
        _job(base, sink=_hudi_sink(base, fmt)).run_batch(_raw(spark, 0))
        bases[fmt] = base
    return bases


@pytest.mark.parametrize(
    "at, mode",
    [(i, "before") for i in range(2, len(HUDI_BATCH_WRITES) + 1)]
    + [(len(HUDI_BATCH_WRITES), "after")],
)
@pytest.mark.parametrize("fmt", ["hudi", "hudi_mor"])
def test_crash_at_each_hudi_write_call_replays_exactly_once(
    spark, tmp_path, monkeypatch, hudi_crash_base, fmt, at, mode
):
    """The harness's Hudi slice: one dirty batch into a Hudi table and
    its Delta DLQ, with the log store failing at each write call of
    the Hudi commit, before the write and, for the publish, after it;
    a fresh job replays the batch. Both tables then hold each row
    once, both ledgers hold the batch's offsets, and neither an
    untracked file nor a pending instant is left: an aborted write
    cleans up at once, and so does a publish that raised before it
    landed."""
    from tests.conftest import untracked_hudi_files, untracked_parquet

    base = tmp_path / "t"
    shutil.copytree(hudi_crash_base[fmt], base)
    plan = {"at": at, "mode": mode, "calls": []}
    for module in (delta_standard, logstore):
        monkeypatch.setattr(
            module, "get_log_store", lambda uri: FaultyLogStore(plan)
        )
    job = _job(base, sink=_hudi_sink(base, fmt))
    with pytest.raises(OSError, match="injected fault"):
        job.run_batch(_raw(spark, 1))
    # an abort's withdrawals follow the fault
    assert plan["calls"][:at] == HUDI_BATCH_WRITES[:at]
    assert set(plan["calls"][at:]) <= {"remove"}
    monkeypatch.undo()
    table, dlq = job.opts.table_uri, job.opts.dlq_table_location
    if mode == "before":
        assert untracked_hudi_files(table) == []
    _job(base, sink=_hudi_sink(base, fmt)).run_batch(_raw(spark, 1))

    sink = _hudi_sink(base, fmt)
    ids = sorted(r.id for r in sink.read(spark).select("id").collect())
    assert ids == list(range(60)) + list(range(1000, 1060))
    assert _dlq_rows(spark, job) == 4
    offsets = {}
    for i, _ in _messages(1):
        key = f"{job.opts.app_id}-{i % 4}"
        offsets[key] = max(offsets.get(key, i), i)
    assert sink.snapshot()["txn"] == offsets
    assert DeltaStandardSink(dlq).snapshot()["txn"] == offsets
    assert untracked_hudi_files(table) == []
    assert untracked_parquet(dlq) == []


# The write calls of a dirty batch into an Iceberg table: the DLQ's
# Delta claim, then the manifest, the manifest list, the metadata
# claim and the version-hint swap.
ICEBERG_BATCH_WRITES = ["put_if_absent", "put_atomic", "put_atomic",
                        "put_if_absent", "put_atomic"]


@pytest.mark.parametrize(
    "at, mode",
    [(i, "before") for i in range(1, len(ICEBERG_BATCH_WRITES) + 1)]
    + [(4, "after"), (5, "after")],
)
def test_crash_at_each_iceberg_write_call_replays_exactly_once(
    spark, tmp_path, monkeypatch, at, mode
):
    """The harness's Iceberg slice: one dirty batch into an Iceberg
    table and its Delta DLQ, with the log store failing at each write
    call of the batch, before the write and, for the metadata claim
    and the hint swap, after it; a fresh job replays the batch. Both
    tables then hold each row once, both ledgers hold the batch's
    offsets, and the Iceberg table has no untracked file: a commit
    that did not land cleans up before the error propagates. Iceberg manifests name
    absolute paths, so each case writes its own batch 0 rather than
    copying a shared table."""
    from tests.conftest import untracked_iceberg_files, untracked_parquet

    base = tmp_path / "t"
    _job(base, sink=IcebergSink(str(base / "table"), SCHEMA)).run_batch(
        _raw(spark, 0)
    )
    plan = {"at": at, "mode": mode, "calls": []}
    for module in (delta_standard, logstore):
        monkeypatch.setattr(
            module, "get_log_store", lambda uri: FaultyLogStore(plan)
        )
    job = _job(base, sink=IcebergSink(str(base / "table"), SCHEMA))
    with pytest.raises(OSError, match="injected fault"):
        job.run_batch(_raw(spark, 1))
    # an abort's withdrawals follow the fault
    assert plan["calls"][:at] == ICEBERG_BATCH_WRITES[:at]
    assert set(plan["calls"][at:]) <= {"remove"}
    monkeypatch.undo()
    table, dlq = job.opts.table_uri, job.opts.dlq_table_location
    if at > 1:
        assert untracked_iceberg_files(table) == []
    _job(base, sink=IcebergSink(table, SCHEMA)).run_batch(_raw(spark, 1))

    ids = sorted(r.id for r in read_iceberg(spark, table).select("id").collect())
    assert ids == list(range(60)) + list(range(1000, 1060))
    assert _dlq_rows(spark, job) == 4
    offsets = {}
    for i, _ in _messages(1):
        key = f"{job.opts.app_id}-{i % 4}"
        offsets[key] = max(offsets.get(key, i), i)
    assert IcebergSink(table, SCHEMA).snapshot()["txn"] == offsets
    assert DeltaStandardSink(dlq).snapshot()["txn"] == offsets
    assert untracked_iceberg_files(table) == []
    if at != 1:  # a Delta claim that raised keeps its files (Delta slice)
        assert untracked_parquet(dlq) == []


def _jobs_of(spark, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"kdi-batch-shape-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_narrow_batch_runs_at_most_seven_jobs(spark, tmp_path):
    """spread, the cache stage, the per-partition aggregate (map and
    result), regroup, data write, DLQ write — no second scan of the
    source for offsets and no DLQ-cause aggregate."""
    job = _job(tmp_path, sink=DeltaStandardSink(str(tmp_path / "table")))
    job.run_batch(_raw(spark, 0))
    m, n = _jobs_of(spark, lambda: job.run_batch(_raw(spark, 1)))
    assert m.delta_write_num_records == 60
    assert m.messages_deserialization_failed == 1
    assert m.messages_transform_failed == 1
    assert n <= 7


def test_clean_batch_runs_no_dlq_write(spark, tmp_path):
    job = _job(tmp_path, sink=DeltaStandardSink(str(tmp_path / "table")))
    job.run_batch(_raw(spark, 0))
    _, dirty = _jobs_of(spark, lambda: job.run_batch(_raw(spark, 1)))
    m, clean = _jobs_of(spark, lambda: job.run_batch(_raw(spark, 2, bad=False)))
    assert m.delta_write_num_records == 60 and not m.skipped
    assert clean == dirty - 1
    log = os.path.join(job.opts.dlq_table_location, "_delta_log")
    assert sorted(f for f in os.listdir(log) if f.endswith(".json")) == [
        f"{v:020d}.json" for v in (0, 1)
    ]


def test_message_path_is_built_once_per_schema(spark, tmp_path, monkeypatch):
    calls = {}

    def counting(owner, name):
        orig = getattr(owner, name)

        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    for name in ("json_payload_to_struct", "apply_coercions", "coercion_columns"):
        counting(ingest, name)
    for name in ("apply", "columns"):
        counting(Transformer, name)

    job = _job(tmp_path, dlq_transforms={"day": "substr(to_string(timestamp), `0`, `10`)"})
    job.run_batch(_raw(spark, 0))
    # the message path, then the DLQ's transforms at its first write
    assert calls == {"json_payload_to_struct": 1, "coercion_columns": 1, "columns": 2}
    path = job._path
    job.run_batch(_raw(spark, 1))
    assert calls == {"json_payload_to_struct": 1, "coercion_columns": 1, "columns": 2}
    assert job._path is path
    days = {r.day for r in read_delta(spark, job.opts.dlq_table_location).collect()}
    assert len(days) == 1 and len(days.pop()) == 10


def test_evolved_schema_rebuilds_the_path(spark, tmp_path):
    job = _job(tmp_path)
    job.run_batch(_raw(spark, 0))
    path = job._path
    evolved = StructType(list(SCHEMA.fields) + [StructField("size", LongType())])
    DeltaStandardWriter(job.opts.table_uri).evolve_schema(evolved)
    m = job.run_batch(_raw(spark, 1, extra=lambda i: {"size": i * 10}))
    assert m.delta_write_num_records == 60
    assert job.target_schema == evolved and job._path is not path
    sizes = {
        r.id: r.size
        for r in read_delta(spark, job.opts.table_uri).select("id", "size").collect()
    }
    assert len(sizes) == 120
    assert sizes[5] is None and sizes[1005] == 10050
