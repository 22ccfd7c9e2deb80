"""IngestJob — the end-to-end Kafka→table pipeline as one Spark plan.

The reference's run loop (reference src/lib.rs:393-529) interprets
messages one at a time: deserialize → transform → coerce → buffer →
write → commit. Here the same dataflow is a DataFrame plan over the
Kafka source, executed by Structured Streaming
micro-batches; ``foreachBatch`` hosts the three sink-boundary behaviors
that need custom logic (SURVEY §7.0): DLQ splitting, the
per-Kafka-partition txn offset ledger, and dlq_transforms.

Message path (whole-stage-codegen'd — the per-message control flow of
reference src/lib.rs:811-869 collapses into columnar expressions):

1. deserialize (serialization.json_payload_to_struct, PERMISSIVE);
   empty and tombstone messages stay in the frame as a third row class,
   neither written nor dead-lettered, so their offsets still count
2. failed rows → DeadLetter{base64_bytes,...} (src/lib.rs:853-865)
3. transform (transforms.Transformer — kafka meta + JMESPath subset)
4. coerce onto the destination schema (coercions.coercion_columns)
5. non-conforming rows → DeadLetter{json_string,...} — the columnar
   replacement for the reference's row-level parquet quarantine
   (src/writer.rs:618-639): conformance is decided by predicates
   *before* the write, so good rows never pay for bad ones.
6. append + txn commit through the destination's sink (sinks.base:
   a standard ``_delta_log`` by default, or Iceberg / Hudi)

Compiled once per schema: steps 1-5 are built as Column lists
(:class:`MessagePath`) at the first batch and rebuilt only when
:meth:`IngestJob.sync_schema` adopts a new destination schema, as the
reference rebuilds its coercion tree only on schema drift. A batch runs
five ``select`` calls, one grouped aggregate and two filters over the
cached result, and builds no Column of its own.

Per batch, the aggregate gives each Kafka partition's max offset and
row counts by class. Its job builds the cache that the data write and
the DLQ write read; a batch with no good row commits its offsets alone,
and a batch with no dead letter skips the DLQ write.

Batch shape: the message path itself is narrow. A micro-batch that
arrives in at least as many splits as the cluster has cores runs it
with no exchange at all. A narrower one (a file-backed source, or a
topic with few partitions) gets two hash exchanges, so it does not run
in one task: the raw rows are spread on ``(partition, offset)`` before
step 1, and the good rows are regrouped by the table's partition
columns before step 6, so each table partition still gets one file per
batch (the reference's one writer per partition value,
src/writer.rs:390-427).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from kafka_delta_ingest_spark.config import IngestOptions, MessageFormat
# apply_coercions is the DataFrame form of coercion_columns; it stays
# importable from here because perfbench/tracing.py times it by this name
from kafka_delta_ingest_spark.coercions import apply_coercions, coercion_columns  # noqa: F401
from kafka_delta_ingest_spark.dead_letters import DeadLetterQueue, dead_letter_columns
from kafka_delta_ingest_spark.metrics import DELTA_WRITE_FAILED, IngestMetrics
from kafka_delta_ingest_spark.serialization import json_payload_to_struct
from kafka_delta_ingest_spark.sinks.base import Sink, already_applied, open_sink
from kafka_delta_ingest_spark.transforms import DEFAULT_KAFKA_COLS, Transformer

# Reserved names for Kafka metadata carried alongside the flattened
# payload (the payload owns the plain namespace, as in the reference
# where the message IS the top-level JSON object).
META = {
    "partition": "_kdi_partition",
    "offset": "_kdi_offset",
    "topic": "_kdi_topic",
    "timestamp": "_kdi_timestamp",
    "timestamp_type": "_kdi_timestamp_type",
}
CONFORM_COL = "_kdi_conforms"
ERROR_COL = "_kdi_error"
RAW_COL = "_kdi_raw_value"
PRE_COERCE_JSON_COL = "_kdi_pre_coerce_json"
PRE_COERCE_COL = "_kdi_pre_coerce"


def narrow_width(raw: DataFrame) -> int | None:
    """The cluster width when ``raw`` arrives in fewer splits than the
    session's default parallelism, else None.

    Runs no Spark job: the split count is read from the physical plan.
    A foreachBatch frame is a scan of the micro-batch's already-built
    RDD, and a static source is a file scan; neither holds a shuffle,
    so ``rdd()`` only plans. A frame whose plan does hold a shuffle
    would be materialized by ``rdd()`` under AQE, so the partition
    count its initial plan declares is read instead (0 when unknown,
    i.e. narrow)."""
    width = raw.sparkSession.sparkContext.defaultParallelism
    jdf = raw._jdf
    plan = jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        n = plan.inputPlan().outputPartitioning().numPartitions()
    else:
        n = jdf.rdd().getNumPartitions()
    return width if n < width else None


@dataclass
class BatchMetrics:
    """Counters matching the reference's metric names (src/metrics.rs:221-301)."""

    messages_deserialized: int = 0
    messages_deserialization_failed: int = 0
    messages_transform_failed: int = 0
    delta_add_file_size: int = 0
    delta_write_num_records: int = 0
    version: int = -1
    skipped: bool = False


@dataclass(frozen=True)
class MessagePath:
    """The message path compiled for one destination schema: every
    Column a batch hands to ``select``, ``filter`` and ``groupBy``.

    The reference compiles its transforms and its coercion tree once and
    rebuilds them only on schema drift (``Transformer::from_transforms``,
    src/transforms.rs:95-122; ``update_schema``, src/writer.rs:370-387).
    :meth:`IngestJob.message_path` does the same, so a batch builds no
    Column and reads no schema: its driver cost does not grow with the
    schema or the transforms.
    """

    target: StructType
    # plan(): decode, flatten, transform, coerce, route — one select each
    stages: tuple[list[Column], ...]
    # a narrow batch's spread on the Kafka coordinates, and the regroup
    # of its good rows on the table's partition columns
    spread: list[Column]
    regroup: list[Column]
    good: Column
    good_columns: list[Column]
    dead: Column
    dead_columns: list[Column]
    # grouped by Kafka partition: max offset, good rows, deserialization
    # and coercion failures
    partition: Column
    counts: list[Column]


class IngestJob:
    def __init__(self, opts: IngestOptions, target_schema: StructType,
                 sink: Sink | None = None):
        self.opts = opts
        # Destination-driven schema (SURVEY §1.2): callers pass the table
        # schema (the CLI reads it from the destination, cli.prepare_ingest,
        # and hands over the sink it opened to do so).
        self.target_schema = target_schema
        self.transformer = Transformer(opts.transforms, kafka_cols=dict(META))
        self.table = (
            sink if sink is not None else open_sink(opts, target_schema)
        )
        self.dlq = DeadLetterQueue(
            table_location=opts.dlq_table_location,
            dlq_transforms=opts.dlq_transforms,
        )
        self.metrics_history: list[BatchMetrics] = []
        # Job-local counter for auto-OPTIMIZE cadence. Gating on the
        # table VERSION would be wrong twice over: OPTIMIZE's own
        # commit shifts subsequent versions (interval=2 degenerates to
        # compacting after EVERY batch), and replay-skipped batches
        # would count.
        self._commits_since_optimize = 0
        # Per-partition stored-offset floors, read lazily ONCE from the
        # table's txn ledger at the first batch (None = not yet read),
        # and the row predicate built from them (None = no floor).
        self._offset_floors: dict[int, int] | None = None
        self._above_floor: Column | None = None
        # built by message_path() for target_schema
        self._path: MessagePath | None = None
        self.metrics = IngestMetrics(endpoint=opts.statsd_endpoint)

    # ------------------------------------------------------------------
    # Plan construction (pure — no actions)
    # ------------------------------------------------------------------

    def message_path(self, raw: DataFrame) -> MessagePath:
        """The path compiled for the current ``target_schema``: built at
        the first batch and again only after the schema changes
        (:meth:`sync_schema`). The build resolves types against ``raw``,
        a Kafka-layout frame, and runs no Spark job."""
        path = self._path
        if path is None or path.target is not self.target_schema:
            path = self._path = self._compile(raw)
        return path

    def _decode(self, value: Column) -> tuple[Column, Column]:
        """Payload bytes → (parsed wire struct, error or NULL), for the
        configured message format."""
        fmt = self.opts.message_format
        if fmt not in (
            MessageFormat.AVRO,
            MessageFormat.AVRO_SCHEMA_REGISTRY,
            MessageFormat.AVRO_SOE,
        ):
            return json_payload_to_struct(
                value,
                self.target_schema,
                gzip=fmt == MessageFormat.JSON_GZIP,
                confluent_wire_format=fmt == MessageFormat.JSON_SCHEMA_REGISTRY,
            )
        from kafka_delta_ingest_spark.serialization import (
            avro_payload_to_json,
            avro_registry_to_json,
            json_text_to_struct,
        )

        if (
            fmt == MessageFormat.AVRO_SCHEMA_REGISTRY
            and self.opts.schema_registry_url
            and not self.opts.avro_schema_json
        ):
            # Per-message writer-schema resolution by the id in the
            # wire-format header (reference src/serialization.rs:212-241).
            text = avro_registry_to_json(
                value,
                self.opts.schema_registry_url,
                fetcher=self.opts.schema_registry_fetcher,
            )
        else:
            text = avro_payload_to_json(
                value,
                avro_schema_json=self.opts.avro_schema_json,
                confluent_wire_format=fmt == MessageFormat.AVRO_SCHEMA_REGISTRY,
                soe_schemas=self.opts.soe_schemas
                if fmt == MessageFormat.AVRO_SOE
                else None,
            )
        return json_text_to_struct(text, self.target_schema)

    def _compile(self, raw: DataFrame) -> MessagePath:
        target = self.target_schema
        names = target.fieldNames()
        value = F.col("value")
        # Empty payloads are skipped silently, not dead-lettered
        # (reference src/lib.rs:847-852), but their offsets count. They
        # stay in the frame as a third row class: the decoders see NULL,
        # the error is NULL, and so is the conformance flag (route).
        nonempty = F.length(value) > 0
        parsed, err = self._decode(F.when(nonempty, value))
        decode = [
            parsed.alias("_payload"),
            F.when(nonempty, err).alias(ERROR_COL),
            value.alias(RAW_COL),
            *[F.col(DEFAULT_KAFKA_COLS[k]).alias(c) for k, c in META.items()],
        ]
        # Flatten payload to top level (the reference's message object),
        # carrying meta + error columns alongside.
        flatten = [
            *[F.col(f"_payload.`{n}`").alias(n) for n in names],
            F.col(ERROR_COL),
            F.col(RAW_COL),
            *[F.col(c) for c in META.values()],
        ]
        flat = raw.select(*decode).select(*flatten)
        transform = self.transformer.columns(flat.schema)
        transformed_schema = flat.select(*transform).schema
        transformed = transformed_schema.fieldNames()

        # Keep the PRE-coercion record for the quarantine path:
        # coercion nulls the offending field, so serializing the
        # coerced row would dead-letter a record with the bad value
        # already erased — undiagnosable and unreplayable (the
        # reference quarantines the record as it attempted to write it,
        # src/writer.rs:618-639). It rides through coercion as a struct
        # and is serialized under the same predicate split() routes on:
        # process_batch persists this frame, which defeats column
        # pruning, so a plain column would cost every good row a
        # to_json and its raw bytes in the cache.
        pre = F.struct(*[F.col(f"`{n}`") for n in names if n in transformed])
        coerce = coercion_columns(
            transformed_schema, target, CONFORM_COL, keep_extra=True
        ) + [pre.alias(PRE_COERCE_COL)]
        failed = F.col(ERROR_COL).isNotNull()
        conforms = F.col(CONFORM_COL)
        carried = names + [n for n in transformed if n not in names]
        route = [
            F.when(failed, F.col(RAW_COL)).alias(RAW_COL) if n == RAW_COL
            else F.col(f"`{n}`")
            for n in carried
        ] + [
            F.when(F.length(F.col(RAW_COL)) > 0, conforms).alias(CONFORM_COL),
            F.when(
                ~failed & ~conforms, F.to_json(F.col(PRE_COERCE_COL))
            ).alias(PRE_COERCE_JSON_COL),
        ]

        # Empty rows have a NULL flag, so neither predicate holds.
        good = F.col(ERROR_COL).isNull() & conforms
        coerce_failed = ~failed & ~conforms
        return MessagePath(
            target=target,
            stages=(decode, flatten, transform, coerce, route),
            spread=[F.col("partition"), F.col("offset")],
            regroup=[F.col(f"`{c}`") for c in self.opts.partition_by or []],
            good=good,
            good_columns=[F.col(f"`{n}`") for n in names],
            dead=failed | coerce_failed,
            dead_columns=dead_letter_columns(
                F.col(RAW_COL),
                F.col(PRE_COERCE_JSON_COL),
                F.coalesce(
                    F.col(ERROR_COL), F.lit("FailedToCoerceToDestinationSchema")
                ),
            ),
            partition=F.col(META["partition"]),
            counts=[
                F.max(META["offset"]).alias("offset"),
                F.count_if(good).alias("good"),
                F.count_if(failed).alias("deser"),
                F.count_if(coerce_failed).alias("coerce"),
            ],
        )

    def plan(self, raw: DataFrame) -> DataFrame:
        """Kafka-layout DataFrame → annotated row stream.

        ``raw`` must have the Spark Kafka source layout: ``value``
        (binary), ``partition`` (int), ``offset`` (long), ``topic``
        (string), ``timestamp`` (timestamp), ``timestampType`` (int).
        Output: destination-schema columns + META columns + ERROR_COL
        (non-null → dead letter) + CONFORM_COL (False → dead letter,
        NULL → an empty message), plus the DLQ payloads: RAW_COL on
        deserialization failures and PRE_COERCE_JSON_COL on
        non-conforming rows (null on every other row).
        """
        out = raw
        for cols in self.message_path(raw).stages:
            out = out.select(*cols)
        return out

    def split(self, planned: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(good rows projected to the destination schema, dead letters)
        of a frame :meth:`plan` built. Empty messages are in neither."""
        path = self._path
        good = planned.filter(path.good).select(*path.good_columns)
        dead = planned.filter(path.dead).select(*path.dead_columns)
        return good, dead

    # ------------------------------------------------------------------
    # Execution
    # ------------------------------------------------------------------

    def sync_schema(self) -> bool:
        """Adopt the table's current declared schema if it changed —
        runtime schema evolution (reference ``update_schema``
        src/writer.rs:370-387 + src/lib.rs:956-963: after a write the
        table metadata is re-read; on drift the Arrow schema and the
        coercion tree are rebuilt). Adopting the new StructType makes
        the next :meth:`message_path` rebuild the compiled path.
        Returns True when the schema changed."""
        declared = self.table.table_schema()
        if declared is not None and declared != self.target_schema:
            self.target_schema = declared
            return True
        return False

    def ledger_floors(self) -> dict[int, int]:
        """Stored per-partition offset floors for THIS app from the
        table's txn ledger.

        The reference seeds its per-partition ``ValueBuffer`` state from
        the same ledger at startup and seeks each consumer to
        ``stored + 1`` (src/lib.rs:1045-1075); any message at or below
        the stored offset is rejected as
        ``AlreadyProcessedPartitionOffset`` (src/lib.rs:812-819). The
        floors come from normal ingest commits, from ``--seek_offsets``
        bootstrap (src/offsets.rs), or from the latest-watermark
        bootstrap (:meth:`seek_to_high_watermark`)."""
        prefix = f"{self.opts.app_id}-"
        floors: dict[int, int] = {}
        for app, ver in self.table.snapshot()["txn"].items():
            tail = app[len(prefix):] if app.startswith(prefix) else ""
            if tail.isdigit():
                floors[int(tail)] = int(ver)
        return floors

    def seek_to_high_watermark(self, raw_static: DataFrame) -> None:
        """``auto_offset_reset=latest`` bootstrap for non-Kafka sources:
        record the source's CURRENT max offset per partition in the txn
        ledger, so the stream starts strictly after everything that
        already exists — the reference gets this from the broker by
        seeking to ``Offset::End`` (src/lib.rs:1060-1066); the real
        Kafka source from ``startingOffsets=latest``. File/test
        harnesses have no broker to ask, so the watermark is read from
        a static snapshot of the same source and applied through the
        exact ``--seek_offsets`` decision tree (offsets.py) — i.e.
        "latest" is modeled as an explicit seek to the observed high
        watermark, and the per-row ledger-floor guard enforces it."""
        from kafka_delta_ingest_spark.offsets import write_offsets_to_table

        marks = {
            int(r["p"]): int(r["o"])
            for r in raw_static.groupBy(F.col("partition").alias("p"))
            .agg(F.max("offset").alias("o"))
            .collect()
        }
        if marks:
            write_offsets_to_table(self.table, self.opts.app_id, marks)

    def _apply_offset_floors(self, raw: DataFrame) -> DataFrame:
        """Drop rows already covered by the ledger (B1/X3 row guard).

        Read once at the first batch — the reference seeds buffers once
        per assignment the same way — then applied as a pure map-side
        predicate on two int columns: free in steady state, where every
        incoming offset is beyond the floor. Spark's checkpoint makes
        this redundant for its own replays; it is the correctness gate
        for cross-engine restarts (a ledger written by another writer)
        and for seek/latest bootstraps on sources that cannot seek."""
        if self._offset_floors is None:
            self._offset_floors = self.ledger_floors()
            if self._offset_floors:
                pairs = [
                    F.lit(x)
                    for p, o in sorted(self._offset_floors.items())
                    for x in (p, o)
                ]
                floor = F.coalesce(
                    F.create_map(*pairs)[F.col("partition")], F.lit(-(1 << 62))
                )
                self._above_floor = F.col("offset") > floor
        if self._above_floor is None:
            return raw
        return raw.filter(self._above_floor)

    def _commit_offsets(self, txn: dict[str, int]) -> tuple[int, bool]:
        """Record the offsets of a batch with no row to append (only
        dead letters and empty messages) in a ledger-only commit:
        ``(version, skipped)``. A replay commits nothing."""
        snap = self.table.snapshot()
        if already_applied(snap["txn"], txn):
            return snap["version"], True
        return self.table.commit_offsets(txn), False

    def process_batch(self, raw: DataFrame, batch_id: int = 0) -> BatchMetrics:
        """foreachBatch body: split, then the DLQ and the data table
        each append under the batch's txn ledger entries.

        A batch that arrives in fewer splits than the cluster has cores
        (a file-backed source, or a topic with few partitions) would run
        its whole message path in one task. It is hash-spread on the
        Kafka coordinates before :meth:`plan`, so parse, transform and
        coerce run on every core, and its good rows are regrouped by
        ``partition_by`` before the write (an unpartitioned table into
        one task), so each table partition it touches is encoded by one
        writer task and lands in one file. Dead letters go to one file
        per batch. A batch that is already wide keeps the narrow,
        exchange-free plan.

        The planned frame is cached, and one grouped aggregate over it
        builds the cache and returns, per Kafka partition, the max
        offset and the good, deserialization-failed and coercion-failed
        row counts. The DLQ write and the data write then read the
        cache; a batch with no dead letter runs no DLQ write."""
        import time as _time

        t_start = _time.perf_counter()
        self.sync_schema()
        fresh = self._apply_offset_floors(raw)
        path = self.message_path(fresh)
        width = narrow_width(fresh)
        if width is not None:
            fresh = fresh.repartition(width, *path.spread)
        planned = self.plan(fresh).persist()
        try:
            # Per-Kafka-partition last offsets → txn actions
            # (reference src/delta_helpers.rs:15-40). Dead letters and
            # empty/tombstone messages count as processed (the
            # reference counts empties, src/lib.rs:847-852), and the
            # planned frame keeps both, so the ledger does not
            # understate progress on compacted topics.
            counts = planned.groupBy(path.partition).agg(*path.counts).collect()
            txn = {
                f"{self.opts.app_id}-{r[META['partition']]}": r["offset"]
                for r in counts
            }
            n_good = sum(r["good"] for r in counts)
            # The reference keeps the two failure causes apart
            # (src/metrics.rs): rows that never parsed vs rows that
            # parsed but failed schema coercion.
            n_deser = sum(r["deser"] for r in counts)
            n_coerce = sum(r["coerce"] for r in counts)
            good, dead = self.split(planned)

            if n_deser or n_coerce:
                # The DLQ commits first, under the batch's own txn: a
                # crash between the two commits replays the batch, the
                # DLQ skips it and the data table takes it. One DLQ
                # file per batch: the aggregate built the cache, so
                # coalescing over it adds no exchange.
                self.dlq.write(dead if width is None else dead.coalesce(1), txn)
            m = BatchMetrics(skipped=True)
            try:
                if n_good:
                    if width is not None:
                        # An explicit count: AQE does not coalesce it, so
                        # each table partition gets exactly one writer task.
                        good = (
                            good.repartition(width, *path.regroup)
                            if path.regroup else good.repartition(1)
                        )
                    result = self.table.write_batch(
                        good, partition_by=self.opts.partition_by or None, txn=txn
                    )
                    m.version = result.version
                    m.skipped = result.skipped
                    m.delta_write_num_records = result.num_records
                    m.delta_add_file_size = result.num_bytes
                elif txn:
                    m.version, m.skipped = self._commit_offsets(txn)
            except Exception:
                self.metrics.count(DELTA_WRITE_FAILED)
                raise
            m.messages_deserialization_failed = n_deser
            m.messages_transform_failed = n_coerce
            m.messages_deserialized = m.delta_write_num_records + n_coerce
            # Continuous file sizing (opt-in): after every
            # auto_optimize_interval ingest commits, bin-pack small
            # files toward min_bytes_per_file — the Spark-idiomatic
            # substitute for the reference's held-open writers (B4,
            # doc/DESIGN.md:61-76; SURVEY §7.2). OPTIMIZE commits
            # remove+add atomically, so concurrent readers of any
            # version still see exactly one copy of every row, and the
            # txn ledger is untouched (compaction moves bytes, not
            # offsets).
            n_opt = self.opts.auto_optimize_interval
            if n_opt > 0 and not m.skipped:
                self._commits_since_optimize += 1
                if self._commits_since_optimize >= n_opt:
                    self._commits_since_optimize = 0
                    self.table.optimize(
                        raw.sparkSession,
                        target_file_bytes=self.opts.min_bytes_per_file,
                    )
            self.metrics_history.append(m)
            self.metrics.record_batch(
                deserialized=m.messages_deserialized,
                deserialize_failed=n_deser,
                transform_failed=n_coerce,
                write_duration_s=_time.perf_counter() - t_start,
                add_file_bytes=m.delta_add_file_size,
                num_records=m.delta_write_num_records,
            )
            return m
        finally:
            planned.unpersist()

    def run_batch(self, raw: DataFrame) -> BatchMetrics:
        """One-shot ingest of a static DataFrame (the reference's
        ``--ends_at_latest_offsets`` mode ≙ trigger(availableNow))."""
        return self.process_batch(raw, batch_id=0)

    def run_stream(self, spark: SparkSession, checkpoint_dir: str, raw_stream=None):
        """Launch the streaming query.

        ``raw_stream`` defaults to the real Kafka source built from the
        options; tests inject a file/memory stream with the same layout.
        """
        if raw_stream is None:
            raw_stream = self.kafka_source(spark)
        writer = (
            raw_stream.writeStream.option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda df, bid: self.process_batch(df, bid))
            .queryName(self.opts.app_id)
        )
        if self.opts.ends_at_latest_offsets:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.opts.allowed_latency} seconds")
        return writer.start()

    def kafka_source(self, spark: SparkSession) -> DataFrame:
        """Build the Kafka source (requires the spark-sql-kafka package).

        Maps reference options: seek_offsets → startingOffsets JSON
        (src/offsets.rs), auto_offset_reset → earliest/latest
        (src/lib.rs:244-254), max_messages_per_batch → maxOffsetsPerTrigger.
        """
        import json as _json

        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.opts.kafka_brokers)
            .option("subscribe", self.opts.topic)
            .option("failOnDataLoss", "false")
            # Direct mapping (SURVEY §2.4): maxOffsetsPerTrigger is a
            # TOTAL across partitions per micro-batch, same contract as
            # the reference's per-run batch bound.
            .option(
                "maxOffsetsPerTrigger",
                str(self.opts.max_messages_per_batch),
            )
        )
        if self.opts.seek_offsets:
            starting = {self.opts.topic: {str(p): o for p, o in self.opts.seek_offsets.items()}}
            reader = reader.option("startingOffsets", _json.dumps(starting))
        else:
            reader = reader.option("startingOffsets", self.opts.auto_offset_reset.value)
        for k, v in self.opts.kafka_settings.items():
            reader = reader.option(f"kafka.{k}", v)
        return reader.load()
