"""Command-line interface with the reference's argument surface.

``python -m kafka_delta_ingest_spark ingest <topic> <table_location>
[options]`` accepts the same options as the reference binary
(reference src/main.rs:334-490), maps them onto :class:`IngestOptions`,
and launches the Structured Streaming query. A user of the reference
can switch by replacing the binary name.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from kafka_delta_ingest_spark.config import (
    AutoOffsetReset,
    IngestOptions,
    MessageFormat,
)


def parse_transform_args(pairs: list[str]) -> dict[str, str]:
    """``PROPERTY: SOURCE`` strings → dict (reference src/main.rs:302-319)."""
    out: dict[str, str] = {}
    for pair in pairs or []:
        prop, _, source = pair.partition(":")
        if not _:
            raise SystemExit(f"invalid transform (expected 'PROP: SOURCE'): {pair!r}")
        out[prop.strip()] = source.strip()
    return out


def parse_seek_offsets(val: str | None) -> dict[int, int] | None:
    """JSON ``{"0":123,"1":321}`` → {0: 123, 1: 321}
    (reference src/main.rs:321-332)."""
    if not val:
        return None
    return {int(p): int(o) for p, o in json.loads(val).items()}


def parse_kafka_settings(pairs: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for pair in pairs or []:
        key, _, value = pair.partition("=")
        if not _:
            raise SystemExit(f"invalid -K setting (expected key=value): {pair!r}")
        out[key.strip()] = value.strip()
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="kafka-delta-ingest-spark")
    sub = p.add_subparsers(dest="command", required=True)
    ing = sub.add_parser("ingest", help="Ingest a Kafka topic into a Delta table")
    ing.add_argument("topic", help="The Kafka topic to stream from")
    ing.add_argument("table_location", help="The Delta table location to write out")
    ing.add_argument("--kafka", "-k", default="localhost:9092",
                     help="Kafka broker connection string to use")
    ing.add_argument("--consumer_group", "-g", default="kafka_delta_ingest",
                     help="Consumer group to use when subscribing to Kafka topics")
    ing.add_argument("--app_id", "-a", default="kafka_delta_ingest",
                     help="App ID to use when writing to Delta")
    ing.add_argument("--seek_offsets", default=None,
                     help='JSON partition-offset map, e.g. {"0":123, "1":321}')
    ing.add_argument("--auto_offset_reset", "-o", default="earliest",
                     choices=["earliest", "latest"])
    ing.add_argument("--allowed_latency", "-l", type=int, default=300)
    ing.add_argument("--max_messages_per_batch", "-m", type=int, default=5000)
    ing.add_argument("--min_bytes_per_file", "-b", type=int, default=134217728)
    ing.add_argument("--auto_optimize_interval", type=int, default=0,
                     help="bin-pack small files toward min_bytes_per_file "
                          "after every N ingest commits (0 = off) — the "
                          "Spark substitute for the reference's held-open "
                          "file-size management")
    ing.add_argument("--log_format",
                     choices=("delta", "iceberg", "hudi", "hudi_mor"),
                     default="delta",
                     help="destination table format; this command "
                          "reads the schema from the table, so it "
                          "starts only with 'delta' (a standard "
                          "_delta_log, the default). 'iceberg', 'hudi' "
                          "and 'hudi_mor' (with --record_key, UPSERT "
                          "streaming) are IngestJob destinations")
    ing.add_argument("--record_key", default=None,
                     help="Hudi recordkey.field: the column Hudi "
                          "destinations key records on (enables "
                          "hudi_mor upsert streaming)")
    ing.add_argument("--transform", "-t", action="append", default=[],
                     help="PROPERTY: SOURCE transform pairs")
    ing.add_argument("--dlq_table_location", "-d", default=None,
                     help="Optional table to write unprocessable entities to")
    ing.add_argument("--dlq_transform", action="append", default=[])
    ing.add_argument("--checkpoints", "-c", action="store_true",
                     help="Accepted for compatibility with the reference; "
                          "checkpoints are always written, every 10th "
                          "commit")
    ing.add_argument("--kafka_setting", "-K", action="append", default=[])
    ing.add_argument("--statsd_endpoint", "-s", default=None)
    ing.add_argument("--json", dest="json_registry", default=None,
                     help="Schema registry endpoint, local path, or empty string")
    ing.add_argument("--avro", dest="avro_schema", default=None,
                     help="Schema registry endpoint, local path, or empty string")
    ing.add_argument("--soe-avro", dest="soe_avro", default=None,
                     help="Path to Avro schema file(s) for single-object encoding")
    ing.add_argument("--ends_at_latest_offsets", "-e", action="store_true")
    ing.add_argument("--decompress_gzip", action="store_true",
                     help="Enable gzip decompression for incoming messages")
    ing.add_argument("--partition_columns", "-p", action="append", default=[])
    ing.add_argument("--checkpoint_dir", default=None,
                     help="(Spark) streaming checkpoint location; defaults to "
                          "<table_location>/_kdi_checkpoints/<app_id>")

    cur = sub.add_parser(
        "curate",
        help="Run the pretraining-corpus curation funnel over a documents table",
    )
    cur.add_argument("input", help="Parquet path of a documents-shaped table")
    cur.add_argument("output", help="Output directory for the curated corpus")
    cur.add_argument("--id_col", default="doc_id")
    cur.add_argument("--text_col", default="text")
    cur.add_argument("--min_quality", type=float, default=0.5,
                     help="Drop documents scoring below this quality")
    cur.add_argument("--dedup_paragraphs", action="store_true",
                     help="Drop every repeated paragraph corpus-wide "
                          "except its first (id, position) occurrence "
                          "(the CCNet preprocessing stage), before "
                          "quality scoring")
    cur.add_argument("--remove_boilerplate", action="store_true",
                     help="strip cross-document repeated 50-word "
                          "passages (keep the lowest-id copy) before "
                          "quality scoring")
    cur.add_argument("--classifier_pos", default=None,
                     help="parquet of positive seed docs: enables "
                          "model-based quality filtering (log-odds "
                          "linear classifier) after the heuristic gate")
    cur.add_argument("--classifier_neg", default=None,
                     help="parquet of negative seed docs (required "
                          "with --classifier_pos)")
    cur.add_argument("--classifier_threshold", type=float, default=0.5,
                     help="keep docs scoring >= this sigmoid score")
    cur.add_argument("--pii_redact", action="store_true",
                     help="Redact emails/SSNs/phones/IPv4s before scoring")
    cur.add_argument("--decontam_benchmark", default=None,
                     help="Parquet path of benchmark docs to 8-gram-decontaminate against")
    cur.add_argument("--dedup", choices=["exact", "fuzzy", "none"], default="exact",
                     help="exact: normalized-text hash dedup; fuzzy: 3-gram "
                          "Jaccard pairs + connected components + keep-best")
    cur.add_argument("--gram_index", default=None,
                     help="parquet path of a persisted hashed-shingle index "
                          "(dedup.build_gram_index): incoming docs that "
                          "near-duplicate the already-admitted corpus "
                          "(3-gram Jaccard >= --admit_threshold) are "
                          "dropped, and the admitted docs' grams are "
                          "APPENDED to the index — the steady-state "
                          "continuous-ingest dedup loop, one index scan "
                          "per batch instead of re-shingling the corpus")
    cur.add_argument("--admit_threshold", type=float, default=0.5,
                     help="Jaccard threshold for --gram_index admission")
    cur.add_argument("--train_pct", type=int, default=90,
                     help="Deterministic md5-bucket train split percentage")
    cur.add_argument("--report", default=None,
                     help="Optional parquet path for the corpus-card report")

    web = sub.add_parser(
        "extract-web",
        help="Extract a documents-shaped table from WARC web-crawl "
             "files (CommonCrawl layout): HTTP 200 text/html records "
             "-> boilerplate-removed main text + title + language + "
             "registrable domain",
    )
    web.add_argument("input", help="Path/glob of .warc / .warc.gz files")
    web.add_argument("output", help="Output parquet directory")
    web.add_argument("--min_chars", type=int, default=100,
                     help="Drop pages whose extracted main text is "
                          "shorter than this")
    web.add_argument("--min_block_chars", type=int, default=30,
                     help="Boilerplate rule: blocks shorter than this "
                          "AND link-dense are dropped")
    web.add_argument("--max_link_density", type=float, default=0.5,
                     help="Boilerplate rule: link-chars/text-chars "
                          "threshold")
    web.add_argument("--quarantine", default=None,
                     help="Optional parquet path for malformed-record "
                          "rows (warc_file + parse_error)")

    tab = sub.add_parser(
        "table",
        help="Admin operations on a Delta table, such as the ones "
             "`ingest` writes (DESCRIBE HISTORY, COUNT, OPTIMIZE, "
             "VACUUM, RESTORE, DELETE, UPDATE, CDF)",
    )
    tab.add_argument("location", help="Table root directory")
    tab.add_argument(
        "action",
        choices=[
            "history", "count", "optimize", "vacuum", "restore",
            "delete", "update", "enable-cdf", "changes",
        ],
    )
    tab.add_argument("--version", type=int, default=None,
                     help="restore: target version; changes: first "
                          "version (inclusive, default 0)")
    tab.add_argument("--to_version", type=int, default=None,
                     help="changes: inclusive upper version")
    tab.add_argument("--where", default=None,
                     help="SQL predicate, e.g. 'id < 10' "
                          "(delete/update/count)")
    tab.add_argument("--set", dest="set_exprs", default=None,
                     help='update: SET expressions as JSON, e.g. '
                          '\'{"val": "val + 1"}\'')
    tab.add_argument("--retention_ms", type=int, default=7 * 24 * 3600 * 1000)
    tab.add_argument("--zorder_by", default=None, help="optimize: comma-separated")
    tab.add_argument("--target_bytes", type=int, default=134_217_728)
    conv = sub.add_parser(
        "convert",
        help="Metadata-only table-format conversion (XTable/UniForm "
             "shape): commit new-format metadata over the source "
             "table's live parquet files in place — no data rewrite",
    )
    conv.add_argument(
        "direction",
        choices=["delta-to-iceberg", "iceberg-to-delta",
                 "hudi-to-delta", "hudi-to-iceberg", "delta-to-hudi",
                 "iceberg-to-hudi"],
    )
    conv.add_argument("source", help="Source table root")
    conv.add_argument("dest", help="Destination metadata root (fresh)")
    conv.add_argument("--version", type=int, default=None,
                      help="delta-to-iceberg: explicit source version")
    conv.add_argument("--snapshot_id", type=int, default=None,
                      help="iceberg-to-delta: explicit snapshot id")
    conv.add_argument("--as_of_instant", default=None,
                      help="hudi-to-*: time-travel instant")
    conv.add_argument("--record_key", default=None,
                      help="*-to-hudi bootstrap: record-key column")
    return p


def run_convert(args: argparse.Namespace) -> int:
    """One conversion per invocation; prints the committed version in
    a parse-friendly form."""
    from kafka_delta_ingest_spark.convert import (
        bootstrap_delta_to_hudi,
        bootstrap_iceberg_to_hudi,
        convert_delta_to_iceberg,
        convert_hudi_to_delta,
        convert_hudi_to_iceberg,
        convert_iceberg_to_delta,
    )
    from kafka_delta_ingest_spark.session import get_spark

    spark = get_spark("kdi-convert")
    if args.direction in ("delta-to-hudi", "iceberg-to-hudi"):
        if not args.record_key:
            raise SystemExit(
                f"{args.direction} bootstrap requires --record_key"
            )
        if args.direction == "delta-to-hudi":
            v = bootstrap_delta_to_hudi(
                spark, args.source, args.dest, args.record_key,
                version=args.version,
            )
        else:
            v = bootstrap_iceberg_to_hudi(
                spark, args.source, args.dest, args.record_key,
                snapshot_id=args.snapshot_id,
            )
    elif args.direction == "delta-to-iceberg":
        v = convert_delta_to_iceberg(
            spark, args.source, args.dest, version=args.version
        )
    elif args.direction == "iceberg-to-delta":
        v = convert_iceberg_to_delta(
            spark, args.source, args.dest, snapshot_id=args.snapshot_id
        )
    elif args.direction == "hudi-to-iceberg":
        v = convert_hudi_to_iceberg(
            spark, args.source, args.dest,
            as_of_instant=args.as_of_instant,
        )
    else:
        v = convert_hudi_to_delta(
            spark, args.source, args.dest,
            as_of_instant=args.as_of_instant,
        )
    print(f"converted\t{args.direction}\t{args.dest}\tversion={v}")
    return 0


def run_table(args: argparse.Namespace) -> int:
    """The admin surface over a standard ``_delta_log`` table — each
    action is one call on :class:`DeltaStandardWriter` (or the log
    readers beside it), printed in a parse-friendly form. No action
    writes a ``txn`` action, so ``ingest`` resumes from the same
    offsets after any of them."""
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        delta_history,
        read_delta,
        table_changes,
    )
    from kafka_delta_ingest_spark.session import get_spark

    loc = args.location
    if not os.path.isdir(os.path.join(loc, "_delta_log")):
        raise SystemExit(f"{loc} is not a Delta table (no _delta_log)")
    w = DeltaStandardWriter(loc)

    if args.action == "history":
        for h in delta_history(loc):
            print(f"v={h['version']} ts={h['timestamp']} op={h['operation']}")
        return 0
    if args.action == "count":
        if not args.where:
            print(f"count={w.count_rows()} source=log")
            return 0
        df = read_delta(get_spark("kdi-table"), loc).filter(args.where)
        print(f"count={df.count()} source=scan")
        return 0
    if args.action == "vacuum":
        deleted = w.vacuum(retention_ms=args.retention_ms)
        print(f"reclaimed={len(deleted)}")
        for p in deleted:
            print(p)
        return 0
    if args.action == "enable-cdf":
        print(f"version={w.enable_change_data_feed()}")
        return 0

    spark = get_spark("kdi-table")
    if args.action == "restore":
        if args.version is None:
            raise SystemExit("restore requires --version")
        v = w.restore(args.version, spark)
    elif args.action == "delete":
        if not args.where:
            raise SystemExit("delete requires --where")
        v = w.delete_where(spark, args.where)
    elif args.action == "update":
        if not args.where or not args.set_exprs:
            raise SystemExit("update requires --where and --set")
        v = w.update_where(spark, args.where, json.loads(args.set_exprs))
    elif args.action == "optimize":
        v = w.optimize(
            spark,
            target_file_bytes=args.target_bytes,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
        )
    else:  # changes
        df = table_changes(
            spark, loc, args.version or 0, args.to_version
        )
        for r in df.collect():
            print(json.dumps({c: str(r[c]) for c in df.columns}, sort_keys=True))
        return 0
    print(f"version={v}")
    return 0


def options_from_args(args: argparse.Namespace) -> IngestOptions:
    avro_schema_json: str | None = None
    soe_schemas: dict[int, str] | None = None
    schema_registry_url: str | None = None
    if args.soe_avro:
        fmt = MessageFormat.AVRO_SOE
        # Reference semantics (src/serialization.rs:368-440): a schema
        # file or a directory of schema files, each registered under the
        # Rabin fingerprint of its Parsing Canonical Form. The extension
        # filter applies only when scanning a DIRECTORY; a single file
        # named explicitly is always read, and ending up with zero
        # schemas is a configuration error, not a silent fallthrough to
        # container mode (which would dead-letter every message).
        from kafka_delta_ingest_spark.avro_python import schema_fingerprint

        if os.path.isdir(args.soe_avro):
            paths = [
                os.path.join(args.soe_avro, p)
                for p in sorted(os.listdir(args.soe_avro))
                if p.endswith((".avsc", ".json"))
            ]
        else:
            paths = [args.soe_avro]
        soe_schemas = {}
        for p in paths:
            with open(p) as f:
                schema_json = f.read()
            soe_schemas[schema_fingerprint(schema_json)] = schema_json
        if not soe_schemas:
            raise ValueError(
                f"--avro-soe {args.soe_avro!r}: no .avsc/.json schema "
                "files found — single-object decoding needs at least one "
                "registered schema"
            )
    elif args.avro_schema is not None:
        if args.avro_schema == "":
            fmt = MessageFormat.AVRO  # self-describing container payloads
        elif os.path.isfile(args.avro_schema):
            fmt = MessageFormat.AVRO  # explicit reader schema file
            with open(args.avro_schema) as f:
                avro_schema_json = f.read()
        else:
            fmt = MessageFormat.AVRO_SCHEMA_REGISTRY  # registry URL
            schema_registry_url = args.avro_schema
    elif args.json_registry:
        fmt = MessageFormat.JSON_SCHEMA_REGISTRY
    elif args.decompress_gzip:
        fmt = MessageFormat.JSON_GZIP
    else:
        fmt = MessageFormat.JSON
    return IngestOptions(
        topic=args.topic,
        table_uri=args.table_location,
        app_id=args.app_id,
        allowed_latency=args.allowed_latency,
        max_messages_per_batch=args.max_messages_per_batch,
        min_bytes_per_file=args.min_bytes_per_file,
        auto_optimize_interval=args.auto_optimize_interval,
        transforms=parse_transform_args(args.transform),
        partition_by=list(args.partition_columns),
        dlq_table_location=args.dlq_table_location,
        dlq_transforms=parse_transform_args(args.dlq_transform),
        message_format=fmt,
        auto_offset_reset=AutoOffsetReset(args.auto_offset_reset),
        seek_offsets=parse_seek_offsets(args.seek_offsets),
        ends_at_latest_offsets=args.ends_at_latest_offsets,
        kafka_settings=parse_kafka_settings(args.kafka_setting),
        kafka_brokers=args.kafka,
        statsd_endpoint=args.statsd_endpoint,
        avro_schema_json=avro_schema_json,
        soe_schemas=soe_schemas,
        schema_registry_url=schema_registry_url,
        log_format=args.log_format,
        record_key=args.record_key,
    )


def run_curate(args: argparse.Namespace) -> int:
    """The curation funnel as a batch job: (optional PII redaction) →
    quality filter → (optional benchmark decontamination) → dedup →
    deterministic split → partitioned parquet + corpus-card report.

    Every stage is the library operator the driver sweep verifies; the
    CLI just composes them over user-supplied paths. One declarative
    plan except the fuzzy-dedup connected-components loop.
    """
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.operators import decontam, dedup, pii
    from kafka_delta_ingest_spark.operators import text as textops
    from kafka_delta_ingest_spark.operators.sampling import deterministic_split
    from kafka_delta_ingest_spark.session import get_spark

    spark = get_spark(app_name="kdi-curate")
    idc, txc = args.id_col, args.text_col
    d = spark.read.parquet(args.input)
    if args.pii_redact:
        d = d.withColumn(txc, pii.redact(F.col(txc)))
    if args.dedup_paragraphs:
        # CCNet's position in the funnel: paragraph-level global dedup
        # BEFORE quality/LM scoring, so the gates judge the deduped
        # text. Touched-only rewrite, same contract as
        # --remove_boilerplate below (untouched docs keep their exact
        # bytes).
        touched_p = (
            dedup.paragraph_dedup(d, id_col=idc, text_col=txc)
            .where(F.col("n_removed") > 0)
            .select(idc, F.col("clean_text").alias("_cleanp"))
        )
        d = (
            d.join(touched_p, idc, "left")
            .withColumn(txc, F.coalesce(F.col("_cleanp"), F.col(txc)))
            .drop("_cleanp")
        )
    if args.remove_boilerplate:
        # Rewrite text with cross-doc repeated passages stripped BEFORE
        # quality scoring, so the gates judge the de-boilerplated doc.
        # ONLY docs that actually lost tokens are rewritten — the
        # rebuild whitespace-normalizes, and flattening newlines/tabs
        # in every untouched document would be lossy mutation far
        # beyond the flag's contract.
        touched = (
            textops.remove_shared_passages(d, id_col=idc, text_col=txc)
            .where(F.col("n_removed") > 0)
            .select(idc, F.col("clean_text").alias("_clean"))
        )
        d = (
            d.join(touched, idc, "left")
            .withColumn(txc, F.coalesce(F.col("_clean"), F.col(txc)))
            .drop("_clean")
        )
    d = d.withColumn("quality", textops.quality_score(F.col(txc))).withColumn(
        "n_tok", textops.token_count(F.col(txc))
    )
    d = d.where(F.col("quality") >= args.min_quality)
    if args.classifier_pos or args.classifier_neg:
        if not (args.classifier_pos and args.classifier_neg):
            raise SystemExit(
                "--classifier_pos and --classifier_neg are both required "
                "for model-based filtering"
            )
        from kafka_delta_ingest_spark.operators.quality import (
            classifier_score,
            train_log_odds_weights,
        )

        pos = spark.read.parquet(args.classifier_pos)
        neg = spark.read.parquet(args.classifier_neg)
        w = train_log_odds_weights(pos, neg, text_col=txc)
        keep = classifier_score(
            d, w, text_col=txc, id_col=idc,
            threshold=args.classifier_threshold,
        ).where(F.col("keep"))
        d = d.join(keep.select(idc), idc, "left_semi")
    if args.decontam_benchmark:
        bench = spark.read.parquet(args.decontam_benchmark)
        bid = "bench_id" if "bench_id" in bench.columns else bench.columns[0]
        btx = txc if txc in bench.columns else "text"
        d = decontam.decontaminate(
            d, bench, n=8, id_col=idc, text_col=txc,
            bench_id_col=bid, bench_text_col=btx,
        )
    if args.dedup == "exact":
        d = dedup.exact_dedup_normalized(d, txc, idc)
    elif args.dedup == "fuzzy":
        pairs = dedup.ngram_jaccard_pairs(
            d, idc, txc, n=3, threshold=0.2, max_gram_df=1000
        )
        clusters = dedup.connected_components(pairs)
        d = (
            dedup.canonicalize_clusters(d, clusters, "quality", id_col=idc)
            .where(F.col("keep") == 1)
            .drop("cluster_id", "keep")
        )
    if args.gram_index:
        import os

        if os.path.isdir(args.gram_index):
            index = spark.read.parquet(args.gram_index)
        else:
            # First batch: empty index with the right (id, gh) types.
            index = d.select(
                F.col(idc), F.xxhash64(F.col(txc)).alias("gh")
            ).limit(0)
        d = dedup.incremental_ngram_dedup_indexed(
            index, d, idc, txc, n=3, threshold=args.admit_threshold
        ).localCheckpoint()
        # Materialized here: the admitted frame's lineage reads the
        # index path, and both the index append below and the output
        # write re-execute it otherwise — the checkpoint freezes the
        # pre-append snapshot and runs admission once.
        gram_index_frame, gram_index_ids = index, idc
    else:
        gram_index_frame = None
    out = deterministic_split(d, idc, train_pct=args.train_pct)
    out.write.mode("overwrite").partitionBy("split").parquet(args.output)
    if gram_index_frame is not None:
        # Append-only index maintenance, ORDERED AFTER the curated
        # output write: a failure between the two steps must never
        # leave grams in the index for a batch whose output was never
        # produced (the library precondition is disjoint ids across
        # appends). Replay guard: an unconditional left_anti on ids
        # already present makes re-running a batch idempotent (no
        # duplicated grams inflating idx_sizes) in ONE pass over the
        # index — no separate overlap-count job.
        new_grams = dedup.build_gram_index(d, idc, txc, n=3)
        existing_ids = gram_index_frame.select(gram_index_ids).distinct()
        new_grams.join(existing_ids, gram_index_ids, "left_anti").write.mode(
            "append"
        ).parquet(args.gram_index)

    card = (
        spark.read.parquet(args.output)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("split")
    )
    if args.report:
        card.write.mode("overwrite").parquet(args.report)
    for r in card.collect():
        print(
            f"split={r['split']} n_docs={r['n_docs']} "
            f"total_tokens={r['total_tokens']} avg_quality={r['avg_quality']}"
        )
    return 0


def run_extract_web(args: argparse.Namespace) -> int:
    """WARC crawl files → documents-shaped parquet: the ingestion
    front of the web-corpus funnel (compose with ``curate`` for the
    full RefinedWeb-style pipeline). One job: read_warc (one task per
    WARC file) → keep HTTP 200 text/html → html_extract (boilerplate
    removal, narrow mapInPandas) → language id + registrable domain —
    blobs never shuffle; the output columns match what ``curate``
    expects (doc_id, text, lang, source, n_chars) plus url/title and
    the extraction diagnostics."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.operators.html import html_extract
    from kafka_delta_ingest_spark.operators.text import lang_id
    from kafka_delta_ingest_spark.operators.url import registrable_domain
    from kafka_delta_ingest_spark.session import get_spark
    from kafka_delta_ingest_spark.warc import read_warc

    spark = get_spark(app_name="kdi-extract-web")
    # no checkpoint/persist of the record set: it contains decompressed
    # response bodies, and at CommonCrawl scale materializing the whole
    # crawl into (unreplicated) executor storage is both enormous and
    # fragile to executor loss. Each consumer re-scans the WARC files —
    # the quarantine/count passes are cheap column-pruned scans, and
    # the summary counts come via observe() on the passes that already
    # run (r7 ADVICE fix).
    from pyspark.sql import Observation

    obs = Observation("warc_summary")
    recs = read_warc(spark, args.input).observe(
        obs,
        F.sum(F.col("parse_error").isNotNull().cast("long")).alias(
            "n_bad"
        ),
        F.sum(
            (
                F.col("parse_error").isNull()
                & F.col("http_status").isNotNull()
            ).cast("long")
        ).alias("n_resp"),
    )
    if args.quarantine:
        recs.where(F.col("parse_error").isNotNull()).select(
            "warc_file", "record_id", "target_uri", "parse_error"
        ).write.mode("overwrite").parquet(args.quarantine)
    pages = recs.where(
        F.col("parse_error").isNull()
        & (F.col("http_status") == 200)
        & F.lower(F.coalesce("http_content_type", F.lit(""))).contains(
            "text/html"
        )
    ).select(
        F.xxhash64(
            F.coalesce("record_id", "target_uri"), "warc_file"
        ).alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("body").cast("string").alias("html"),
    )
    docs = (
        html_extract(
            pages,
            html_col="html",
            id_col="doc_id",
            min_block_chars=args.min_block_chars,
            max_link_density=args.max_link_density,
            keep_cols=["url"],
        )
        .where(F.col("n_chars") >= args.min_chars)
        .select(
            "doc_id",
            "url",
            "title",
            "text",
            lang_id(F.col("text")).alias("lang"),
            registrable_domain(F.col("url")).alias("source"),
            "n_chars",
            "n_blocks",
            "n_boilerplate_blocks",
            "n_links",
        )
    )
    out_obs = Observation("extracted")
    docs = docs.observe(out_obs, F.count(F.lit(1)).alias("n_out"))
    docs.write.mode("overwrite").parquet(args.output)
    summary = obs.get
    n_bad = summary["n_bad"] or 0
    n_resp = summary["n_resp"] or 0
    n_out = out_obs.get["n_out"]
    print(
        f"responses={n_resp} extracted={n_out} quarantined={n_bad}"
    )
    return 0


def prepare_ingest(opts: IngestOptions):
    """Everything ``ingest`` does before the stream starts: open the
    destination, read its schema, seed ``--seek_offsets`` into its txn
    ledger, and build the job on that same sink. Only ``delta`` tables
    declare a schema (Hudi keeps none; Iceberg reports one only after
    an evolution), so other formats are refused up front."""
    from kafka_delta_ingest_spark.ingest import IngestJob
    from kafka_delta_ingest_spark.offsets import write_offsets_to_table
    from kafka_delta_ingest_spark.sinks.base import open_sink

    if opts.log_format != "delta":
        raise SystemExit(
            f"ingest reads its schema from the table, so it needs "
            f"--log_format delta; stream into {opts.log_format} through "
            "IngestJob(opts, schema)"
        )
    sink = open_sink(opts)
    schema = sink.table_schema()
    if schema is None:
        raise SystemExit(
            f"table {opts.table_uri} has no schema; create it first "
            "(the destination schema drives decoding — SURVEY §1.2)"
        )
    if opts.seek_offsets:
        write_offsets_to_table(sink, opts.app_id, opts.seek_offsets)
    return IngestJob(opts, schema, sink=sink)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "curate":
        return run_curate(args)
    if args.command == "extract-web":
        return run_extract_web(args)
    if args.command == "convert":
        return run_convert(args)
    if args.command == "table":
        return run_table(args)
    opts = options_from_args(args)

    from kafka_delta_ingest_spark.session import get_spark

    spark = get_spark(app_name=f"kdi-{opts.app_id}")
    job = prepare_ingest(opts)
    ckpt = args.checkpoint_dir or f"{opts.table_uri}/_kdi_checkpoints/{opts.app_id}"
    query = job.run_stream(spark, ckpt)
    query.awaitTermination()
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
