"""SparkSession factory tuned for the ingest engine.

Defaults are chosen for scale-out behavior (AQE, snappy parquet,
128 MiB target split/file sizes — matching the reference's
min_bytes_per_file default, reference src/lib.rs:317), while remaining
correct on local[N] test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 128 MiB — same as the reference's default min parquet file size
# (reference src/main.rs:392-398).
TARGET_FILE_BYTES = 134_217_728


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "kafka-delta-ingest-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster callers pass their own master via spark-submit; the
    ``local[N]`` default only applies when nothing is configured yet.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, dynamic join
        # strategy switch — our substitute for hand-tuned partition counts
        # at 100 TB scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (optimization): InferFiltersFromGenerate synthesizes a
        # ``size(arr) > 0`` filter under every explode/posexplode, and
        # predicate pushdown then drags that filter below the
        # repartition that feeds our shingle/gram operators — fully
        # INLINING the expensive gram expression (a ~16x-duplicated
        # regexp+split zip_with chain, interpreted: HOFs are
        # CodegenFallback) into the narrow pre-shuffle scan stage.
        # Measured on dedup_substring_spans at sf0.1: two single-task
        # 4-12s filter stages, and every gram row pays the expression
        # TWICE (filter + projection) at any scale. The rule only
        # infers a redundant filter (empty arrays generate no rows
        # anyway), so excluding it never changes results; its upside
        # (dropping empty-array rows before a shuffle) is negligible
        # for these operators, where empty docs are rare and cheap.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # r12 (optimization, guide §3.1): let the planner pick a
        # shuffled-hash join when its per-partition build side fits —
        # sort-merge stays available (and is still chosen when sizes
        # are unknown/large); this only removes the blanket preference
        # for the sort. Scale-safe: the size conditions are evaluated
        # per query from statistics, not tuned to local core counts.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Arrow for any pandas UDF hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reference writes snappy parquet exclusively (src/writer.rs:353-356).
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", str(TARGET_FILE_BYTES))
        # The driver's testdata stores some timestamps as parquet
        # TIMESTAMP(NANOS); Spark has no nanos type — read them as long
        # and convert in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]")
        # Python-worker daemon wrapper (see kdi_pydaemon.py): CPython
        # 3.11's zipimport re-reads pyspark.zip's whole central
        # directory on EVERY task's importlib.invalidate_caches() —
        # ~200 ms of worker CPU per Python-UDF task. The wrapper makes
        # invalidation mtime-aware (the later-CPython upstream fix).
        # Only set when WE create the context AND the module is where
        # the workers will find it — a harness-owned session never sees
        # this conf. The repository root reaches the workers' PYTHONPATH
        # through the executor environment, which Spark merges into it;
        # this process's own environment is left alone.
        repo_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        if os.path.exists(os.path.join(repo_root, "kdi_pydaemon.py")):
            builder = builder.config(
                "spark.executorEnv.PYTHONPATH", repo_root
            ).config("spark.python.daemon.module", "kdi_pydaemon")
        # Local mode runs everything in the driver JVM, whose heap
        # defaults to 1g regardless of machine size — 32 concurrent
        # tasks sharing 1g hit GCLocker retry death on any
        # materialization (measured: a 10x-corpus localCheckpoint).
        # Size it FROM the box: a quarter of physical RAM, clamped to
        # [2g, 16g], so a small CI container is never overcommitted
        # into the OOM-killer (override via SPARK_GRAFT_DRIVER_MEM;
        # on a real cluster spark-submit owns this setting).
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if not mem:
            try:
                ram_gb = (
                    os.sysconf("SC_PHYS_PAGES")
                    * os.sysconf("SC_PAGE_SIZE")
                ) >> 30
            except (ValueError, OSError):
                ram_gb = 8
            mem = f"{min(16, max(2, ram_gb // 4))}g"
        builder = builder.config("spark.driver.memory", mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
