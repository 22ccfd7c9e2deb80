"""The sink contract every ingest destination implements, plus the
pieces the table writers share.

The reference commits data, dead letters and ``--seek_offsets``
bootstraps to Delta tables through one ledger: per-Kafka-partition
``txn`` actions ``{appId: "<app_id>-<partition>", version: <offset>}``
(reference src/delta_helpers.rs:15-40, src/dead_letters.rs:240-316,
src/offsets.rs:36-102). Every destination here keeps that ledger in
its own log and exposes it through the same small surface
(:class:`Sink`); :func:`open_sink` picks the destination from
``IngestOptions.log_format``.

Exactly-once follows the Structured Streaming recipe: a replayable
source, an offset ledger, and an idempotent sink. A batch whose
offsets are all already stored is skipped (:func:`already_applied`),
so a replay after a crash commits nothing twice.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from functools import cached_property
from typing import Protocol

# Iceberg snapshot summaries and Hudi commit extraMetadata carry the
# ledger as string maps: one ``kdi.offsets.<appId>`` key per partition.
OFFSETS_PREFIX = "kdi.offsets."


class ConstraintViolation(RuntimeError):
    """A write contained rows failing a table CHECK constraint.

    Mirrors Delta's InvariantViolationException: the whole transaction
    fails — no partial data lands. SQL CHECK semantics: a row violates
    only when the expression is FALSE; NULL/UNKNOWN satisfies."""


@dataclass
class CommitResult:
    version: int
    num_files: int
    num_records: int
    skipped: bool = False
    # bytes of the data files the commit added (statsd delta.add.size)
    num_bytes: int = 0


class Sink(Protocol):
    """What the ingest loop, the DLQ and the offset bootstrap need
    from a destination table."""

    def snapshot(self) -> dict:
        """``{"txn": {appId: version}, "version": ..., "metaData": ...}``
        — ``txn`` is the exactly-once ledger."""

    def table_schema(self):
        """The declared Spark schema, or None when the destination
        takes its schema from the caller."""

    def write_batch(self, df, partition_by=None, txn=None) -> CommitResult:
        """Append ``df`` with the ``txn`` ledger entries in one atomic
        commit; skipped when :func:`already_applied` or empty."""

    def commit_offsets(self, txn: dict[str, int]):
        """Commit ledger entries alone (``--seek_offsets`` bootstrap)."""

    def optimize(self, spark, target_file_bytes: int = 134_217_728):
        """Bin-pack small files (``--auto_optimize_interval``)."""

    def read(self, spark, as_of=None):
        """The table as a DataFrame, optionally time-travelled."""


def open_sink(opts, schema=None) -> Sink:
    """The destination ``opts.log_format`` names at ``opts.table_uri``.
    ``schema`` seeds a new Iceberg table's field ids."""
    fmt = opts.log_format
    if fmt == "delta":
        from kafka_delta_ingest_spark.delta_standard import DeltaStandardSink

        return DeltaStandardSink(opts.table_uri)
    if fmt == "iceberg":
        from pyspark.sql.types import StructType

        from kafka_delta_ingest_spark.iceberg import IcebergSink

        return IcebergSink(
            opts.table_uri, schema or StructType(),
            partition_by=opts.partition_by or None,
        )
    if fmt in ("hudi", "hudi_mor"):
        from kafka_delta_ingest_spark.hudi import HudiSink

        return HudiSink(
            opts.table_uri, mor=fmt == "hudi_mor", record_key=opts.record_key
        )
    raise ValueError(f"unknown log_format {fmt!r}")


def already_applied(stored: dict, txn: dict) -> bool:
    """True when ``txn`` is non-empty and every appId in it is stored
    at or beyond its version — the batch is a replay (reference
    src/lib.rs:1087-1100 ``should_process_offset``). Values may be
    ints or the decimal strings of an encoded ledger."""
    return bool(txn) and all(
        app in stored and int(stored[app]) >= int(ver)
        for app, ver in txn.items()
    )


def _remove_quietly(paths) -> None:
    """Best-effort cleanup of files an aborted commit staged: nothing
    references them, and a failure here must not mask the abort."""
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def encode_offsets(txn: dict[str, int]) -> dict[str, str]:
    """Ledger → ``kdi.offsets.<appId>`` string map."""
    return {f"{OFFSETS_PREFIX}{app}": str(v) for app, v in txn.items()}


def decode_offsets(meta: dict) -> dict[str, int]:
    """The ``kdi.offsets.<appId>`` entries of a string map → ledger."""
    n = len(OFFSETS_PREFIX)
    return {
        k[n:]: int(v) for k, v in meta.items() if k.startswith(OFFSETS_PREFIX)
    }


# Every writer stages Spark's parquet output in a directory of this
# prefix under the table root; VACUUM sweeps an aged one.
STAGING_PREFIX = "_staging-"


@dataclass
class StagedFile:
    """One parquet file Spark wrote under a staging directory:
    ``rel_dir`` is its directory relative to the staging root (``""``
    at the top, ``/``-separated), ``name`` its file name."""

    path: str
    rel_dir: str
    name: str

    @cached_property
    def metadata(self):
        """The pyarrow ``FileMetaData`` of the footer, read once."""
        import pyarrow.parquet as pq

        return pq.ParquetFile(self.path).metadata

    def promote(self, dest: str) -> int:
        """Move the file to ``dest`` (its directory made as needed)
        and return its size in bytes."""
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(self.path, dest)
        self.path = dest
        return os.path.getsize(dest)


@contextmanager
def staged_parquet(df, root: str, partition_by=None):
    """Write ``df`` as parquet (one Spark job, hive directories when
    ``partition_by`` is given) into a fresh staging directory under
    ``root`` and yield its files as :class:`StagedFile`, sorted by
    directory and name. The caller promotes the ones it keeps; the
    staging directory and whatever is left in it are removed on exit,
    also when the write or the caller fails."""
    staging = os.path.join(root, f"{STAGING_PREFIX}{uuid.uuid4().hex}")
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        staged = []
        for dirpath, _dirs, files in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            rel_dir = "" if rel == "." else rel.replace(os.sep, "/")
            staged += [
                StagedFile(os.path.join(dirpath, f), rel_dir, f)
                for f in files if f.endswith(".parquet")
            ]
        yield sorted(staged, key=lambda f: (f.rel_dir, f.name))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def zorder_value(df, cols: list[str]):
    """Morton (Z-order) key over numeric/timestamp/date columns.

    Two passes: a driver-scalar stats action collects per-column
    min/max, then every value is normalized to a ``bits``-wide integer
    rank and the ranks are bit-interleaved — pure shift/mask
    expressions, whole-stage codegen. Sorting by the interleaved key
    gives every output file a narrow min/max window on EVERY clustered
    column simultaneously, unlike a lexicographic sort which only
    bounds the leading column (Delta's ZORDER BY does the same thing
    on range-partition ids; OPTIMIZE ... ZORDER BY in delta-spark).

    Nulls normalize to rank 0 (sorted first, like Delta). Raises for
    column types with no numeric order — hash-bucketing a string gives
    interleave bits no range locality, so silently accepting one would
    quietly disable skipping on the other columns too.
    """
    from pyspark.sql import functions as F

    for c in cols:
        t = dict(df.dtypes)[c]
        if not (
            t in ("tinyint", "smallint", "int", "bigint", "float", "double", "date")
            or t.startswith(("decimal", "timestamp"))
        ):
            raise ValueError(f"zorder_value: column {c!r} has unordered type {t}")
    bits = min(16, 63 // len(cols))
    top = (1 << bits) - 1
    stats = df.agg(
        *[
            a
            for c in cols
            for a in (
                F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_mx_{c}"),
            )
        ]
    ).collect()[0]
    ranks = []
    for c in cols:
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = (
            (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn))
            * F.lit(top / (mx - mn))
        ).cast("long")
        ranks.append(F.least(F.greatest(scaled, F.lit(0)), F.lit(top)))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for ci, r in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(r, i).bitwiseAND(F.lit(1)), i * len(cols) + ci)
            )
    return z


def _parse_partition_values(rel_dir: str) -> dict[str, str | None]:
    """Directory segments → partition values. Spark percent-escapes
    special characters in partition directory names (':' → '%3A',
    Hive's escapePathName); the add action must store the UNESCAPED
    value or every predicate probe and every Spark-read value (which
    Spark unescapes) would mismatch the stored window — silently
    excluding matching files."""
    from urllib.parse import unquote

    values: dict[str, str | None] = {}
    for seg in rel_dir.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            values[unquote(k)] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            )
    return values


def _parquet_stats(path: str) -> dict:
    """numRecords / minValues / maxValues / nullCount from the footer.

    Parity with the reference's add-action stats
    (src/writer.rs:657-1076): top-level primitive columns only, min/max
    for bool/int/long/float/double/string. A string column whose
    footer bound is not valid UTF-8 (a dead letter's raw bytes) gets
    no min/max at all: a bound taken from the other row groups alone
    would be wrong. Its nullCount stays.
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    num_records = md.num_rows
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    no_bounds: set = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:  # skip nested leaves (arrays etc.)
                continue
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st.has_min_max and name not in no_bounds:
                try:
                    mn, mx = _json_safe(st.min), _json_safe(st.max)
                except UnicodeDecodeError:
                    no_bounds.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                if name not in mins or (mn is not None and mn < mins[name]):
                    mins[name] = mn
                if name not in maxs or (mx is not None and mx > maxs[name]):
                    maxs[name] = mx
    return {
        "numRecords": num_records,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def _json_safe(v):
    import decimal

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        # decimal stats serialize as plain numeric strings (the
        # delta-spark convention); without this a DECIMAL column made
        # every stats-carrying write crash on json.dumps
        return str(v)
    return v
