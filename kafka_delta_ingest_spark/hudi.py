"""Jar-free Apache Hudi COPY-ON-WRITE reader — the third leg of the
open-table-format trio (Iceberg: iceberg.py, Delta: delta_standard.py).

Written from the public Apache Hudi table-format spec and storage
layout docs:

* ``.hoodie/hoodie.properties`` — java-properties table config
  (name, ``hoodie.table.type=COPY_ON_WRITE``).
* The TIMELINE: instant files directly under ``.hoodie/`` named
  ``<instant>.commit`` (completed), with ``.commit.requested`` /
  ``.inflight`` marking in-flight state transitions.  An instant is a
  ``yyyyMMddHHmmssSSS`` timestamp string; completed files carry a
  JSON ``HoodieCommitMetadata`` whose ``partitionToWriteStats`` maps
  partition path → write stats (fileId, path, prevCommit, record
  counts).
* Data files named ``<fileId>_<writeToken>_<instantTime>.parquet``.
  All files sharing a fileId form a FILE GROUP; each commit that
  touches the group adds a new FILE SLICE (copy-on-write: the whole
  group is rewritten).  A snapshot read picks, per file group, the
  slice of the latest completed instant ≤ the as-of instant.
* Hudi meta columns (``_hoodie_commit_time``, ``_hoodie_commit_seqno``,
  ``_hoodie_record_key``, ``_hoodie_partition_path``,
  ``_hoodie_file_name``) lead every data file's schema; the reader
  drops them by default (``keep_meta=False``).

Scale design: snapshot planning is a pure TIMELINE walk — commit
metadata lists every live file, so planning never lists data
directories (Hudi's own selling point for object stores: O(commits)
driver-side metadata, not O(files) listing).  The data read is one
``spark.read.parquet(*files)`` over exactly the live slices, so
partition pruning / column pruning / predicate pushdown all apply
normally.

Scope: COPY_ON_WRITE snapshot + time travel, and (r7)
MERGE_ON_READ — the default Hudi streaming-ingest layout — via a
jar-free HoodieLogFormat codec:

* log files named ``.<fileId>_<baseInstant>.log.<version>_<token>``
  hold a sequence of LOG BLOCKS, each framed per the public format
  (org.apache.hudi.common.table.log.HoodieLogFormat, format version
  1): ``#HUDI#`` magic, block-size long, version int, block-type
  ordinal int, header map (count + per-entry ordinal/len/utf8),
  content length + content, footer map, and a trailing total-size
  long for reverse seeks;
* AVRO_DATA_BLOCK content = format-version int, record count, then
  per record a length-prefixed Avro-binary datum (writer schema in
  the block's SCHEMA header) — decoded with the repo's own
  avro_python codec; DELETE_BLOCK content = version int + length +
  an Avro array of (recordKey, partitionPath, orderingVal) triples
  (the Hudi 1.x HoodieDeleteRecordList form);
* snapshot semantics: per file group, the base slice plus every log
  block appended after it, merged by ``_hoodie_record_key`` with
  LATEST-WINS ordering on (instant, block position) and delete
  blocks tombstoning keys — executed Spark-natively (base files via
  one parquet scan, log files parsed inside ``mapInPandas`` over
  ``binaryFile``, one per-key window for the merge). Compaction
  (``.commit`` rewriting a group's base) resets the group's log
  chain, exactly the timeline rule.

Also supported (r7 second wave): ``replacecommit`` CLUSTERING (the
named file groups are replaced wholesale by the commit's new groups —
``partitionToReplaceFileIds`` walk) and INCREMENTAL queries
(``read_hudi_incremental``: latest version of every record written in
an instant window, selected by the per-row ``_hoodie_commit_time``
that both the CoW rewrite rule and the MOR merge preserve).
Table-service markers (``clean``/``rollback``/``savepoint``) are
ignored at plan time; genuinely unknown timeline actions raise.

Fixture writers (``HudiFixtureWriter``, ``HudiMorFixtureWriter``)
build REAL tables: properties, requested/inflight/completed instant
trios, meta columns in parquet (pyarrow), CoW rewrites, and MOR
delta commits appending real log blocks.

The production writers (``HudiCowWriter``, ``HudiMorWriter``, the
``HudiSink`` ingest destination and ``convert``'s bootstrap) publish
every instant through one commit path, ``HudiCowWriter._commit``:
claim ``<instant>.<action>.requested``, re-check the exactly-once
ledger when the batch carries offsets, write ``.inflight``, stage the
operation's files, then publish ``<instant>.<action>`` with
``operationType`` and ``extraMetadata``. A write that does not commit
removes the files it wrote and withdraws its markers. A publish call
that itself raised does the same when the store does not show the
completed instant, and otherwise leaves them, since that commit may
have landed.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Callable

from kafka_delta_ingest_spark.io import metadata_df, overlap
from kafka_delta_ingest_spark.sinks.base import (
    CommitResult,
    _remove_quietly,
    already_applied,
    decode_offsets,
    encode_offsets,
    staged_parquet,
)

_INSTANT_RE = re.compile(r"^(\d{14,17})\.(\w+)$")

META_COLS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]


def _stats_bytes(stats_by_part: dict[str, list[dict]]) -> int:
    """Bytes written, from a commit's ``partitionToWriteStats``."""
    return sum(
        st.get("fileSizeInBytes", 0)
        for lst in stats_by_part.values() for st in lst
    )


def _stat_counts(stats_by_part: dict[str, list[dict]]) -> tuple[int, int]:
    """(files, records) written, from a ``partitionToWriteStats``."""
    stats = [st for lst in stats_by_part.values() for st in lst]
    return len(stats), sum(st["numWrites"] for st in stats)


def _merged_stats(*maps: dict[str, list[dict]]) -> dict[str, list[dict]]:
    """One ``partitionToWriteStats`` from several, in argument order."""
    out: dict[str, list[dict]] = {}
    for stats_by_part in maps:
        for part, lst in stats_by_part.items():
            out.setdefault(part, []).extend(lst)
    return out


def _seqno(instant: str):
    """The ``_hoodie_commit_seqno`` Column of a row written at
    ``instant``: (instant, Spark partition id, row position)."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        "_",
        F.lit(instant),
        F.spark_partition_id().cast("string"),
        F.monotonically_increasing_id().cast("string"),
    )


def _slice_paths(root: str, part: str, fid: str, instant: str):
    """(absolute, table-relative) path of file group ``fid``'s base
    file written at ``instant`` in partition ``part``."""
    name = f"{fid}_0-1-0_{instant}.parquet"
    rel = f"{part}/{name}" if part else name
    return os.path.join(root, rel), rel


def _log_paths(root: str, part: str, fid: str, base_instant: str,
               version: int):
    """(absolute, table-relative) path of log ``version`` of file
    group ``fid``'s slice based at ``base_instant``."""
    name = f".{fid}_{base_instant}.log.{version}_0-1-0"
    rel = f"{part}/{name}" if part else name
    return os.path.join(root, rel), rel


def _write_stat(fid: str, rel: str, prev: str, num_writes: int,
                size: int) -> dict:
    """The ``partitionToWriteStats`` entry of a new base file."""
    return {
        "fileId": fid,
        "path": rel,
        "prevCommit": prev,
        "numWrites": num_writes,
        "fileSizeInBytes": size,
    }


def _one_file_per_group(staged) -> dict:
    """fileId → its one staged file, for a staging write partitioned
    by ``__kdi_fid`` (a slice is ONE base file)."""
    import urllib.parse

    by_fid: dict[str, list] = {}
    for f in staged:
        if f.rel_dir:
            fid = urllib.parse.unquote(f.rel_dir.split("=", 1)[1])
            by_fid.setdefault(fid, []).append(f)
    for fid, files in by_fid.items():
        if len(files) != 1:
            raise RuntimeError(
                f"file group {fid}: expected one slice file, "
                f"got {len(files)}"
            )
    return {fid: files[0] for fid, files in by_fid.items()}


def _hoodie_dir(table_path: str) -> str:
    d = os.path.join(table_path, ".hoodie")
    if not os.path.isdir(d):
        raise ValueError(f"not a Hudi table: no .hoodie at {table_path}")
    return d


def table_properties(table_path: str) -> dict:
    """Parse ``.hoodie/hoodie.properties`` (java properties subset)."""
    props = {}
    p = os.path.join(_hoodie_dir(table_path), "hoodie.properties")
    if os.path.exists(p):
        for line in open(p, encoding="utf-8"):
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            k, _, v = line.partition("=")
            props[k.strip()] = v.strip()
    return props


def completed_commits(table_path: str) -> list[tuple[str, str]]:
    """Sorted (instant, action) pairs for COMPLETED instants on the
    timeline.  Only fully-transitioned files count — ``.requested`` /
    ``.inflight`` suffixed instants are pending by definition.
    ``commit`` (CoW write / MOR compaction) and ``deltacommit`` (MOR
    write) are supported; ``replacecommit`` (clustering) raises."""
    out = []
    for name in os.listdir(_hoodie_dir(table_path)):
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        instant, action = m.group(1), m.group(2)
        if action in ("commit", "deltacommit", "replacecommit"):
            out.append((instant, action))
        elif action in ("clean", "rollback", "savepoint"):
            # table-service markers, not data commits: clean deletes
            # already-superseded slices, rollback/savepoint mark
            # lifecycle events — snapshot planning ignores them (the
            # rolled-back instant's own file is gone from the timeline)
            continue
        else:
            raise ValueError(
                f"unknown Hudi timeline action .{action}"
            )
    return sorted(out)


def plan_file_groups(
    table_path: str,
    as_of_instant: str | None = None,
    partition_filter: Callable[[str], bool] | None = None,
) -> tuple[dict, str]:
    """Walk the timeline and return the snapshot plan per FILE GROUP:
    ``{(partition, fileId): {"base": path|None,
    "logs": [(instant, path), ...]}}`` plus the plan instant.

    Rules (the Hudi file-slice model): a ``.parquet`` write stat
    starts a NEW slice for its group — later base file wins and RESETS
    the group's log chain (that is exactly what compaction's
    ``.commit`` does); a ``.log.`` write stat appends to the group's
    current slice. Metadata-only: O(commits) driver work, no data
    directory listing (Hudi's object-store selling point)."""
    commits = completed_commits(table_path)
    if as_of_instant is not None:
        commits = [c for c in commits if c[0] <= as_of_instant]
    if not commits:
        raise ValueError(
            f"no completed commits at or before {as_of_instant!r}"
        )
    groups: dict[tuple[str, str], dict] = {}
    for instant, action in commits:
        meta = json.load(
            open(
                os.path.join(
                    _hoodie_dir(table_path), f"{instant}.{action}"
                ),
                encoding="utf-8",
            )
        )
        if action == "replacecommit":
            # clustering: the named file groups are REPLACED wholesale
            # by this commit's new groups (added below via the normal
            # write-stats walk)
            for part, fids in meta.get(
                "partitionToReplaceFileIds", {}
            ).items():
                if partition_filter is not None and not partition_filter(
                    part
                ):
                    continue
                for fid in fids:
                    groups.pop((part, fid), None)
        for part, stats in meta.get("partitionToWriteStats", {}).items():
            if partition_filter is not None and not partition_filter(part):
                continue
            for st in stats:
                g = groups.setdefault(
                    (part, st["fileId"]), {"base": None, "logs": []}
                )
                path = os.path.join(table_path, st["path"])
                if ".log." in os.path.basename(st["path"]):
                    g["logs"].append((instant, path))
                else:
                    g["base"] = path
                    g["logs"] = []  # new slice resets the log chain
    return groups, commits[-1][0]


# METADATA_ONLY bootstrap (Hudi RFC-15 shape): skeleton base files
# carry ONLY the five _hoodie_* meta columns; the data columns stay in
# the external SOURCE parquet, mapped 1:1 skeleton->source by the
# bootstrap index. Real Hudi stores that index as HFile under
# .hoodie/.aux/.bootstrap/ — this repo stores the SAME mapping as JSON
# (documented divergence: HFile is a jar format; everything else —
# skeleton shape, timeline, commit metadata, file-group naming —
# follows the public model).
BOOTSTRAP_INDEX_REL = os.path.join(
    ".hoodie", ".aux", ".bootstrap", "index.json"
)
# Hudi's reserved instant for METADATA_ONLY bootstrap commits
# (HoodieTimeline.METADATA_BOOTSTRAP_INSTANT_TS)
BOOTSTRAP_INSTANT = "00000000000001"


def bootstrap_mapping(table_path: str) -> dict[str, str]:
    """fileId -> absolute source-parquet path for METADATA_ONLY
    bootstrapped file groups; empty for non-bootstrapped tables. One
    small JSON read — O(bootstrapped files), metadata-scale."""
    p = os.path.join(table_path, BOOTSTRAP_INDEX_REL)
    if not os.path.exists(p):
        return {}
    with open(p, encoding="utf-8") as f:
        idx = json.load(f)
    return {e["fileId"]: e["source"] for e in idx.get("mapping", [])}


def bootstrap_partition_info(
    table_path: str,
) -> tuple[str, dict[str, dict]] | None:
    """(partition-schema DDL, fileId -> {col: raw hive string|None})
    when the bootstrap index carries partition values — written for
    PARTITIONED Delta sources (r12), whose hive layout drops the
    partition columns from the data pages so readers must reattach
    them from metadata (the Hudi-side analog of Delta's P1/P2
    partition-value reads, reference src/writer.rs:504-543). ``None``
    for unpartitioned bootstraps and non-bootstrapped tables. One
    small JSON read, O(bootstrapped files)."""
    p = os.path.join(table_path, BOOTSTRAP_INDEX_REL)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as f:
        idx = json.load(f)
    ddl = idx.get("partitionSchema")
    if not ddl:
        return None
    return ddl, {
        e["fileId"]: e.get("partitionValues") or {}
        for e in idx.get("mapping", [])
    }


def _bootstrap_pv_frame(spark, ddl: str, rows: list[tuple]):
    """Small TYPED mapping frame (``__kdi_pvkey string`` + one column
    per partition field) for broadcast-attaching bootstrap partition
    values to a scan. ``rows`` are (join key, {col: raw string|None})
    pairs — raw strings are the hive-directory spellings the Delta log
    stores; the cast to the source table's types is the same
    ``F.lit(v).cast(type)`` reconstruction delta_standard's reader
    uses, so values round-trip identically across engines."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(ddl)
    data = [
        (k, *[(vals or {}).get(f.name) for f in st.fields])
        for k, vals in rows
    ]
    mp = metadata_df(
        spark,
        data,
        "__kdi_pvkey string"
        + "".join(f", `{f.name}` string" for f in st.fields),
    )
    return mp.select(
        "__kdi_pvkey",
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in st.fields
        ],
    )


def _is_bootstrap_slice(base_path: str) -> bool:
    """True when a file group's LIVE slice is still its bootstrap
    skeleton (named ``<fileId>_*_00000000000001.parquet``). A later
    rewrite (upsert FULL_RECORD-ization) produces a normal slice at a
    newer instant — later-base-wins makes the group ordinary again,
    while the bootstrap index entry stays forever so TIME-TRAVEL reads
    at or before the rewrite keep resolving the skeleton's source."""
    return os.path.basename(base_path).endswith(
        f"_{BOOTSTRAP_INSTANT}.parquet"
    )


def _bootstrap_zip(spark, boot_items: list[tuple[str, str]],
                   bmap: dict[str, str], fid_alias: str | None = None,
                   pv_info: tuple[str, dict] | None = None):
    """Full-row view of METADATA_ONLY-bootstrapped file groups: the
    skeleton parquet (meta columns) zipped POSITIONALLY with its
    source parquet (data columns) — Hudi's bootstrap-relation merge,
    Spark-shaped. Row i of a skeleton was generated from row i of its
    source, so the join key is (fileId, _metadata.row_index): exact,
    shuffle on an 8-byte+string key, no data comparison. Only reads
    that NEED meta columns pay it (keep_meta / incremental / log
    merge); plain data queries substitute source paths into the scan
    instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    def _side(paths, fid_of, suffix):
        mp = metadata_df(
            spark,
            sorted(fid_of.items()),
            f"_kdi_fp_m{suffix} string, _kdi_fid{suffix} string",
        )
        d = spark.read.option("mergeSchema", "true").parquet(
            *sorted(paths)
        ).select(
            "*",
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:(//)?", ""
            ).alias(f"_kdi_fp{suffix}"),
            F.col("_metadata.row_index").alias(f"_kdi_pos{suffix}"),
        )
        return d.join(
            broadcast(mp),
            d[f"_kdi_fp{suffix}"] == mp[f"_kdi_fp_m{suffix}"],
        ).drop(f"_kdi_fp_m{suffix}", f"_kdi_fp{suffix}")

    sk = _side(
        [skel for _fid, skel in boot_items],
        {skel: fid for fid, skel in boot_items},
        "",
    )
    src = _side(
        [bmap[fid] for fid, _skel in boot_items],
        {bmap[fid]: fid for fid, _skel in boot_items},
        "2",
    )
    joined = sk.join(
        src,
        (sk["_kdi_fid"] == src["_kdi_fid2"])
        & (sk["_kdi_pos"] == src["_kdi_pos2"]),
    )
    if pv_info is not None:
        # partitioned-Delta bootstrap: the source pages lack the
        # partition columns — reattach them TYPED per file group via
        # one broadcast join on fileId (index-sized mapping frame).
        # Consumers (keep_meta reads, incremental, upsert
        # FULL_RECORD-ization) then see full rows, and a rewrite bakes
        # the values into the new slice's pages.
        ddl, by_fid = pv_info
        fids = sorted({fid for fid, _s in boot_items})
        mp = _bootstrap_pv_frame(
            spark, ddl, [(f, by_fid.get(f)) for f in fids]
        )
        joined = joined.join(
            broadcast(mp), joined["_kdi_fid"] == mp["__kdi_pvkey"]
        ).drop("__kdi_pvkey")
    if fid_alias is not None:
        joined = joined.withColumn(fid_alias, F.col("_kdi_fid"))
    return joined.drop(
        "_kdi_fid", "_kdi_pos", "_kdi_fid2", "_kdi_pos2"
    )


def plan_snapshot(
    table_path: str,
    as_of_instant: str | None = None,
    partition_filter: Callable[[str], bool] | None = None,
) -> tuple[list[str], str]:
    """CoW-only plan: (live base file paths, instant). Per (partition,
    fileId) file group the LATEST slice at or before ``as_of_instant``
    wins — the copy-on-write rule. Raises if any group carries log
    files (use :func:`read_hudi`, which merges them)."""
    groups, instant = plan_file_groups(
        table_path, as_of_instant, partition_filter
    )
    if any(g["logs"] for g in groups.values()):
        raise ValueError(
            "table has MERGE_ON_READ log files — plan_snapshot is the "
            "CoW fast path; read_hudi merges log blocks"
        )
    return (
        sorted(g["base"] for g in groups.values() if g["base"]),
        instant,
    )


# ---------------------------------------------------------------------------
# HoodieLogFormat codec (format version 1) — jar-free, from the public
# format (org.apache.hudi.common.table.log.HoodieLogFormat{,Writer,
# Reader} and .block.HoodieLogBlock): per block, magic + size long +
# version int + type ordinal + header map + content (length-prefixed)
# + footer map + trailing total-size long (reverse seek support).

LOG_MAGIC = b"#HUDI#"
LOG_FORMAT_VERSION = 1

# HoodieLogBlockType ordinals
BLOCK_COMMAND = 0
BLOCK_DELETE = 1
BLOCK_CORRUPT = 2
BLOCK_AVRO_DATA = 3

# HoodieLogBlock.HeaderMetadataType ordinals
HDR_INSTANT_TIME = 0
HDR_TARGET_INSTANT_TIME = 1
HDR_SCHEMA = 2
HDR_COMMAND_BLOCK_TYPE = 3

_DELETE_RECORDS_SCHEMA = {
    "type": "array",
    "items": {
        "type": "record",
        "name": "HoodieDeleteRecord",
        "fields": [
            {"name": "recordKey", "type": "string"},
            {"name": "partitionPath", "type": "string"},
            {"name": "orderingVal", "type": ["null", "long"],
             "default": None},
        ],
    },
}


def _meta_map_bytes(meta: dict[int, str]) -> bytes:
    import struct

    out = bytearray(struct.pack(">i", len(meta)))
    for k in sorted(meta):
        v = meta[k].encode("utf-8")
        out += struct.pack(">i", k)
        out += struct.pack(">i", len(v))
        out += v
    return bytes(out)


def _read_meta_map(buf, pos: int) -> tuple[dict[int, str], int]:
    import struct

    (n,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    out = {}
    for _ in range(n):
        k, ln = struct.unpack_from(">ii", buf, pos)
        pos += 8
        out[k] = buf[pos:pos + ln].decode("utf-8")
        pos += ln
    return out, pos


def _pandas_to_naive_ns(series):
    """Normalize a pandas datetime-ish series to tz-NAIVE
    ``datetime64[ns]`` (UTC wall time) for Avro epoch conversion.
    Arrow may hand executor code datetime64[us] (plain astype
    suffices) or a TZ-AWARE series (session time-zone configs), where
    ``.astype("datetime64[ns]")`` raises TypeError on pandas 2.x —
    convert to UTC and strip the tz first, matching what the per-cell
    ``pd.Timestamp(v).value`` path this replaced produced for aware
    values. Runs executor-side on the MoR upsert hot path."""
    import pandas as pd

    s = pd.to_datetime(series)
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[ns]")


def encode_log_block(btype: int, header: dict[int, str],
                     content: bytes,
                     footer: dict[int, str] | None = None) -> bytes:
    import struct

    body = bytearray()
    body += struct.pack(">i", LOG_FORMAT_VERSION)
    body += struct.pack(">i", btype)
    body += _meta_map_bytes(header)
    body += struct.pack(">q", len(content))
    body += content
    body += _meta_map_bytes(footer or {})
    total = len(LOG_MAGIC) + 8 + len(body) + 8
    return (
        LOG_MAGIC + struct.pack(">q", total) + bytes(body)
        + struct.pack(">q", total)
    )


def parse_log_file(b: bytes) -> list[dict]:
    """All blocks of a log file: ``{"type", "header", "content"}``
    each. Raises ValueError on framing corruption (bad magic or
    size-trailer mismatch — the reader's corrupt-block detection)."""
    import struct

    out = []
    pos = 0
    n = len(b)
    while pos < n:
        if b[pos:pos + 6] != LOG_MAGIC:
            raise ValueError(f"bad log block magic at offset {pos}")
        start = pos
        pos += 6
        (total,) = struct.unpack_from(">q", b, pos)
        pos += 8
        version, btype = struct.unpack_from(">ii", b, pos)
        pos += 8
        if version != LOG_FORMAT_VERSION:
            raise ValueError(f"unsupported log format version {version}")
        header, pos = _read_meta_map(b, pos)
        (clen,) = struct.unpack_from(">q", b, pos)
        pos += 8
        content = b[pos:pos + clen]
        pos += clen
        footer, pos = _read_meta_map(b, pos)
        (trailer,) = struct.unpack_from(">q", b, pos)
        pos += 8
        if trailer != total or pos - start != total:
            raise ValueError(
                f"log block size mismatch at offset {start} "
                f"(declared {total}, trailer {trailer}, read {pos - start})"
            )
        out.append({"type": btype, "header": header, "content": content})
    return out


def encode_avro_data_block_content(records: list[dict], schema: dict
                                   ) -> bytes:
    """AVRO_DATA_BLOCK content: format-version int, record count, then
    per record a length-prefixed Avro-binary datum (writer schema
    travels in the block's SCHEMA header)."""
    import struct

    from kafka_delta_ingest_spark.avro_python import _encode

    out = bytearray(struct.pack(">i", 3))  # HoodieAvroDataBlock version
    out += struct.pack(">i", len(records))
    for r in records:
        buf = bytearray()
        _encode(buf, schema, r)
        out += struct.pack(">i", len(buf))
        out += buf
    return bytes(out)


def decode_avro_data_block_content(content: bytes, schema: dict
                                   ) -> list[dict]:
    import io
    import struct

    from kafka_delta_ingest_spark.avro_python import _decode

    (_ver, n) = struct.unpack_from(">ii", content, 0)
    pos = 8
    out = []
    for _ in range(n):
        (ln,) = struct.unpack_from(">i", content, pos)
        pos += 4
        out.append(_decode(io.BytesIO(content[pos:pos + ln]), schema))
        pos += ln
    return out


def encode_delete_block_content(keys: list[tuple[str, str]]) -> bytes:
    """DELETE_BLOCK content: version int + length + Avro array of
    (recordKey, partitionPath, orderingVal) triples (the Hudi 1.x
    HoodieDeleteRecordList form — earlier kryo serialization is not
    reproducible jar-free)."""
    import struct

    from kafka_delta_ingest_spark.avro_python import _encode

    buf = bytearray()
    _encode(
        buf,
        _DELETE_RECORDS_SCHEMA,
        [
            {"recordKey": k, "partitionPath": p, "orderingVal": None}
            for k, p in keys
        ],
    )
    return struct.pack(">i", 1) + struct.pack(">i", len(buf)) + bytes(buf)


def decode_delete_block_content(content: bytes) -> list[dict]:
    import io
    import struct

    from kafka_delta_ingest_spark.avro_python import _decode

    (_ver, ln) = struct.unpack_from(">ii", content, 0)
    return _decode(
        io.BytesIO(content[8:8 + ln]), _DELETE_RECORDS_SCHEMA
    )


def _log_records_df(spark, log_specs: list[tuple[str, str, int, str]],
                    base_schema):
    """Parse MOR log files into a DataFrame shaped for the merge:
    META_COLS + data columns + (_kdi_instant, _kdi_pos, _kdi_del).
    Every row carries ``_hoodie_partition_path`` (the record's own, or
    the owning file group's) — Hudi's default non-global index scopes
    record keys PER PARTITION, so the merge must never collapse
    same-key rows across partitions (r8 ADVICE, medium).

    ``log_specs``: (path, append_instant, log_seq). One task per log
    file (a paths DataFrame → mapInPandas that opens the file
    directly — Spark's hidden-file filter would drop the dot-prefixed
    log names from a binaryFile scan); parallelism scales with the
    log-file count exactly like the CommonCrawl WARC model. Ordering
    within a file slice is (instant, position) with position packing
    (log_seq, block index, record index) into one long."""
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    data_fields = [
        f for f in base_schema.fields if f.name not in META_COLS
    ]
    out_schema = StructType(
        [StructField(c, StringType()) for c in META_COLS]
        + data_fields
        + [
            StructField("_kdi_instant", StringType()),
            StructField("_kdi_pos", LongType()),
            StructField("_kdi_del", BooleanType()),
        ]
    )
    names = [f.name for f in out_schema.fields]
    data_names = [f.name for f in data_fields]
    # temporal columns arrive from log blocks as Avro longs
    # (timestamp-micros / date-days); convert back by the BASE
    # schema's field type so the Arrow batch matches out_schema
    ts_names = [
        f.name for f in data_fields
        if f.dataType.simpleString() in ("timestamp", "timestamp_ntz")
    ]
    date_names = [
        f.name for f in data_fields
        if f.dataType.simpleString() == "date"
    ]

    def run(batches):
        for pdf in batches:
            rows = []
            for path, instant, seq, part in zip(
                pdf["path"], pdf["instant"], pdf["seq"], pdf["part"]
            ):
                with open(path, "rb") as f:
                    blocks = parse_log_file(f.read())
                # kept: (block_instant, rows) per surviving block — a
                # ROLLBACK command block invalidates every PRIOR block
                # of its target instant within this log file (Hudi's
                # crash-recovery marker: a failed write's orphan
                # blocks are neutralized by the next writer, the
                # HoodieLogRecordReader contract).
                kept: list[tuple[str, list]] = []
                for bi, blk in enumerate(blocks):
                    base_pos = (int(seq) << 40) | (bi << 20)
                    brows: list[dict] = []
                    if blk["type"] == BLOCK_AVRO_DATA:
                        schema = json.loads(
                            blk["header"][HDR_SCHEMA]
                        )
                        recs = decode_avro_data_block_content(
                            blk["content"], schema
                        )
                        binst = blk["header"].get(
                            HDR_INSTANT_TIME, instant
                        )
                        for ri, r in enumerate(recs):
                            row = {c: None for c in names}
                            row["_hoodie_record_key"] = str(
                                r.get("_hoodie_record_key")
                            )
                            row["_hoodie_partition_path"] = (
                                r.get("_hoodie_partition_path") or part
                            )
                            for c in data_names:
                                row[c] = r.get(c)
                            row["_kdi_instant"] = binst
                            row["_kdi_pos"] = base_pos | ri
                            row["_kdi_del"] = False
                            brows.append(row)
                        kept.append((binst, brows))
                    elif blk["type"] == BLOCK_DELETE:
                        binst = blk["header"].get(
                            HDR_INSTANT_TIME, instant
                        )
                        recs = decode_delete_block_content(
                            blk["content"]
                        )
                        for ri, r in enumerate(recs):
                            row = {c: None for c in names}
                            row["_hoodie_record_key"] = r["recordKey"]
                            # a delete record tombstones (key, PARTITION)
                            # — never the same key in other partitions
                            row["_hoodie_partition_path"] = (
                                r.get("partitionPath") or part
                            )
                            row["_kdi_instant"] = binst
                            row["_kdi_pos"] = base_pos | ri
                            row["_kdi_del"] = True
                            brows.append(row)
                        kept.append((binst, brows))
                    elif blk["type"] == BLOCK_COMMAND:
                        cmd = blk["header"].get(
                            HDR_COMMAND_BLOCK_TYPE, "0"
                        )
                        if str(cmd) != "0":
                            raise ValueError(
                                f"unsupported command block type {cmd}"
                            )
                        target = blk["header"].get(
                            HDR_TARGET_INSTANT_TIME
                        )
                        kept = [e for e in kept if e[0] != target]
                    else:
                        raise ValueError(
                            f"unsupported log block type {blk['type']}"
                        )
                for _binst, brows in kept:
                    rows.extend(brows)
            out = pd.DataFrame(rows, columns=names)
            for c in ts_names:
                if c in out.columns:
                    out[c] = pd.to_datetime(out[c], unit="us")
            for c in date_names:
                if c in out.columns:
                    out[c] = pd.to_datetime(
                        out[c], unit="D"
                    ).dt.date
            yield out

    # one slice per log file up to 64, sliced at parallelize time:
    # the old createDataFrame (defaultParallelism slices) + repartition
    # cost an extra 32-task stage and a shuffle for a handful of rows
    paths_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p, i, s, pt) for p, i, s, pt in log_specs],
            max(1, min(len(log_specs), 64)),
        ),
        "path string, instant string, seq long, part string",
    )
    return paths_df.mapInPandas(run, schema=out_schema)


def read_hudi(
    spark,
    table_path: str,
    as_of_instant: str | None = None,
    keep_meta: bool = False,
    partition_filter: Callable[[str], bool] | None = None,
):
    """Snapshot-read a Hudi table (CoW or MOR) into a DataFrame,
    optionally at a time-travel instant.  ``partition_filter`` prunes
    partitions at PLAN time (before any file is opened) from the
    timeline metadata alone.

    CoW tables (or MOR with no pending log files) are one parquet
    scan. MOR snapshots merge each file group's log blocks over its
    base slice: per ``_hoodie_record_key`` the LATEST version wins
    (ordered by instant, then log position) and delete blocks
    tombstone keys — ONE aggregate over the union
    (``max_by(row, (instant, pos))``, struct buffer → SortAggregate),
    chosen over a window/row_number formulation because the PARTIAL
    aggregate runs map-side: the key-hashed exchange carries one row
    per key per task instead of every stacked log version — the term
    that dominates when update churn is high (plan audited:
    Sort+partial SortAggregate pre-shuffle, one Exchange, final
    SortAggregate)."""
    from pyspark.sql import functions as F

    groups, _instant = plan_file_groups(
        table_path, as_of_instant, partition_filter
    )
    bmap = bootstrap_mapping(table_path)
    # bootstrap-backed = the LIVE slice is still the skeleton; a group
    # FULL_RECORD-ized by a later upsert reads as a normal file even
    # though its index entry remains (time-travel before the rewrite
    # still plans the skeleton slice and lands back here).
    boot_items = sorted(
        (fid, g["base"])
        for (_p, fid), g in groups.items()
        if g["base"] and fid in bmap
        and _is_bootstrap_slice(g["base"])
    )
    boot_fids = {fid for fid, _b in boot_items}
    base_files = sorted(
        g["base"]
        for (_p, fid), g in groups.items()
        if g["base"] and fid not in boot_fids
    )
    boot_df = None
    if boot_items:
        pv_info = bootstrap_partition_info(table_path)
        if keep_meta or any(g["logs"] for g in groups.values()):
            # meta columns needed: zip skeleton+source per group
            boot_df = _bootstrap_zip(
                spark, boot_items, bmap, pv_info=pv_info
            )
        elif pv_info is None:
            # plain data query: scan the SOURCE files in place (their
            # rows ARE the group's rows; meta columns are dropped
            # below anyway) — zero join, zero skeleton read
            base_files = sorted(
                base_files + [bmap[fid] for fid, _s in boot_items]
            )
        else:
            # plain data query over a PARTITIONED-source bootstrap:
            # still zero skeleton read, but the source pages lack the
            # partition columns (Delta hive layout) — one scan of the
            # sources plus a broadcast join against the index-sized
            # typed partition-value frame, keyed by file path.
            ddl, by_fid = pv_info
            mp = _bootstrap_pv_frame(
                spark,
                ddl,
                [(bmap[fid], by_fid.get(fid)) for fid, _s in boot_items],
            )
            s = spark.read.option("mergeSchema", "true").parquet(
                *sorted(bmap[fid] for fid, _s in boot_items)
            ).select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""
                ).alias("__kdi_bfp"),
            )
            boot_df = s.join(
                F.broadcast(mp), s["__kdi_bfp"] == mp["__kdi_pvkey"]
            ).drop("__kdi_bfp", "__kdi_pvkey")
    if not base_files and boot_df is None:
        raise ValueError("snapshot plan has no data files")
    if base_files:
        df = spark.read.option("mergeSchema", "true").parquet(
            *base_files
        )
        if boot_df is not None:
            df = df.unionByName(boot_df, allowMissingColumns=True)
    else:
        df = boot_df
    log_specs = [
        (path, inst, seq, part)
        for (part, _fid), g in groups.items()
        for seq, (inst, path) in enumerate(g["logs"])
    ]
    if log_specs:
        data_cols = [c for c in df.columns if c not in META_COLS]
        base = df.select(
            *META_COLS,
            *data_cols,
            F.col("_hoodie_commit_time").alias("_kdi_instant"),
            F.lit(-1).cast("long").alias("_kdi_pos"),
            F.lit(False).alias("_kdi_del"),
        )
        logs = _log_records_df(spark, log_specs, df.schema)
        merged = base.unionByName(logs)
        cols = merged.columns
        # latest-wins via max_by on the (instant, position) order key:
        # instants are fixed-width digit strings, so struct ordering is
        # the timeline order; (instant, pos) is unique per row. Keys
        # are scoped PER PARTITION (Hudi's default non-global index
        # allows the same record key in different partitions), so the
        # merge groups on (partition_path, record_key).
        merge_keys = ["_hoodie_partition_path", "_hoodie_record_key"]
        latest = (
            merged.groupBy(*merge_keys)
            .agg(
                F.max_by(
                    F.struct(*[c for c in cols
                               if c not in merge_keys]),
                    F.struct(F.col("_kdi_instant"), F.col("_kdi_pos")),
                ).alias("_r")
            )
            .select(*merge_keys, "_r.*")
        )
        df = (
            latest.filter(~F.col("_kdi_del"))
            # a log-updated row's effective commit time is its block's
            # instant — that is what incremental queries select on
            .withColumn("_hoodie_commit_time", F.col("_kdi_instant"))
            .drop("_kdi_instant", "_kdi_pos", "_kdi_del")
        )
    if not keep_meta:
        df = df.drop(*META_COLS)
    return df


def read_hudi_incremental(
    spark,
    table_path: str,
    begin_instant: str,
    end_instant: str | None = None,
    keep_meta: bool = False,
    snapshot=None,
):
    """Hudi INCREMENTAL query: the LATEST version of every record
    inserted or updated in ``(begin_instant, end_instant]`` — the
    change-feed surface streaming consumers poll (hudi.apache.org
    incremental-query semantics; deletes don't surface, matching
    Hudi's default payload behavior).

    Implementation: snapshot at ``end_instant`` (CoW slice pick or the
    MOR log merge — both leave each row's ``_hoodie_commit_time`` at
    the instant that last wrote it), then one pushed-down filter on
    the commit-time meta column. Incremental pulls therefore cost one
    filtered scan of the files commits in range actually touched, not
    a diff of two snapshots.

    ``snapshot`` lets a caller making SEVERAL windowed pulls against
    the same end instant supply the keep_meta=True snapshot once
    (typically ``read_hudi(..., keep_meta=True).localCheckpoint
    (eager=False)``): each pull then differs only in its begin filter
    instead of re-planning the timeline and re-merging MOR logs per
    window — the cost shape of a consumer that polls one table state
    with multiple watermarks."""
    from pyspark.sql import functions as F

    df = snapshot if snapshot is not None else read_hudi(
        spark, table_path, as_of_instant=end_instant, keep_meta=True
    )
    df = df.filter(F.col("_hoodie_commit_time") > begin_instant)
    if snapshot is not None and end_instant is not None:
        # A supplied snapshot is used as-is, so the as_of_instant cut
        # above never ran for it — without this filter a caller
        # passing both would silently receive rows committed AFTER
        # end_instant. (Exact only when the snapshot was built at an
        # instant >= end_instant; rows updated after end_instant hide
        # their in-window version, same as any late-read snapshot.)
        df = df.filter(F.col("_hoodie_commit_time") <= end_instant)
    if not keep_meta:
        df = df.drop(*META_COLS)
    return df


class HudiFixtureWriter:
    """Build a real on-disk Hudi CoW table: properties, the
    requested → inflight → completed instant trio per commit, data
    files with Hudi meta columns, and copy-on-write rewrites for
    upsert/delete.  ``record_key`` names the field used for
    ``_hoodie_record_key``."""

    _TABLE_TYPE = "COPY_ON_WRITE"

    def __init__(self, table_path: str, record_key: str,
                 partition_field: str | None = None,
                 table_name: str = "fixture"):
        self.path = table_path
        self.key = record_key
        self.part_field = partition_field
        self._seq = 0
        # (partition, fileId) -> [(commit_time, row), ...] currently in
        # the group. Per-ROW commit times matter: a CoW rewrite stamps
        # the new instant only on rows it actually changed — unchanged
        # rows RETAIN their original _hoodie_commit_time (that is what
        # makes Hudi incremental queries work).
        self._groups: dict[tuple[str, str], list[tuple]] = {}
        hoodie = os.path.join(table_path, ".hoodie")
        os.makedirs(hoodie, exist_ok=True)
        with open(os.path.join(hoodie, "hoodie.properties"), "w",
                  encoding="utf-8") as f:
            f.write("hoodie.table.name=%s\n" % table_name)
            f.write("hoodie.table.type=%s\n" % self._TABLE_TYPE)
            f.write("hoodie.table.version=6\n")
            f.write("hoodie.timeline.layout.version=1\n")

    def _instant(self, ts_ms: int) -> str:
        # yyyyMMddHHmmssSSS rendered from a caller-supplied epoch ms
        # (deterministic fixtures; no wall clock)
        import datetime as _dt

        d = _dt.datetime.fromtimestamp(ts_ms / 1000, _dt.timezone.utc)
        return d.strftime("%Y%m%d%H%M%S") + f"{ts_ms % 1000:03d}"

    def _partition_of(self, row: dict) -> str:
        if self.part_field is None:
            return ""
        return f"{self.part_field}={row[self.part_field]}"

    def _write_group(self, part: str, file_id: str,
                     rows: list[tuple[str, dict]],
                     instant: str, prev: str,
                     template: list[dict] | None = None) -> dict:
        """Write one new file slice.  ``rows`` is [(commit_time, row)]
        — each row keeps ITS OWN ``_hoodie_commit_time`` (unchanged
        rows retain their original instant through a rewrite; that is
        the property incremental queries select on).  ``rows`` may be
        EMPTY — Hudi CoW represents "every record in the group was
        deleted" as a new base file with zero records (the group stays
        in the timeline; readers see no rows) — in which case
        ``template`` supplies the prior slice's rows so the empty
        parquet keeps typed columns."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        token = "0-1-0"
        fname = f"{file_id}_{token}_{instant}.parquet"
        rel = os.path.join(part, fname) if part else fname
        full = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        if rows:
            cols: dict[str, list] = {c: [] for c in META_COLS}
            data_keys = list(rows[0][1].keys())
            for c in data_keys:
                cols[c] = []
            for ct, r in rows:
                self._seq += 1
                cols["_hoodie_commit_time"].append(ct)
                cols["_hoodie_commit_seqno"].append(
                    f"{ct}_0_{self._seq}"
                )
                cols["_hoodie_record_key"].append(str(r[self.key]))
                cols["_hoodie_partition_path"].append(part)
                cols["_hoodie_file_name"].append(fname)
                for c in data_keys:
                    cols[c].append(r[c])
            table = pa.table(cols)
        else:
            if not template:
                raise ValueError("empty slice needs a template row set")
            names = META_COLS + list(template[0].keys())
            arrays = []
            for c in names:
                if c in META_COLS:
                    arrays.append(pa.array([], type=pa.string()))
                else:
                    # Infer the column type from any non-null prior
                    # value; an all-null column degrades to string.
                    v = next(
                        (r[c] for r in template if r[c] is not None), ""
                    )
                    arrays.append(pa.array([v]).slice(0, 0))
            table = pa.table(dict(zip(names, arrays)))
        pq.write_table(table, full)
        self._groups[(part, file_id)] = list(rows)
        return {
            "fileId": file_id,
            "path": rel.replace(os.sep, "/"),
            "prevCommit": prev,
            "numWrites": len(rows),
            "numInserts": len(rows) if prev == "null" else 0,
            "numUpdateWrites": 0 if prev == "null" else len(rows),
            "fileSizeInBytes": os.path.getsize(full),
        }

    def _commit(self, stats_by_part: dict[str, list[dict]],
                instant: str, op: str, action: str = "commit",
                extra: dict | None = None):
        hoodie = os.path.join(self.path, ".hoodie")
        meta = {
            "partitionToWriteStats": stats_by_part,
            "operationType": op,
            "compacted": action == "commit" and op == "compact",
            **(extra or {}),
        }
        # real timeline state transitions
        open(os.path.join(hoodie, f"{instant}.{action}.requested"),
             "w").close()
        open(os.path.join(hoodie, f"{instant}.{action}.inflight"),
             "w").close()
        with open(os.path.join(hoodie, f"{instant}.{action}"), "w",
                  encoding="utf-8") as f:
            json.dump(meta, f)
        return instant

    def insert(self, rows: list[dict], ts_ms: int,
               groups_per_partition: int = 1) -> str:
        """INSERT commit: bucket rows into new file groups."""
        instant = self._instant(ts_ms)
        by_part: dict[str, list[dict]] = {}
        for r in rows:
            by_part.setdefault(self._partition_of(r), []).append(r)
        stats: dict[str, list[dict]] = {}
        for part, prows in sorted(by_part.items()):
            for g in range(groups_per_partition):
                grows = prows[g::groups_per_partition]
                if not grows:
                    continue
                fid = str(uuid.uuid5(
                    uuid.NAMESPACE_URL, f"{part}/{instant}/{g}"
                ))
                stats.setdefault(part, []).append(
                    self._write_group(
                        part, fid, [(instant, r) for r in grows],
                        instant, "null",
                    )
                )
        return self._commit(stats, instant, "insert")

    def upsert(self, rows: list[dict], ts_ms: int) -> str:
        """UPSERT commit: copy-on-write — every file group holding an
        affected record key is rewritten wholesale as a new slice with
        the updates applied (only UPDATED rows take the new commit
        time); unmatched keys raise (fixture precondition: upserts
        target existing records)."""
        instant = self._instant(ts_ms)
        updates = {str(r[self.key]): r for r in rows}
        stats: dict[str, list[dict]] = {}
        touched = set()
        for (part, fid), grows in sorted(self._groups.items()):
            if not any(str(r[self.key]) in updates for _, r in grows):
                continue
            new_rows = []
            for ct, r in grows:
                k = str(r[self.key])
                if k in updates:
                    new_rows.append((instant, updates[k]))
                    touched.add(k)
                else:
                    new_rows.append((ct, r))
            stats.setdefault(part, []).append(
                self._write_group(part, fid, new_rows, instant, "known")
            )
        missing = set(updates) - touched
        if missing:
            raise ValueError(f"upsert keys not present: {sorted(missing)}")
        return self._commit(stats, instant, "upsert")

    def delete(self, keys: list, ts_ms: int) -> str:
        """DELETE commit: CoW rewrite of affected groups without the
        victims (survivors keep their original commit times).  A
        fully-emptied group is rewritten as a ZERO-record base file
        (Hudi's representation — the group stays in the timeline and
        readers see no rows from it), so the operation is total over
        any victim set."""
        instant = self._instant(ts_ms)
        victims = {str(k) for k in keys}
        stats: dict[str, list[dict]] = {}
        for (part, fid), grows in sorted(self._groups.items()):
            if not any(str(r[self.key]) in victims for _, r in grows):
                continue
            survivors = [
                (ct, r) for ct, r in grows
                if str(r[self.key]) not in victims
            ]
            stats.setdefault(part, []).append(
                self._write_group(part, fid, survivors, instant,
                                  "known",
                                  template=[r for _, r in grows])
            )
        return self._commit(stats, instant, "delete")

    def cluster(self, ts_ms: int) -> str:
        """CLUSTERING replacecommit: per partition, coalesce every
        live file group into ONE new group (rows ordered by record
        key).  The ``.replacecommit`` metadata names the replaced
        fileIds in ``partitionToReplaceFileIds`` and carries the new
        group's write stats — exactly what the reader's replace walk
        consumes.  Rows keep their original commit times (clustering
        is a layout operation, not a data change)."""
        instant = self._instant(ts_ms)
        by_part: dict[str, list[tuple]] = {}
        replaced: dict[str, list[str]] = {}
        for (part, fid), grows in sorted(self._groups.items()):
            by_part.setdefault(part, []).extend(grows)
            replaced.setdefault(part, []).append(fid)
        for part, fids in replaced.items():
            for fid in fids:
                self._groups.pop((part, fid), None)
                if hasattr(self, "_slices"):
                    self._slices.pop((part, fid), None)
        stats: dict[str, list[dict]] = {}
        for part, rows in sorted(by_part.items()):
            rows.sort(key=lambda cr: str(cr[1][self.key]))
            fid = str(uuid.uuid5(
                uuid.NAMESPACE_URL, f"{part}/{instant}/cluster"
            ))
            stats.setdefault(part, []).append(
                self._write_group(part, fid, rows, instant, "null")
            )
            if hasattr(self, "_slices"):
                self._slices[(part, fid)] = [instant, 1]
        return self._commit(
            stats, instant, "cluster", action="replacecommit",
            extra={"partitionToReplaceFileIds": replaced},
        )


class HudiMorFixtureWriter(HudiFixtureWriter):
    """MERGE_ON_READ fixture writer: inserts create base parquet
    slices via ``.deltacommit``; updates/deletes APPEND real
    HoodieLogFormat blocks (avro data / delete blocks) to per-group
    log files via further delta commits; ``compact`` merges each
    group py-side and writes a fresh base slice under a ``.commit``
    (resetting the log chain — the timeline rule the reader plans by).

    ``schema``: data column → avro primitive type (``long``,
    ``double``, ``string``, ``boolean``) — the writer schema carried
    in each data block's SCHEMA header."""

    _TABLE_TYPE = "MERGE_ON_READ"

    def __init__(self, table_path: str, record_key: str,
                 schema: dict[str, str],
                 partition_field: str | None = None,
                 table_name: str = "fixture"):
        super().__init__(table_path, record_key, partition_field,
                         table_name)
        self.schema = dict(schema)
        # (part, fileId) -> [base_instant, next log version]
        self._slices: dict[tuple[str, str], list] = {}

    def _avro_schema(self) -> dict:
        return {
            "type": "record",
            "name": "HoodieRecord",
            "fields": [
                {"name": "_hoodie_record_key", "type": "string"},
            ] + [
                {"name": n, "type": ["null", t], "default": None}
                for n, t in self.schema.items()
            ],
        }

    def insert(self, rows: list[dict], ts_ms: int,
               groups_per_partition: int = 1) -> str:
        """INSERT delta commit: new base files (MOR inserts go to base
        parquet; only updates/deletes hit the logs)."""
        instant = self._instant(ts_ms)
        by_part: dict[str, list[dict]] = {}
        for r in rows:
            by_part.setdefault(self._partition_of(r), []).append(r)
        stats: dict[str, list[dict]] = {}
        for part, prows in sorted(by_part.items()):
            for g in range(groups_per_partition):
                grows = prows[g::groups_per_partition]
                if not grows:
                    continue
                fid = str(uuid.uuid5(
                    uuid.NAMESPACE_URL, f"{part}/{instant}/{g}"
                ))
                stats.setdefault(part, []).append(
                    self._write_group(
                        part, fid, [(instant, r) for r in grows],
                        instant, "null",
                    )
                )
                self._slices[(part, fid)] = [instant, 1]
        return self._commit(stats, instant, "insert",
                            action="deltacommit")

    def _append_log(self, part: str, fid: str, instant: str,
                    block: bytes, n_records: int) -> dict:
        base_instant, version = self._slices[(part, fid)]
        self._slices[(part, fid)][1] += 1
        fname = f".{fid}_{base_instant}.log.{version}_0-1-0"
        rel = os.path.join(part, fname) if part else fname
        full = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(block)
        return {
            "fileId": fid,
            "path": rel.replace(os.sep, "/"),
            "prevCommit": base_instant,
            "numWrites": n_records,
            "fileSizeInBytes": os.path.getsize(full),
        }

    def upsert_log(self, rows: list[dict], ts_ms: int) -> str:
        """UPSERT delta commit: avro data blocks appended to the log
        of every group holding an affected key (new keys raise —
        fixture precondition, like the CoW upsert)."""
        instant = self._instant(ts_ms)
        updates = {str(r[self.key]): r for r in rows}
        schema = self._avro_schema()
        stats: dict[str, list[dict]] = {}
        touched = set()
        for (part, fid), grows in sorted(self._groups.items()):
            hits = [
                updates[str(r[self.key])]
                for _, r in grows
                if str(r[self.key]) in updates
            ]
            if not hits:
                continue
            recs = [
                {
                    "_hoodie_record_key": str(r[self.key]),
                    **{n: r.get(n) for n in self.schema},
                }
                for r in hits
            ]
            block = encode_log_block(
                BLOCK_AVRO_DATA,
                {
                    HDR_INSTANT_TIME: instant,
                    HDR_SCHEMA: json.dumps(schema),
                },
                encode_avro_data_block_content(recs, schema),
            )
            stats.setdefault(part, []).append(
                self._append_log(part, fid, instant, block, len(hits))
            )
            new_state = []
            for ct, r in grows:
                k = str(r[self.key])
                if k in updates:
                    new_state.append((instant, updates[k]))
                    touched.add(k)
                else:
                    new_state.append((ct, r))
            self._groups[(part, fid)] = new_state
        missing = set(updates) - touched
        if missing:
            raise ValueError(f"upsert keys not present: {sorted(missing)}")
        return self._commit(stats, instant, "upsert",
                            action="deltacommit")

    def delete_log(self, keys: list, ts_ms: int,
                   partition: str | None = None) -> str:
        """DELETE delta commit: delete blocks appended to affected
        groups' logs. ``partition`` scopes the delete to one partition
        (Hudi's non-global index: a delete record tombstones
        (recordKey, partitionPath), never the key table-wide)."""
        instant = self._instant(ts_ms)
        victims = {str(k) for k in keys}
        stats: dict[str, list[dict]] = {}
        for (part, fid), grows in sorted(self._groups.items()):
            if partition is not None and part != partition:
                continue
            hits = [r for _, r in grows if str(r[self.key]) in victims]
            if not hits:
                continue
            block = encode_log_block(
                BLOCK_DELETE,
                {HDR_INSTANT_TIME: instant},
                encode_delete_block_content(
                    [(str(r[self.key]), part) for r in hits]
                ),
            )
            stats.setdefault(part, []).append(
                self._append_log(part, fid, instant, block, len(hits))
            )
            self._groups[(part, fid)] = [
                (ct, r) for ct, r in grows
                if str(r[self.key]) not in victims
            ]
        return self._commit(stats, instant, "delete",
                            action="deltacommit")

    def compact(self, ts_ms: int) -> str:
        """Compaction ``.commit``: per group, merge the tracked state
        into a fresh base slice; the new parquet resets the group's
        log chain on the timeline."""
        instant = self._instant(ts_ms)
        dummy = {"long": 0, "double": 0.0, "string": "",
                 "boolean": False}
        stats: dict[str, list[dict]] = {}
        for (part, fid), grows in sorted(self._groups.items()):
            stats.setdefault(part, []).append(
                self._write_group(
                    part, fid, grows, instant, "known",
                    # typed dummy row keeps an emptied group's parquet
                    # columns at their declared types
                    template=[r for _, r in grows] or [
                        {n: dummy[t] for n, t in self.schema.items()}
                    ],
                )
            )
            self._slices[(part, fid)] = [instant, 1]
        return self._commit(stats, instant, "compact", action="commit")


# ---------------------------------------------------------------------------
# production writer: Spark-parallel CoW inserts + clustering + sink adapter


class HudiCowWriter:
    """Production-shape Apache Hudi COPY_ON_WRITE writer — the
    write-side counterpart of :func:`read_hudi`, completing the
    write leg of the open-table-format trio's last read-only member
    (r7 verdict "What's missing" #5).

    Commit shape (the spec's timeline lifecycle): every operation
    commits through :meth:`_commit`. The instant is RESERVED first by
    an O_CREAT|O_EXCL claim on ``<instant>.<action>.requested``
    (optimistic concurrency — a raced instant bumps and retries
    BEFORE any data is written, so file names never need renaming),
    then ``.inflight``, then the operation's files land (inserts: one
    executor-parallel Spark job; hive-style partition dirs;
    ``<fileId>_<writeToken>_<instant>.parquet`` names with one NEW
    file group per output file), and finally the completed
    ``<instant>.<action>`` JSON with ``partitionToWriteStats``,
    ``operationType`` and ``extraMetadata`` (where exactly-once
    offsets ride — ``kdi.offsets.<appId>`` keys, the slot Hudi's own
    DeltaStreamer uses for its checkpoint; :meth:`stored_txn` reads
    them back). An operation that does not commit removes the files
    it wrote and withdraws its ``.requested``/``.inflight`` markers;
    when the publish call itself raised, it does so only if the store
    does not show the completed instant.

    Hudi meta columns are computed IN SPARK (commit time, seqno from
    (instant, partition id, row position), record key = seqno unless a
    key expression is given, partition path from the partition
    columns) — one codegen projection, no driver row work.

    ``cluster()`` is the table service: small file groups are
    rewritten into one group per partition and committed as a
    ``replacecommit`` with ``partitionToReplaceFileIds`` — exactly the
    clustering action :func:`plan_file_groups` already replays.
    """

    # data commits are plain .commit on CoW tables; the MERGE_ON_READ
    # subclass overrides both (deltacommit timeline actions)
    TABLE_TYPE = "COPY_ON_WRITE"
    ACTION = "commit"

    def __init__(self, table_path: str,
                 partition_by: list[str] | None = None, store=None,
                 record_key: str | None = None):
        from kafka_delta_ingest_spark.logstore import get_log_store

        self.path = table_path
        self.parts = list(partition_by or [])
        # hoodie.datasource.write.recordkey.field: when set, inserts
        # stamp _hoodie_record_key from this column (string-cast) and
        # upsert_batch becomes available; unset keeps the synthetic
        # seqno key (append-only ingest, Hudi's NONE key-gen analog)
        self.record_key = record_key
        # timeline (commit-protocol) IO routes through the LogStore
        # seam: instant claims, inflight markers, completed-commit
        # publishes, and ledger reads. Data parquet is Spark-side.
        self.store = store or get_log_store(table_path)
        # (completed instants folded, ledger at them): stored_txn's cache
        self._ledger: tuple[list, dict[str, int]] = ([], {})
        hoodie = os.path.join(table_path, ".hoodie")
        self.store.makedirs(hoodie)
        props = os.path.join(hoodie, "hoodie.properties")
        if not self.store.exists(props):
            body = (
                b"hoodie.table.name=kdi_out\n"
                + f"hoodie.table.type={self.TABLE_TYPE}\n".encode()
                + b"hoodie.table.version=6\n"
            )
            if self.parts:
                # real Hudi persists the partition fields in table
                # properties (hoodie.table.partition.fields); without
                # this a later writer opened WITHOUT partition_by
                # computes _hoodie_partition_path='' and its upsert
                # keys never match the table's (__pp, __rk) pairs
                body += (
                    "hoodie.table.partition.fields="
                    f"{','.join(self.parts)}\n"
                ).encode()
            self.store.put_atomic(props, body)
        elif not self.parts:
            stored = table_properties(table_path).get(
                "hoodie.table.partition.fields"
            )
            if stored:
                self.parts = [c for c in stored.split(",") if c]

    # -- timeline ---------------------------------------------------------

    def latest_instant(self) -> str | None:
        commits = completed_commits(self.path)
        return commits[-1][0] if commits else None

    def _claim_instant(self, action: str, attempts: int = 100) -> str:
        """Reserve the next monotonic instant via O_EXCL on the
        ``.requested`` marker — the put-if-absent primitive, taken
        BEFORE any data write so a race never orphans data files."""
        import datetime as _dt
        import time

        hoodie = os.path.join(self.path, ".hoodie")
        taken = [
            m.group(1)
            for m in (
                re.match(r"^(\d{14,17})\.", n)
                for n in self.store.list_dir(hoodie)
            )
            if m
        ]
        floor = max(taken) if taken else ""
        for _ in range(attempts):
            now = _dt.datetime.now(_dt.timezone.utc)
            instant = now.strftime("%Y%m%d%H%M%S") + f"{now.microsecond // 1000:03d}"
            if instant <= floor:
                # clock at or behind the last instant: bump past it
                instant = str(int(floor) + 1).zfill(len(floor))
            if self.store.put_if_absent(
                os.path.join(
                    hoodie, f"{instant}.{action}.requested"
                ),
                b"",
            ):
                return instant
            floor = max(floor, instant)
            time.sleep(0.001)
        raise RuntimeError("exhausted Hudi instant claims")

    def _commit(self, action: str, operation: str,
                txn: dict[str, int] | None, stage: Callable,
                instant: str | None = None) -> str | None:
        """Claim, stage and publish one instant; returns it, or None
        when nothing was committed. Every operation commits here.

        ``stage(instant, written)`` writes the operation's files, adds
        each path to ``written`` before it writes it, and returns the
        commit body (``partitionToWriteStats``, plus
        ``partitionToReplaceFileIds`` for clustering); an empty body
        means there is nothing to commit. This method claims the
        instant (``instant`` reserves a fixed one, such as the
        bootstrap's, and raises ValueError when it is taken), skips
        when ``txn`` is given and the ledger holds it after the claim
        (a sibling worker committed the same batch first), marks the
        instant ``.inflight``, stages, and publishes
        ``<instant>.<action>`` with ``operationType`` and
        ``extraMetadata`` (the ``kdi.offsets.*`` entries of ``txn``).
        A racer still IN FLIGHT at our claim is not detectable from the
        timeline alone — Hudi itself requires a lock provider for true
        multi-writer; this destination's contract is single-writer
        plus replay, same as Hudi DeltaStreamer's default.

        Cleanup rule: an abort — a ledger skip, an empty body,
        ``stage`` raising — removes every file in ``written`` and
        withdraws the ``.requested`` and ``.inflight`` markers through
        the store. When the publish call itself raises, the commit may
        have landed (an object store's timeout after the object
        landed): if the store shows ``<instant>.<action>``, the files
        and markers stay; if not, the write is cleaned up as any other
        abort. Either way the error propagates. Executor-written log
        blocks are listed by each target group's next-version log name
        (:meth:`_group_plan`), since an executor cannot report a file
        before writing it."""
        hoodie = os.path.join(self.path, ".hoodie")
        if instant is None:
            instant = self._claim_instant(action)
        elif not self.store.put_if_absent(
            os.path.join(hoodie, f"{instant}.{action}.requested"), b""
        ):
            raise ValueError(f"{self.path} already claims instant {instant}")
        completed = os.path.join(hoodie, f"{instant}.{action}")
        markers = [f"{completed}.requested"]
        written: list[str] = []
        landed = False
        try:
            if txn and already_applied(self.stored_txn(), txn):
                return None
            markers.append(f"{completed}.inflight")
            self.store.put_atomic(markers[-1], b"")
            body = stage(instant, written)
            if not body:
                return None
            meta = {
                **body,
                "operationType": operation,
                "extraMetadata": encode_offsets(txn or {}),
            }
            landed = None  # unknown while the publish is in flight
            self.store.put_atomic(completed, json.dumps(meta).encode())
            landed = True
        finally:
            if landed is None:
                landed = self.store.exists(completed)
            if not landed:
                _remove_quietly(written)
                for m in reversed(markers):
                    try:
                        self.store.remove(m)
                    except OSError:
                        pass
        self.last_commit_bytes = _stats_bytes(
            body.get("partitionToWriteStats", {})
        )
        return instant

    def stored_txn(self) -> dict[str, int]:
        """The exactly-once ledger: the ``kdi.offsets.*`` entries of
        every completed commit's extraMetadata, newest winning per
        appId. Cached with the completed instants it folded: when they
        are a prefix of today's, only the newer commits are parsed, so
        a stream's every batch reads at most the commits landed since
        its last check. Otherwise (an instant completed out of order,
        or older instants left the timeline) it is rebuilt."""
        commits = completed_commits(self.path)
        seen, out = self._ledger[0], dict(self._ledger[1])
        if commits[:len(seen)] != seen:
            seen, out = [], {}
        hoodie = _hoodie_dir(self.path)
        for instant, action in commits[len(seen):]:
            meta = json.loads(
                self.store.read_bytes(
                    os.path.join(hoodie, f"{instant}.{action}")
                )
            )
            out.update(decode_offsets(meta.get("extraMetadata") or {}))
        self._ledger = (commits, out)
        return dict(out)

    # -- write ------------------------------------------------------------

    def insert_batch(self, df, txn: dict[str, int] | None = None):
        """Append ``df`` as one CoW insert commit; returns
        (instant, n_files, n_records) — (None, 0, 0) when the batch is
        empty or the ledger already holds ``txn`` (see
        :meth:`_commit`)."""
        stats: dict[str, list[dict]] = {}

        def stage(instant, written):
            stats.update(self._stage_new_groups(df, ["*"], instant, written))
            return {"partitionToWriteStats": stats} if stats else None

        instant = self._commit(self.ACTION, "INSERT", txn, stage)
        if instant is None:
            return None, 0, 0
        return (instant, *_stat_counts(stats))

    def _live_bootstrap_fids(self) -> set[str]:
        """fileIds whose LIVE slice is still a bootstrap skeleton
        (``_is_bootstrap_slice``); empty for non-bootstrapped tables
        and for groups already FULL_RECORD-ized by an upsert."""
        bmap = bootstrap_mapping(self.path)
        if not bmap:
            return set()
        try:
            groups, _ = plan_file_groups(self.path)
        except ValueError:
            return set()
        return {
            fid
            for (_p, fid), g in groups.items()
            if g["base"] and fid in bmap
            and _is_bootstrap_slice(g["base"])
        }

    def _refuse_bootstrap(self, op: str) -> None:
        """Operations that rewrite file groups WITHOUT merging
        skeleton+source refuse while any live group is still
        bootstrap-backed. As of r12 only ``cluster`` remains here:
        ``upsert_batch`` FULL_RECORD-izes touched groups through the
        zipped view (real Hudi's first-touch rule), MoR log
        appends/deletes target the skeleton groups and ``compact()``
        FULL_RECORD-izes them by folding blocks over the zipped view,
        and inserts and all reads work throughout."""
        if self._live_bootstrap_fids():
            raise ValueError(
                f"{op} over METADATA_ONLY-bootstrapped file groups: "
                "this operation rewrites group slices without merging "
                "the skeleton's meta columns with the external source "
                "rows — upsert_batch / MoR log writes + compact "
                "(which FULL_RECORD-ize the touched groups), inserts, "
                "and all reads work"
            )

    def _part_path_col(self):
        from pyspark.sql import functions as F

        if not self.parts:
            return F.lit("")
        return F.concat_ws(
            "/",
            *[
                F.concat(
                    F.lit(f"{c}="),
                    F.coalesce(
                        F.col(c).cast("string"),
                        F.lit("__HIVE_DEFAULT_PARTITION__"),
                    ),
                )
                for c in self.parts
            ],
        )

    def _stage_new_groups(self, frame, cols: list[str], instant: str,
                          written: list[str]) -> dict:
        """Executor-parallel write of ``frame``'s ``cols`` as NEW file
        groups (one fileId per output file) into their hive partition
        dirs, led by the Hudi meta columns; returns their
        partitionToWriteStats. Shared by the insert path and both
        upserts' not-matched legs."""
        import urllib.parse

        from pyspark.sql import functions as F

        seqno = _seqno(instant)
        key = (
            F.col(self.record_key).cast("string")
            if self.record_key else seqno
        )
        meta_df = frame.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            seqno.alias("_hoodie_commit_seqno"),
            key.alias("_hoodie_record_key"),
            self._part_path_col().alias("_hoodie_partition_path"),
            F.lit("").alias("_hoodie_file_name"),
            *cols,
        )
        pp_cols = None
        if self.parts:
            # Hudi stores EVERY column in the data files (partition
            # fields included) — so the staging job partitions by a
            # CLONE of the computed partition path, which Spark drops
            # from the data, keeping the real columns intact.
            meta_df = meta_df.withColumn(
                "__kdi_pp", F.col("_hoodie_partition_path")
            )
            pp_cols = ["__kdi_pp"]
        stats: dict[str, list[dict]] = {}
        with staged_parquet(meta_df, self.path, pp_cols) as staged:
            for f in staged:
                if f.metadata.num_rows == 0:
                    continue
                # "__kdi_pp=<escaped hudi partition path>" → the real
                # hive-style partition dir (Spark %-escapes '=')
                part = (
                    urllib.parse.unquote(f.rel_dir.split("=", 1)[1])
                    if f.rel_dir else ""
                )
                self._promote_slice(
                    stats, written, f, part, str(uuid.uuid4()), instant
                )
        return stats

    def _promote_slice(self, stats: dict, written: list[str], f,
                       part: str, fid: str, instant: str,
                       prev: str = "null") -> None:
        """Move staged file ``f`` into file group ``fid``'s base slice
        at ``instant``, listing it in ``written`` first, and record its
        write stat in ``stats[part]``."""
        dest, rel = _slice_paths(self.path, part, fid, instant)
        written.append(dest)
        size = f.promote(dest)
        stats.setdefault(part, []).append(
            _write_stat(fid, rel, prev, f.metadata.num_rows, size)
        )

    def _group_plan(self) -> tuple[dict[str, tuple[str, str, str, int]],
                                   bool]:
        """(fileId → (partition, abs base path, base instant, next log
        version) of every live file group with a base file, whether any
        live group carries log files) — the driver-side metadata match
        discovery, the rewrites and the executor log writers need."""
        try:
            groups, _ = plan_file_groups(self.path)
        except ValueError:
            return {}, False
        return {
            fid: (
                part,
                g["base"],
                os.path.basename(g["base"])[: -len(".parquet")]
                .split("_")[-1],
                len(g["logs"]) + 1,
            )
            for (part, fid), g in groups.items()
            if g["base"]
        }, any(g["logs"] for g in groups.values())

    def _split_matched(self, df, precombine, groups):
        """(matched rows tagged __fid/__pp/__rk, unmatched rows,
        deduplicated source), or None when the source is empty — the
        match discovery both upserts share: a column-pruned key scan
        over the base files of ``groups`` (:meth:`_group_plan`; the
        bloom-index analog) inner-joined with the distinct source keys,
        so only the matched keys are materialized. Duplicate source
        keys raise unless ``precombine`` names the field whose highest
        value wins."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        spark = df.sparkSession
        keys = ["__pp", "__rk"]
        # r12: one eager materialization of the source batch — its
        # lineage was re-executed by the empty check, the duplicate
        # probe, the key match AND both write legs.
        src = df.withColumn("__pp", self._part_path_col()).withColumn(
            "__rk", F.col(self.record_key).cast("string")
        ).localCheckpoint()
        if src.isEmpty():
            return None

        def _dedup():
            if precombine is not None:
                w = Window.partitionBy(*keys).orderBy(
                    F.col(precombine).desc()
                )
                return (
                    src.withColumn("__rn", F.row_number().over(w))
                    .filter("__rn = 1").drop("__rn")
                )
            dup = (
                src.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
                .filter("n > 1").limit(1).collect()
            )
            if dup:
                raise ValueError(
                    "duplicate record keys in source and no "
                    "precombine field given"
                )
            return src

        def _match():
            if not groups:
                return None
            bases = sorted((g[1], fid) for fid, g in groups.items())
            live_keys = (
                spark.read.option("mergeSchema", "true")
                .parquet(*[b for b, _fid in bases])
                .select(
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""
                    ).alias("__fp"),
                    F.col("_hoodie_partition_path").alias("__pp"),
                    F.col("_hoodie_record_key").alias("__rk"),
                )
            )
            fid_map = metadata_df(spark, bases, "__fp string, __fid string")
            return live_keys.join(
                src.select(*keys).distinct(), keys
            ).join(F.broadcast(fid_map), "__fp").select(
                *keys, "__fid"
            ).localCheckpoint()

        # r13 (guide §2.6): the duplicate probe and the key scan are
        # independent reads of the materialized source, so they run
        # from two driver threads. overlap() waits for both legs, so a
        # duplicate-key ValueError surfaces only after the key-scan
        # leg finishes: a delayed error on the failure path, the price
        # of the overlap on the success path.
        dedup, keyed = overlap(_dedup, _match)
        if keyed is None:
            return None, dedup, dedup
        # a live (__pp, __rk) owns exactly one file group (the upsert
        # invariant this writer maintains), so the inner join tags each
        # matched row once
        return (
            dedup.join(keyed, keys),
            dedup.join(keyed, keys, "left_anti"),
            dedup,
        )

    def upsert_batch(self, df, precombine: str | None = None):
        """Hudi's signature operation — CoW UPSERT of a DataFrame:
        matched records (same ``(partition path, record key)`` — the
        NON-GLOBAL index contract, like the MoR merge side) replace
        their rows inside their EXISTING file group, which gets a new
        base-file slice (same fileId, this instant); unmatched records
        insert as new file groups. Returns (instant, n_updated_groups,
        n_inserted_files) — (None, 0, 0) on an empty batch.

        ``precombine`` names the dedup-ordering field (Hudi's
        ``precombine.field``): per key, the source row with the
        highest value wins. Without it, duplicate source keys raise.

        Scale contract: match discovery (:meth:`_split_matched`) is a
        column-pruned scan of the key + partition-path columns only
        over live base files, equi-joined against the distinct keys of
        the materialized source — the Spark-native analog of Hudi's
        bloom-index lookup, materializing only the matched keys; the
        rewrite then reads ONLY the matched file groups. Cost is
        O(touched groups + source), never O(table). One slice per
        group: the rewrite repartitions on fileId so each group lands
        as exactly one new base file.

        Reference: the daemon is append-only; this is the
        DeltaStreamer UPSERT-mode parity surface (operationType
        UPSERT in the completed commit, replayed by
        plan_file_groups' later-base-wins slice rule)."""
        from pyspark.sql import functions as F

        if not self.record_key:
            raise ValueError(
                "upsert_batch requires the writer's record_key field "
                "(HudiCowWriter(record_key=...))"
            )
        spark = df.sparkSession
        groups, logged = self._group_plan()
        if logged:
            raise ValueError("CoW upsert on a table with MoR logs")
        split = self._split_matched(df, precombine, groups)
        if split is None:
            return None, 0, 0
        matched, unmatched, src = split
        touched = sorted(
            r["__fid"]
            for r in matched.select("__fid").distinct().collect()
        ) if matched is not None else []

        def _update_leg(instant, written) -> dict:
            """Rewrite every touched file group (one new base-file
            slice per group) and return its partitionToWriteStats."""
            if not touched:
                return {}
            upd: dict[str, list[dict]] = {}
            # FULL_RECORD-ization (real Hudi's first-touch rule):
            # a touched group whose live slice is still a
            # bootstrap SKELETON reads through the zipped
            # skeleton+source view; its rewrite below produces a
            # normal full slice, and later-base-wins makes the
            # group ordinary from this instant on (the bootstrap
            # index entry stays, serving time-travel reads).
            bmap = bootstrap_mapping(self.path)
            boot = [
                fid for fid in touched
                if fid in bmap and _is_bootstrap_slice(groups[fid][1])
            ]
            norm = [(groups[fid][1], fid) for fid in touched
                    if fid not in boot]
            tgt = None
            if norm:
                tgt = spark.read.option(
                    "mergeSchema", "true"
                ).parquet(*[b for b, _fid in norm]).select(
                    F.regexp_replace(
                        F.col("_metadata.file_path"),
                        "^file:(//)?", ""
                    ).alias("__fp"),
                    F.col("_hoodie_partition_path").alias("__pp"),
                    F.col("_hoodie_record_key").alias("__rk"),
                    "*",
                ).join(
                    F.broadcast(
                        metadata_df(spark, norm, "__fp string, __fid string")
                    ),
                    "__fp",
                ).drop("__fp")
            if boot:
                bt = _bootstrap_zip(
                    spark,
                    [(fid, groups[fid][1]) for fid in boot],
                    bmap,
                    fid_alias="__fid",
                    # partitioned-source bootstrap: reattach the
                    # typed partition columns so the FULL_RECORD
                    # rewrite bakes them into the new slice's
                    # pages (without this the new base file would
                    # hold nulls for every partition field)
                    pv_info=bootstrap_partition_info(self.path),
                ).select(
                    F.col("_hoodie_partition_path").alias("__pp"),
                    F.col("_hoodie_record_key").alias("__rk"),
                    "*",
                )
                tgt = bt if tgt is None else tgt.unionByName(
                    bt, allowMissingColumns=True
                )
            src_m = src.withColumn("__m", F.lit(True))
            joined = tgt.alias("t").join(
                src_m.alias("s"), ["__pp", "__rk"], "left"
            )
            is_m = F.col("__m").isNotNull()
            data_cols = [
                c for c in tgt.columns
                if c not in ("__fid", "__pp", "__rk")
                and not c.startswith("_hoodie_")
            ]
            src_cols = set(df.columns)
            out_cols = [
                F.when(is_m, F.lit(instant))
                .otherwise(F.col("t._hoodie_commit_time"))
                .alias("_hoodie_commit_time"),
                F.when(is_m, _seqno(instant))
                .otherwise(F.col("t._hoodie_commit_seqno"))
                .alias("_hoodie_commit_seqno"),
                F.col("__rk").alias("_hoodie_record_key"),
                F.col("__pp").alias("_hoodie_partition_path"),
                F.lit("").alias("_hoodie_file_name"),
            ]
            for c in data_cols:
                if c in src_cols:
                    out_cols.append(
                        F.when(is_m, F.col(f"s.{c}"))
                        .otherwise(F.col(f"t.{c}")).alias(c)
                    )
                else:
                    # column the source batch doesn't carry:
                    # replaced rows surface NULL (whole-row
                    # payload replace, Hudi's default payload)
                    out_cols.append(
                        F.when(is_m, F.lit(None))
                        .otherwise(F.col(f"t.{c}")).alias(c)
                    )
            merged = joined.select(
                F.col("__fid").alias("__kdi_fid"), *out_cols
            )
            # one task per fileId -> exactly one new base file
            # per rewritten group (a slice is ONE base file)
            with staged_parquet(
                merged.repartition("__kdi_fid"), self.path, ["__kdi_fid"]
            ) as staged:
                for fid, f in _one_file_per_group(staged).items():
                    part, _base, prev, _v = groups[fid]
                    self._promote_slice(
                        upd, written, f, part, fid, instant, prev
                    )
            return upd

        ins_stats: dict[str, list[dict]] = {}

        def stage(instant, written):
            # r13 (guide §2.6): the two legs are independent once the
            # match set is materialized — both consume only
            # checkpointed frames and write to distinct staging dirs.
            # Running them from two driver threads lets each leg's
            # driver-side phases (staging walk, parquet-footer reads,
            # file moves) and task tails back-fill with the other's.
            upd, ins = overlap(
                lambda: _update_leg(instant, written),
                lambda: self._stage_new_groups(
                    unmatched, df.columns, instant, written
                ),
            )
            ins_stats.update(ins)
            stats = _merged_stats(upd, ins)
            return {"partitionToWriteStats": stats} if stats else None

        instant = self._commit(self.ACTION, "UPSERT", None, stage)
        if instant is None:
            return None, 0, 0
        return instant, len(touched), _stat_counts(ins_stats)[0]

    # -- cleaning (table service) --------------------------------------

    def clean(self, retain_last: int = 10) -> list[str]:
        """Hudi's CLEANER service under the KEEP_LATEST_COMMITS
        policy — the VACUUM analog completing the maintenance matrix
        across the trio (Delta ``vacuum``, Iceberg
        ``expire_snapshots``): per file group, every base-file slice
        SUPERSEDED before the boundary instant (the ``retain_last``-th
        newest commit) is physically deleted, as are all slices of
        file groups wholly replaced by clustering at or before the
        boundary.  The newest slice older than the boundary survives
        (it serves as-of reads inside the retained window); everything
        at or after the boundary survives untouched.  A completed
        ``<instant>.clean`` marker records the deletions (the
        timeline walk already ignores ``clean`` markers at plan
        time).  Returns deleted relative paths.  Time travel past the
        boundary stops working — Hudi's documented cleaner trade-off.

        Scale: one timeline walk, O(commits + write stats) driver
        metadata, no data-directory listing."""
        commits = completed_commits(self.path)
        if len(commits) <= retain_last:
            return []
        boundary = commits[-retain_last][0]
        hoodie = _hoodie_dir(self.path)
        slices: dict[tuple, list[tuple[str, str]]] = {}
        replaced_at: dict[tuple, str] = {}
        for instant, action in commits:
            meta = json.loads(
                self.store.read_bytes(
                    os.path.join(hoodie, f"{instant}.{action}")
                )
            )
            for part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    replaced_at[(part, fid)] = instant
            for part, stats in (
                meta.get("partitionToWriteStats") or {}
            ).items():
                for st in stats:
                    if ".log." in os.path.basename(st["path"]):
                        continue  # MOR log cleaning is compaction's job
                    slices.setdefault(
                        (part, st["fileId"]), []
                    ).append((instant, st["path"]))
        victims: list[str] = []
        for key, sl in slices.items():
            sl.sort()
            rep = replaced_at.get(key)
            if rep is not None and rep <= boundary:
                # group replaced wholesale inside cleaned history:
                # every slice is dead
                victims.extend(p for _, p in sl)
                continue
            older = [x for x in sl if x[0] < boundary]
            # keep the newest pre-boundary slice; delete the rest
            victims.extend(p for _, p in older[:-1])
        deleted = [
            rel for rel in sorted(set(victims))
            if os.path.exists(os.path.join(self.path, rel))
        ]
        if not deleted:
            return []

        def stage(_instant, _written):
            for rel in deleted:
                os.remove(os.path.join(self.path, rel))
            return {
                "policy": f"KEEP_LATEST_COMMITS:{retain_last}",
                "earliestInstantToRetain": boundary,
                "deleted": deleted,
            }

        self._commit("clean", "CLEAN", None, stage)
        return deleted

    # -- clustering (table service) ----------------------------------------

    def cluster(self, spark, target_file_bytes: int = 134_217_728):
        """Bin-packing clustering as a ``replacecommit``: per
        partition, every file group whose base is under
        ``target_file_bytes`` is read back and rewritten into ONE new
        group; the commit lists the replaced groups in
        ``partitionToReplaceFileIds``. Returns the instant (or None
        when nothing qualifies)."""
        self._refuse_bootstrap("cluster")
        groups, _ = plan_file_groups(self.path)
        victims: dict[str, list[tuple[str, str]]] = {}
        for (part, fid), g in groups.items():
            if g["logs"]:
                continue  # CoW writer never appends logs; be safe
            base = g["base"]
            if base and os.path.getsize(base) < target_file_bytes:
                victims.setdefault(part, []).append((fid, base))
        victims = {p: v for p, v in victims.items() if len(v) > 1}
        if not victims:
            return None

        def stage(instant, written):
            stats: dict[str, list[dict]] = {}
            replaced: dict[str, list[str]] = {}
            for part, pairs in sorted(victims.items()):
                paths = [b for _fid, b in pairs]
                # The CoW sink accepts per-batch schema drift
                # (table_schema() is None) and read_hudi itself merges
                # footer schemas — clustering heterogeneous file groups
                # without mergeSchema would silently drop the newer
                # columns from the replacement file group.
                df = spark.read.option("mergeSchema", "true").parquet(
                    *paths
                )
                with staged_parquet(df.coalesce(1), self.path) as staged:
                    for f in staged:
                        if f.metadata.num_rows == 0:
                            continue
                        self._promote_slice(
                            stats, written, f, part, str(uuid.uuid4()),
                            instant,
                        )
                replaced[part] = [fid for fid, _b in pairs]
            return {
                "partitionToWriteStats": stats,
                "partitionToReplaceFileIds": replaced,
            }

        return self._commit("replacecommit", "CLUSTER", None, stage)


class HudiMorWriter(HudiCowWriter):
    """Production-shape Apache Hudi MERGE_ON_READ writer — inserts
    land as base parquet file groups (inherited ``insert_batch``, now
    a ``deltacommit``); UPDATES and DELETES append HoodieLogFormat
    blocks to the owning file group's log (``upsert_log_batch`` /
    ``delete_log_batch``), deferring the merge cost to read time —
    Hudi's write-optimized mode; ``compact()`` folds each log-bearing
    group's blocks into a new base-file slice as a ``.commit`` (the
    slice reset :func:`plan_file_groups` already replays).

    Log blocks are encoded EXECUTOR-SIDE: the matched updates
    repartition on fileId and one ``applyInPandas`` task per group
    encodes its Avro data block (the pure-Python HoodieLogFormat
    codec runs inside the Arrow worker) and writes the
    ``.<fileId>_<baseInstant>.log.<version>_<token>`` file directly —
    log-write parallelism scales with the touched-group count, no
    driver row work. The driver only claims the instant, plans the
    per-group (baseInstant, next version) map, and publishes the
    completed deltacommit.

    Scope note: log-block updates target keys that live in a base
    file (inserts always go to base, so every live key does);
    a key deleted by a prior log block and upserted again is
    RESURRECTED in place (latest-wins merge) — equivalent read-side
    to Hudi's re-insert into a new group. Avro-mapped column types:
    long/int/double/float/string/boolean (others raise — the codec's
    documented envelope, same as the MoR fixture writer)."""

    TABLE_TYPE = "MERGE_ON_READ"
    ACTION = "deltacommit"

    _AVRO_OF = {
        "bigint": "long", "int": "long", "smallint": "long",
        "double": "double", "float": "double",
        "string": "string", "boolean": "boolean",
        # temporal types ride as Avro longs (timestamp-micros /
        # date-days, the Avro logical-type encodings); the log reader
        # converts back by the BASE schema's field type
        "timestamp": "long", "timestamp_ntz": "long", "date": "long",
    }

    def _avro_schema_of(self, df) -> dict:
        cols = {}
        for f in df.schema.fields:
            t = self._AVRO_OF.get(f.dataType.simpleString())
            if t is None:
                raise ValueError(
                    f"column {f.name!r}: type {f.dataType.simpleString()!r} "
                    "has no HoodieLogFormat Avro mapping"
                )
            cols[f.name] = t
        return {
            "type": "record",
            "name": "HoodieRecord",
            "fields": [
                {"name": "_hoodie_record_key", "type": "string"},
            ] + [
                {"name": n, "type": ["null", t], "default": None}
                for n, t in cols.items()
            ],
        }

    @staticmethod
    def _temporal_cols(schema) -> tuple[set, set]:
        """(timestamp column names, date column names) of a Spark
        schema — the columns the log codec longs-encodes."""
        ts, dt = set(), set()
        for f in schema.fields:
            s = f.dataType.simpleString()
            if s in ("timestamp", "timestamp_ntz"):
                ts.add(f.name)
            elif s == "date":
                dt.add(f.name)
        return ts, dt

    def _append_log_blocks(self, frame, groups: dict, block: Callable,
                           written: list[str]) -> dict:
        """Append one HoodieLogFormat block per file group of ``frame``
        (rows tagged ``__fid``), executor-side: one ``applyInPandas``
        task per group writes ``block(pdf, part)`` as the group's next
        log version. Every group's next-version log is listed in
        ``written`` first. Returns the blocks' partitionToWriteStats."""
        import pandas as pd

        logs = {
            fid: _log_paths(self.path, part, fid, base_instant, version)
            for fid, (part, _base, base_instant, version) in groups.items()
        }
        written.extend(full for full, _rel in logs.values())

        def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
            fid = pdf["__fid"].iloc[0]
            part, _base, base_instant, _version = groups[fid]
            full, rel = logs[fid]
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "wb") as f:
                f.write(block(pdf, part))
            return pd.DataFrame(
                [
                    {
                        "part": part,
                        **_write_stat(
                            fid, rel, base_instant, len(pdf),
                            os.path.getsize(full),
                        ),
                    }
                ]
            )

        stats: dict[str, list[dict]] = {}
        for r in frame.groupBy("__fid").applyInPandas(
            write_group,
            "part string, fileId string, path string, "
            "prevCommit string, numWrites long, fileSizeInBytes long",
        ).collect():
            st = r.asDict()
            stats.setdefault(st.pop("part"), []).append(st)
        return stats

    def upsert_log_batch(self, df, precombine: str | None = None,
                         txn: dict[str, int] | None = None):
        """MoR UPSERT: updates append one Avro data block per owning
        file group (executor-parallel); brand-new keys insert as new
        base file groups in the same deltacommit. Returns (instant,
        n_logged_groups, n_inserted_files, n_records) — all empty when
        the batch is empty or the ledger already holds ``txn`` (see
        :meth:`_commit`)."""
        import pandas as pd

        # r12: log appends over METADATA_ONLY-bootstrapped groups are
        # allowed (real Hudi's MoR-over-bootstrap model): skeleton
        # bases carry the (__pp, __rk) keys match discovery scans,
        # read_hudi already merges log blocks over the zipped
        # skeleton+source view, and compact() FULL_RECORD-izes the
        # group by folding blocks over that view into a full slice.

        if not self.record_key:
            raise ValueError(
                "upsert_log_batch requires the writer's record_key "
                "field (HudiMorWriter(record_key=...))"
            )
        avro_schema = self._avro_schema_of(df)
        data_cols = list(df.columns)
        ts_cols, date_cols = self._temporal_cols(df.schema)
        groups, _ = self._group_plan()
        split = self._split_matched(df, precombine, groups)
        if split is None:
            return None, 0, 0, 0
        matched, unmatched, _src = split
        key_col = self.record_key

        def _records(pdf: pd.DataFrame) -> list[dict]:
            """Column-wise Avro record build: ts -> epoch-µs and date
            -> epoch-days as whole-column int64 ops, NaN/NaT -> None
            in one mask pass, then a single to_dict("records") — no
            iterrows, no per-cell Python call (r9 verdict item 2;
            this is the MoR upsert hot path)."""
            work = pdf[data_cols].copy()
            for c in ts_cols:
                s = _pandas_to_naive_ns(work[c])
                vals = s.to_numpy(dtype="int64") // 1000
                col = pd.Series(vals, index=work.index, dtype=object)
                col[s.isna().to_numpy()] = None
                work[c] = col
            for c in date_cols:
                s = _pandas_to_naive_ns(work[c])
                vals = s.to_numpy(dtype="int64") // 86_400_000_000_000
                col = pd.Series(vals, index=work.index, dtype=object)
                col[s.isna().to_numpy()] = None
                work[c] = col
            work = work.astype(object).where(pd.notna(work), None)
            recs = work.to_dict("records")
            for rec, rk in zip(recs, pdf[key_col].astype(str)):
                rec["_hoodie_record_key"] = rk
            return recs

        log_stats: dict[str, list[dict]] = {}
        ins_stats: dict[str, list[dict]] = {}
        stats: dict[str, list[dict]] = {}

        def stage(instant, written):
            header = {
                HDR_INSTANT_TIME: instant,
                HDR_SCHEMA: json.dumps(avro_schema),
            }

            def block(pdf, _part):
                return encode_log_block(
                    BLOCK_AVRO_DATA, header,
                    encode_avro_data_block_content(
                        _records(pdf), avro_schema
                    ),
                )

            # r13 (guide §2.6): both legs read only the materialized
            # _split_matched frames and write disjoint files (log
            # blocks into existing group dirs vs a fresh staging dir),
            # so they run from two driver threads — the Arrow
            # log-encode tasks back-fill the insert write's tail and
            # vice versa.
            logged, ins = overlap(
                lambda: {} if matched is None else self._append_log_blocks(
                    matched, groups, block, written
                ),
                lambda: self._stage_new_groups(
                    unmatched, data_cols, instant, written
                ),
            )
            log_stats.update(logged)
            ins_stats.update(ins)
            stats.update(_merged_stats(ins, logged))
            return {"partitionToWriteStats": stats} if stats else None

        instant = self._commit(self.ACTION, "UPSERT", txn, stage)
        if instant is None:
            return None, 0, 0, 0
        return (
            instant,
            _stat_counts(log_stats)[0],
            _stat_counts(ins_stats)[0],
            _stat_counts(stats)[1],
        )

    def delete_log_batch(self, df):
        """MoR DELETE: one delete block per owning file group
        (executor-parallel), tombstoning (recordKey, partitionPath) —
        the non-global-index contract. ``df`` carries the record-key
        column plus the partition columns; keys with no live record
        are ignored (delete is idempotent). Returns (instant,
        n_logged_groups). Works over METADATA_ONLY-bootstrapped
        groups (r12) — delete blocks tombstone against the zipped
        read view; compact() folds them into a full slice."""
        if not self.record_key:
            raise ValueError(
                "delete_log_batch requires the writer's record_key"
            )
        groups, _ = self._group_plan()
        split = self._split_matched(df.dropDuplicates(), None, groups)
        if split is None or split[0] is None:
            return None, 0
        matched = split[0]
        stats: dict[str, list[dict]] = {}

        def stage(instant, written):
            def block(pdf, part):
                return encode_log_block(
                    BLOCK_DELETE,
                    {HDR_INSTANT_TIME: instant},
                    encode_delete_block_content(
                        [(rk, part) for rk in pdf["__rk"]]
                    ),
                )

            stats.update(self._append_log_blocks(
                matched.select("__fid", "__rk").dropDuplicates(),
                groups, block, written,
            ))
            return {"partitionToWriteStats": stats} if stats else None

        instant = self._commit(self.ACTION, "DELETE", None, stage)
        if instant is None:
            return None, 0
        return instant, _stat_counts(stats)[0]

    def compact(self, spark):
        """COMPACTION: every log-bearing file group's blocks fold into
        a new base-file slice (same fileId, this instant) committed as
        a ``.commit`` — exactly the later-base-wins slice reset
        :func:`plan_file_groups` replays, so snapshots are
        byte-identical before and after while subsequent reads skip
        the log merge. One Spark job: base ∪ decoded log records,
        latest-wins per (partition, key) via map-side max_by, one
        output file per group (repartition on fileId). Returns the
        instant (None when no group carries logs)."""
        from pyspark.sql import functions as F

        groups, _ = plan_file_groups(self.path)
        victims = {
            (part, fid): g
            for (part, fid), g in groups.items()
            if g["logs"] and g["base"]
        }
        if not victims:
            return None
        # METADATA_ONLY-bootstrapped victims (r12): a skeleton base
        # holds only meta columns, so the group's full rows come from
        # the zipped skeleton+source view — compaction then bakes
        # data (and reattached partition) columns into the new slice:
        # FULL_RECORD-ization by compaction, real Hudi's
        # MoR-over-bootstrap model. The index entry stays for
        # time-travel, exactly like the CoW upsert rewrite.
        bmap = bootstrap_mapping(self.path)
        boot_victims = {
            k: g for k, g in victims.items()
            if k[1] in bmap and _is_bootstrap_slice(g["base"])
        }
        norm_victims = {
            k: g for k, g in victims.items() if k not in boot_victims
        }
        base = None
        if norm_victims:
            base_paths = sorted(
                g["base"] for g in norm_victims.values()
            )
            base_df = spark.read.option("mergeSchema", "true").parquet(
                *base_paths
            )
            fid_map = metadata_df(
                spark,
                [
                    (g["base"], fid)
                    for (p, fid), g in norm_victims.items()
                ],
                "__fp string, __fid string",
            )
            base = (
                base_df.select(
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""
                    ).alias("__fp"),
                    "*",
                    F.col("_hoodie_commit_time").alias("_kdi_instant"),
                    F.lit(-1).cast("long").alias("_kdi_pos"),
                    F.lit(False).alias("_kdi_del"),
                )
                .join(F.broadcast(fid_map), "__fp")
                .drop("__fp")
            )
        if boot_victims:
            bz = _bootstrap_zip(
                spark,
                sorted(
                    (fid, g["base"])
                    for (_p, fid), g in boot_victims.items()
                ),
                bmap,
                fid_alias="__fid",
                pv_info=bootstrap_partition_info(self.path),
            ).select(
                "*",
                F.col("_hoodie_commit_time").alias("_kdi_instant"),
                F.lit(-1).cast("long").alias("_kdi_pos"),
                F.lit(False).alias("_kdi_del"),
            )
            base = bz if base is None else base.unionByName(
                bz, allowMissingColumns=True
            )
        log_specs = [
            (path, inst, seq, part)
            for (part, fid), g in victims.items()
            for seq, (inst, path) in enumerate(g["logs"])
        ]
        logs = _log_records_df(
            spark, log_specs,
            base.drop("__fid", "_kdi_instant", "_kdi_pos",
                      "_kdi_del").schema,
        )
        merged = base.unionByName(
            logs, allowMissingColumns=True
        )
        merge_keys = ["_hoodie_partition_path", "_hoodie_record_key"]
        cols = [c for c in merged.columns if c not in merge_keys]
        latest = (
            merged.groupBy(*merge_keys)
            .agg(
                F.max_by(
                    F.struct(*[c for c in cols if c != "__fid"]),
                    F.struct(F.col("_kdi_instant"), F.col("_kdi_pos")),
                ).alias("_r"),
                F.max("__fid").alias("__kdi_fid"),
            )
            .select(*merge_keys, "__kdi_fid", "_r.*")
        )
        out = (
            latest.filter(~F.col("_kdi_del"))
            .withColumn("_hoodie_commit_time", F.col("_kdi_instant"))
            .drop("_kdi_instant", "_kdi_pos", "_kdi_del")
        )
        part_of = {fid: part for (part, fid) in victims}

        def stage(instant, written):
            stats: dict[str, list[dict]] = {}
            with staged_parquet(
                out.repartition("__kdi_fid"), self.path, ["__kdi_fid"]
            ) as staged:
                for fid, f in _one_file_per_group(staged).items():
                    self._promote_slice(
                        stats, written, f, part_of[fid], fid, instant
                    )
            # A victim group whose rows were ALL tombstoned by delete
            # blocks yields ZERO merged rows — partitionBy writes no
            # directory for it, so without a new slice the group's log
            # chain would never reset while the log file below is
            # reclaimed (latent until r12's delete-over-bootstrap test
            # hit it, but reachable on any fully-deleted MoR group).
            # Write an EMPTY base slice with the merged schema:
            # later-base-wins retires the log chain and the scan
            # contributes zero rows.
            done = {s["fileId"] for lst in stats.values() for s in lst}
            missing = sorted(
                fid for (_p, fid) in victims if fid not in done
            )
            if missing:
                import pyarrow as pa
                import pyarrow.parquet as papq

                # the probe is the one staged file a zero-row write
                # leaves: it carries the merged schema
                probe = out.drop("__kdi_fid").limit(0).coalesce(1)
                with staged_parquet(probe, self.path) as staged:
                    schema_empty = papq.read_schema(staged[0].path)
                for fid in missing:
                    part = part_of[fid]
                    dest, rel = _slice_paths(self.path, part, fid, instant)
                    written.append(dest)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    papq.write_table(
                        pa.table(
                            {
                                f.name: pa.array([], f.type)
                                for f in schema_empty
                            }
                        ),
                        dest,
                    )
                    stats.setdefault(part, []).append(
                        _write_stat(
                            fid, rel, "null", 0, os.path.getsize(dest)
                        )
                    )
            return {"partitionToWriteStats": stats}

        instant = self._commit("commit", "COMPACT", None, stage)
        # the folded log files are superseded by the new slice (the
        # plan walk resets the chain); physically reclaim them now —
        # Hudi leaves this to the cleaner, but nothing references them
        _remove_quietly(p for g in victims.values() for _i, p in g["logs"])
        return instant


class HudiSink:
    """The :class:`~kafka_delta_ingest_spark.sinks.base.Sink` over
    :class:`HudiCowWriter`, so ``IngestJob`` streams INTO an Apache
    Hudi table (``IngestOptions.log_format == "hudi"``) — the third
    destination next to standard Delta and Iceberg, making every
    table format the engine READS also a write target. Exactly-once:
    per-Kafka-partition offsets ride in the completed commit's
    ``extraMetadata`` (``kdi.offsets.<appId>`` keys — the slot Hudi's
    DeltaStreamer uses for its own checkpoint string), and the
    writer re-checks its ledger after claiming the instant."""

    def __init__(self, path: str, mor: bool = False,
                 record_key: str | None = None):
        """``mor=True`` makes the destination a MERGE_ON_READ table
        (HudiMorWriter, deltacommit timeline); with ``record_key``
        also set, every batch streams as an UPSERT — existing keys
        append log blocks, new keys insert as base groups — Hudi
        DeltaStreamer's continuous UPSERT operation. Without
        ``record_key`` both modes are append-only ingest."""
        self.path = path
        self.mor = mor
        self.record_key = record_key
        self._w: HudiCowWriter | None = None

    def _writer(self, partition_by=None) -> HudiCowWriter:
        if self._w is None:
            cls = HudiMorWriter if self.mor else HudiCowWriter
            self._w = cls(
                self.path, partition_by=partition_by,
                record_key=self.record_key,
            )
        elif partition_by and list(partition_by) != self._w.parts:
            if self._w.parts:
                raise ValueError(
                    f"partition_by {list(partition_by)} != table's "
                    f"partitioning {self._w.parts}"
                )
            self._w.parts = list(partition_by)
        return self._w

    def _stored_txn(self) -> dict[str, int]:
        if not os.path.isdir(os.path.join(self.path, ".hoodie")):
            return {}
        return self._writer().stored_txn()

    def snapshot(self) -> dict:
        instant = None
        if os.path.isdir(os.path.join(self.path, ".hoodie")):
            instant = self._writer().latest_instant()
        return {
            "txn": self._stored_txn(),
            "version": instant if instant is not None else -1,
            "metaData": None,
        }

    def table_schema(self):
        return None  # schema evolution flows from the caller's schema

    def write_batch(self, df, partition_by=None, txn=None) -> CommitResult:
        txn = dict(txn or {})
        if already_applied(self._stored_txn(), txn):
            return CommitResult(
                self.snapshot()["version"], 0, 0, skipped=True
            )
        w = self._writer(partition_by)
        if self.mor and self.record_key and w.latest_instant():
            # UPSERT streaming (DeltaStreamer's upsert operation):
            # existing keys log-update, new keys base-insert. The
            # FIRST batch bootstraps via the insert path below (no
            # live keys to match yet).
            instant, n_log, n_ins, n_records = w.upsert_log_batch(
                df, txn=txn
            )
            n_files = n_log + n_ins
        else:
            instant, n_files, n_records = w.insert_batch(df, txn=txn)
        if instant is None:
            return CommitResult(
                self.snapshot()["version"], 0, 0, skipped=True
            )
        return CommitResult(
            instant, n_files, n_records, num_bytes=w.last_commit_bytes
        )

    def commit_offsets(self, txn: dict[str, int]) -> str | int:
        """--seek_offsets bootstrap: an empty commit whose
        extraMetadata carries the offsets; the latest instant when the
        ledger already holds them."""
        instant = self._writer()._commit(
            "commit", "SET_OFFSETS", txn,
            lambda _instant, _written: {"partitionToWriteStats": {}},
        )
        return self.snapshot()["version"] if instant is None else instant

    def read(self, spark, as_of=None):
        return read_hudi(spark, self.path, as_of_instant=as_of)

    def optimize(self, spark, target_file_bytes: int = 134_217_728,
                 **_kwargs):
        """--auto_optimize_interval parity: clustering replacecommit
        (CoW) or log compaction (MoR — fold blocks into new slices
        first, Hudi's async-compaction cadence analog)."""
        w = self._writer()
        if self.mor:
            return w.compact(spark)
        return w.cluster(spark, target_file_bytes)
