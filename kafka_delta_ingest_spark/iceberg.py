"""Apache Iceberg table READER — jar-free, built on the repo's own
pure-Python Avro codec (avro_python.py reads the manifest files) and
Spark's native parquet scan.

Implements the public Iceberg table spec (iceberg.apache.org/spec):

* metadata discovery: ``metadata/version-hint.text`` →
  ``v<N>.metadata.json`` (falling back to the highest ``v*.metadata
  .json`` present);
* snapshot selection: current snapshot, an explicit ``snapshot_id``,
  or timestamp time-travel (largest ``timestamp-ms`` ≤ the asked-for
  instant) — same time-travel surface the Delta-style sink exposes;
* planning: manifest-list Avro → manifest Avro → data/delete file
  plan. Planning walks METADATA only (KBs per manifest), never data —
  the property that makes Iceberg scans cheap at 100 TB — and
  supports manifest-level partition pruning via a caller predicate
  over the entry's partition struct;
* v2 merge-on-read deletes, executed Spark-natively with spec-exact
  SEQUENCE-NUMBER SCOPING (data sequence numbers carried from the
  manifest entries, inherited from the manifest list when null):
  - POSITION deletes ((file_path, pos) parquet) anti-join the data
    scan on ``(_metadata.file_path, _metadata.row_index)`` — Spark's
    hidden parquet columns give exact per-file row positions without
    any per-row Python — and apply only to data files whose data
    sequence number is ≤ the delete file's (same-commit deletes DO
    apply, per spec);
  - EQUALITY deletes anti-join on the delete file's equality columns
    (field ids resolved to names through the table schema) with
    NULL-SAFE equality (spec: a null delete value matches null rows)
    and apply only to data files whose sequence number is STRICTLY
    below the delete's — a row re-inserted after the delete survives.
  Delete frames are joined without a forced broadcast: AQE picks the
  strategy, so million-row delete files cannot OOM the driver.

A fixture WRITER (``write_iceberg_fixture``) builds real two-level
Avro manifests + parquet data/delete files via pyarrow so tests and
the driver query certify the reader against tables this repo did not
"read back from itself" through Spark.

Reference: the Rust engine writes only its own Delta log
(src/delta_helpers.rs:15-40); this module extends interop to the
second major open table format, read-side.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Callable

from kafka_delta_ingest_spark import logstore
from kafka_delta_ingest_spark.avro_python import read_container, write_container
from kafka_delta_ingest_spark.sinks.base import (
    CommitResult,
    _parse_partition_values,
    _remove_quietly,
    already_applied,
    decode_offsets,
    encode_offsets,
    staged_parquet,
)


def _norm_path(p: str) -> str:
    for prefix in ("file://", "file:"):
        if p.startswith(prefix):
            return p[len(prefix):]
    return p


_VERSION_RE = re.compile(r"v(\d+)\.metadata\.json")


def current_metadata(store, meta_dir: str) -> tuple[int, dict | None]:
    """(current version, parsed ``v<N>.metadata.json``), or (0, None)
    when ``meta_dir`` holds no metadata: the one resolver of the reader
    and the writer. It starts at the version ``version-hint.text``
    names and probes ``v<N+1>``, ``v<N+2>``, … through ``store``, as
    Iceberg's Hadoop table operations do, so a claim that landed
    without its hint swap is current for everyone. The directory is
    listed only when the hint is missing or names no version file."""

    def read(v):
        try:
            return store.read_bytes(
                os.path.join(meta_dir, f"v{v}.metadata.json")
            )
        except FileNotFoundError:
            return None

    try:
        v = int(store.read_bytes(os.path.join(meta_dir, "version-hint.text")))
        body = read(v)
    except (FileNotFoundError, ValueError):
        body = None
    if body is None:
        listed = [
            int(m.group(1))
            for m in map(_VERSION_RE.fullmatch, store.list_dir(meta_dir))
            if m
        ]
        if not listed:
            return 0, None
        v = max(listed)
        body = read(v)
    while (newer := read(v + 1)) is not None:
        v, body = v + 1, newer
    return v, json.loads(body)


def load_metadata(table_path: str) -> dict:
    """Resolve and parse the current ``v<N>.metadata.json``."""
    mdir = os.path.join(table_path, "metadata")
    _, meta = current_metadata(logstore.get_log_store(table_path), mdir)
    if meta is None:
        raise ValueError(f"no Iceberg metadata found under {mdir}")
    return meta


def snapshots(table_path: str) -> list[dict]:
    """The table's snapshot history (id, timestamp-ms, summary)."""
    return list(load_metadata(table_path).get("snapshots", []))


def _select_snapshot(meta: dict, snapshot_id=None, as_of_timestamp_ms=None):
    snaps = meta.get("snapshots", [])
    if not snaps:
        raise ValueError("Iceberg table has no snapshots")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"snapshot {snapshot_id} not found")
    if as_of_timestamp_ms is not None:
        eligible = [s for s in snaps
                    if s["timestamp-ms"] <= as_of_timestamp_ms]
        if not eligible:
            raise ValueError(
                f"no snapshot at or before {as_of_timestamp_ms}"
            )
        return max(eligible, key=lambda s: s["timestamp-ms"])
    cur = meta.get("current-snapshot-id")
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    return max(snaps, key=lambda s: s["timestamp-ms"])


def _current_schema(meta: dict) -> dict | None:
    schemas = meta.get("schemas") or []
    cur = meta.get("current-schema-id")
    for s in schemas:
        if s.get("schema-id") == cur:
            return s
    return meta.get("schema") or (schemas[0] if schemas else None)


def _current_snapshot(meta: dict) -> dict | None:
    """The snapshot ``current-snapshot-id`` names, or None."""
    cur = meta.get("current-snapshot-id")
    return next(
        (s for s in meta.get("snapshots", []) if s["snapshot-id"] == cur),
        None,
    )


def _default_spec(meta: dict) -> dict | None:
    """The ``default-spec-id`` partition spec (the first one for
    foreign metadata without a matching id)."""
    specs = meta.get("partition-specs") or []
    sid = meta.get("default-spec-id", 0)
    return next(
        (s for s in specs if s.get("spec-id") == sid),
        specs[0] if specs else None,
    )


def _schema_field_names(meta: dict) -> dict[int, str]:
    """field-id → name map from the current table schema."""
    out = {}
    for f in (_current_schema(meta) or {}).get("fields", []):
        out[f["id"]] = f["name"]
    return out


def plan_files(
    table_path: str,
    snapshot_id=None,
    as_of_timestamp_ms=None,
    partition_filter: Callable[[dict], bool] | None = None,
    row_filter: list[tuple] | None = None,
    with_partitions: bool = False,
):
    """Walk the metadata tree and return the scan plan:
    ``(data_files, position_delete_files, equality_deletes, meta)``
    where ``data_files`` is a list of (path, data_sequence_number)
    — or (path, seq, partition_values) with ``with_partitions=True`` —,
    ``position_delete_files`` of (path, seq), and ``equality_deletes``
    of (path, [column names], seq). Metadata-only: no data file is
    opened.

    ``row_filter`` — a conjunction of ``(column, op, literal)`` with
    op in <, <=, >, >=, = — prunes DATA files whose manifest
    lower/upper bounds provably exclude every matching row (the
    add-action-stats data-skipping analog; files without bounds are
    kept). Like partition pruning, it never touches delete files.

    Sequence-number inheritance per the v2 spec: a manifest entry's
    null ``sequence_number`` inherits the manifest's sequence number
    from the manifest list (0 for v1 manifests lacking the field)."""
    meta = load_metadata(table_path)
    snap = _select_snapshot(meta, snapshot_id, as_of_timestamp_ms)
    mlist_path = _norm_path(snap["manifest-list"])
    with open(mlist_path, "rb") as f:
        _, manifests = read_container(f.read())
    ids = _schema_field_names(meta)
    id_of = {v: k for k, v in ids.items()}
    type_of = {
        f["id"]: f["type"]
        for f in (_current_schema(meta) or {}).get("fields", [])
    }
    # Manifest partition tuples changed representation in r11:
    # typed_partition_value made float/boolean identity values typed
    # for NEW appends, so a pre-r11 table can hold BOTH eras ("1.5"
    # and 1.5) across its manifests. Normalize every decoded tuple
    # through the same function at plan time so partition_filter
    # callables and with_partitions consumers see exactly one
    # representation per type regardless of write era. Identity
    # fields only — non-identity transform outputs (bucket ints,
    # truncate prefixes) are already canonical.
    _pt_type = {}
    for _spec in meta.get("partition-specs") or []:
        for _pf in _spec.get("fields") or []:
            if _pf.get("transform") == "identity":
                _pt_type[_pf["name"]] = type_of.get(_pf.get("source-id"))

    def _norm_pt(pt: dict) -> dict:
        if not pt or not _pt_type:
            return pt
        return {
            k: (
                typed_partition_value(v, _pt_type[k])
                if k in _pt_type
                else v
            )
            for k, v in pt.items()
        }

    data_files, pos_deletes, eq_deletes = [], [], []
    for m in manifests:
        man_seq = m.get("sequence_number") or 0
        with open(_norm_path(m["manifest_path"]), "rb") as f:
            _, entries = read_container(f.read())
        for e in entries:
            if e.get("status") == 2:  # DELETED entry
                continue
            seq = e.get("sequence_number")
            if seq is None:
                seq = man_seq
            df = e["data_file"]
            content = df.get("content", 0)
            # partition pruning applies to DATA files only: delete
            # files (often written with an empty/global partition
            # struct) must always stay in the plan, or pruning would
            # resurrect deleted rows in the partitions it keeps.
            if (
                content == 0
                and partition_filter is not None
                and not partition_filter(_norm_pt(df.get("partition") or {}))
            ):
                continue
            if (
                content == 0
                and row_filter
                and not _file_may_match(df, row_filter, id_of, type_of)
            ):
                continue
            path = _norm_path(df["file_path"])
            if str(df.get("file_format", "PARQUET")).upper() != "PARQUET":
                raise ValueError(
                    f"unsupported file format {df.get('file_format')!r}"
                )
            if content == 0:
                if with_partitions:
                    data_files.append(
                        (path, seq, _norm_pt(df.get("partition") or {}))
                    )
                else:
                    data_files.append((path, seq))
            elif content == 1:
                pos_deletes.append((path, seq))
            elif content == 2:
                cols = [ids.get(i, str(i))
                        for i in (df.get("equality_ids") or [])]
                if not cols:
                    raise ValueError(
                        "equality delete file without equality_ids"
                    )
                eq_deletes.append((path, cols, seq))
            else:
                raise ValueError(f"unknown data_file content {content}")
    return data_files, pos_deletes, eq_deletes, meta


def typed_partition_value(v, ice_type):
    """Manifest partition-tuple typing for IDENTITY transforms, shared
    by the native writer's hive-directory parse (``_relocate``) and
    convert.py's Delta-``partitionValues`` translation, so
    ``partition_filter`` callables and plan-time pruning see ONE
    representation per type whether the table was written natively or
    bridged: int/long → int, float/double → float, boolean → bool,
    date/decimal/string → canonical string. (The Iceberg binary spec
    stores dates as epoch days and decimals as unscaled ints; this
    repo's Avro manifests keep the ISO-8601 / plain-decimal string on
    BOTH write paths — lexicographic ISO order matches date order, and
    the reader's identity-reattach cast turns the string back into the
    schema type.) None (``__HIVE_DEFAULT_PARTITION__``) passes
    through."""
    if v is None:
        return None
    t = ice_type or ""
    if t in ("int", "long"):
        return int(v)
    if t in ("float", "double"):
        return float(v)
    if t == "boolean":
        if isinstance(v, bool):
            return v
        return str(v).strip().lower() in ("true", "t", "1", "yes")
    return v if isinstance(v, str) else str(v)


def bound_to_bytes(value, ice_type: str) -> bytes | None:
    """Iceberg single-value SERIALIZATION (spec Appendix D) for
    manifest ``lower_bounds``/``upper_bounds``: little-endian
    fixed-width numerics, UTF-8 strings, 1-byte booleans. Returns
    None for types bounds are not emitted for."""
    import struct as _struct

    if value is None:
        return None
    if ice_type == "int":
        return _struct.pack("<i", int(value))
    if ice_type == "long":
        return _struct.pack("<q", int(value))
    if ice_type == "float":
        return _struct.pack("<f", float(value))
    if ice_type == "double":
        return _struct.pack("<d", float(value))
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    if ice_type == "string":
        return str(value).encode("utf-8")
    return None


def bound_from_bytes(b: bytes, ice_type: str):
    import struct as _struct

    if b is None:
        return None
    b = bytes(b)
    if ice_type == "int":
        return _struct.unpack("<i", b)[0]
    if ice_type == "long":
        return _struct.unpack("<q", b)[0]
    if ice_type == "float":
        return _struct.unpack("<f", b)[0]
    if ice_type == "double":
        return _struct.unpack("<d", b)[0]
    if ice_type == "boolean":
        return b != b"\x00"
    if ice_type == "string":
        return b.decode("utf-8")
    return None


_BOUND_TRUNC = 16  # write.metadata.metrics default: truncate(16)


def _truncate_bounds_str(lo: str, hi: str):
    """Iceberg's string-bound truncation: the LOWER bound may be any
    prefix (≤ true min — always safe); the UPPER bound prefix must be
    INCREMENTED at its last code point so it stays ≥ the true max.
    Returns (lo', hi') with hi'=None when no incrementable code point
    exists (bounds then omitted for the upper side)."""
    lo_t = lo[:_BOUND_TRUNC]
    if len(hi) <= _BOUND_TRUNC:
        return lo_t, hi
    pre = hi[:_BOUND_TRUNC]
    chars = list(pre)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            chars[i] = chr(cp + 1)
            return lo_t, "".join(chars[: i + 1])
    return lo_t, None


def footer_bounds(md, fields: list[dict]):
    """Per-column (null_value_counts, lower_bounds, upper_bounds) for
    one parquet data file, from its footer ``md`` (a pyarrow
    ``FileMetaData``; no data read) — the add-action-stats analog on
    the Iceberg leg, in the manifest's key/value-record shape keyed by
    FIELD ID. Columns without usable stats are simply absent (readers
    must treat missing bounds as unbounded)."""
    info = {f["name"]: (f["id"], f["type"]) for f in fields}
    mins: dict[int, object] = {}
    maxs: dict[int, object] = {}
    nulls: dict[int, int] = {}
    types: dict[int, str] = {}
    ok: dict[int, bool] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in info or "." in name:
                continue
            fid, ice_t = info[name]
            types[fid] = ice_t
            st = col.statistics
            if st is None or not st.has_null_count:
                ok[fid] = False
                continue
            nulls[fid] = nulls.get(fid, 0) + st.null_count
            if not st.has_min_max:
                # an ALL-null chunk legitimately has no min/max (the
                # null count stands); non-null values without stats
                # make the column's bounds unusable for this file
                if st.null_count < g.num_rows:
                    ok[fid] = False
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except UnicodeDecodeError:
                    ok[fid] = False
                    continue
            mins[fid] = lo if fid not in mins else min(mins[fid], lo)
            maxs[fid] = hi if fid not in maxs else max(maxs[fid], hi)
            ok.setdefault(fid, True)
    nvc, lowers, uppers = [], [], []
    for fid, good in ok.items():
        if not good:
            continue
        if fid in nulls:
            nvc.append({"key": fid, "value": int(nulls[fid])})
        if fid not in mins:
            continue
        lo, hi = mins[fid], maxs[fid]
        ice_t = types[fid]
        if ice_t == "string":
            lo, hi = _truncate_bounds_str(str(lo), str(hi))
        lb = bound_to_bytes(lo, ice_t)
        ub = bound_to_bytes(hi, ice_t) if hi is not None else None
        if lb is not None:
            lowers.append({"key": fid, "value": lb})
        if ub is not None:
            uppers.append({"key": fid, "value": ub})
    return nvc or None, lowers or None, uppers or None


def data_file_entry(path: str, md, size: int, partition: dict,
                    content: int = 0, equality_ids=None,
                    fields: list[dict] | None = None) -> dict:
    """One manifest ``data_file`` record for the parquet file at
    ``path`` with footer ``md``: ``content`` 0 data, 1 position
    deletes, 2 equality deletes. With ``fields``, the footer's column
    metrics (:func:`footer_bounds`) ride along."""
    nvc = lowers = uppers = None
    if fields is not None:
        nvc, lowers, uppers = footer_bounds(md, fields)
    return {
        "content": content,
        "file_path": path,
        "file_format": "PARQUET",
        "partition": partition,
        "record_count": md.num_rows,
        "file_size_in_bytes": size,
        "equality_ids": equality_ids,
        "null_value_counts": nvc,
        "lower_bounds": lowers,
        "upper_bounds": uppers,
    }


_SKIP_OPS = {"<", "<=", ">", ">=", "="}


def _file_may_match(df_entry: dict, preds, id_of, type_of) -> bool:
    """Can this data file contain a row satisfying ALL of ``preds``
    (a conjunction of (column, op, literal))? Missing bounds for a
    referenced column ⇒ unbounded ⇒ may match. The upper string bound
    is stored incremented (see _truncate_bounds_str), so every
    comparison below stays conservative."""
    lbs = {
        kv["key"]: kv["value"]
        for kv in (df_entry.get("lower_bounds") or [])
    }
    ubs = {
        kv["key"]: kv["value"]
        for kv in (df_entry.get("upper_bounds") or [])
    }
    for col, op, val in preds:
        fid = id_of.get(col)
        if fid is None:
            raise ValueError(f"unknown filter column {col!r}")
        if op not in _SKIP_OPS:
            raise ValueError(f"unsupported filter op {op!r}")
        t = type_of[fid]
        lb = bound_from_bytes(lbs.get(fid), t) if fid in lbs else None
        ub = bound_from_bytes(ubs.get(fid), t) if fid in ubs else None
        if op == ">" and ub is not None and ub <= val:
            return False
        if op == ">=" and ub is not None and ub < val:
            return False
        if op == "<" and lb is not None and lb >= val:
            return False
        if op == "<=" and lb is not None and lb > val:
            return False
        if op == "=" and (
            (lb is not None and lb > val)
            or (ub is not None and ub < val)
        ):
            return False
    return True


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmurhash3_x86_32 (public domain algorithm, the hash the
    Iceberg spec's bucket transform mandates). Returns unsigned 32-bit.
    Pinned against the spec's own appendix test vectors
    (int/long 34 → 2017239379, "iceberg" → 1210000089) in tests."""
    import struct as _struct

    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        (k,) = _struct.unpack_from("<I", data, i)
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def iceberg_bucket(value, n: int) -> int | None:
    """The spec's bucket transform: (murmur3 of the value's spec
    encoding & Int.MAX) % n. ints/longs hash as 8-byte little-endian
    longs; strings as UTF-8 bytes; null → null."""
    import struct as _struct

    if value is None:
        return None
    if isinstance(value, bool):
        raise ValueError("bucket transform is not defined for boolean")
    if isinstance(value, int):
        data = _struct.pack("<q", value)
    elif isinstance(value, str):
        data = value.encode("utf-8")
    else:
        raise ValueError(
            f"bucket transform unsupported for {type(value).__name__}"
        )
    return (murmur3_32(data) & 0x7FFFFFFF) % n


_TRANSFORM_RE = None


def parse_partition_spec_entry(entry: str) -> dict:
    """``"col"`` / ``"bucket(4, col)"`` / ``"truncate(3, col)"`` /
    ``"day(col)"`` → {"source": col, "transform": iceberg transform
    string, "name": partition field name (Iceberg's conventions:
    col_bucket / col_trunc / col_day)}."""
    import re as _re

    e = entry.strip()
    m = _re.fullmatch(r"bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)", e)
    if m:
        return {"source": m.group(2),
                "transform": f"bucket[{m.group(1)}]",
                "name": f"{m.group(2)}_bucket"}
    m = _re.fullmatch(r"truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)", e)
    if m:
        return {"source": m.group(2),
                "transform": f"truncate[{m.group(1)}]",
                "name": f"{m.group(2)}_trunc"}
    m = _re.fullmatch(r"(day|month|year|hour)\(\s*(\w+)\s*\)", e)
    if m:
        return {"source": m.group(2), "transform": m.group(1),
                "name": f"{m.group(2)}_{m.group(1)}"}
    if _re.fullmatch(r"\w+", e):
        return {"source": e, "transform": "identity", "name": e}
    raise ValueError(f"unsupported partition spec entry {entry!r}")


def _declared_spec_grammar(meta: dict) -> list[str]:
    """The default spec rendered back into this writer's partition
    grammar (identity name / bucket(n, col) / truncate(w, col) /
    day(col)) — used to adopt/validate an existing table's spec."""
    import re as _re

    names = _schema_field_names(meta)
    out = []
    for pf in (_default_spec(meta) or {}).get("fields") or []:
        src = names.get(pf["source-id"], pf["name"])
        tr = pf.get("transform", "identity")
        if tr == "identity":
            out.append(src)
            continue
        m = _re.fullmatch(r"bucket\[(\d+)\]", tr)
        if m:
            out.append(f"bucket({m.group(1)}, {src})")
            continue
        m = _re.fullmatch(r"truncate\[(\d+)\]", tr)
        if m:
            out.append(f"truncate({m.group(1)}, {src})")
            continue
        if tr in ("day", "month", "year", "hour"):
            out.append(f"{tr}({src})")
            continue
        raise ValueError(f"unsupported partition transform {tr!r}")
    return out


def _murmur3_32_longs(vals):
    """Vectorized murmur3_x86_32 over int64 values encoded as 8-byte
    little-endian longs (the spec's int/long bucket encoding) — pure
    numpy uint32 arithmetic, no per-row Python."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    lo = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    hi = (v >> np.uint64(32)).astype(np.uint32)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)

    def mix(h, k):
        k = k * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h = h ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        return h * np.uint32(5) + np.uint32(0xE6546B64)

    h = np.zeros(len(v), dtype=np.uint32)
    h = mix(h, lo)
    h = mix(h, hi)
    h = h ^ np.uint32(8)  # length
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def _murmur3_32_bytes_fixed(mat):
    """Vectorized murmur3_x86_32 over a (rows, L) uint8 matrix — every
    row is an L-byte message. The block loop runs L//4 times (message
    length, not row count); all arithmetic is numpy uint32 across the
    row axis, no per-row Python."""
    import numpy as np

    n_rows, length = mat.shape
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(n_rows, dtype=np.uint32)
    nblocks = length // 4
    if nblocks:
        w = mat[:, : nblocks * 4].reshape(
            n_rows, nblocks, 4
        ).astype(np.uint32)
        words = (
            w[:, :, 0]
            | (w[:, :, 1] << np.uint32(8))
            | (w[:, :, 2] << np.uint32(16))
            | (w[:, :, 3] << np.uint32(24))
        )
        for i in range(nblocks):
            k = words[:, i]
            k = k * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h = h ^ k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
    tail = length & 3
    if tail:
        k1 = np.zeros(n_rows, dtype=np.uint32)
        for i in range(tail - 1, -1, -1):
            k1 = (k1 << np.uint32(8)) | mat[
                :, nblocks * 4 + i
            ].astype(np.uint32)
        k1 = k1 * c1
        k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
        k1 = k1 * c2
        h = h ^ k1
    h = h ^ np.uint32(length)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def _murmur3_32_utf8(byte_values):
    """Vectorized murmur3_x86_32 over a sequence of ``bytes`` values
    (the spec's string bucket encoding): rows batch by byte length so
    each class hashes as one fixed-width uint8 matrix; the only
    Python-level loop is over DISTINCT lengths, and the per-class
    concat is a C-level bytes join."""
    import numpy as np

    vals = list(byte_values)
    lens = np.fromiter(
        (len(v) for v in vals), dtype=np.int64, count=len(vals)
    )
    out = np.zeros(len(vals), dtype=np.uint32)
    for length in np.unique(lens):
        idx = np.nonzero(lens == length)[0]
        if length == 0:
            out[idx] = np.uint32(murmur3_32(b""))
            continue
        blob = b"".join(vals[i] for i in idx)
        mat = np.frombuffer(blob, dtype=np.uint8).reshape(
            len(idx), int(length)
        )
        out[idx] = _murmur3_32_bytes_fixed(mat)
    return out


def _reattach_identity_partitions(spark, frame, meta, data_files,
                                  fp_col=None):
    """Iceberg-spec reader fallback: IDENTITY-transform partition
    values may be omitted from data files, in which case the reader
    must source them from the manifest partition tuple (spec
    "Partition Transforms": identity values are stored in metadata
    and "may be read from the data file or metadata"). Files written
    by this repo's writer carry the columns in the pages (fast path:
    nothing to do); converted tables (convert.py) reference foreign
    hive-layout parquet that doesn't.

    Reconstruction is ONE broadcast join: a (file_path -> values)
    mapping frame built from the plan's manifest entries attaches the
    missing columns, then casts them to the schema types — one scan
    regardless of partition cardinality (no per-partition scan
    groups).

    MIXED tables (converted files later joined by column-carrying
    native appends under the same identity spec, the r10 seam): when
    the table carries the ``kdi.files-may-omit-identity-columns``
    property — convert.py stamps it at bootstrap and IcebergWriter._commit
    preserves properties forever after — identity columns PRESENT in
    the merged scan schema are reconciled per-file as
    ``coalesce(file value, manifest value)``. That is exact for
    identity transforms: the manifest partition tuple IS the value for
    every row of its file, so file-carrying rows keep their (equal)
    page value, omitting files fill from metadata, and genuinely-null
    partitions stay null on both sides. Native-only tables (no
    property, all columns in pages) skip the join entirely, exactly as
    before.

    ``data_files`` must be (path, seq, partition_values) triples
    (``plan_files(..., with_partitions=True)``). ``fp_col`` names an
    existing normalized-file-path column; None adds a temporary one.
    Returns the (possibly unchanged) frame."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast as _bc
    from pyspark.sql.types import StringType, StructField, StructType

    specs = meta.get("partition-specs") or []
    sid = meta.get("default-spec-id", 0)
    spec = next(
        (s for s in specs if s.get("spec-id") == sid),
        specs[0] if specs else None,
    )
    ids = _schema_field_names(meta)
    type_of = {
        f["id"]: f["type"]
        for f in (_current_schema(meta) or {}).get("fields", [])
    }
    may_omit = (
        (meta.get("properties") or {}).get(
            "kdi.files-may-omit-identity-columns"
        ) == "true"
    )
    needed = []  # (field name, source column, spark type, present?)
    for pf in (spec or {}).get("fields") or []:
        if pf.get("transform") != "identity":
            continue
        src = ids.get(pf.get("source-id")) or pf["name"]
        present = src in frame.columns
        if present and not may_omit:
            continue
        needed.append(
            (pf["name"], src,
             _iceberg_type_to_spark(type_of.get(pf.get("source-id"))),
             present)
        )
    if not needed:
        return frame
    rows = [
        tuple(
            [path]
            + [
                None if pv.get(pn) is None else str(pv.get(pn))
                for pn, _src, _dt, _pr in needed
            ]
        )
        for path, _seq, pv in data_files
    ]
    from kafka_delta_ingest_spark.io import metadata_df

    mp = metadata_df(
        spark,
        rows,
        StructType(
            [StructField("_kdi_map_fp", StringType())]
            + [
                StructField(f"_kdi_pv_{src}", StringType(), True)
                for _pn, src, _dt, _pr in needed
            ]
        ),
    )
    added_fp = False
    if fp_col is None:
        frame = frame.select(
            "*",
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:(//)?", ""
            ).alias("_kdi_map_join_fp"),
        )
        fp_col = "_kdi_map_join_fp"
        added_fp = True
    frame = frame.join(
        _bc(mp), frame[fp_col] == mp["_kdi_map_fp"], "left"
    ).drop("_kdi_map_fp")
    for _pn, src, dt, present in needed:
        mv = F.col(f"_kdi_pv_{src}")
        if dt is not None:
            mv = mv.cast(dt)
        frame = frame.withColumn(
            src, F.coalesce(F.col(src), mv) if present else mv
        ).drop(f"_kdi_pv_{src}")
    if added_fp:
        frame = frame.drop("_kdi_map_join_fp")
    return frame


def read_iceberg(
    spark,
    table_path: str,
    snapshot_id=None,
    as_of_timestamp_ms=None,
    partition_filter: Callable[[dict], bool] | None = None,
    _file_subset: set | None = None,
    row_filter: list[tuple] | None = None,
    _keep_lineage: bool = False,
):
    """Read an Iceberg table into a DataFrame at the current snapshot,
    an explicit ``snapshot_id``, or a time-travel timestamp, applying
    v2 position/equality deletes Spark-natively with spec-exact
    sequence-number scoping. See module docstring for semantics.

    Identity-partitioned tables need no special read path: like real
    Iceberg writers, this repo's writer stores the partition COLUMNS
    in the data files (the hive directory layout is organizational;
    manifest partition values drive plan-time pruning), so the plain
    scan surfaces them — and external tables with non-identity
    (hidden) partition transforms keep reading unchanged.

    ``_file_subset`` (internal, compaction): restrict the DATA file
    set to these paths after planning — deletes still plan and apply
    normally, so the result is the live view of exactly those files."""
    from functools import reduce

    from pyspark.sql import functions as F

    data_files, pos_deletes, eq_deletes, meta = plan_files(
        table_path, snapshot_id, as_of_timestamp_ms, partition_filter,
        row_filter, with_partitions=True,
    )
    if _file_subset is not None:
        data_files = [
            (p, s, pv) for p, s, pv in data_files if p in _file_subset
        ]
    if not data_files:
        raise ValueError("scan plan has no data files")

    def _residual(out):
        # bounds pruning is per-file; the row-level residual still
        # applies (and Spark pushes it into the pruned scan)
        if not row_filter:
            return out
        import operator as _op

        ops = {
            "<": _op.lt, "<=": _op.le, ">": _op.gt,
            ">=": _op.ge, "=": _op.eq,
        }
        conds = [ops[op](F.col(c), F.lit(v)) for c, op, v in row_filter]
        return out.filter(reduce(lambda a, b: a & b, conds))

    # mergeSchema unions parquet footers across the live file set,
    # so additively-evolved tables (column added after early
    # snapshots) surface every column instead of whichever file
    # Spark samples first. Full Iceberg-schema-driven typing
    # (rename/reorder field ids) is a documented seam.
    def _scan(paths):
        return spark.read.option("mergeSchema", "true").parquet(
            *paths
        )

    known = {
        f["name"]
        for f in (_current_schema(meta) or {}).get("fields", [])
    }

    def _project(out):
        # Iceberg reads are SCHEMA-driven (spec: name-based column
        # resolution): physical columns absent from the table schema —
        # the _hoodie_* meta columns of a Hudi-bridged table
        # (convert_hudi_to_iceberg), or columns dropped by schema
        # evolution — are not part of the table and must not surface.
        # Lineage internals (_kdi_*) pass through for the write-side
        # consumers that requested them.
        if not known:
            return out
        extras = [
            c for c in out.columns
            if c not in known and not c.startswith("_kdi_")
        ]
        return out.drop(*extras) if extras else out

    if not pos_deletes and not eq_deletes:
        plain = _scan([p for p, _s, _pv in data_files])
        if _keep_lineage:
            # (file, pos) row lineage for write-side position deletes.
            # Captured from _metadata BEFORE the identity-reattach
            # join: Spark's metadata columns do not reliably resolve
            # through a join, so selecting them afterwards can raise
            # AnalysisException on converted identity-partitioned
            # tables (the reattach path then reuses _kdi_fp as its
            # join key instead of adding a second temp column).
            plain = plain.select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""
                ).alias("_kdi_fp"),
                F.col("_metadata.row_index").alias("_kdi_pos"),
            )
            plain = _reattach_identity_partitions(
                spark, plain, meta, data_files, fp_col="_kdi_fp"
            )
        else:
            plain = _reattach_identity_partitions(
                spark, plain, meta, data_files
            )
        return _residual(_project(plain))
    # deletes present: data files scan grouped by data sequence number
    # so each delete applies only to its in-scope files. Group count =
    # number of data commits in the snapshot (metadata-scale), each
    # group is one multi-file parquet scan — no per-file plan blowup.
    by_seq: dict[int, list[str]] = {}
    for p, seq, _pv in data_files:
        by_seq.setdefault(seq, []).append(p)
    df = None
    for seq in sorted(by_seq):
        g = (
            _scan(by_seq[seq])
            .select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""
                ).alias("_kdi_fp"),
                F.col("_metadata.row_index").alias("_kdi_pos"),
                F.lit(seq).alias("_kdi_seq"),
            )
        )
        df = g if df is None else df.unionByName(
            g, allowMissingColumns=True
        )
    # identity reconstruction BEFORE delete application: equality
    # deletes may key on an identity partition column
    df = _reattach_identity_partitions(
        spark, df, meta, data_files, fp_col="_kdi_fp"
    )
    if pos_deletes:
        # each pos-delete file carries its own sequence number; a
        # delete applies to data files with data_seq <= delete_seq
        # (same-commit position deletes DO apply, per the spec).
        dels = None
        for path, dseq in pos_deletes:
            d = spark.read.parquet(path).select(
                F.regexp_replace(
                    F.col("file_path"), "^file:(//)?", ""
                ).alias("_kdi_fp"),
                F.col("pos").alias("_kdi_pos"),
                F.lit(dseq).alias("_kdi_dseq"),
            )
            dels = d if dels is None else dels.unionByName(d)
        cond = (
            (df["_kdi_fp"] == dels["_kdi_fp"])
            & (df["_kdi_pos"] == dels["_kdi_pos"])
            & (df["_kdi_seq"] <= dels["_kdi_dseq"])
        )
        # no forced broadcast: delete files can hold millions of rows;
        # AQE picks broadcast vs shuffle from actual sizes.
        df = df.join(dels, cond, "left_anti")
    for path, cols, dseq in eq_deletes:
        dels = spark.read.parquet(path).select(*cols).dropDuplicates()
        # null-safe equality (spec: null delete values match null
        # rows) + strict sequence scoping (deletes never touch data
        # committed at or after the delete's own sequence number).
        cond = reduce(
            lambda a, b: a & b,
            [df[c].eqNullSafe(dels[c]) for c in cols],
        ) & (df["_kdi_seq"] < F.lit(dseq))
        df = df.join(dels, cond, "left_anti")
    dropped = (
        ["_kdi_seq"] if _keep_lineage
        else ["_kdi_fp", "_kdi_pos", "_kdi_seq"]
    )
    return _residual(_project(df.drop(*dropped)))


def read_iceberg_incremental(
    spark,
    table_path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    strict_append_only: bool = True,
):
    """Iceberg INCREMENTAL scan: the records in data files ADDED
    after ``from_snapshot_id`` (exclusive) up to ``to_snapshot_id``
    (inclusive, default current) — the snapshot-diff surface a
    CDC-style consumer polls, matching Spark's Iceberg
    ``start-snapshot-id``/``end-snapshot-id`` incremental read and
    completing the destination trio (``read_hudi_incremental`` and
    Delta CDF already exist).

    Lineage is walked via ``parent-snapshot-id``: ``from`` must be an
    ancestor of ``to`` or this raises (a diff across a rollback fork
    is meaningless). ``strict_append_only=True`` (Spark's behavior)
    raises if any snapshot in the window has a summary operation
    other than ``append``; with it off, the result is the LIVE view
    of the added files (the end snapshot's position/equality deletes
    still apply, scoped by sequence number as in :func:`read_iceberg`).

    Scale: planning is a metadata-only set-diff of two manifest walks
    — the scan itself touches ONLY the added data files, never the
    start snapshot's. An empty window returns an empty DataFrame with
    the table schema (no files scanned)."""
    meta = load_metadata(table_path)
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if from_snapshot_id not in by_id:
        raise ValueError(f"snapshot {from_snapshot_id} not found")
    end = _select_snapshot(meta, to_snapshot_id)
    # ancestry walk from end back to from (exclusive), collecting the
    # window's snapshots for the append-only gate. Snapshots written
    # by this repo carry parent-snapshot-id; for external tables that
    # omit the (spec-optional) field, fall back to metadata order.
    ordered = list(meta.get("snapshots", []))

    def _parent(s: dict) -> dict | None:
        pid = s.get("parent-snapshot-id")
        if pid is not None:
            return by_id.get(pid)
        idx = next(
            i
            for i, x in enumerate(ordered)
            if x["snapshot-id"] == s["snapshot-id"]
        )
        return ordered[idx - 1] if idx > 0 else None

    window: list[dict] = []
    cur = end
    while cur is not None and cur["snapshot-id"] != from_snapshot_id:
        window.append(cur)
        cur = _parent(cur)
    if cur is None:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{end['snapshot-id']}"
        )
    if strict_append_only:
        for s in window:
            op = (s.get("summary") or {}).get("operation", "append")
            if op != "append":
                raise ValueError(
                    f"incremental read over non-append snapshot "
                    f"{s['snapshot-id']} (operation={op!r}); pass "
                    "strict_append_only=False for the live view of "
                    "the added files"
                )
    start_files = {
        p
        for p, _seq in plan_files(
            table_path, snapshot_id=from_snapshot_id
        )[0]
    }
    end_data = plan_files(
        table_path, snapshot_id=end["snapshot-id"]
    )[0]
    new_files = {p for p, _seq in end_data if p not in start_files}
    if not new_files:
        return read_iceberg(
            spark, table_path, snapshot_id=end["snapshot-id"]
        ).limit(0)
    return read_iceberg(
        spark,
        table_path,
        snapshot_id=end["snapshot-id"],
        _file_subset=new_files,
    )


# ---------------------------------------------------------------------------
# fixture writer: real two-level Avro manifests + parquet via pyarrow

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "min_sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "map",
                            # union order matters only for encode-time
                            # branch pick; _union_branch_matches keys
                            # bool before int, so typed boolean/double
                            # identity values round-trip exactly.
                            # Readers decode with the writer-embedded
                            # schema, so pre-r11 3-branch manifests
                            # keep reading unchanged.
                            "values": [
                                "null", "string", "long",
                                "double", "boolean",
                            ],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "default": None,
                    },
                    # column metrics (spec: map<field id, ...> encoded
                    # as Avro key/value record arrays, values in
                    # single-value binary serialization) — the
                    # add-action-stats analog driving file skipping
                    {
                        "name": "null_value_counts",
                        "type": ["null", {
                            "type": "array",
                            "items": {
                                "type": "record",
                                "name": "k_v_long",
                                "fields": [
                                    {"name": "key", "type": "int"},
                                    {"name": "value", "type": "long"},
                                ],
                            },
                        }],
                        "default": None,
                    },
                    {
                        "name": "lower_bounds",
                        "type": ["null", {
                            "type": "array",
                            "items": {
                                "type": "record",
                                "name": "k_v_lower",
                                "fields": [
                                    {"name": "key", "type": "int"},
                                    {"name": "value", "type": "bytes"},
                                ],
                            },
                        }],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "type": ["null", {
                            "type": "array",
                            "items": {
                                "type": "record",
                                "name": "k_v_upper",
                                "fields": [
                                    {"name": "key", "type": "int"},
                                    {"name": "value", "type": "bytes"},
                                ],
                            },
                        }],
                        "default": None,
                    },
                ],
            },
        },
    ],
}


class IcebergFixtureWriter:
    """Builds a REAL on-disk Iceberg table layout for tests: parquet
    data/delete files (pyarrow), Avro manifests and manifest lists
    (avro_python.write_container), versioned metadata JSON with a
    snapshot log and version-hint. Not a production writer — it exists
    so the reader is certified against files this repo's Spark session
    did not produce."""

    def __init__(self, table_path: str, schema_fields: list[dict]):
        # schema_fields: [{"id": 1, "name": "doc_id", "type": "long",
        #                  "required": False}, ...]
        self.root = table_path
        self.data_dir = os.path.join(table_path, "data")
        self.meta_dir = os.path.join(table_path, "metadata")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        self.fields = schema_fields
        self.snaps: list[dict] = []
        self.version = 0
        self._file_no = 0
        self._seq = 0  # table-level data sequence number (v2 spec)
        # (data_sequence_number, data_file dict) across snapshots;
        # plain dicts (legacy test construction) get the commit's seq.
        self._live: list = []

    _PA_TYPES = {
        "long": "int64", "int": "int32", "string": "string",
        "double": "float64", "float": "float32", "boolean": "bool_",
    }

    def _write_parquet(self, rows: list[dict], name: str) -> tuple[str, int]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.data_dir, name)
        cols = list(rows[0].keys())
        by_name = {f["name"]: f["type"] for f in self.fields}
        arrays = {}
        for c in cols:
            vals = [r[c] for r in rows]
            t = self._PA_TYPES.get(by_name.get(c))
            # type from the declared Iceberg schema, not inference —
            # an all-null equality-delete column must still carry the
            # table's column type in parquet.
            arrays[c] = (
                pa.array(vals, type=getattr(pa, t)()) if t
                else pa.array(vals)
            )
        table = pa.table(arrays)
        pq.write_table(table, path)
        return path, os.path.getsize(path)

    def _commit(self, new_entries: list[dict], ts_ms: int):
        self._seq += 1
        self._live.extend((self._seq, f) for f in new_entries)
        snap_id = 1000 + len(self.snaps) + 1
        entries = []
        seqs = []
        for item in self._live:
            # legacy plain-dict entries (tests hand-assemble _live)
            # carry the current commit's sequence number.
            seq, f = item if isinstance(item, tuple) else (self._seq, item)
            seqs.append(seq)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    # EXISTING files keep their original data sequence
                    # number explicitly (spec: inheritance is only for
                    # null entries in the adding manifest).
                    "sequence_number": seq,
                    "data_file": f,
                }
            )
        man_path = os.path.join(
            self.meta_dir, f"manifest-{snap_id}.avro"
        )
        blob = write_container(entries, _MANIFEST_ENTRY_SCHEMA)
        with open(man_path, "wb") as f:
            f.write(blob)
        mlist_path = os.path.join(
            self.meta_dir, f"snap-{snap_id}.avro"
        )
        mlist = write_container(
            [
                {
                    "manifest_path": man_path,
                    "manifest_length": len(blob),
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": self._seq,
                    "min_sequence_number": min(seqs) if seqs else self._seq,
                    "added_snapshot_id": snap_id,
                }
            ],
            _MANIFEST_LIST_SCHEMA,
        )
        with open(mlist_path, "wb") as f:
            f.write(mlist)
        self.snaps.append(
            {
                "snapshot-id": snap_id,
                "timestamp-ms": ts_ms,
                "manifest-list": mlist_path,
                # spec operation: delete-file commits are "delete"
                # (the incremental reader's append-only gate keys on
                # this, like Spark's Iceberg source)
                "summary": {
                    "operation": (
                        "delete"
                        if any(
                            f.get("content", 0) != 0
                            for f in new_entries
                        )
                        else "append"
                    )
                },
                **(
                    {"parent-snapshot-id":
                     self.snaps[-1]["snapshot-id"]}
                    if self.snaps else {}
                ),
            }
        )
        self.version += 1
        meta = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000000",
            "last-sequence-number": self._seq,
            "location": self.root,
            "current-schema-id": 0,
            "schemas": [
                {"schema-id": 0, "type": "struct", "fields": self.fields}
            ],
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "current-snapshot-id": self.snaps[-1]["snapshot-id"],
            "snapshots": self.snaps,
        }
        with open(
            os.path.join(self.meta_dir, f"v{self.version}.metadata.json"),
            "w",
        ) as f:
            json.dump(meta, f)
        with open(
            os.path.join(self.meta_dir, "version-hint.text"), "w"
        ) as f:
            f.write(str(self.version))
        return snap_id

    def append(self, rows: list[dict], ts_ms: int, partition=None) -> int:
        self._file_no += 1
        path, size = self._write_parquet(
            rows, f"data-{self._file_no:05d}.parquet"
        )
        return self._commit(
            [
                {
                    "content": 0,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": dict(partition or {}),
                    "record_count": len(rows),
                    "file_size_in_bytes": size,
                    "equality_ids": None,
                }
            ],
            ts_ms,
        )

    def position_delete(self, victims: list[tuple[str, int]], ts_ms: int):
        """victims: (data file path, row position) pairs."""
        self._file_no += 1
        path, size = self._write_parquet(
            [{"file_path": p, "pos": pos} for p, pos in victims],
            f"delete-{self._file_no:05d}.parquet",
        )
        return self._commit(
            [
                {
                    "content": 1,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": len(victims),
                    "file_size_in_bytes": size,
                    "equality_ids": None,
                }
            ],
            ts_ms,
        )

    def equality_delete(self, rows: list[dict], field_ids: list[int],
                        ts_ms: int):
        self._file_no += 1
        path, size = self._write_parquet(
            rows, f"eqdelete-{self._file_no:05d}.parquet"
        )
        return self._commit(
            [
                {
                    "content": 2,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": len(rows),
                    "file_size_in_bytes": size,
                    "equality_ids": list(field_ids),
                }
            ],
            ts_ms,
        )


class IcebergWriter:
    """Production-shape Apache Iceberg v2 WRITER (append snapshots) —
    the write-side counterpart of :func:`read_iceberg`, closing the
    second open-table-format interop loop next to the standard Delta
    writer (delta_standard.DeltaStandardWriter).

    Commit shape follows the spec's scaling design: each append writes
    ONE new Avro manifest holding only the NEW data files (entries
    carry their explicit data sequence number), and the new snapshot's
    manifest list references the PRIOR manifests unchanged plus the new
    one — an O(new files) metadata commit, never an O(table) manifest
    rewrite (the property that keeps high-frequency ingest viable on
    billion-file tables; the fixture writer above intentionally
    rewrites one manifest per snapshot instead, to keep tampering
    tests simple). Data files are written by one executor-parallel
    Spark job into a staging dir, then promoted under ``data/``.

    Commit protocol: every operation commits through :meth:`_commit`.
    It reads the current metadata (:func:`current_metadata`), re-checks
    the ``kdi.offsets.*`` ledger, writes the new manifests and the
    manifest list, claims ``v<N+1>.metadata.json`` with put-if-absent
    (the primitive HadoopTableOperations uses) and then swaps
    ``version-hint.text``. A lost claim retries from the fresh state.
    A commit known not to land removes every file it wrote; a claim
    call that raised keeps them only if the store shows our version.

    Partitioning: IDENTITY transforms (``partition_by`` columns, the
    reference's Hive-partitioned output shape, src/writer.rs:390-427)
    — the spec's partition fields land in ``partition-specs`` with
    their source field ids, data files are written per-partition
    (hive directory layout under ``data/``), and each manifest entry
    carries its typed partition values so the reader prunes at PLAN
    time from metadata alone. HIDDEN partitioning (r8): ``bucket(n,
    col)`` (spec murmur3 over the value's long/UTF-8 encoding),
    ``truncate(w, col)``, ``day(col)``, and (r9) ``month/year/hour``
    transforms — spec fields carry the transform string, data files
    keep the SOURCE columns, and manifest entries carry the
    transformed values so readers prune on them at plan time.
    Row-level deletes are served read-side via the
    v2 position/equality delete files the reader already applies
    (delete files are written spec-global and never pruned).
    """

    def __init__(self, table_path: str, schema_fields: list[dict],
                 partition_by: list[str] | None = None, store=None,
                 properties: dict[str, str] | None = None):
        self.root = table_path
        self.data_dir = os.path.join(table_path, "data")
        self.meta_dir = os.path.join(table_path, "metadata")
        # commit-protocol IO (metadata claim, version hint, manifests,
        # current-state reads) routes through the LogStore seam; the
        # parquet data files (uuid names, no races) are promoted
        # locally.
        self.store = store or logstore.get_log_store(table_path)
        os.makedirs(self.data_dir, exist_ok=True)
        self.store.makedirs(self.meta_dir)
        self.fields = schema_fields
        # entries are plain column names (identity) or the transform
        # grammar "bucket(4, col)" / "truncate(3, col)" / "day(col)" —
        # Iceberg's HIDDEN partitioning (r8; closes the bucket/
        # truncate/day writer seam; month/hour etc. remain out)
        self.partition_by = list(partition_by or [])
        # table properties to merge into the NEXT committed metadata
        # (existing properties carry forward verbatim; this map only
        # adds/overrides). Used by convert.py to stamp
        # "kdi.files-may-omit-identity-columns" on bridged tables.
        self.properties = dict(properties or {})
        self._spec()

    # -- state -----------------------------------------------------------

    def _current(self) -> tuple[int, dict | None]:
        """(current metadata version, metadata dict or None)."""
        return current_metadata(self.store, self.meta_dir)

    def _spec(self) -> list[dict]:
        """``partition_by`` parsed; raises when an entry's source
        column is not in ``fields``."""
        spec = [parse_partition_spec_entry(e) for e in self.partition_by]
        names = {f["name"] for f in self.fields}
        bad = [e["source"] for e in spec if e["source"] not in names]
        if bad:
            raise ValueError(f"partition columns {bad} not in schema")
        return spec

    def _read_avro(self, path: str) -> list[dict]:
        """The records of a manifest or manifest list."""
        return read_container(self.store.read_bytes(_norm_path(path)))[1]

    # -- append ------------------------------------------------------------

    def append(self, df, ts_ms: int | None = None,
               attempts: int = 100) -> int:
        """Append ``df`` as one Iceberg snapshot; returns snapshot id."""

        def stage(written):
            files = self._write_data_files(df, written)
            if not files:
                raise ValueError("append with zero non-empty data files")
            return [(files, 0)]

        return self._commit("append", stage=stage, ts_ms=ts_ms,
                            attempts=attempts)

    def _write_data_files(self, df, written: list[str]) -> list[dict]:
        """Spark-write ``df`` to staging and promote under ``data/``
        (hive directory layout when partitioned), adding each
        destination to ``written`` before the move; returns content=0
        data_file dicts whose ``partition`` map carries the TYPED
        identity values (long for long/int source columns, string
        otherwise, null for the hive default partition).

        Iceberg stores EVERY column in the data files (partition
        fields included) — so the staging job partitions by CLONES of
        the partition columns, which Spark drops from the data pages,
        keeping the real columns intact; the reader then needs no
        directory-derived reconstruction and non-identity external
        tables keep reading unchanged."""
        from pyspark.sql import functions as F

        _, cur_meta = self._current()
        if cur_meta is not None:
            cur_schema = _current_schema(cur_meta)
            if cur_schema and cur_schema.get("fields"):
                # adopt the table's CURRENT schema (field ids, types,
                # evolved columns) — a writer instance constructed
                # before an evolve_schema() must stamp bounds and
                # transforms against the evolved ids
                self.fields = cur_schema["fields"]
            declared_names = {f["name"] for f in self.fields}
            stray = [
                c for c in df.columns if c not in declared_names
            ]
            if stray:
                raise ValueError(
                    f"column(s) {stray} are not in the table schema; "
                    "call evolve_schema() first (appends never evolve "
                    "the schema implicitly)"
                )
            declared = _declared_spec_grammar(cur_meta)
            decl_parsed = [
                parse_partition_spec_entry(e) for e in declared
            ]
            mine_parsed = [
                parse_partition_spec_entry(e) for e in self.partition_by
            ]
            if decl_parsed and not mine_parsed:
                # adopt the table's spec — a maintenance/bootstrap
                # writer instance must not write spec-violating files
                self.partition_by = declared
            elif mine_parsed != decl_parsed:
                raise ValueError(
                    f"partition_by {self.partition_by} != table's "
                    f"declared identity spec {declared}"
                )
        spec = self._spec()
        types_by_name = {f["name"]: f["type"] for f in self.fields}

        def _transform_col(e):
            src = e["source"]
            tr = e["transform"]
            if tr == "identity":
                return F.col(src)
            if tr == "day":
                return F.datediff(
                    F.col(src).cast("date"),
                    F.to_date(F.lit("1970-01-01")),
                )
            if tr == "month":
                # spec: months from 1970-01
                return (
                    (F.year(F.col(src)) - 1970) * 12
                    + F.month(F.col(src)) - 1
                )
            if tr == "year":
                return F.year(F.col(src)) - 1970
            if tr == "hour":
                # spec: hours from 1970-01-01 00:00:00 UTC
                return (
                    F.unix_timestamp(F.col(src).cast("timestamp"))
                    / 3600
                ).cast("int")
            import re as _re

            m = _re.fullmatch(r"truncate\[(\d+)\]", tr)
            if m:
                w = int(m.group(1))
                if types_by_name.get(src) == "string":
                    return F.substring(F.col(src), 1, w)
                # spec: v - (((v % W) + W) % W) — floors negatives
                return (
                    F.col(src)
                    - (((F.col(src) % w) + w) % w)
                )
            m = _re.fullmatch(r"bucket\[(\d+)\]", tr)
            if m:
                n = int(m.group(1))
                if types_by_name.get(src) in ("int", "long"):
                    from pyspark.sql.functions import pandas_udf

                    @pandas_udf("int")
                    def _bucket_long(s):
                        import numpy as np
                        import pandas as pd

                        mask = s.isna()
                        h = _murmur3_32_longs(
                            s.fillna(0).astype("int64").to_numpy()
                        )
                        b = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)
                             ).astype("int32")
                        out = pd.Series(b, index=s.index, dtype="Int32")
                        out[mask] = None
                        return out

                    return _bucket_long(F.col(src))
                from pyspark.sql.functions import pandas_udf

                @pandas_udf("int")
                def _bucket_str(s):
                    import numpy as np
                    import pandas as pd

                    mask = s.isna()
                    h = _murmur3_32_utf8(
                        s.fillna("").str.encode("utf-8")
                    )
                    b = (
                        (h & np.uint32(0x7FFFFFFF)) % np.uint32(n)
                    ).astype("int32")
                    out = pd.Series(b, index=s.index, dtype="Int32")
                    out[mask] = None
                    return out

                return _bucket_str(F.col(src))
            raise ValueError(f"unsupported transform {tr!r}")

        staged_df = df
        for e in spec:
            staged_df = staged_df.withColumn(
                f"__kdi_pp_{e['name']}", _transform_col(e)
            )

        def _ptype(name):
            # manifest value typing per partition FIELD
            for e in spec:
                if e["name"] != name:
                    continue
                tr = e["transform"]
                if tr == "identity":
                    return types_by_name.get(e["source"])
                if tr.startswith("truncate") and types_by_name.get(
                    e["source"]
                ) == "string":
                    return "string"
                return "int"  # bucket / day / int truncate
            return None

        out = []
        pp_cols = [f"__kdi_pp_{e['name']}" for e in spec]
        with staged_parquet(staged_df, self.root, pp_cols) as staged:
            for f in staged:
                if f.metadata.num_rows == 0:
                    continue
                # "__kdi_pp_<field>=<v>" segments → real "<field>=<v>"
                rel_dir = "/".join(
                    seg.replace("__kdi_pp_", "", 1)
                    for seg in f.rel_dir.split("/") if seg
                )
                pv = {
                    c: typed_partition_value(v, _ptype(c))
                    for c, v in _parse_partition_values(rel_dir).items()
                }
                dest = os.path.join(
                    self.data_dir, rel_dir, f"{uuid.uuid4().hex}-{f.name}"
                )
                written.append(dest)
                size = f.promote(dest)
                out.append(data_file_entry(
                    dest, f.metadata, size, pv, fields=self.fields
                ))
        return out

    def upsert(self, df, key_cols: list[str],
               ts_ms: int | None = None, attempts: int = 100) -> int:
        """UPSERT as ONE snapshot holding an EQUALITY-DELETE manifest
        (the incoming keys) plus a data manifest (the incoming rows) —
        the Flink-CDC-style Iceberg upsert shape. Sequence-number
        scoping makes it exact: the equality delete applies only to
        STRICTLY older data files, so the same-commit inserts survive
        while every prior version of the keys is masked."""
        ids_by_name = {f["name"]: f["id"] for f in self.fields}
        missing = [c for c in key_cols if c not in ids_by_name]
        if missing:
            raise ValueError(f"unknown key columns {missing}")
        # r12 (optimization): materialize the batch once — its lineage
        # (aggregation + join upstream in the common CDC shape) was
        # executed twice, for the equality-delete key file AND the
        # data files. O(batch) local materialization, scans after.
        df = df.localCheckpoint()
        eq_ids = [ids_by_name[c] for c in key_cols]

        def stage(written):
            def eq_delete_leg() -> list[dict]:
                # equality-delete file: the DISTINCT incoming key
                # tuples, written EXECUTOR-side via the same
                # staging-promote shape as delete_where below — driver
                # memory stays O(1) in the batch key count.
                keys = df.select(*key_cols).dropDuplicates().coalesce(1)
                return self._promote(
                    keys, "eqdelete", written, content=2,
                    equality_ids=eq_ids,
                )

            # r13 (guide §2.6): the key-file write and the data-file
            # write both scan only the checkpointed batch and stage
            # into distinct uuid dirs — two driver threads overlap the
            # single-task key coalesce with the data write's fan-out
            # (and each leg's footer reads/moves with the other's
            # tasks).
            from kafka_delta_ingest_spark.io import overlap

            delete_files, data_files = overlap(
                eq_delete_leg, lambda: self._write_data_files(df, written)
            )
            if not data_files:
                raise ValueError("upsert with zero non-empty data files")
            return [(delete_files, 1), (data_files, 0)]

        return self._commit("overwrite", stage=stage, ts_ms=ts_ms,
                            attempts=attempts)

    def _promote(self, df, prefix: str, written: list[str],
                 rel_dir: str = "", partition: dict | None = None,
                 **entry) -> list[dict]:
        """Stage ``df`` (already coalesced to the files wanted) and
        promote each non-empty file as ``data/<rel_dir>/<prefix>-<uuid>
        .parquet``, adding it to ``written`` before the move; returns
        their manifest ``data_file`` entries (``entry`` sets content
        and equality ids)."""
        out = []
        with staged_parquet(df, self.root) as staged:
            for f in staged:
                if f.metadata.num_rows == 0:
                    continue
                dest = os.path.join(
                    self.data_dir, rel_dir,
                    f"{prefix}-{uuid.uuid4().hex}.parquet",
                )
                written.append(dest)
                size = f.promote(dest)
                out.append(data_file_entry(
                    dest, f.metadata, size, dict(partition or {}), **entry
                ))
        return out

    def evolve_schema(self, schema, attempts: int = 100) -> int:
        """ALTER TABLE ADD COLUMNS analog — commit a NEW schema
        (fresh ``schema-id``, ``current-schema-id`` updated,
        ``last-column-id`` advanced) as a metadata-only version:
        snapshots, manifests and data files are untouched, so
        evolution costs zero data bytes at any table size. ADD-ONLY
        like the Delta legs' evolve_schema: existing columns keep
        their ids and exact types, none may be omitted; new columns
        get ids above ``last-column-id`` (the spec's id-allocation
        rule — ids are never reused, which is what makes old files
        readable forever). ``schema`` is a Spark StructType (new
        columns of unmappable Spark types are refused). Returns the
        new metadata version."""
        from pyspark.sql import types as T

        if not isinstance(schema, T.StructType):
            raise TypeError("evolve_schema takes a Spark StructType")
        merged: list[dict] = []

        def update(meta):
            if meta is None:
                raise ValueError(
                    "evolve_schema on an empty table — the first "
                    "append declares the schema"
                )
            old_fields = (_current_schema(meta) or {}).get("fields", [])
            old_by_name = {f["name"]: f for f in old_fields}
            new_names = {f.name for f in schema.fields}
            missing = sorted(n for n in old_by_name if n not in new_names)
            if missing:
                raise ValueError(
                    f"evolved schema omits existing column(s) "
                    f"{missing}; schema evolution is add-only"
                )
            last_col = meta.get("last-column-id") or max(
                (f["id"] for f in old_fields), default=0
            )
            merged[:] = old_fields
            for f in schema.fields:
                old = old_by_name.get(f.name)
                ice_t = _spark_type_to_iceberg(f.dataType)
                if old is not None:
                    if ice_t is not None and old["type"] != ice_t:
                        raise ValueError(
                            f"column {f.name!r}: type change "
                            f"{old['type']!r} -> {ice_t!r} cannot be "
                            "applied to already-written files"
                        )
                    continue
                if ice_t is None:
                    raise ValueError(
                        f"new column {f.name!r}: Spark type "
                        f"{f.dataType} has no Iceberg mapping"
                    )
                last_col += 1
                merged.append(
                    {"id": last_col, "name": f.name, "type": ice_t,
                     "required": False}
                )
            if len(merged) == len(old_fields):
                return None  # already identical
            schemas = list(meta.get("schemas") or [])
            new_id = max(
                (s.get("schema-id", 0) for s in schemas), default=-1
            ) + 1
            schemas.append(
                {"schema-id": new_id, "type": "struct", "fields": merged}
            )
            return {**meta, "schemas": schemas, "current-schema-id": new_id,
                    "last-column-id": last_col}

        version = self._commit("evolve-schema", update=update,
                               attempts=attempts)
        if version is None:
            return self._current()[0]
        self.fields = list(merged)
        return version

    def optimize(self, spark, target_file_bytes: int = 134_217_728,
                 ts_ms: int | None = None, attempts: int = 100) -> int:
        """Bin-packing COMPACTION as one ``replace`` snapshot (closes
        the r7 seam): per partition tuple, every live data file under
        ``target_file_bytes`` is read THROUGH the delete-applying path
        (position/equality deletes materialize here) and rewritten
        into coalesced files. The commit rewrites each prior DATA
        manifest that names a compacted file without it (surviving
        entries kept as EXISTING with their ORIGINAL data sequence
        numbers, so older equality deletes still scope over them),
        keeps the other manifests as-is, and adds one manifest with
        the compacted outputs at the NEW sequence number — which
        existing deletes therefore never re-mask (their rows were just
        materialized). Returns the new snapshot id, or the current one
        when nothing qualifies. Raises when another commit lands while
        the files are rewritten; the rewrite is then removed.

        Scale: each partition group is one coalesced Spark job over
        only the files being compacted; manifest rewrites are
        O(manifest entries) metadata — the same work a real Iceberg
        RewriteDataFiles action does."""
        _, meta = self._current()
        if meta is None:
            raise ValueError("optimize on an empty table")
        cur_id = meta.get("current-snapshot-id")
        # collect live small data files per partition tuple
        groups: dict[tuple, list[str]] = {}
        for m in self._read_avro(_current_snapshot(meta)["manifest-list"]):
            if m.get("content", 0) != 0:
                continue
            for e in self._read_avro(m["manifest_path"]):
                df_ = e["data_file"]
                if (e.get("status") == 2 or df_.get("content", 0) != 0
                        or df_["file_size_in_bytes"] >= target_file_bytes):
                    continue
                key = tuple(sorted((df_.get("partition") or {}).items()))
                groups.setdefault(key, []).append(
                    _norm_path(df_["file_path"])
                )
        groups = {k: v for k, v in groups.items() if len(v) > 1}
        if not groups:
            return cur_id

        def stage(written):
            # rewrite each compaction group through the DELETE-APPLYING
            # read path (live view of exactly those files)
            new_files = []
            for key, paths in sorted(groups.items()):
                live = read_iceberg(spark, self.root, _file_subset=set(paths))
                rel_dir = "/".join(
                    f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
                    for c, v in key
                )
                new_files += self._promote(
                    live.coalesce(1), "opt", written, rel_dir, dict(key)
                )
            return [(new_files, 0)]

        return self._commit(
            "replace", stage=stage, ts_ms=ts_ms, attempts=attempts,
            derived_from=cur_id,
            removes={p for paths in groups.values() for p in paths},
        )

    def delete_where(self, spark, predicate: str,
                     ts_ms: int | None = None,
                     attempts: int = 100) -> int:
        """Row-level DELETE as a merge-on-read POSITION-DELETE
        snapshot: rows of the LIVE view matching ``predicate`` (a SQL
        expression) become one sorted (file_path, pos) parquet delete
        file; the commit adds a content=1 delete manifest — no data
        file is rewritten (Iceberg's streaming-delete shape; the
        reader applies it with sequence-number scoping).

        Matching runs against the live view (existing deletes
        applied), so repeated deletes never re-tombstone rows."""
        from pyspark.sql import functions as F

        # _keep_lineage carries (file, pos) through the delete-applying
        # merge — plain _metadata would not survive those joins, so a
        # second delete on an already-deleting table needs this path
        matches = (
            read_iceberg(spark, self.root, _keep_lineage=True)
            .filter(predicate)
            .select(
                F.col("_kdi_fp").alias("file_path"),
                F.col("_kdi_pos").alias("pos"),
            )
            .orderBy("file_path", "pos")  # spec: delete files sorted
        )

        def stage(written):
            files = self._promote(
                matches.coalesce(1), "delete", written, content=1
            )
            return [(files, 1)] if files else None

        snap_id = self._commit("delete", stage=stage, ts_ms=ts_ms,
                               attempts=attempts)
        if snap_id is None:  # no row matched
            return (self._current()[1] or {}).get("current-snapshot-id")
        return snap_id

    def expire_snapshots(self, older_than_ms: int | None = None,
                         retain_last: int = 1) -> list[str]:
        """Iceberg's ``expireSnapshots`` table service — the VACUUM
        analog completing the maintenance matrix across the trio
        (Delta ``vacuum``, Hudi ``clean``): drop snapshots older than
        ``older_than_ms`` (always retaining the current one and the
        ``retain_last`` newest), commit the shrunk snapshot list as a
        new metadata version, then physically delete every
        manifest-list, manifest, and data file referenced ONLY by
        expired snapshots.  Returns the deleted paths.

        Reference-set math per the spec: a file is deletable iff no
        KEPT snapshot's manifest walk reaches it (appends carry
        manifests forward, so pure-append histories delete nothing —
        compaction/overwrite histories are what expiry reclaims).
        Time travel to an expired snapshot stops working, exactly
        Iceberg's contract.  Metadata-only driver work: O(kept +
        expired manifest entries), no data scan."""
        doomed: set[str] = set()

        def walk(snaps) -> set[str]:
            out = set()
            for s in snaps:
                out.add(_norm_path(s["manifest-list"]))
                for m in self._read_avro(s["manifest-list"]):
                    out.add(_norm_path(m["manifest_path"]))
                    out |= {
                        _norm_path(e["data_file"]["file_path"])
                        for e in self._read_avro(m["manifest_path"])
                        if e.get("status") != 2
                    }
            return out

        def update(meta):
            if meta is None:
                return None
            snaps = list(meta.get("snapshots", []))
            order = sorted(
                snaps,
                key=lambda s: (s.get("sequence-number", 0),
                               s["timestamp-ms"]),
            )
            keep_ids = {
                s["snapshot-id"]
                for s in order[max(0, len(order) - max(1, retain_last)):]
            }
            keep_ids.add(meta.get("current-snapshot-id"))
            if older_than_ms is not None:
                keep_ids |= {
                    s["snapshot-id"] for s in snaps
                    if s["timestamp-ms"] > older_than_ms
                }
            kept = [s for s in snaps if s["snapshot-id"] in keep_ids]
            if len(kept) == len(snaps):
                return None
            expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
            doomed.clear()
            doomed.update(walk(expired) - walk(kept))
            return {**meta, "snapshots": kept}

        # publish the shrunk metadata FIRST (readers pinned on the old
        # version lose expired history, Iceberg's contract), then
        # reclaim storage
        if self._commit("expire-snapshots", update=update) is None:
            return []
        deleted = []
        for p in sorted(doomed):
            if os.path.exists(p):
                os.remove(p)
                deleted.append(p)
        return deleted

    def _commit(self, operation: str, *, txn: dict[str, int] | None = None,
                stage: Callable | None = None,
                update: Callable | None = None,
                ts_ms: int | None = None, attempts: int = 100,
                derived_from: int | None = None,
                removes: set[str] = frozenset(),
                new_table: bool = False) -> int | None:
        """Claim and publish one metadata version; returns the new
        snapshot id (the new metadata version for an ``update``), or
        None when nothing was committed. Every operation commits here.

        Each attempt reads the current metadata, returns None when
        ``txn`` is given and the ledger (the ``kdi.offsets.*`` entries
        of the snapshot summaries) already holds it — a racer
        committed the same batch — builds the next version, claims
        ``v<N+1>.metadata.json`` with put-if-absent and swaps
        ``version-hint.text``. A lost claim retries from fresh state.

        The next version is ``update(meta)`` for a metadata-only
        change (None: nothing to change), else a snapshot:
        ``stage(written)`` runs once, writes the operation's data or
        delete files, adds each path to ``written`` before it writes
        it, and returns the ``(files, content)`` legs, or None when
        there is nothing to commit (no ``stage``: a ledger-only
        snapshot). Each leg becomes one manifest at the new sequence
        number; the current snapshot's manifests carry forward, those
        naming a path in ``removes`` rewritten without it, and
        ``txn`` lands in the snapshot summary. ``derived_from`` is the
        snapshot a rewrite read (compaction): when another snapshot is
        current the commit raises rather than drop the racer's files.
        ``new_table`` raises when the table already has metadata.

        Cleanup rule: when the commit is known not to land — ``stage``
        raised, a ledger skip, a conflict, attempts ran out — every
        file in ``written`` and every manifest and manifest list this
        commit wrote is removed; a lost claim's manifests at once.
        When the claim call itself raised, the files stay only if the
        store shows our ``v<N+1>``. Errors propagate."""
        ts_ms = int(time.time() * 1000) if ts_ms is None else ts_ms
        written: list[str] = []
        manifests: list[str] = []
        staged = landed = False
        try:
            for _ in range(attempts):
                v, meta = self._current()
                if txn and already_applied(stored_txn(meta), txn):
                    return None
                if new_table and meta is not None:
                    raise ValueError(
                        f"{self.root} already holds an Iceberg table; "
                        "conversion only bootstraps fresh metadata"
                    )
                if derived_from is not None and (
                    (meta or {}).get("current-snapshot-id") != derived_from
                ):
                    raise RuntimeError(
                        "concurrent commit raced a compaction whose "
                        "manifest rewrite derives from the old "
                        "snapshot — rerun optimize() on fresh state"
                    )
                if update is not None:
                    new_meta, result = update(meta), v + 1
                    if new_meta is None:
                        return None
                else:
                    if not staged:
                        legs, staged = (stage(written) if stage else []), True
                    if legs is None:
                        return None
                    new_meta = self._next_snapshot(
                        meta or {}, operation, legs, txn or {}, ts_ms,
                        removes, manifests,
                    )
                    result = new_meta["current-snapshot-id"]
                target = os.path.join(self.meta_dir, f"v{v + 1}.metadata.json")
                body = json.dumps(new_meta).encode()
                landed = None  # unknown while the claim is in flight
                if self.store.put_if_absent(target, body):
                    landed = True
                    self.store.put_atomic(
                        os.path.join(self.meta_dir, "version-hint.text"),
                        str(v + 1).encode(),
                    )
                    return result
                landed = False
                self._withdraw(manifests)
            raise RuntimeError(
                f"{operation}: exhausted Iceberg commit attempts"
            )
        finally:
            if landed is None:
                try:
                    landed = self.store.read_bytes(target) == body
                except FileNotFoundError:
                    landed = False
            if not landed:
                _remove_quietly(written)
                self._withdraw(manifests)

    def _withdraw(self, paths: list[str]) -> None:
        """Remove (through the store) and forget the manifests and
        manifest lists of a commit that did not land."""
        for p in paths:
            try:
                self.store.remove(p)
            except OSError:
                pass
        paths.clear()

    def _next_snapshot(self, meta: dict, operation: str, legs, txn: dict,
                       ts_ms: int, removes: set[str],
                       manifests: list[str]) -> dict:
        """The next metadata version of :meth:`_commit`'s snapshot
        commits: writes the new manifests, the rewritten ones and the
        manifest list, each path added to ``manifests`` first."""
        snaps = list(meta.get("snapshots", []))
        seq = meta.get("last-sequence-number", 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=1000) + 1

        def write_manifest(entries, **row):
            path = os.path.join(
                self.meta_dir, f"manifest-{uuid.uuid4().hex}.avro"
            )
            blob = write_container(entries, _MANIFEST_ENTRY_SCHEMA)
            manifests.append(path)
            self.store.put_atomic(path, blob)
            return {"manifest_path": path, "manifest_length": len(blob),
                    "partition_spec_id": 0, **row}

        rows = []
        cur = _current_snapshot(meta)
        # the current snapshot's manifests carry forward — an
        # O(new files) commit; one naming a removed file is rewritten
        # without it, survivors EXISTING at their original sequence
        for m in self._read_avro(cur["manifest-list"]) if cur else []:
            if removes and m.get("content", 0) == 0:
                live = [e for e in self._read_avro(m["manifest_path"])
                        if e.get("status") != 2]
                kept = [e for e in live if _norm_path(
                    e["data_file"]["file_path"]) not in removes]
                if len(kept) < len(live):
                    if not kept:
                        continue
                    man_seq = m.get("sequence_number") or 0
                    m = write_manifest(
                        [{"status": 0, "snapshot_id": e.get("snapshot_id"),
                          "sequence_number": (
                              man_seq if e.get("sequence_number") is None
                              else e["sequence_number"]),
                          "data_file": e["data_file"]} for e in kept],
                        **{k: m.get(k) for k in (
                            "content", "sequence_number",
                            "min_sequence_number", "added_snapshot_id")},
                    )
            rows.append(m)
        for files, content in legs:
            if files:
                rows.append(write_manifest(
                    [{"status": 1, "snapshot_id": snap_id,
                      "sequence_number": seq, "data_file": f}
                     for f in files],
                    content=content, sequence_number=seq,
                    min_sequence_number=seq, added_snapshot_id=snap_id,
                ))
        mlist = os.path.join(
            self.meta_dir, f"snap-{snap_id}-{uuid.uuid4().hex}.avro"
        )
        manifests.append(mlist)
        self.store.put_atomic(
            mlist, write_container(rows, _MANIFEST_LIST_SCHEMA)
        )
        parent = meta.get("current-snapshot-id")
        snaps.append({
            "snapshot-id": snap_id,
            "timestamp-ms": ts_ms,
            "sequence-number": seq,
            "manifest-list": mlist,
            "summary": {"operation": operation, **encode_offsets(txn)},
            **({"parent-snapshot-id": parent} if parent is not None else {}),
        })
        return {
            **self._table_fields(meta),
            "last-sequence-number": seq,
            "current-snapshot-id": snap_id,
            "snapshots": snaps,
        }

    def _table_fields(self, meta: dict) -> dict:
        """The table-level fields of a snapshot's metadata. An
        existing table's schemas, partition spec and properties carry
        forward verbatim: a stale writer instance must never roll back
        an evolve_schema() someone else committed, and a spec-less
        bootstrap or maintenance writer must never wipe a partitioned
        table's spec. This writer's ``properties`` merge on top (a
        converted table keeps its files-may-omit marker). A new table
        declares this writer's schema and ``partition_by``."""
        if meta:
            spec_fields = (_default_spec(meta) or {}).get("fields") or []
            schemas = meta.get("schemas") or [
                {"schema-id": 0, "type": "struct", "fields": self.fields}
            ]
            schema_id = meta.get("current-schema-id", 0)
            last_col = meta.get("last-column-id") or max(
                (f["id"] for s in schemas for f in s.get("fields", [])),
                default=0,
            )
        else:
            ids = {f["name"]: f["id"] for f in self.fields}
            spec_fields = [
                {"name": e["name"], "transform": e["transform"],
                 "source-id": ids[e["source"]], "field-id": 1000 + i}
                for i, e in enumerate(self._spec())
            ]
            schemas = [
                {"schema-id": 0, "type": "struct", "fields": self.fields}
            ]
            schema_id = 0
            last_col = max((f["id"] for f in self.fields), default=0)
        return {
            "format-version": 2,
            "table-uuid": meta.get("table-uuid") or str(uuid.uuid4()),
            "properties": {**(meta.get("properties") or {}),
                           **self.properties},
            "location": self.root,
            "current-schema-id": schema_id,
            "schemas": schemas,
            "last-column-id": last_col,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(spec_fields),
        }


def _spark_type_to_iceberg(dt) -> object:
    """Spark DataType → Iceberg schema-JSON type (primitives by name,
    structs recursively with synthetic field ids assigned by the
    caller)."""
    from pyspark.sql import types as T

    simple = {
        T.LongType: "long",
        T.IntegerType: "int",
        T.StringType: "string",
        T.DoubleType: "double",
        T.FloatType: "float",
        T.BooleanType: "boolean",
        T.DateType: "date",
        T.TimestampType: "timestamptz",
        T.TimestampNTZType: "timestamp",
        T.BinaryType: "binary",
    }
    for cls, name in simple.items():
        if isinstance(dt, cls):
            return name
    return None  # handled by the caller (struct) or mapped to string


def _iceberg_type_to_spark(t):
    """Iceberg schema-JSON type → Spark DataType; None when the type
    has no exact inverse (callers then fall back to caller-schema
    flow rather than adopt a lossy reconstruction)."""
    from pyspark.sql import types as T

    if isinstance(t, dict) and t.get("type") == "struct":
        fields = []
        for f in t.get("fields", []):
            inner = _iceberg_type_to_spark(f["type"])
            if inner is None:
                return None
            fields.append(
                T.StructField(f["name"], inner,
                              not f.get("required", False))
            )
        return T.StructType(fields)
    if isinstance(t, dict) and t.get("type") == "list":
        el = _iceberg_type_to_spark(t.get("element"))
        if el is None:
            return None
        return T.ArrayType(el, not t.get("element-required", False))
    if isinstance(t, dict) and t.get("type") == "map":
        k = _iceberg_type_to_spark(t.get("key"))
        v = _iceberg_type_to_spark(t.get("value"))
        if k is None or v is None:
            return None
        return T.MapType(k, v, not t.get("value-required", False))
    if isinstance(t, str) and t.startswith("decimal("):
        import re as _re

        m = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        return None
    simple = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "string": T.StringType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "timestamptz": T.TimestampType(),
        "timestamp": T.TimestampNTZType(),
        "binary": T.BinaryType(),
    }
    return simple.get(t) if isinstance(t, str) else None


def stored_txn(meta: dict | None) -> dict[str, int]:
    """The offset ledger of Iceberg table metadata ``meta``: the
    ``kdi.offsets.*`` entries of its snapshot summaries, the newest
    snapshot's value winning."""
    out = {}
    for s in sorted(
        (meta or {}).get("snapshots", []),
        key=lambda s: s["timestamp-ms"],
    ):
        out.update(decode_offsets(s.get("summary") or {}))
    return out


class IcebergSink:
    """The :class:`~kafka_delta_ingest_spark.sinks.base.Sink` over
    :class:`IcebergWriter`, so ``IngestJob`` can stream INTO an Apache
    Iceberg table (``IngestOptions.log_format == "iceberg"``) with exactly-once
    semantics — per-Kafka-partition offsets ride in the snapshot
    SUMMARY (``kdi.offsets.<appId>`` keys), the same bookkeeping
    channel the Flink Iceberg connector uses for its committed
    checkpoint id (Iceberg has no Delta-style txn action; the summary
    map is the spec's engine-metadata slot).

    Partitioning: IDENTITY transforms via ``partition_by`` (the
    reference's Hive-partitioned output, src/writer.rs:390-427) — the
    first write pins the spec; later batches must match it, and a
    batch without ``partition_by`` adopts the table's spec. Hidden
    partitioning (bucket/truncate/day/...) is declared through the
    direct IcebergWriter API; the sink then writes by the table's
    transforms.
    ``optimize`` runs bin-packing compaction as a ``replace``
    snapshot (r8; ``--auto_optimize_interval`` parity with the Delta
    destinations)."""

    def __init__(self, path: str, target_schema,
                 partition_by: list[str] | None = None):
        self.path = path
        self._next_id = [0]

        def conv(dt):
            from pyspark.sql import types as T

            if isinstance(dt, T.StructType):
                fields = []
                for f in dt.fields:
                    self._next_id[0] += 1
                    fields.append(
                        {
                            "id": self._next_id[0],
                            "name": f.name,
                            "type": conv(f.dataType),
                            "required": False,
                        }
                    )
                return {"type": "struct", "fields": fields}
            if isinstance(dt, T.ArrayType):
                self._next_id[0] += 1
                eid = self._next_id[0]
                return {
                    "type": "list",
                    "element-id": eid,
                    "element": conv(dt.elementType),
                    "element-required": not dt.containsNull,
                }
            if isinstance(dt, T.MapType):
                self._next_id[0] += 1
                kid = self._next_id[0]
                self._next_id[0] += 1
                vid = self._next_id[0]
                return {
                    "type": "map",
                    "key-id": kid,
                    "key": conv(dt.keyType),
                    "value-id": vid,
                    "value": conv(dt.valueType),
                    "value-required": not dt.valueContainsNull,
                }
            if isinstance(dt, T.DecimalType):
                return f"decimal({dt.precision}, {dt.scale})"
            prim = _spark_type_to_iceberg(dt)
            return prim if prim is not None else "string"

        struct = conv(target_schema)
        # partition_by here (vs first write_batch) matters when the
        # FIRST commit is a --seek_offsets bootstrap: the spec is
        # frozen by whichever commit writes the first metadata
        self.w = IcebergWriter(
            path, struct["fields"], partition_by=partition_by
        )

    # -- surface the ingest loop touches --------------------------------

    def snapshot(self) -> dict:
        _, meta = self.w._current()
        return {
            "txn": stored_txn(meta),
            "version": (meta or {}).get("current-snapshot-id", -1),
            "metaData": meta,
        }

    def table_schema(self):
        """Declared schema as a Spark StructType, so
        ``IngestJob.sync_schema`` adopts an external
        ``evolve_schema()`` mid-stream (the reference's update_schema
        contract on the Iceberg leg). Falls back to None — the
        caller-schema flow, today's exact behavior — until an
        evolution actually lands (a single-schema table never needs
        adoption, and a bootstrap-era exotic type whose stored form
        is the "string" fallback must not be reconstructed into the
        job's coercions), or when a column type has no exact Spark
        inverse."""
        _, meta = self.w._current()
        if meta is None:
            return None
        if len(meta.get("schemas") or []) < 2:
            return None  # never evolved: caller-schema flow
        cur = _current_schema(meta)
        if not cur:
            return None
        struct = _iceberg_type_to_spark(
            {"type": "struct", "fields": cur.get("fields", [])}
        )
        return struct

    def evolve_schema(self, schema):
        """ALTER TABLE ADD COLUMNS passthrough (metadata-only)."""
        return self.w.evolve_schema(schema)

    def write_batch(self, df, partition_by=None, txn=None) -> CommitResult:
        # the data-file write checks partition_by against the schema
        # and an existing table's spec (adopted when partition_by is
        # empty) before any Spark work
        self.w.partition_by = list(partition_by or [])
        files: list[dict] = []

        def stage(written):
            # emptiness is detected from the written files (no extra
            # pass over the batch): zero non-empty data files = skip,
            # per the empty-flush suppression contract (B5)
            files.extend(self.w._write_data_files(df, written))
            return [(files, 0)] if files else None

        snap_id = self.w._commit("append", txn=dict(txn or {}), stage=stage)
        if snap_id is None:  # a replay, a racer's commit of it, or empty
            return CommitResult(
                self.snapshot()["version"], 0, 0, skipped=True
            )
        return CommitResult(
            snap_id,
            len(files),
            sum(f["record_count"] for f in files),
            num_bytes=sum(f["file_size_in_bytes"] for f in files),
        )

    def commit_offsets(self, txn: dict[str, int]) -> int:
        """--seek_offsets bootstrap: an empty snapshot whose summary
        carries the offsets."""
        snap_id = self.w._commit("set-offsets", txn=txn)
        return self.snapshot()["version"] if snap_id is None else snap_id

    def read(self, spark, as_of=None):
        return read_iceberg(spark, self.path, snapshot_id=as_of)

    def optimize(self, spark, target_file_bytes: int = 134_217_728,
                 **_kwargs):
        """Bin-packing compaction (``--auto_optimize_interval`` parity
        with the Delta destinations) — one ``replace`` snapshot, see
        IcebergWriter.optimize."""
        return self.w.optimize(spark, target_file_bytes)
