"""Standard-layout Delta Lake tables — jar-free, from the public Delta
transaction protocol (github.com/delta-io/delta PROTOCOL.md).

:class:`DeltaStandardWriter` writes ``_delta_log/`` tables, and
:class:`DeltaStandardSink` is the default ingest and DLQ destination.
The reader consumes tables that real Delta writers (delta-spark,
delta-rs, the reference ingest daemon itself —
src/delta_helpers.rs:15-40) produced under ``_delta_log/``:

* log replay: one driver-side :func:`_replay`, shared by the reader,
  the writer, the change feed, VACUUM and conversion, reads every log
  file through the table's ``LogStore``. It starts from the newest
  checkpoint at or below the target version (``_last_checkpoint``
  pointer, single- and multi-part
  ``%020d.checkpoint[.%010d.%010d].parquet``, V2 JSON or parquet
  manifests with their ``_sidecars/``), read with pyarrow one action
  column at a time, then applies the ``%020d.json`` commits after it
  — O(commits since checkpoint), and no Spark job;
* state reconstruction: latest protocol/metaData, live file set =
  adds minus removes keyed by path;
* partition columns: standard Delta stores them in ``add.
  partitionValues``, NOT in the data files. Hive-style layouts take
  the ``basePath`` fast path (one scan, Spark reconstructs partition
  columns); non-hive layouts fall back to per-partition-group scans
  with literal columns, unioned — always correct, plan size bounded
  by the number of DISTINCT partition tuples present;
* schema: ``metaData.schemaString`` is a Spark StructType JSON —
  applied to the scan so type widening/evolution follows the log, not
  parquet footers. Column-mapping mode ``name`` resolves physical →
  logical names (the sink's own column-mapping convention); ``id``
  mode (r7) uses Spark's NATIVE parquet field-id matching
  (``spark.sql.parquet.fieldId.read.enabled`` + ``parquet.field.id``
  metadata on the requested schema) so the random physical names are
  never touched; DELETION VECTORS (r7) apply via the roaring.py
  codecs — descriptors resolve driver-side to compressed bitmap
  bytes, positions expand executor-side, one (file, row_index)
  anti-join;
* time travel: ``version=`` replays to that commit; ``timestamp=``
  picks the last commit whose ``commitInfo.timestamp`` (file mtime
  fallback) is at or before the instant — the same surface the
  Iceberg reader exposes.
"""

from __future__ import annotations

import glob
import json
import os
import urllib.parse

from kafka_delta_ingest_spark.logstore import LocalLogStore, get_log_store
from kafka_delta_ingest_spark.sinks import base as sink_base
from kafka_delta_ingest_spark.sinks.base import (
    STAGING_PREFIX,
    CommitResult,
    ConstraintViolation,
    _parse_partition_values,
    _remove_quietly,
    already_applied,
    staged_parquet,
    zorder_value,
)

_LOG = "_delta_log"

# VACUUM's floor for data files no log action names, whatever the
# caller's retention: a writer promotes its parquet into the table
# root before the commit that names it (keeping the write mtime), so
# a young untracked file may belong to a commit still in flight.
_UNTRACKED_MIN_AGE_MS = 24 * 3600 * 1000


class ConcurrentDeltaWriteError(RuntimeError):
    """A concurrent writer invalidated this operation's snapshot —
    the operation must be re-run against fresh state (the reference's
    conflict-detection outcome, src/lib.rs:948-1024)."""


def _log_path(table_path: str) -> str:
    p = os.path.join(table_path, _LOG)
    if not os.path.isdir(p):
        raise ValueError(f"no {_LOG} under {table_path}")
    return p


def _commit_versions(log: str, store=None) -> list[int]:
    # DeltaFixtureWriter lists its own local log without a store
    names = (store or LocalLogStore()).list_dir(log)
    return sorted(
        int(f[:20])
        for f in names
        if f.endswith(".json") and f[:20].isdigit() and len(f) == 25
    )


def _commit_actions(log: str, v: int, store) -> list[dict]:
    """The actions of commit ``v``, in file order."""
    body = store.read_bytes(os.path.join(log, f"{v:020d}.json")).decode()
    return [json.loads(line) for line in body.splitlines() if line.strip()]


def _checkpoint_files(log: str, version: int, store) -> list[str]:
    """Files of a COMPLETE checkpoint at ``version``, else [].

    Three layouts (protocol):

    * classic single-part ``%020d.checkpoint.parquet``;
    * classic multi-part ``%020d.checkpoint.%010d.%010d.parquet``
      (part-of-total) — a crash mid-write leaves a partial set which
      must NOT qualify (replaying it would silently drop adds, r7
      ADVICE fix): completeness = every part 1..total present;
    * V2 UUID-named ``%020d.checkpoint.<uuid>.{parquet,json}`` — a
      self-contained manifest (each uuid file is a complete
      checkpoint; adds/removes may live in ``sidecar``-referenced
      files under ``_sidecars/``). Any one qualifies."""
    names = store.list_dir(log)
    single_name = f"{version:020d}.checkpoint.parquet"
    single = os.path.join(log, single_name)
    if single_name in names:
        return [single]
    cands = sorted(
        os.path.join(log, n)
        for n in names
        if n.startswith(f"{version:020d}.checkpoint.")
    )
    v2 = [
        p for p in cands
        if len(os.path.basename(p).split(".")) == 4
        and p.rsplit(".", 1)[1] in ("parquet", "json")
        and not os.path.basename(p).split(".")[2].isdigit()
    ]
    if v2:
        return [v2[-1]]  # any uuid manifest is complete; pick one
    parts = [p for p in cands if p.endswith(".parquet")]
    if not parts:
        return []
    seen: dict[int, str] = {}
    total = None
    for p in parts:
        segs = os.path.basename(p).split(".")
        # %020d.checkpoint.%010d.%010d.parquet → 5 dot-segments
        if len(segs) != 5 or not (segs[2].isdigit() and segs[3].isdigit()):
            return []
        part, tot = int(segs[2]), int(segs[3])
        if total is None:
            total = tot
        if tot != total or part in seen:
            return []  # inconsistent totals / duplicate part
        seen[part] = p
    if total is None or set(seen) != set(range(1, total + 1)):
        return []  # incomplete part set (crashed writer)
    return [seen[i] for i in range(1, total + 1)]


def _dv_uid(dv: dict | None) -> str:
    """Deletion-vector unique id per the Delta protocol: storageType +
    pathOrInlineDv (+ ``@offset`` when present); ``""`` for no DV.

    Log/checkpoint reconciliation keys add/remove actions on
    **(path, dv uid)** — NOT path alone: a delta-spark checkpoint taken
    after a DV DELETE retains a ``remove(path)`` tombstone for the
    pre-DV file alongside the live ``add(path, dv)``; a path-only
    anti-join would drop the live add and silently lose every
    surviving row of that file (r8 ADVICE, high)."""
    if not dv:
        return ""
    uid = (dv.get("storageType") or "") + (dv.get("pathOrInlineDv") or "")
    off = dv.get("offset")
    if off is not None:
        uid += f"@{off}"
    return uid


def _reconcile_remove(adds: dict, remove: dict) -> None:
    """Drop the stored add for ``remove["path"]`` only when its DV uid
    matches the remove's — the protocol's (path, dvId) keying. The
    state dict stays path-keyed (a consistent table has one live add
    per path); matching makes the pop order-independent: a tombstone
    for the superseded (path, dv_old) never cancels the live
    (path, dv_new) add, whichever is seen first."""
    cur = adds.get(remove["path"])
    if cur is not None and _dv_uid(cur.get("deletionVector")) == _dv_uid(
        remove.get("deletionVector")
    ):
        adds.pop(remove["path"], None)


def _best_checkpoint(log: str, target: int, store) -> int | None:
    """Newest checkpoint version ≤ target, preferring _last_checkpoint
    when it qualifies."""
    ptr = os.path.join(log, "_last_checkpoint")
    if store.exists(ptr):
        v = json.loads(store.read_bytes(ptr)).get("version")
        if v is not None and v <= target and _checkpoint_files(
            log, v, store
        ):
            return v
    cands = {
        int(f[:20])
        for f in store.list_dir(log)
        if ".checkpoint." in f and f[:20].isdigit()
    }
    return max(
        (v for v in cands if v <= target and _checkpoint_files(log, v, store)),
        default=None,
    )


def _read_action_file(path: str, store):
    """One checkpoint part, V2 manifest or sidecar as a pyarrow table
    with one action per row (a JSON manifest is JSON lines)."""
    import io

    import pyarrow.json as pj
    import pyarrow.parquet as pq

    data = io.BytesIO(store.read_bytes(path))
    if path.endswith(".json"):
        return pj.read_json(data)
    return pq.read_table(data)


def _actions_of(table, col: str, key: str) -> list[dict]:
    """The ``col`` actions of a checkpoint table as dicts. Only rows
    that set ``col.key`` are converted: each row holds one action, so
    the other columns of a row are null."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if col not in table.column_names:
        return []
    arr = table.column(col)
    if not pa.types.is_struct(arr.type) or arr.type.get_field_index(key) < 0:
        return []
    return arr.filter(pc.is_valid(pc.struct_field(arr, key))).to_pylist()


def _maps_to_dicts(action: dict, *keys: str) -> dict:
    # parquet map columns come back as (key, value) pairs
    for k in keys:
        if isinstance(action.get(k), list):
            action[k] = dict(action[k])
    return action


def _load_checkpoint(st: dict, log: str, cp: int, store) -> None:
    """Fold checkpoint ``cp`` into the empty replay state ``st``. The
    checkpoint is reconciled state, so its adds and remove tombstones
    are matched as sets on (path, dv uid), whatever their row order."""
    tables = [
        _read_action_file(p, store) for p in _checkpoint_files(log, cp, store)
    ]
    tables += [
        _read_action_file(os.path.join(log, "_sidecars", s["path"]), store)
        for t in tables
        for s in _actions_of(t, "sidecar", "path")
    ]
    live, dead = [], set()
    for t in tables:
        for m in _actions_of(t, "metaData", "id"):
            st["meta"] = _maps_to_dicts(m, "configuration")
        for p in _actions_of(t, "protocol", "minReaderVersion"):
            st["protocol"] = p
        for x in _actions_of(t, "txn", "appId"):
            st["txn"][x["appId"]] = x["version"]
        live += _actions_of(t, "add", "path")
        dead.update(
            (r["path"], _dv_uid(r.get("deletionVector")))
            for r in _actions_of(t, "remove", "path")
        )
    for a in live:
        if (a["path"], _dv_uid(a.get("deletionVector"))) not in dead:
            st["adds"][a["path"]] = _maps_to_dicts(
                a, "partitionValues", "tags"
            )


def _replay(log: str, target: int, store) -> dict:
    """Table state at version ``target``: the live ``adds`` keyed by
    path, the latest ``meta`` and ``protocol`` (None until a commit
    declares them) and the ``txn`` ledger (appId → version). Starts
    from the newest complete checkpoint at or below ``target``, so the
    JSON scan is O(commits since that checkpoint). Every read goes
    through ``store``; no Spark job runs."""
    st = {"adds": {}, "meta": None, "protocol": None, "txn": {}}
    if target < 0:
        return st
    start = 0
    cp = _best_checkpoint(log, target, store)
    if cp is not None:
        _load_checkpoint(st, log, cp, store)
        start = cp + 1
    adds = st["adds"]
    for v in _commit_versions(log, store):
        if not start <= v <= target:
            continue
        for act in _commit_actions(log, v, store):
            if "metaData" in act:
                st["meta"] = act["metaData"]
            elif "protocol" in act:
                st["protocol"] = act["protocol"]
            elif "add" in act:
                adds[act["add"]["path"]] = act["add"]
            elif "remove" in act:
                _reconcile_remove(adds, act["remove"])
            elif "txn" in act:
                st["txn"][act["txn"]["appId"]] = act["txn"]["version"]
    return st


def _resolve_version(log: str, store, version=None,
                     timestamp_ms=None) -> int:
    versions = _commit_versions(log, store)
    if not versions:
        raise ValueError("empty Delta log")
    if version is not None:
        if version > max(versions):
            raise ValueError(f"version {version} beyond log end")
        if version < versions[0] and _best_checkpoint(
            log, version, store
        ) is None:
            raise ValueError(
                f"version {version} before earliest available commit "
                f"({versions[0]}) and no checkpoint covers it"
            )
        return version
    if timestamp_ms is not None:
        best = None
        for v in versions:
            ts = next(
                (
                    a["commitInfo"].get("timestamp")
                    for a in _commit_actions(log, v, store)
                    if "commitInfo" in a
                ),
                None,
            )
            if ts is None:
                ts = int(
                    os.path.getmtime(os.path.join(log, f"{v:020d}.json"))
                    * 1000
                )
            if ts <= timestamp_ms:
                best = v
        if best is None:
            raise ValueError(f"no commit at or before {timestamp_ms}")
        return best
    return max(versions)


def _relax_type(t):
    """Recursively relax EVERY nullability flag in a schema-JSON type:
    struct-field ``nullable``, array ``containsNull``, map
    ``valueContainsNull``."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return {
                "type": "struct",
                "fields": [
                    {**f, "nullable": True,
                     "type": _relax_type(f["type"])}
                    for f in t["fields"]
                ],
            }
        if k == "array":
            return {
                **t,
                "containsNull": True,
                "elementType": _relax_type(t["elementType"]),
            }
        if k == "map":
            return {
                **t,
                "valueContainsNull": True,
                "keyType": _relax_type(t["keyType"]),
                "valueType": _relax_type(t["valueType"]),
            }
    return t


def _nullable_schema_json(schema) -> str:
    """Schema JSON with every field (at every level, incl. array
    containsNull / map valueContainsNull) nullable — what delta-spark
    stores for DataFrame writes without explicit NOT NULL constraints.
    Freezing Spark's incidental non-nullability (range(), literals)
    into schemaString would make ordinary subset appends illegal
    forever; NOT NULL is an explicit-constraint feature, not a side
    effect of the first frame."""
    j = json.loads(schema.json())
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {**f, "nullable": True, "type": _relax_type(f["type"])}
                for f in j["fields"]
            ],
        }
    )


def _map_type_json(t, field_fn):
    """Recursively rewrite every field of a schema-JSON type through
    ``field_fn`` — column mapping applies at EVERY nesting level
    (struct/array/map), not just the top (r8 ADVICE, low)."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return {
                "type": "struct",
                "fields": [
                    {**field_fn(f),
                     "type": _map_type_json(f["type"], field_fn)}
                    for f in t["fields"]
                ],
            }
        if k == "array":
            return {
                **t,
                "elementType": _map_type_json(t["elementType"], field_fn),
            }
        if k == "map":
            return {
                **t,
                "keyType": _map_type_json(t["keyType"], field_fn),
                "valueType": _map_type_json(t["valueType"], field_fn),
            }
    return t


def _phys_field_json(f):
    """Name-mode leaf transform: physicalName rename, metadata cleared."""
    phys = (f.get("metadata") or {}).get(
        "delta.columnMapping.physicalName"
    ) or f["name"]
    return {**f, "name": phys, "metadata": {}}


def _id_leaf_json(f):
    """Id-mode leaf transform: parquet.field.id metadata (Spark's
    native field-id matching then resolves nested columns too)."""
    fid = (f.get("metadata") or {}).get("delta.columnMapping.id")
    if fid is None:
        raise ValueError(
            f"columnMapping mode 'id' but field {f['name']!r} "
            "has no delta.columnMapping.id"
        )
    return {**f, "metadata": {"parquet.field.id": int(fid)}}


def _schema_mapping(meta: dict):
    """(logical StructType, physical→logical top-level rename map or
    None, partition columns, id-mode flag, read_fields).

    ``read_fields`` maps each LOGICAL top-level column to the
    StructField the parquet SCAN should request: recursive physical
    names under mode ``name``; logical names annotated with
    ``parquet.field.id`` at every nesting level under mode ``id`` (the
    scan then uses Spark's NATIVE field-id matching and never touches
    the random physical names); the logical field itself otherwise."""
    from pyspark.sql.types import StructField, StructType

    schema_json = json.loads(meta["schemaString"])
    logical = StructType.fromJson(schema_json)
    conf = meta.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    rename = None
    read_fields = {f.name: f for f in logical.fields}
    if mode in ("name", "id"):
        rename = {}
        for f in schema_json.get("fields", []):
            phys = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName"
            )
            if phys:
                rename[phys] = f["name"]
    if mode == "name":
        read_fields = {
            f["name"]: StructField.fromJson(
                {**_phys_field_json(f),
                 "type": _map_type_json(f["type"], _phys_field_json)}
            )
            for f in schema_json.get("fields", [])
        }
    elif mode == "id":
        read_fields = {
            f["name"]: StructField.fromJson(
                {**_id_leaf_json(f),
                 "type": _map_type_json(f["type"], _id_leaf_json)}
            )
            for f in schema_json.get("fields", [])
        }
    parts = list(meta.get("partitionColumns") or [])
    if rename:
        # the protocol tracks partitionColumns AND add.partitionValues
        # under PHYSICAL names in mapping mode — resolve to logical.
        parts = [rename.get(c, c) for c in parts]
    return logical, rename, parts, mode == "id", read_fields


def read_delta(spark, table_path: str, version=None, timestamp_ms=None):
    """Read a standard-layout Delta Lake table (``_delta_log``) into a
    DataFrame at the latest, an explicit ``version``, or a
    ``timestamp_ms`` time-travel instant. See module docstring."""
    from pyspark.sql import functions as F

    log = _log_path(table_path)
    store = get_log_store(table_path)
    target = _resolve_version(log, store, version, timestamp_ms)
    state = _replay(log, target, store)
    if state["meta"] is None:
        raise ValueError(f"no live files at version {target}")
    adds = list(state["adds"].values())
    dv_adds = [a for a in adds if a.get("deletionVector")]
    logical, rename, part_cols, id_mode, read_fields = _schema_mapping(
        state["meta"]
    )
    if not adds:  # every row deleted: empty, with the table's schema
        return spark.createDataFrame([], logical)
    if id_mode:
        # id mode: Spark's parquet reader matches columns BY FIELD ID
        # when the requested schema carries `parquet.field.id`
        # metadata — set logical names directly, no physical renames.
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    def _abs(p: str) -> str:
        p = urllib.parse.unquote(p)
        if p.startswith("file:"):
            p = p[len("file:"):]
        if os.path.isabs(p):
            return p
        return os.path.join(table_path, p)

    data_fields = [f for f in logical.fields if f.name not in part_cols]
    phys_of = {}
    if rename:
        inv = {v: k for k, v in rename.items()}
        phys_of = {f.name: inv.get(f.name, f.name) for f in logical.fields}
    else:
        phys_of = {f.name: f.name for f in logical.fields}

    from pyspark.sql.types import StructType

    # read_fields carries the scan-side shape per mapping mode:
    # recursive physical names (name), field-id-annotated logical
    # names at every level (id), or the logical field itself (none).
    read_schema = StructType(
        [read_fields[f.name] for f in data_fields]
    )

    def _has_hive_segment(path: str, col: str) -> bool:
        # match whole directory segments ("lang=en"), not substrings —
        # a partition column named "e" must not match "date=2024".
        return any(
            seg.split("=", 1)[0] == col
            for seg in path.split("/")
            if "=" in seg
        )

    hive = bool(part_cols) and all(
        all(_has_hive_segment(a["path"], phys_of[c]) for c in part_cols)
        for a in adds
    )

    def _with_dv_meta(frame):
        # DV application keys on Spark's hidden parquet columns —
        # selected INSIDE each scan (they are not addressable after a
        # union)
        if not dv_adds:
            return frame
        return frame.select(
            "*",
            _file_path_col().alias("_kdi_fp"),
            F.col("_metadata.row_index").alias("_kdi_pos"),
        )

    if not part_cols:
        df = _with_dv_meta(
            spark.read.schema(read_schema).parquet(
                *[_abs(a["path"]) for a in adds]
            )
        )
    elif hive and rename is None:
        # hive-style layout: ONE scan; Spark reconstructs partition
        # columns from the directory names under basePath.
        full = StructType(
            list(read_schema.fields)
            + [f for f in logical.fields if f.name in part_cols]
        )
        df = _with_dv_meta(
            spark.read.schema(full)
            .option("basePath", table_path)
            .parquet(*[_abs(a["path"]) for a in adds])
        )
    else:
        # group by partition tuple; literal columns per group.
        # add.partitionValues keys are PHYSICAL names in mapping mode.
        groups: dict[tuple, list[str]] = {}
        for a in adds:
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(phys_of[c]) for c in part_cols)
            groups.setdefault(key, []).append(_abs(a["path"]))
        parts_struct = {f.name: f.dataType for f in logical.fields}
        df = None
        # None-safe ordering: a null partition value (valid per the
        # protocol) must not crash the sort against strings.
        for key, paths in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
        ):
            g = _with_dv_meta(
                spark.read.schema(read_schema).parquet(*paths)
            )
            for c, v in zip(part_cols, key):
                g = g.withColumn(
                    phys_of[c],
                    F.lit(v).cast(parts_struct[c]),
                )
            df = g if df is None else df.unionByName(g)
    if dv_adds:
        df = _apply_deletion_vectors(spark, table_path, df, dv_adds, _abs)
    if rename:
        for phys, logic in rename.items():
            if phys != logic:
                df = df.withColumnRenamed(phys, logic)
    if rename and not id_mode:
        # name mode: nested fields still carry physical names after
        # the top-level rename — a positional cast to the logical type
        # restores logical names at every nesting level (types are
        # identical, so the cast is a pure rename). id mode reads
        # logical names natively via field-id matching.
        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in logical.fields
            ]
        )
    return df.select(*[f.name for f in logical.fields])


def _remove_action(add: dict, now_ms: int, data_change: bool = True) -> dict:
    """The ``remove`` action tombstoning the live ``add``. It carries
    the add's deletion-vector descriptor: the protocol keys
    reconciliation on (path, dv uid), so a dv-less remove would fail to
    tombstone a DV-carrying add."""
    return {
        "remove": {
            "path": add["path"],
            "deletionTimestamp": now_ms,
            "dataChange": data_change,
            **(
                {"deletionVector": add["deletionVector"]}
                if add.get("deletionVector") else {}
            ),
        }
    }


def _file_path_col():
    """The scanned row's data file as a plain local path.
    ``_metadata.file_path`` is a URI, so a partition directory that
    Spark already escaped (``ts=00%3A00``) comes back encoded twice;
    decoding once yields the path on disk (``+`` is literal in a URI
    path, so it is protected from the form decoding)."""
    from pyspark.sql import functions as F

    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:(//)?", ""
            ),
            "[+]", "%2B",
        )
    )


def _apply_deletion_vectors(spark, table_path, df, dv_adds, abs_of):
    """Anti-join the deleted (file, row_index) pairs out of the scan.

    Descriptors resolve DRIVER-side to the serialized bitmap bytes
    (O(sum of compressed DV sizes) — KBs per million deleted rows);
    the bitmaps are EXPANDED to row indexes in executors (one task per
    DV file via mapInPandas), so a billion-row tombstone set never
    materializes on the driver. The join is the same
    (_metadata.file_path, row_index) anti-join the Iceberg reader uses
    for position deletes; AQE picks broadcast when the expanded set is
    small."""
    import pandas as pd

    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.roaring import (
        deserialize_rbm_array,
        dv_descriptor_bytes,
    )

    spec = [
        (abs_of(a["path"]),
         bytearray(dv_descriptor_bytes(table_path, a["deletionVector"])))
        for a in dv_adds
    ]
    # One slice per DV file (capped), built at parallelize time: the
    # plain createDataFrame(list) splits even a 1-row spec across
    # defaultParallelism empty slices and the old repartition added a
    # shuffle on top — one near-empty 32-task stage per read.
    spec_rdd = spark.sparkContext.parallelize(
        spec, max(1, min(len(spec), 64))
    )
    spec_df = spark.createDataFrame(spec_rdd, "fp string, dv binary")

    def expand(batches):
        for pdf in batches:
            for fp, dv in zip(pdf["fp"], pdf["dv"]):
                pos = deserialize_rbm_array(bytes(dv))
                yield pd.DataFrame({"_dv_fp": fp, "_dv_pos": pos})

    dels = spec_df.mapInPandas(expand, "_dv_fp string, _dv_pos long")
    # The static planner has no size estimate for a mapInPandas
    # output, so without a hint the anti-join plans as a 32-partition
    # shuffle join and AQE can only fix it after both sides shuffled.
    # Gate the hint on the DECODED cardinality, not serialized bytes:
    # a run container packs up to 65,536 positions into 4 payload
    # bytes, so a <=256 KiB run-encoded DV (dense contiguous deletes,
    # what runOptimize-style writers produce) can expand to billions
    # of (file, pos) rows — F.broadcast would force-build that as a
    # hash relation and OOM. The descriptor headers carry each
    # container's cardinality, so the driver-side walk is O(headers)
    # with no value materialization; <=131,072 positions (~2 MiB of
    # hashed-relation rows at ~16 B/pos) broadcasts, anything larger
    # keeps the shuffle plan (scale: a billion-row DV never
    # broadcasts).
    from kafka_delta_ingest_spark.roaring import rbm_array_cardinality

    if sum(
        rbm_array_cardinality(bytes(dv)) for _fp, dv in spec
    ) <= 131_072:
        dels = F.broadcast(dels)
    cond = (F.col("_kdi_fp") == F.col("_dv_fp")) & (
        F.col("_kdi_pos") == F.col("_dv_pos")
    )
    return df.join(dels, cond, "left_anti").drop("_kdi_fp", "_kdi_pos")


class DeltaFixtureWriter:
    """Hand-writes the STANDARD Delta layout (``_delta_log`` JSON
    commits, hive-style data paths, a parquet checkpoint) from the
    public protocol spec, via pyarrow — so ``read_delta`` is certified
    against a table this repo's sink did not produce. Not a production
    writer."""

    def __init__(self, table_path: str, schema_struct,
                 partition_cols: list[str] | None = None,
                 configuration: dict | None = None):
        self.root = table_path
        self.log = os.path.join(table_path, _LOG)
        os.makedirs(self.log, exist_ok=True)
        self.schema = schema_struct
        self.parts = list(partition_cols or [])
        self.conf = dict(configuration or {})
        self.version = -1
        self._file_no = 0
        self._committed_meta = False

    def _meta_action(self) -> dict:
        return {
            "metaData": {
                "id": "11111111-2222-3333-4444-555555555555",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(self.schema.jsonValue()),
                "partitionColumns": self.parts,
                "configuration": self.conf,
                "createdTime": 1700000000000,
            }
        }

    def _commit(self, actions: list[dict], operation: str,
                timestamp_ms: int) -> int:
        self.version += 1
        head = [
            {
                "commitInfo": {
                    "operation": operation,
                    "timestamp": timestamp_ms,
                }
            }
        ]
        if not self._committed_meta:
            head.append({"protocol": {"minReaderVersion": 1,
                                      "minWriterVersion": 2}})
            head.append(self._meta_action())
            self._committed_meta = True
        with open(
            os.path.join(self.log, f"{self.version:020d}.json"), "w"
        ) as f:
            for a in head + actions:
                f.write(json.dumps(a) + "\n")
        return self.version

    def add_files(self, groups: list[tuple[dict, list[dict]]],
                  timestamp_ms: int, physical_names: dict | None = None,
                  field_ids: dict | None = None) -> int:
        """groups: (partitionValues dict, rows) per data file; rows use
        LOGICAL column names, ``physical_names`` maps logical→physical
        for column-mapping fixtures, ``field_ids`` maps logical name →
        parquet field id (id-mode fixtures: columns are written under
        physical names WITH ``PARQUET:field_id`` metadata)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        actions = []
        for pv, rows in groups:
            self._file_no += 1
            subdir = "/".join(f"{k}={v}" for k, v in pv.items())
            rel = (subdir + "/" if subdir else "") + (
                f"part-{self._file_no:05d}.parquet"
            )
            full = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            names = physical_names or {}
            cols = [c for c in rows[0] if c not in pv]
            arrays = {
                names.get(c, c): pa.array([r[c] for r in rows])
                for c in cols
            }
            if field_ids:
                schema = pa.schema(
                    [
                        pa.field(
                            names.get(c, c),
                            arrays[names.get(c, c)].type,
                            metadata={
                                b"PARQUET:field_id":
                                    str(field_ids[c]).encode()
                            },
                        )
                        for c in cols
                    ]
                )
                table = pa.table(arrays, schema=schema)
            else:
                table = pa.table(arrays)
            pq.write_table(table, full)
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {k: str(v)
                                            for k, v in pv.items()},
                        "size": os.path.getsize(full),
                        "modificationTime": timestamp_ms,
                        "dataChange": True,
                    }
                }
            )
        return self._commit(actions, "WRITE", timestamp_ms)

    def _live_adds(self) -> dict[str, dict]:
        """path → current add action, one pass over the JSON log."""
        adds: dict[str, dict] = {}
        for v in _commit_versions(self.log):
            with open(os.path.join(self.log, f"{v:020d}.json")) as f:
                for line in f:
                    act = json.loads(line)
                    if "add" in act:
                        adds[act["add"]["path"]] = act["add"]
                    elif "remove" in act:
                        _reconcile_remove(adds, act["remove"])
        return adds

    def _live_add(self, rel_path: str) -> dict | None:
        """The path's current add action from own (JSON-only) log."""
        return self._live_adds().get(rel_path)

    def _remove_actions(self, rel_paths: list[str], timestamp_ms: int,
                        data_change: bool = True) -> list[dict]:
        # carry each live add's DV so (path, dv uid) reconciliation
        # tombstones the right entry — ONE log pass for the batch
        live = self._live_adds()
        out = []
        for p in rel_paths:
            r = {
                "path": p,
                "deletionTimestamp": timestamp_ms,
                "dataChange": data_change,
            }
            dv = (live.get(p) or {}).get("deletionVector")
            if dv:
                r["deletionVector"] = dv
            out.append({"remove": r})
        return out

    def remove_files(self, rel_paths: list[str], timestamp_ms: int) -> int:
        actions = self._remove_actions(rel_paths, timestamp_ms)
        return self._commit(actions, "DELETE", timestamp_ms)

    def commit_with_cdc(self, remove_rel_paths: list[str],
                        cdc_rows: list[dict], timestamp_ms: int) -> int:
        """A DML commit carrying an explicit ``cdc`` action: the
        change rows (each with a ``_change_type``) go to a parquet
        under ``_change_data/`` and the commit lists removes + the
        cdc file — the shape delta-spark emits when CDF is enabled."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cd_dir = os.path.join(self.root, "_change_data")
        os.makedirs(cd_dir, exist_ok=True)
        self._file_no += 1
        rel = f"_change_data/cdc-{self._file_no:05d}.parquet"
        cols = list(cdc_rows[0].keys())
        pq.write_table(
            pa.table({c: [r[c] for r in cdc_rows] for c in cols}),
            os.path.join(self.root, rel),
        )
        actions = self._remove_actions(remove_rel_paths, timestamp_ms)
        actions.append(
            {
                "cdc": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(
                        os.path.join(self.root, rel)
                    ),
                    "dataChange": False,
                }
            }
        )
        return self._commit(actions, "DELETE", timestamp_ms)

    def delete_rows(self, rel_path: str, positions: list[int],
                    timestamp_ms: int) -> int:
        """Row-level DELETE via a real deletion vector: writes a
        ``deletion_vector_<uuid>.bin`` (roaring bitmap array, framed +
        CRC per the protocol), then commits remove(old add) + the same
        add re-added with a ``u``-type deletionVector descriptor —
        exactly what delta-spark's DV DELETE emits. Cumulative: an
        existing DV's rows are unioned in (the new descriptor must
        cover ALL deleted rows of the file)."""
        import uuid as _uuid

        from kafka_delta_ingest_spark.roaring import (
            deserialize_rbm_array,
            dv_descriptor_bytes,
            write_dv_file,
            z85_encode,
        )

        # find the file's current add action in own (JSON-only) log
        cur = self._live_add(rel_path)
        if cur is None:
            raise ValueError(f"{rel_path} is not a live file")
        all_pos = set(positions)
        if cur.get("deletionVector"):
            all_pos |= set(
                deserialize_rbm_array(
                    dv_descriptor_bytes(self.root, cur["deletionVector"])
                )
            )
        u = _uuid.uuid4()
        metas = write_dv_file(
            os.path.join(self.root, f"deletion_vector_{u}.bin"),
            [sorted(all_pos)],
        )
        new_add = dict(cur)
        new_add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(u.bytes),
            "offset": metas[0]["offset"],
            "sizeInBytes": metas[0]["sizeInBytes"],
            "cardinality": metas[0]["cardinality"],
        }
        new_add["dataChange"] = False
        old_dv = (
            {"deletionVector": cur["deletionVector"]}
            if cur.get("deletionVector") else {}
        )
        actions = [
            {
                "remove": {
                    "path": rel_path,
                    "deletionTimestamp": timestamp_ms,
                    "dataChange": False,
                    **old_dv,
                }
            },
            {"add": new_add},
        ]
        return self._commit(actions, "DELETE", timestamp_ms)

    def checkpoint(self, tombstones: list | None = None) -> None:
        """Consolidate current state into a checkpoint parquet +
        ``_last_checkpoint`` pointer (protocol layout: one action per
        row, struct columns). ``tombstones`` adds remove rows — each a
        rel path (str) or a full remove-action dict (real checkpoints
        retain recent removes for VACUUM, INCLUDING dv-less tombstones
        for paths whose live add now carries a DV; a reader must
        reconcile on (path, dv uid), not path)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        # replay own log (py-side) to the live state
        adds: dict[str, dict] = {}
        meta = None
        protocol = None
        for v in _commit_versions(self.log):
            with open(os.path.join(self.log, f"{v:020d}.json")) as f:
                for line in f:
                    act = json.loads(line)
                    if "metaData" in act:
                        meta = act["metaData"]
                    elif "protocol" in act:
                        protocol = act["protocol"]
                    elif "add" in act:
                        adds[act["add"]["path"]] = act["add"]
                    elif "remove" in act:
                        _reconcile_remove(adds, act["remove"])
        rows = [{"protocol": protocol, "metaData": meta, "add": None,
                 "remove": None}]
        rows += [{"protocol": None, "metaData": None, "add": a,
                  "remove": None} for a in adds.values()]
        rows += [
            {"protocol": None, "metaData": None, "add": None,
             "remove": (
                 t if isinstance(t, dict)
                 else {"path": t, "deletionTimestamp": 0,
                       "dataChange": True}
             )}
            for t in (tombstones or [])
        ]
        map_ss = pa.map_(pa.string(), pa.string())
        dv_struct = pa.struct(
            [("storageType", pa.string()),
             ("pathOrInlineDv", pa.string()),
             ("offset", pa.int32()),
             ("sizeInBytes", pa.int32()),
             ("cardinality", pa.int64())]
        )
        cp_schema = pa.schema(
            [
                ("protocol", pa.struct(
                    [("minReaderVersion", pa.int32()),
                     ("minWriterVersion", pa.int32())]
                )),
                ("metaData", pa.struct(
                    [("id", pa.string()),
                     ("format", pa.struct(
                         [("provider", pa.string()),
                          ("options", map_ss)]
                     )),
                     ("schemaString", pa.string()),
                     ("partitionColumns", pa.list_(pa.string())),
                     ("configuration", map_ss),
                     ("createdTime", pa.int64())]
                )),
                ("add", pa.struct(
                    [("path", pa.string()),
                     ("partitionValues", map_ss),
                     ("size", pa.int64()),
                     ("modificationTime", pa.int64()),
                     ("dataChange", pa.bool_()),
                     ("deletionVector", dv_struct)]
                )),
                ("remove", pa.struct(
                    [("path", pa.string()),
                     ("deletionTimestamp", pa.int64()),
                     ("dataChange", pa.bool_()),
                     ("deletionVector", dv_struct)]
                )),
            ]
        )
        table = pa.Table.from_pylist(rows, schema=cp_schema)
        path = os.path.join(
            self.log, f"{self.version:020d}.checkpoint.parquet"
        )
        pq.write_table(table, path)
        with open(os.path.join(self.log, "_last_checkpoint"), "w") as f:
            json.dump({"version": self.version, "size": len(rows)}, f)

    def checkpoint_v2(self, fmt: str = "json") -> None:
        """V2 checkpoint: a UUID-named top-level manifest
        (``%020d.checkpoint.<uuid>.{json,parquet}``) holding
        protocol/metaData + a ``sidecar`` action, with the add/remove
        actions in a parquet sidecar under ``_delta_log/_sidecars/``
        — the layout tables with the ``v2Checkpoint`` feature write."""
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        # replay own log to live state (same as checkpoint())
        adds: dict[str, dict] = {}
        meta = None
        protocol = None
        for v in _commit_versions(self.log):
            with open(os.path.join(self.log, f"{v:020d}.json")) as f:
                for line in f:
                    act = json.loads(line)
                    if "metaData" in act:
                        meta = act["metaData"]
                    elif "protocol" in act:
                        protocol = act["protocol"]
                    elif "add" in act:
                        adds[act["add"]["path"]] = act["add"]
                    elif "remove" in act:
                        _reconcile_remove(adds, act["remove"])
        sc_dir = os.path.join(self.log, "_sidecars")
        os.makedirs(sc_dir, exist_ok=True)
        sc_name = f"{_uuid.uuid4().hex}.parquet"
        map_ss = pa.map_(pa.string(), pa.string())
        sc_schema = pa.schema(
            [
                ("add", pa.struct(
                    [("path", pa.string()),
                     ("partitionValues", map_ss),
                     ("size", pa.int64()),
                     ("modificationTime", pa.int64()),
                     ("dataChange", pa.bool_())]
                )),
                ("remove", pa.struct(
                    [("path", pa.string()),
                     ("deletionTimestamp", pa.int64()),
                     ("dataChange", pa.bool_())]
                )),
            ]
        )
        sc_rows = [{"add": a, "remove": None} for a in adds.values()]
        pq.write_table(
            pa.Table.from_pylist(sc_rows, schema=sc_schema),
            os.path.join(sc_dir, sc_name),
        )
        sidecar = {
            "path": sc_name,
            "sizeInBytes": os.path.getsize(os.path.join(sc_dir, sc_name)),
            "modificationTime": 1700000000000,
        }
        u = _uuid.uuid4().hex
        proto = protocol or {"minReaderVersion": 3, "minWriterVersion": 7}
        if fmt == "json":
            manifest = os.path.join(
                self.log, f"{self.version:020d}.checkpoint.{u}.json"
            )
            with open(manifest, "w") as f:
                f.write(json.dumps({"protocol": proto}) + "\n")
                f.write(json.dumps({"metaData": meta}) + "\n")
                f.write(json.dumps({"sidecar": sidecar}) + "\n")
        else:
            man_schema = pa.schema(
                [
                    ("protocol", pa.struct(
                        [("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32())]
                    )),
                    ("metaData", pa.struct(
                        [("id", pa.string()),
                         ("format", pa.struct(
                             [("provider", pa.string()),
                              ("options", map_ss)]
                         )),
                         ("schemaString", pa.string()),
                         ("partitionColumns", pa.list_(pa.string())),
                         ("configuration", map_ss),
                         ("createdTime", pa.int64())]
                    )),
                    ("sidecar", pa.struct(
                        [("path", pa.string()),
                         ("sizeInBytes", pa.int64()),
                         ("modificationTime", pa.int64())]
                    )),
                ]
            )
            rows = [
                {"protocol": proto, "metaData": meta, "sidecar": None},
                {"protocol": None, "metaData": None, "sidecar": sidecar},
            ]
            pq.write_table(
                pa.Table.from_pylist(rows, schema=man_schema),
                os.path.join(
                    self.log, f"{self.version:020d}.checkpoint.{u}.parquet"
                ),
            )
        with open(os.path.join(self.log, "_last_checkpoint"), "w") as f:
            json.dump({"version": self.version, "v2": True}, f)


class DeltaStandardWriter:
    """Standard-layout Delta Lake WRITER: emits a real ``_delta_log``
    (JSON commits, protocol/metaData actions, add-action stats,
    partition values, periodic parquet checkpoint + ``_last_checkpoint``)
    so this engine's OUTPUT is consumable by delta-spark / delta-rs /
    any protocol-conformant reader — the reference daemon's core
    interop property (README.adoc:3-5, src/delta_helpers.rs:15-40).
    It is the package's only Delta writer: ingest, the DLQ, the
    ``kdi table`` admin CLI and the DML/CDF queries all commit here.

    Protocol conformance (PROTOCOL.md):

    * atomic commits: ``%020d.json`` claimed with O_CREAT|O_EXCL — the
      protocol's put-if-absent primitive — with retry on version race
      (blind appends never conflict under WriteSerializable);
    * first commit carries ``protocol`` (minReader 1 / minWriter 2)
      and ``metaData`` (Spark StructType schemaString, partition
      columns, table id);
    * add actions carry ``partitionValues`` (string map, null for
      ``__HIVE_DEFAULT_PARTITION__``), size, modificationTime,
      dataChange, and a ``stats`` JSON string (numRecords, minValues,
      maxValues, nullCount from the parquet footers — the same stats
      the reference writes, src/writer.rs:657-1076) so downstream
      readers data-skip;
    * ``mode="overwrite"`` commits remove actions for every previously
      live file in the same atomic commit;
    * every ``checkpoint_every`` (default 10, the reference's cadence)
      commits, a single-part parquet checkpoint of the reconciled
      state is written plus the ``_last_checkpoint`` pointer.

    Data files are written by SPARK: one executor-parallel job into a
    staging directory, then promoted under the table root, both through
    :func:`sinks.base.staged_parquet`, which also removes the staging
    directory when the job or the promotion fails. The writer itself
    only handles metadata, so write throughput scales with the
    cluster exactly like any parquet write. The writer shares
    :func:`_replay` with the reader, so certification is independent
    of it: tests replay tables ``DeltaFixtureWriter`` hand-writes from
    the protocol, ``perfbench/check.py`` checks the written log on
    its own, and the ``sink_delta_standard_roundtrip`` registered query
    reads the result back.
    """

    def __init__(self, table_path: str, checkpoint_every: int = 10,
                 enable_cdf: bool = False, store=None):
        """``enable_cdf`` stamps ``delta.enableChangeDataFeed=true``
        into the first commit's metaData configuration (delta-spark's
        table property); with CDF on, :meth:`delete_where` also writes
        the deleted rows as ``_change_data/`` cdc parquet + a ``cdc``
        action, so ``table_changes`` serves the DV DELETE's change set
        exactly (without CDF a DV delete's changes are underivable
        from the log — the read side raises).

        ``store`` injects a :class:`~kafka_delta_ingest_spark.logstore
        .LogStore` for the commit-protocol IO (claims, conflict scans,
        checkpoint publishes); default resolves from the table URI —
        local disk here, with the object-store contract documented in
        logstore.py."""
        self.root = table_path
        self.log = os.path.join(table_path, _LOG)
        self.store = store or get_log_store(table_path)
        self.store.makedirs(self.log)
        self.checkpoint_every = checkpoint_every
        self.enable_cdf = enable_cdf

    def _cdf_enabled(self, meta: dict | None) -> bool:
        conf = (meta or {}).get("configuration") or {}
        return conf.get("delta.enableChangeDataFeed") == "true"

    # -- state ---------------------------------------------------------

    def latest_version(self) -> int:
        versions = _commit_versions(self.log, self.store)
        return versions[-1] if versions else -1

    def _py_replay(self, target: int | None = None) -> dict:
        """:func:`_replay` of this table at ``target`` (default: latest)."""
        return _replay(
            self.log,
            self.latest_version() if target is None else target,
            self.store,
        )

    # safe implicit upcasts on write (delta-spark's ANSI store
    # assignment): the frame value range embeds in the table type
    _SAFE_UPCASTS = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
    }

    @staticmethod
    def _conform_frame(df, meta: dict):
        """Refuse writes whose frame drifts from the committed
        ``metaData.schemaString``: a frame column the table does not
        declare, or a shared column at an incompatible type, lands
        parquet bytes every protocol reader then silently misdecodes
        (new columns null out, retyped columns corrupt). Safe numeric
        upcasts are applied to the frame (delta-spark's implicit ANSI
        store assignment); a frame may OMIT nullable table columns
        (they read back as null — standard Delta append semantics).
        Widening the table is an explicit :meth:`evolve_schema`
        commit, never an implicit side effect — the reference's
        update_schema contract (src/writer.rs:370-387,
        tests/schema_update_tests.rs:23-113). Returns the (possibly
        cast) frame."""
        from pyspark.sql import functions as F

        stored_fields = json.loads(meta["schemaString"])["fields"]
        stored = {f["name"]: f["type"] for f in stored_fields}
        frame_fields = json.loads(df.schema.json())["fields"]
        frame_names = {f["name"] for f in frame_fields}
        required_missing = sorted(
            f["name"]
            for f in stored_fields
            if not f.get("nullable", True)
            and f["name"] not in frame_names
        )
        if required_missing:
            raise ValueError(
                f"frame omits non-nullable table column(s) "
                f"{required_missing}; only nullable columns may be "
                "omitted (they read back as null)"
            )
        cols = []
        needs_cast = False
        for f in frame_fields:
            name = f["name"]
            if name not in stored:
                raise ValueError(
                    f"column {name!r} is not in the table schema; "
                    "call evolve_schema() first (appends never evolve "
                    "the schema implicitly)"
                )
            # nullability-relaxed comparison on BOTH sides: a frame's
            # incidental non-null struct/array/map flags must not read
            # as a type change against the (normalized) stored schema
            if _relax_type(stored[name]) == _relax_type(f["type"]):
                cols.append(F.col(name))
            elif (
                isinstance(f["type"], str)
                and isinstance(stored[name], str)
                and (f["type"], stored[name])
                in DeltaStandardWriter._SAFE_UPCASTS
            ):
                needs_cast = True
                cols.append(F.col(name).cast(stored[name]).alias(name))
            else:
                raise ValueError(
                    f"column {name!r}: frame type {f['type']!r} != "
                    f"table type {stored[name]!r}; type changes "
                    "require a rewrite"
                )
        return df.select(*cols) if needs_cast else df

    def evolve_schema(self, schema) -> int:
        """Commit a new ``metaData`` action widening the table schema
        (ALTER TABLE ADD COLUMNS analog) — ADD-ONLY: existing columns
        must keep their exact types and none may be omitted, so old
        files stay readable (missing new columns read as null) and no
        name can silently resurrect stale bytes. Returns the committed
        version (current version if the schema is already identical)."""
        read_v = self.latest_version()
        state = self._py_replay(target=read_v if read_v >= 0 else None)
        if state["meta"] is None:
            raise ValueError("evolve_schema on an empty table — the "
                             "first write() declares the schema")
        old_fields = json.loads(state["meta"]["schemaString"])["fields"]
        old_by_name = {f["name"]: f for f in old_fields}
        new_fields = json.loads(schema.json())["fields"]
        new_names = {f["name"] for f in new_fields}
        for f in new_fields:
            old = old_by_name.get(f["name"])
            if old is not None and _relax_type(old["type"]) != _relax_type(
                f["type"]
            ):
                raise ValueError(
                    f"column {f['name']!r}: type change "
                    f"{old['type']!r} -> {f['type']!r} cannot "
                    "be applied to already-written files"
                )
        missing = sorted(n for n in old_by_name if n not in new_names)
        if missing:
            raise ValueError(
                f"evolved schema omits existing column(s) {missing}; "
                "schema evolution is add-only"
            )
        for c in state["meta"].get("partitionColumns") or []:
            if c not in new_names:
                raise ValueError(
                    f"evolved schema omits partition column {c!r}"
                )
        # EXISTING columns keep their stored field json verbatim
        # (incl. explicit NOT NULL from external writers — evolution
        # must never silently relax a constraint); only NEW columns
        # get the nullable normalization.
        merged_fields = [
            old_by_name[f["name"]]
            if f["name"] in old_by_name
            else {**f, "nullable": True,
                  "type": _relax_type(f["type"])}
            for f in new_fields
        ]
        new_schema_str = json.dumps(
            {"type": "struct", "fields": merged_fields}
        )
        if json.loads(new_schema_str) == json.loads(
            state["meta"]["schemaString"]
        ):
            return read_v
        return self._atomic_commit(
            [{"metaData": {**state["meta"], "schemaString": new_schema_str}}],
            # concurrent APPENDS are fine under add-only widening;
            # a concurrent metadata change raises (checked always)
            read_version=read_v,
            operation="ADD COLUMNS",
        )

    def txn_version(self, app_id: str) -> int | None:
        """Highest committed ``txn`` version for ``app_id`` — the
        Delta protocol's application-transaction ledger (what the
        reference stores per-Kafka-partition offsets in,
        src/delta_helpers.rs:15-40)."""
        return self._py_replay()["txn"].get(app_id)

    # -- commit primitive ----------------------------------------------

    def _new_table_actions(self, schema, partition_by: list[str],
                           now_ms: int) -> list[dict]:
        """``protocol`` + ``metaData`` declaring a new table of Spark
        ``schema`` (every column nullable), partitioned by
        ``partition_by``, with CDF on when the writer enables it."""
        import uuid

        return [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _nullable_schema_json(schema),
                    "partitionColumns": list(partition_by),
                    "configuration": (
                        {"delta.enableChangeDataFeed": "true"}
                        if self.enable_cdf else {}
                    ),
                    "createdTime": now_ms,
                }
            },
        ]

    def _atomic_commit(
        self,
        actions,
        read_version: int | None = None,
        *,
        operation: str = "WRITE",
        parameters: dict | None = None,
        txn: dict[str, int] | None = None,
        staged: list[str] | None = None,
        read_files: set[str] | None = None,
        conflict_on_any_change: bool = False,
        timestamp: int | None = None,
        attempts: int = 100,
    ) -> int | None:
        """Assemble and publish one commit; returns its version, or None
        when nothing was committed. Every operation commits here.

        ``staged`` lists the files the operation already wrote.
        ``actions`` is the operation's own action list, or a function
        ``stage(staged) -> actions`` that writes the rest of its files,
        appends each path to ``staged`` before writing it, and returns
        the action list (None: nothing to commit). ``staged`` holds
        only files this operation wrote, never files its actions
        merely name (a restore's re-adds, a conversion's source
        files). This method adds the
        ``commitInfo`` (``operation``, ``parameters``, ``timestamp``)
        and one ``txn`` action per ``txn`` entry, and writes the
        checkpoint every ``checkpoint_every`` versions.

        Cleanup rule: when the commit is known not to have landed —
        ``stage`` raised, the conflict check raised, a racer already
        committed ``txn``, the claim attempts ran out — every staged
        file is removed. When the claim call itself raises, the commit
        may have landed (an object store's timeout after the object
        landed), so the staged files stay and the error propagates;
        VACUUM reclaims them after its untracked-file floor if the
        commit did not land.

        The claim carries the reference's optimistic-concurrency
        CONFLICT CHECK (src/lib.rs:948-1024): when the action set was
        derived from a snapshot (``read_version``), every commit that
        landed after that snapshot is inspected before claiming:

        * ``conflict_on_any_change`` (overwrite/restore — ops whose
          read set is the whole table): ANY intervening data or
          metadata action raises :class:`ConcurrentDeltaWriteError`;
        * ``read_files`` (delete_where/optimize — ops that rewrite
          specific files): an intervening add/remove touching one of
          those paths, or a metaData/protocol change, raises; blind
          appends of NEW files rebase silently (WriteSerializable);
        * ``txn``: if an intervening commit already carried every
          appId at-or-beyond its version (another worker won the
          race with the SAME batch), the commit is SKIPPED and None
          returned — exactly-once under races.

        Blind appends (no read_version) retry unconditionally: they
        are serializable against anything by construction.

        The claim itself is ``LogStore.put_if_absent`` of the FULLY
        built payload onto the version name — put-if-absent WITH
        content, never create-then-write: a racer's conflict check (or
        any reader) can never observe a claimed-but-empty commit file.
        (Local backend: hard-link-from-temp; object stores: one
        conditional PUT — see logstore.py.)"""
        import time

        staged = [] if staged is None else staged
        landed = claiming = False
        try:
            if callable(actions):
                actions = actions(staged)
            if actions is None:
                return None
            now_ms = int(time.time() * 1000) if timestamp is None else timestamp
            commit_info = {
                "operation": operation,
                "operationParameters": parameters or {},
                "timestamp": now_ms,
            }
            lines = [{"commitInfo": commit_info}, *actions] + [
                {"txn": {"appId": app, "version": v, "lastUpdated": now_ms}}
                for app, v in sorted((txn or {}).items())
            ]
            payload = "".join(json.dumps(a) + "\n" for a in lines).encode()
            checked_through = read_version
            for _ in range(attempts):
                version = self.latest_version() + 1
                if (
                    checked_through is not None
                    and version > checked_through + 1
                ):
                    if txn and already_applied(
                        self._py_replay(target=version - 1)["txn"], txn
                    ):
                        return None  # replay — a racer committed this txn
                    self._raise_on_conflict(
                        checked_through + 1, version - 1,
                        read_files, conflict_on_any_change,
                    )
                    checked_through = version - 1
                claiming = True
                landed = self.store.put_if_absent(
                    os.path.join(self.log, f"{version:020d}.json"),
                    payload,
                )
                claiming = False
                if landed:
                    break
                # another writer claimed this version — retry
            else:
                raise RuntimeError("exhausted commit attempts (version race)")
        finally:
            if not (landed or claiming):
                _remove_quietly(staged)
        if version > 0 and version % self.checkpoint_every == 0:
            self._write_checkpoint(version)
        return version

    def _raise_on_conflict(
        self,
        lo: int,
        hi: int,
        read_files: set[str] | None,
        conflict_on_any_change: bool,
    ) -> None:
        for v in range(lo, hi + 1):
            if not self.store.exists(
                os.path.join(self.log, f"{v:020d}.json")
            ):
                continue
            for act in _commit_actions(self.log, v, self.store):
                if "metaData" in act or "protocol" in act:
                    raise ConcurrentDeltaWriteError(
                        f"version {v} changed table metadata after "
                        "this operation's snapshot"
                    )
                hit = None
                if "add" in act:
                    hit = act["add"]["path"]
                elif "remove" in act:
                    hit = act["remove"]["path"]
                if hit is None:
                    continue
                if conflict_on_any_change:
                    raise ConcurrentDeltaWriteError(
                        f"version {v} committed a data change "
                        "after this operation's whole-table "
                        "snapshot"
                    )
                if read_files is not None and hit in read_files:
                    raise ConcurrentDeltaWriteError(
                        f"version {v} touched {hit!r}, which this "
                        "operation read and rewrites"
                    )

    # -- write ----------------------------------------------------------

    def write(
        self,
        df,
        mode: str = "append",
        partition_by: list[str] | None = None,
        txn: dict[str, int] | None = None,
    ) -> int:
        """Write ``df`` as one atomic Delta commit; returns the version.
        See :meth:`write_adds`."""
        return self.write_adds(df, mode, partition_by, txn)[0]

    def write_adds(
        self,
        df,
        mode: str = "append",
        partition_by: list[str] | None = None,
        txn: dict[str, int] | None = None,
    ) -> tuple[int, list[dict]]:
        """Write ``df`` as one atomic Delta commit; returns the version
        and the add actions it committed (none when nothing landed).

        ``mode="append"`` adds files; ``mode="overwrite"`` additionally
        removes every previously-live file in the same commit.

        ``txn`` maps appId → version (the protocol's application
        transaction action — e.g. one appId per Kafka partition,
        carrying its high offset). If EVERY supplied appId is already
        at-or-beyond its version in the log, the write is SKIPPED and
        the current version returned — idempotent replay, the
        reference's exactly-once mechanism (src/offsets.rs:36-102,
        src/lib.rs:1087-1100) on the standard log layout."""
        import time

        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        txn = dict(txn or {})
        read_v = self.latest_version()  # -1 on a brand-new table: the
        # conflict/replay checks then cover EVERY commit that lands
        # before ours, incl. a racer bootstrapping the same first batch
        state = self._py_replay(target=read_v)
        if already_applied(state["txn"], txn):
            return read_v, []  # replay — already applied
        if state["meta"] is not None:
            df = self._conform_frame(df, state["meta"])
            self._enforce_constraints(df, state["meta"])
            declared = state["meta"].get("partitionColumns") or []
            if partition_by is None:
                partition_by = list(declared)
            elif list(partition_by) != list(declared):
                raise ValueError(
                    f"partition_by {partition_by} != table's declared "
                    f"partitioning {declared}"
                )
        partition_by = list(partition_by or [])

        now_ms = int(time.time() * 1000)
        adds: list[dict] = []

        def stage(staged):
            adds.extend(self._stage_adds(df, partition_by, now_ms, staged))
            if not adds and mode == "append":
                return None  # empty appends never commit
            actions = (
                [] if state["meta"] is not None
                else self._new_table_actions(df.schema, partition_by, now_ms)
            )
            if mode == "overwrite":
                actions += [
                    _remove_action(a, now_ms) for a in state["adds"].values()
                ]
            return actions + [{"add": a} for a in adds]

        version = self._atomic_commit(
            stage,
            read_version=read_v,
            operation="WRITE" if mode == "append" else "OVERWRITE",
            parameters={
                "mode": mode.capitalize(),
                "partitionBy": json.dumps(partition_by),
            },
            txn=txn,
            conflict_on_any_change=(mode == "overwrite"),
            timestamp=now_ms,
        )
        if version is None:
            return self.latest_version(), []
        return version, adds

    def _stage_adds(
        self, df, partition_by: list[str] | None, now_ms: int,
        staged: list[str] | None = None,
    ) -> list[dict]:
        """Write ``df`` executor-parallel through
        :func:`staged_parquet`, promote each non-empty file to the same
        relative path under the table root (hive layout when
        partitioned), and return the add-action dicts with
        footer-derived stats. Each promoted path is appended to
        ``staged``. Zero-row files are never promoted: a stats-less
        empty add would defeat every later pruning pass. Shared by
        write / update_where / merge — the data path is always one
        Spark job; only metadata is driver-side."""
        staged = [] if staged is None else staged
        with staged_parquet(df, self.root, partition_by) as files:
            adds = [
                self._promote_add(
                    f,
                    # add paths are URIs: a partition directory Spark
                    # escaped (``ts=00%3A00``) is percent-encoded once
                    # more, as the protocol and every reader here
                    # (unquote) expect
                    urllib.parse.quote(
                        f"{f.rel_dir}/{f.name}" if f.rel_dir else f.name,
                        safe="/=",
                    ),
                    _parse_partition_values(f.rel_dir),
                    now_ms,
                    data_change=True,
                    staged=staged,
                )
                for f in files
            ]
        return [a for a in adds if a is not None]

    def _promote_add(self, f, path: str, partition_values: dict,
                     now_ms: int, data_change: bool,
                     staged: list[str]) -> dict | None:
        """The add action of staged file ``f`` promoted to the URI
        ``path`` under the table root (appended to ``staged``), with
        its footer stats; None (and ``f`` left to the staging cleanup)
        when it has no rows."""
        # looked up on the module: tests hook it as the point after the
        # snapshot read and before the commit
        stats = sink_base._parquet_stats(f.path)
        if stats["numRecords"] == 0:
            return None
        dest = os.path.join(self.root, urllib.parse.unquote(path))
        staged.append(dest)
        return {
            "path": path,
            "partitionValues": partition_values,
            "size": f.promote(dest),
            "modificationTime": now_ms,
            "dataChange": data_change,
            "stats": json.dumps(stats),
        }

    def _stage_cdc(self, df, staged: list[str]) -> list[dict]:
        """Write CDF change rows (must carry ``_change_type``) as
        ``_change_data/`` cdc parquet via staging, appending each
        promoted path to ``staged``; returns the cdc actions. Zero-row
        files are kept: an empty cdc file is how a commit with no row
        diff says "no row changed"."""
        import uuid

        actions: list[dict] = []
        with staged_parquet(df, self.root) as files:
            for f in files:
                rel = f"_change_data/cdc-{uuid.uuid4().hex}.parquet"
                dest = os.path.join(self.root, rel)
                staged.append(dest)
                actions.append(
                    {
                        "cdc": {
                            "path": rel,
                            "partitionValues": {},
                            "size": f.promote(dest),
                            "dataChange": False,
                        }
                    }
                )
        return actions

    # -- row-level DELETE (deletion vectors) -----------------------------

    def delete_where(self, spark, predicate: str) -> int:
        """Row-level DELETE via DELETION VECTORS — no data file is
        rewritten: matching rows' positions become per-file roaring
        bitmaps in a ``deletion_vector_<uuid>.bin``, and each affected
        file is re-added with a ``u``-type descriptor (dataChange
        false) in one atomic commit — the same action stream
        delta-spark's DV DELETE emits, so any protocol reader applies
        it.  Matching runs against the LIVE view (existing DVs
        applied), and an affected file's new descriptor carries the
        UNION of its old DV and the new matches (the protocol
        invariant: one descriptor covers ALL deleted rows of a file).

        Driver memory: O(deleted row positions this commit) while
        building the bitmaps — the right trade until deletes are a
        large fraction of the table, at which point rewrite (overwrite)
        wins anyway."""
        import time

        from pyspark.sql import functions as F

        read_v = self.latest_version()
        state = self._py_replay(target=read_v if read_v >= 0 else None)
        if state["meta"] is None:
            raise ValueError("delete_where on an empty table")
        if not state["adds"]:
            return read_v  # no live rows to delete
        live = read_delta(spark, self.root, version=read_v)
        matches = (
            live.select(
                _file_path_col().alias("_fp"),
                F.col("_metadata.row_index").alias("_pos"),
                "*",
            )
            .filter(predicate)
            .groupBy("_fp")
            .agg(F.collect_list("_pos").alias("_positions"))
            .collect()
        )
        if not matches:
            return self.latest_version()  # no-op
        by_abs = {r["_fp"]: sorted(r["_positions"]) for r in matches}
        # map absolute matched paths back to the log's relative adds
        touched = self._resolve_touched(state, set(by_abs))
        now_ms = int(time.time() * 1000)
        staged: list[str] = []
        actions = self._dv_delete_actions(
            state, sorted(touched), by_abs, now_ms, staged
        )
        cdc = None
        if self._cdf_enabled(state["meta"]):
            # CDF: the deleted rows land as _change_data/ cdc parquet
            # (one executor-parallel job over only the matching rows)
            # + cdc actions — delta-spark's DELETE-with-CDF shape, the
            # only way a DV delete's change set is servable later
            # (table_changes raises without it).
            cdc = live.filter(predicate).withColumn(
                "_change_type", F.lit("delete")
            )
        return self._atomic_commit(
            lambda staged: (
                self._stage_cdc(cdc, staged) if cdc is not None else []
            ) + actions,
            read_version=read_v,
            operation="DELETE",
            parameters={"predicate": predicate},
            staged=staged,
            # conflict = someone touched a file we re-add with a DV;
            # blind appends of new files rebase safely
            read_files=touched,
            timestamp=now_ms,
        )

    def _dv_delete_actions(self, state, touched, by_abs, now_ms, staged):
        """Write the commit's one deletion-vector file (delta-spark's
        layout: one bitmap per ``touched`` file, each at its own
        offset), appending its path to ``staged``, and return the
        (remove, re-add-with-descriptor) action pair of each touched
        file. A file's bitmap is the union of its matched positions
        (``by_abs``, keyed by absolute path) and its existing DV."""
        import uuid as _uuid

        from kafka_delta_ingest_spark.roaring import (
            deserialize_rbm_array,
            dv_descriptor_bytes,
            write_dv_file,
            z85_encode,
        )

        positions = []
        for rel in touched:
            a = state["adds"][rel]
            pos = set(by_abs[self._abs(rel)])
            if a.get("deletionVector"):
                pos |= set(
                    deserialize_rbm_array(
                        dv_descriptor_bytes(self.root, a["deletionVector"])
                    )
                )
            positions.append(sorted(pos))
        u = _uuid.uuid4()
        bin_path = os.path.join(self.root, f"deletion_vector_{u}.bin")
        staged.append(bin_path)
        metas = write_dv_file(bin_path, positions)
        actions: list[dict] = []
        for rel, m in zip(touched, metas):
            a = state["adds"][rel]
            # tombstone the (path, old dv uid) entry only
            actions.append(_remove_action(a, now_ms, data_change=False))
            dv = {"storageType": "u", "pathOrInlineDv": z85_encode(u.bytes)}
            actions.append(
                {"add": {**a, "dataChange": False,
                         "deletionVector": {**dv, **m}}}
            )
        return actions

    # -- CHECK constraints (ALTER TABLE ADD CONSTRAINT parity) ------------

    def constraints(self, meta: dict | None = None) -> dict[str, str]:
        """name → CHECK expression, from ``delta.constraints.*``
        table configuration (the protocol's constraint channel —
        delta-spark enforces the same keys)."""
        if meta is None:
            meta = self._py_replay()["meta"]
        cfg = (meta or {}).get("configuration") or {}
        pre = "delta.constraints."
        return {
            k[len(pre):]: v for k, v in cfg.items() if k.startswith(pre)
        }

    def add_constraint(self, spark, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT <name> CHECK (<expr>) on the
        standard log: existing rows are validated first (Delta scans
        the table before accepting a constraint), then one commit
        carries the updated metaData configuration plus the protocol
        bump to minWriterVersion 3 (the version that obliges writers
        to enforce CHECK constraints — delta-spark refuses to write
        tables it cannot enforce). NULL results satisfy the check
        (SQL standard)."""
        from pyspark.sql import functions as F

        read_v = self.latest_version()
        state = self._py_replay(target=read_v if read_v >= 0 else None)
        meta = state["meta"]
        if meta is None:
            raise ValueError("table has no schema yet")
        if name in self.constraints(meta):
            raise ValueError(f"constraint {name!r} already exists")
        existing = read_delta(spark, self.root, version=read_v)
        n_bad = existing.filter(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).count()
        if n_bad:
            raise ConstraintViolation(
                f"cannot add constraint {name!r}: {n_bad} existing "
                f"row(s) violate CHECK ({expr})"
            )
        return self._configuration_commit(
            read_v, meta, f"ADD CONSTRAINT {name}",
            set_keys={f"delta.constraints.{name}": expr},
            # minWriterVersion 3 obliges writers to enforce CHECKs
            protocol={"minReaderVersion": 1, "minWriterVersion": 3},
        )

    def drop_constraint(self, name: str) -> int:
        read_v = self.latest_version()
        state = self._py_replay(target=read_v if read_v >= 0 else None)
        meta = state["meta"]
        key = f"delta.constraints.{name}"
        if meta is None or key not in (meta.get("configuration") or {}):
            raise ValueError(f"no such constraint: {name!r}")
        return self._configuration_commit(
            read_v, meta, f"DROP CONSTRAINT {name}", unset_keys=[key]
        )

    def enable_change_data_feed(self) -> int:
        """ALTER TABLE SET TBLPROPERTIES (delta.enableChangeDataFeed =
        true) on an existing table: one metadata-only commit. Every
        later DML commit writes its ``cdc`` rows; changes before this
        version stay underivable for DV deletes. Idempotent: returns
        the current version when CDF is already on."""
        read_v = self.latest_version()
        meta = self._py_replay(target=read_v if read_v >= 0 else None)[
            "meta"
        ]
        if meta is None:
            raise ValueError("table has no schema yet")
        if self._cdf_enabled(meta):
            return read_v
        return self._configuration_commit(
            read_v, meta, "SET TBLPROPERTIES",
            set_keys={"delta.enableChangeDataFeed": "true"},
        )

    def _configuration_commit(
        self, read_v: int, meta: dict, operation: str,
        set_keys: dict | None = None, unset_keys=(),
        protocol: dict | None = None,
    ) -> int:
        """One metadata-only commit of ``meta`` with its configuration
        updated (and an optional protocol bump). Its read set is the
        whole table, so any commit after ``read_v`` conflicts."""
        cfg = dict(meta.get("configuration") or {})
        cfg.update(set_keys or {})
        for k in unset_keys:
            del cfg[k]
        return self._atomic_commit(
            ([{"protocol": protocol}] if protocol else [])
            + [{"metaData": {**meta, "configuration": cfg}}],
            read_version=read_v,
            operation=operation,
            conflict_on_any_change=True,
        )

    def _enforce_constraints(self, df, meta: dict) -> None:
        """Raise :class:`ConstraintViolation` when any row of ``df``
        fails a stored CHECK constraint — one combined pass (a single
        filter over the frame, short-circuited at the first hit),
        then the violated names identified on the sample row."""
        from pyspark.sql import functions as F

        cons = self.constraints(meta)
        if not cons:
            return
        checks = {
            n: F.coalesce(F.expr(e), F.lit(True))
            for n, e in cons.items()
        }
        viol = None
        for c in checks.values():
            viol = ~c if viol is None else (viol | ~c)
        rows = (
            df.filter(viol).limit(1)
            .select(*[(~c).alias(n) for n, c in checks.items()])
            .collect()
        )
        if rows:
            violated = [n for n in checks if rows[0][n]]
            raise ConstraintViolation(
                f"CHECK constraint(s) {violated} violated by write "
                f"({ {n: cons[n] for n in violated} })"
            )

    # -- row-level UPDATE / MERGE (copy-on-write) -------------------------

    def update_where(
        self, spark, predicate: str, set_exprs: dict[str, str]
    ) -> int:
        """Row-level UPDATE via copy-on-write: only the files that
        contain a matching row are rewritten (one executor-parallel
        job over exactly those files' live rows); untouched files keep
        their add actions. ``set_exprs`` maps column → SQL expression
        (evaluated per matching row; non-matching rows in a touched
        file are carried through unchanged). With CDF on, the change
        set lands as ``update_preimage``/``update_postimage`` cdc rows
        — delta-spark's UPDATE shape (reference parity surface:
        delta-rs exposes the same op; the daemon itself is
        append-only, README.adoc:3-5).

        Scale: matching is one pruned scan (predicate pushed to
        parquet); the rewrite reads only touched files, so cost is
        O(touched data), not O(table). Commit conflicts follow
        delete_where's file-level rule: an intervening commit touching
        a rewritten file raises, blind appends rebase."""
        import time

        from pyspark.sql import functions as F

        read_v = self.latest_version()
        state = self._py_replay(target=read_v if read_v >= 0 else None)
        if state["meta"] is None:
            raise ValueError("update_where on an empty table")
        if not state["adds"]:
            return read_v  # no live rows to update
        schema_cols = [
            f["name"]
            for f in json.loads(state["meta"]["schemaString"])["fields"]
        ]
        unknown = set(set_exprs) - set(schema_cols)
        if unknown:
            raise ValueError(f"SET targets not in table schema: "
                             f"{sorted(unknown)}")
        part_cols = state["meta"].get("partitionColumns") or []
        if set(set_exprs) & set(part_cols):
            raise ValueError(
                "updating partition columns is not supported "
                f"({sorted(set(set_exprs) & set(part_cols))})"
            )
        live = read_delta(spark, self.root, version=read_v)
        tagged = live.select(
            _file_path_col().alias("__fp"),
            "*",
        )
        touched_abs = {
            r["__fp"]
            for r in tagged.filter(predicate)
            .select("__fp").distinct().collect()
        }
        if not touched_abs:
            return read_v  # no-op
        touched_rel = self._resolve_touched(state, touched_abs)
        now_ms = int(time.time() * 1000)

        rows = tagged.filter(F.col("__fp").isin(list(touched_abs)))
        cond = F.expr(predicate)
        # conform: a SET expression that changes a column's type must
        # raise (or safe-upcast), never land drifted parquet schemas
        updated = self._conform_frame(
            rows.select(
                *[
                    (
                        F.when(cond, F.expr(set_exprs[c]))
                        .otherwise(F.col(c)).alias(c)
                        if c in set_exprs else F.col(c)
                    )
                    for c in schema_cols
                ]
            ),
            state["meta"],
        )
        self._enforce_constraints(updated, state["meta"])
        cdc = None
        if self._cdf_enabled(state["meta"]):
            pre = rows.filter(cond).drop("__fp").withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = self._conform_frame(
                rows.filter(cond).select(
                    *[
                        (
                            F.expr(set_exprs[c]).alias(c)
                            if c in set_exprs else F.col(c)
                        )
                        for c in schema_cols
                    ]
                ),
                state["meta"],
            ).withColumn("_change_type", F.lit("update_postimage"))
            cdc = pre.unionByName(post)
        return self._atomic_commit(
            lambda staged: self._rewrite_actions(
                state, touched_rel, updated, cdc, now_ms, staged
            ),
            read_version=read_v,
            operation="UPDATE",
            parameters={"predicate": predicate},
            read_files=touched_rel,
            timestamp=now_ms,
        )

    def _rewrite_actions(self, state, touched_rel, out, cdc, now_ms,
                         staged) -> list[dict]:
        """The actions of a copy-on-write rewrite (UPDATE, MERGE):
        ``cdc`` rows (when CDF is on) as cdc files, then a remove of
        each touched file and an add of each file ``out`` is written
        to. Every file written is appended to ``staged``."""
        actions = [] if cdc is None else self._stage_cdc(cdc, staged)
        adds = self._stage_adds(
            out, state["meta"].get("partitionColumns") or [], now_ms, staged
        )
        return actions + [
            _remove_action(state["adds"][rel], now_ms)
            for rel in sorted(touched_rel)
        ] + [{"add": a} for a in adds]

    def _abs(self, rel: str) -> str:
        """The local path of the (URI-encoded, possibly absolute) file
        path ``rel`` of an add action."""
        ap = urllib.parse.unquote(rel)
        return ap if os.path.isabs(ap) else os.path.join(self.root, ap)

    def _resolve_touched(
        self, state: dict, touched_abs: set[str]
    ) -> set[str]:
        """Map absolute matched file paths back to the snapshot's
        relative add paths; raises if any matched file is not in the
        snapshot (the read view and the snapshot must agree)."""
        touched_rel: set[str] = set()
        remaining = set(touched_abs)
        for rel in state["adds"]:
            ap = self._abs(rel)
            if ap in remaining:
                touched_rel.add(rel)
                remaining.discard(ap)
        if remaining:
            raise RuntimeError(
                f"matched files missing from the log snapshot: "
                f"{sorted(remaining)[:3]}"
            )
        return touched_rel

    def merge(
        self,
        spark,
        source,
        on: str,
        *,
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: str | bool | None = None,
        when_not_matched_insert: dict[str, str] | bool = True,
        txn: dict[str, int] | None = None,
    ) -> int:
        """MERGE INTO (upsert) with delta-spark's clause semantics on
        the standard log. ``source`` is any DataFrame; ``on`` is a SQL
        join condition over the ``source`` and ``target`` aliases
        (e.g. ``"source.id = target.id"``). Clauses:

        * ``when_matched_update`` — column → SQL expression over
          ``source.``/``target.`` (applied to matched target rows);
        * ``when_matched_delete`` — ``True`` (delete every matched
          row) or a SQL condition string;
        * ``when_not_matched_insert`` — ``True`` (insert source rows
          by name; missing target columns null) or column → expression
          over ``source.``.

        Delete is evaluated before update when both are given a
        condition (delta-spark applies clauses in order; pass only
        what you need). A source that matches the same target row
        more than once raises (the protocol's cardinality violation).

        Copy-on-write: only target files containing a matched row are
        rewritten; inserts append new files; untouched files keep
        their adds. With CDF on, emits ``update_preimage``/
        ``update_postimage``/``delete``/``insert`` cdc rows.

        Scale: match discovery is one join (AQE broadcasts a small
        source); the rewrite re-joins ONLY touched files' rows against
        the source, so cost is O(touched + source), not O(table).
        Because MERGE's read set is the whole target (the not-matched
        anti-join), the commit conflicts on ANY intervening data
        change — delta-spark's Serializable default for MERGE.

        ``txn`` (appId → version) makes the merge EXACTLY-ONCE like
        :meth:`write`: if every supplied appId is already at-or-beyond
        its version in the log the merge is SKIPPED (replay after a
        crash/restart), the committed version carries the txn actions,
        and a racer landing the same batch first is re-detected at
        claim time — the reference's offset-ledger mechanism applied
        to CDC-apply streams."""
        import time

        from pyspark.sql import functions as F

        if not (when_matched_update or when_matched_delete
                or when_not_matched_insert):
            raise ValueError("merge with no clauses")
        txn = dict(txn or {})
        read_v = self.latest_version()
        state = self._py_replay(target=read_v if read_v >= 0 else None)
        if state["meta"] is None:
            raise ValueError("merge into an empty table")
        if already_applied(state["txn"], txn):
            return read_v  # replay — this merge already applied
        schema_cols = [
            f["name"]
            for f in json.loads(state["meta"]["schemaString"])["fields"]
        ]
        live = read_delta(spark, self.root, version=read_v)
        if state["adds"]:
            file_cols = [
                _file_path_col().alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            ]
        else:  # no data files, so no _metadata: nothing can match
            file_cols = [
                F.lit(None).cast("string").alias("__fp"),
                F.lit(None).cast("long").alias("__pos"),
            ]
        tagged = live.select(*file_cols, "*").alias("target")
        src = source.alias("source")
        on_expr = F.expr(on)

        matched = tagged.join(src, on_expr, "inner")
        # cardinality check + touched-file discovery in ONE pass over
        # the match join (driver gets only file paths + a violation bit)
        card = (
            matched.groupBy("target.__fp", "target.__pos")
            .agg(F.count(F.lit(1)).alias("__n"))
            .groupBy("__fp")
            .agg(F.max("__n").alias("__maxn"))
            .collect()
        )
        if any(r["__maxn"] > 1 for r in card):
            raise ValueError(
                "merge cardinality violation: a target row matched "
                "more than one source row"
            )
        touched_abs = {r["__fp"] for r in card}
        touched_rel = self._resolve_touched(state, touched_abs)
        now_ms = int(time.time() * 1000)

        del_cond = None
        if when_matched_delete is True:
            del_cond = F.lit(True)
        elif isinstance(when_matched_delete, str):
            del_cond = F.expr(when_matched_delete)

        # rewrite phase: touched files' rows LEFT JOIN source
        pieces = []
        cdc_pieces = []
        if touched_abs:
            rows = tagged.filter(
                F.col("__fp").isin(list(touched_abs))
            ).alias("target")
            # re-alias after withColumn — projections drop the
            # subquery alias the ON condition resolves against
            src_m = source.withColumn(
                "__match", F.lit(True)
            ).alias("source")
            joined = rows.join(src_m, on_expr, "left")
            is_match = F.col("__match").isNotNull()
            is_del = (
                (is_match & del_cond) if del_cond is not None
                else F.lit(False)
            )
            upd = when_matched_update or {}
            is_upd = is_match & ~is_del if upd else F.lit(False)
            new_vals = [
                (
                    F.when(is_upd, F.expr(upd[c]))
                    .otherwise(F.col(f"target.{c}")).alias(c)
                    if c in upd else F.col(f"target.{c}").alias(c)
                )
                for c in schema_cols
            ]
            kept = self._conform_frame(
                joined.filter(~is_del).select(*new_vals),
                state["meta"],
            )
            pieces.append(kept)
            if self._cdf_enabled(state["meta"]):
                tgt_vals = [
                    F.col(f"target.{c}").alias(c) for c in schema_cols
                ]
                cdc_pieces.append(
                    joined.filter(is_del).select(*tgt_vals)
                    .withColumn("_change_type", F.lit("delete"))
                )
                if upd:
                    cdc_pieces.append(
                        joined.filter(is_upd).select(*tgt_vals)
                        .withColumn(
                            "_change_type", F.lit("update_preimage")
                        )
                    )
                    cdc_pieces.append(
                        self._conform_frame(
                            joined.filter(is_upd).select(*new_vals),
                            state["meta"],
                        ).withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )

        # insert phase: source rows with no target match
        inserts = None
        if when_not_matched_insert:
            unmatched = src.join(tagged, on_expr, "left_anti")
            if when_not_matched_insert is True:
                src_cols = set(unmatched.columns)
                inserts = unmatched.select(
                    *[
                        (
                            F.col(c) if c in src_cols
                            else F.lit(None).alias(c)
                        )
                        for c in schema_cols
                    ]
                )
            else:
                ins = when_not_matched_insert
                inserts = unmatched.select(
                    *[
                        (
                            F.expr(ins[c]).alias(c) if c in ins
                            else F.lit(None).alias(c)
                        )
                        for c in schema_cols
                    ]
                )
            inserts = self._conform_frame(inserts, state["meta"])
            pieces.append(inserts)
            if self._cdf_enabled(state["meta"]):
                cdc_pieces.append(
                    inserts.withColumn("_change_type", F.lit("insert"))
                )

        if not pieces:
            return read_v
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        self._enforce_constraints(out, state["meta"])
        cdc = None
        if cdc_pieces:
            cdc = cdc_pieces[0]
            for p in cdc_pieces[1:]:
                cdc = cdc.unionByName(p)
        version = self._atomic_commit(
            lambda staged: self._rewrite_actions(
                state, touched_rel, out, cdc, now_ms, staged
            ),
            read_version=read_v,
            operation="MERGE",
            parameters={"predicate": on},
            txn=txn,
            conflict_on_any_change=True,
            timestamp=now_ms,
        )
        if version is None:
            return self.latest_version()  # a racer merged this txn
        return version

    # -- RESTORE / VACUUM -------------------------------------------------

    def restore(self, version: int, spark) -> int:
        """RESTORE TO VERSION AS OF ``version``: commits the forward
        diff — remove every file live now but not then, re-add every
        file live then but not now (a path whose DV descriptor differs
        is re-added with the target's descriptor). History is
        preserved: this lands as a NEW version; the rolled-back
        commits stay time-travelable. Pure log metadata, O(diff) not
        O(table) — restoring a 100 TB table after a bad batch is
        instant. Raises if a file the restore resurrects was already
        vacuumed.

        With CDF on, the same commit carries the ROW diff as cdc
        files: target rows ``exceptAll`` current rows are inserts, the
        reverse are deletes, so rows that only moved between files
        emit nothing. That diff is one Spark scan of both
        versions."""
        import time

        cur_v = self.latest_version()
        if version < 0 or version > cur_v:
            raise ValueError(f"version {version} does not exist")
        if version == cur_v:
            return cur_v
        cur = self._py_replay(target=cur_v)
        tgt = self._py_replay(target=version)

        def dv_key(a):
            d = a.get("deletionVector") or {}
            return (d.get("pathOrInlineDv"), d.get("offset"))

        now_ms = int(time.time() * 1000)
        actions: list[dict] = []
        if tgt["meta"] != cur["meta"] and tgt["meta"] is not None:
            actions.append({"metaData": tgt["meta"]})
        # key each tombstone to the CURRENT add's dv
        actions += [
            _remove_action(a, now_ms)
            for rel, a in cur["adds"].items()
            if rel not in tgt["adds"] or dv_key(tgt["adds"][rel]) != dv_key(a)
        ]
        for rel, t in tgt["adds"].items():
            c = cur["adds"].get(rel)
            if c is None or dv_key(c) != dv_key(t):
                if not os.path.exists(self._abs(rel)):
                    raise ValueError(
                        f"cannot restore to {version}: {rel} was "
                        "already vacuumed"
                    )
                actions.append({"add": {**t, "dataChange": True}})
        cdc = None
        if self._cdf_enabled(cur["meta"]) and actions:
            cdc = self._restore_row_diff(spark, cur_v, version)
        # the re-adds name files live at ``version``, never staged ones
        return self._atomic_commit(
            lambda staged: actions + (
                self._stage_cdc(cdc, staged) if cdc is not None else []
            ),
            # restore's read set is the WHOLE table diff — any
            # concurrent data change invalidates it
            read_version=cur_v,
            operation="RESTORE",
            parameters={"version": str(version)},
            conflict_on_any_change=True,
            timestamp=now_ms,
        )

    def _restore_row_diff(self, spark, cur_v: int, target: int):
        """The cdc rows of restoring ``cur_v`` to ``target``, projected
        onto the target's columns (a restore may revert an added
        column)."""
        from pyspark.sql import functions as F

        then = read_delta(spark, self.root, version=target)
        now = read_delta(spark, self.root, version=cur_v)
        now = now.select(
            *[
                F.col(f.name) if f.name in now.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in then.schema.fields
            ]
        )
        return then.exceptAll(now).withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            now.exceptAll(then).withColumn("_change_type", F.lit("delete"))
        )

    def vacuum(self, retention_ms: int = 7 * 24 * 3600 * 1000,
               now_ms: int | None = None) -> list[str]:
        """Physically delete tombstoned data files whose remove
        timestamp, and ``_change_data`` cdc files whose commit
        timestamp, is older than ``retention_ms``. Files no log action
        names (an aborted write's promoted parquet, a crashed delete's
        DV ``.bin`` or cdc file, a killed writer's staging directory)
        are aged by mtime and must also be older than
        ``_UNTRACKED_MIN_AGE_MS``, whatever the retention, since a
        writer lands each of them before the commit that names it. As
        in Delta's VACUUM, names starting with ``_`` or ``.``
        (``_delta_log``, a streaming checkpoint kept in the table root,
        ``.crc`` files) are never touched, except ``_change_data``,
        staging directories (``STAGING_PREFIX``) and partition
        directories. Returns deleted relative paths. No commit —
        vacuum reclaims storage, it does not change state; time travel
        past the retention window stops working, exactly Delta's
        contract."""
        import time

        import uuid as _uuid

        from kafka_delta_ingest_spark.roaring import z85_decode

        if now_ms is None:
            now_ms = int(time.time() * 1000)
        cutoff = now_ms - retention_ms
        untracked_cutoff = now_ms - max(retention_ms, _UNTRACKED_MIN_AGE_MS)
        state = self._py_replay()
        live = set(state["adds"])

        def dv_bin_of(a) -> str | None:
            d = a.get("deletionVector")
            if d and d.get("storageType") == "u":
                u = _uuid.UUID(
                    bytes=z85_decode(d["pathOrInlineDv"][-20:])
                )
                return f"deletion_vector_{u}.bin"
            return None

        # candidate tombstones from the JSON log (removed paths that
        # never came back); DV bins stay referenced by ANY add action
        # in the retained log — a superseded descriptor is still
        # needed to time-travel to the version that wrote it, so only
        # truly unreferenced bins (crashed writes) are reclaimed.
        victims: dict[str, int] = {}
        logged: set[str] = set(live)  # every data path the log names
        cdc_refs: dict[str, int] = {}  # cdc rel path -> commit ts
        for v in _commit_versions(self.log, self.store):
            commit_ts = 0
            commit_cdc: list[str] = []
            for act in _commit_actions(self.log, v, self.store):
                if "remove" in act:
                    r = act["remove"]
                    logged.add(r["path"])
                    victims[r["path"]] = r.get("deletionTimestamp", 0)
                elif "add" in act:
                    logged.add(act["add"]["path"])
                    victims.pop(act["add"]["path"], None)
                    b = dv_bin_of(act["add"])
                    if b:
                        logged.add(b)
                elif "cdc" in act:
                    commit_cdc.append(act["cdc"]["path"])
                elif "commitInfo" in act:
                    commit_ts = act["commitInfo"].get("timestamp", 0)
            for p in commit_cdc:
                cdc_refs[p] = commit_ts
        # live adds replayed from a checkpoint may predate the log
        for a in state["adds"].values():
            b = dv_bin_of(a)
            if b:
                logged.add(b)
        deleted = []
        for rel, ts in victims.items():
            if rel in live or ts > cutoff:
                continue
            ap = urllib.parse.unquote(rel)
            if not os.path.isabs(ap):
                ap = os.path.join(self.root, ap)
            if os.path.exists(ap):
                os.remove(ap)
                deleted.append(rel)
        keep = {urllib.parse.unquote(p) for p in logged}
        part_dirs = tuple(
            f"{c}=" for c in (state["meta"] or {}).get("partitionColumns") or []
        )

        def swept(name: str, is_dir: bool, top: bool) -> bool:
            if not name.startswith(("_", ".")):
                return True
            return is_dir and (
                name.startswith(part_dirs)
                or top and (name == "_change_data"
                            or name.startswith(STAGING_PREFIX))
            )

        # an in-flight writer's staging dir is young (adding entries
        # bumps its mtime); read the ages before the deletes below
        # bump them too
        stale_staging = [
            os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if d.startswith(STAGING_PREFIX)
            and int(os.path.getmtime(os.path.join(self.root, d)) * 1000)
            <= untracked_cutoff
        ]
        for dirpath, dirs, files in os.walk(self.root):
            rel_dir = os.path.relpath(dirpath, self.root)
            # everything under a staging dir is Spark output no commit
            # names, its _SUCCESS and .crc files included
            if not rel_dir.startswith(STAGING_PREFIX):
                top = dirpath == self.root
                dirs[:] = [d for d in dirs if swept(d, True, top)]
                files = [f for f in files if swept(f, False, top)]
            for fname in sorted(files):
                ap = os.path.join(dirpath, fname)
                rel = os.path.relpath(ap, self.root).replace(os.sep, "/")
                if rel in keep:
                    continue
                if rel in cdc_refs:
                    # cdc parquet is only servable through
                    # table_changes while its commit sits inside the
                    # retention window
                    stale = cdc_refs[rel] <= cutoff
                else:
                    stale = int(os.path.getmtime(ap) * 1000) <= (
                        untracked_cutoff
                    )
                if stale:
                    os.remove(ap)
                    deleted.append(rel)
        for d in stale_staging:
            for dp, _dirs, _files in os.walk(d, topdown=False):
                try:
                    os.rmdir(dp)
                except OSError:
                    pass  # still holds files younger than the cutoff
        return deleted

    def count_rows(self) -> int:
        """Live row count without a scan: the adds' ``numRecords``
        minus their deletion-vector cardinalities. An add without a
        record count (writers may omit stats, and a V2 checkpoint
        sidecar may drop them) counts its parquet footer's rows."""
        import pyarrow.parquet as pq

        n = 0
        for a in self._py_replay()["adds"].values():
            stats = a.get("stats")
            if isinstance(stats, str):
                stats = json.loads(stats)
            rows = (stats or {}).get("numRecords")
            if rows is None:
                rows = pq.read_metadata(
                    os.path.join(self.root, urllib.parse.unquote(a["path"]))
                ).num_rows
            n += rows - (
                (a.get("deletionVector") or {}).get("cardinality", 0)
            )
        return n

    # -- OPTIMIZE (bin-packing compaction) -------------------------------

    def optimize(self, spark, target_file_bytes: int = 134_217_728,
                 zorder_by: list[str] | None = None) -> int:
        """Bin-pack small files and MATERIALIZE deletion vectors: per
        partition, every live file under ``target_file_bytes`` (plus
        every DV-carrying file, whose tombstoned rows get physically
        dropped here) is rewritten into coalesced files; the commit
        removes the inputs and adds the outputs with
        ``dataChange=false`` — the standard OPTIMIZE action stream, so
        any reader sees identical rows before and after. Returns the
        committed version (or the current one when nothing qualifies).

        ``zorder_by`` (delta-spark's OPTIMIZE ... ZORDER BY on the
        standard log): EVERY live file rewrites; rows range-partition
        on the Morton interleave of the columns' normalized ranks
        (sinks.base.zorder_value) into ~target-sized files, each
        sorted within — every output file then carries a narrow
        min/max window on EVERY clustered column in its add-action
        stats, so any protocol reader's data skipping prunes on all of
        them at once.

        Scale: each partition group is one Spark job over only the
        files being rewritten; the commit is metadata."""
        import time
        import uuid

        from pyspark.sql import functions as F

        read_v = self.latest_version()
        state = self._py_replay(target=read_v if read_v >= 0 else None)
        if state["meta"] is None:
            return self.latest_version()
        groups: dict[tuple, list[tuple[str, dict]]] = {}
        for rel, a in state["adds"].items():
            if (
                not zorder_by  # ZORDER re-clusters EVERY live file
                and a.get("size", 0) >= target_file_bytes
                and not a.get("deletionVector")
            ):
                continue
            pv = tuple(sorted((a.get("partitionValues") or {}).items()))
            groups.setdefault(pv, []).append((rel, a))
        if not zorder_by:
            # a group of one small DV-free file gains nothing from
            # rewrite (a zorder pass rewrites it anyway: the point is
            # the ORDER, not the size)
            groups = {
                pv: files
                for pv, files in groups.items()
                if len(files) > 1
                or any(a.get("deletionVector") for _, a in files)
            }
        if not groups:
            return self.latest_version()
        now_ms = int(time.time() * 1000)
        # Compaction inputs MUST read under the table's current
        # metaData.schemaString, not a sampled footer: after
        # evolve_schema() a group can mix old- and new-schema files,
        # and a bare spark.read.parquet would silently drop the
        # evolved column from the rewritten file while tombstoning
        # the originals (permanent data loss). Explicit schema
        # null-fills files that predate the column — exactly the
        # protocol's read semantics. Partition columns never live in
        # the data files, so they are excluded from the read schema.
        from pyspark.sql.types import StructType

        part_cols = set(state["meta"].get("partitionColumns") or [])
        table_fields = json.loads(
            state["meta"]["schemaString"]
        )["fields"]
        read_schema = StructType.fromJson(
            {
                "type": "struct",
                "fields": [
                    f for f in table_fields if f["name"] not in part_cols
                ],
            }
        )
        rewrites = []
        for pv, files in sorted(groups.items()):
            dv_in = [a for _, a in files if a.get("deletionVector")]
            df = spark.read.schema(read_schema).parquet(
                *[self._abs(rel) for rel, _ in files]
            )
            if dv_in:
                df = df.select(
                    "*",
                    _file_path_col().alias("_kdi_fp"),
                    F.col("_metadata.row_index").alias("_kdi_pos"),
                )
                df = _apply_deletion_vectors(
                    spark, self.root, df, dv_in, self._abs
                )
            if zorder_by:
                # range-split on the Morton key into ~target-sized
                # files, each sorted within: every output file gets a
                # narrow stats window on EVERY clustered column
                total = sum(a.get("size", 0) for _, a in files)
                n_out = max(1, -(-total // target_file_bytes))
                df = (
                    df.withColumn("_kdi_zv", zorder_value(df, zorder_by))
                    .repartitionByRange(n_out, "_kdi_zv")
                    .sortWithinPartitions("_kdi_zv")
                    .drop("_kdi_zv")
                )
            else:
                df = df.coalesce(1)
            rewrites.append((pv, files, df))

        def stage(staged):
            # compacted inputs may carry DVs — each tombstone is keyed
            # to the input add's descriptor
            actions = [
                _remove_action(a, now_ms, data_change=False)
                for _, files, _ in rewrites
                for _, a in files
            ]
            for pv, files, df in rewrites:
                rel_dir = files[0][0].rpartition("/")[0]
                with staged_parquet(df, self.root) as written:
                    for f in written:
                        name = f"part-opt-{uuid.uuid4().hex}.parquet"
                        add = self._promote_add(
                            f, f"{rel_dir}/{name}" if rel_dir else name,
                            dict(pv), now_ms, data_change=False,
                            staged=staged,
                        )
                        if add is not None:
                            actions.append({"add": add})
            return actions

        return self._atomic_commit(
            stage,
            read_version=read_v,
            operation="OPTIMIZE",
            parameters={
                "targetSize": str(target_file_bytes),
                **({"zOrderBy": json.dumps(zorder_by)} if zorder_by else {}),
            },
            # conflict = someone touched a compaction input; appends
            # of new files rebase safely (they were not compacted)
            read_files={rel for files in groups.values() for rel, _ in files},
            timestamp=now_ms,
        )

    # -- checkpoint ------------------------------------------------------

    def _write_checkpoint(self, version: int) -> None:
        """Single-part parquet checkpoint of the reconciled state at
        ``version`` + ``_last_checkpoint`` pointer (protocol layout:
        one action per row, struct columns, stats as JSON string).
        Replay is PINNED to ``version`` — a concurrent writer's later
        commit must never leak into a checkpoint named for an earlier
        version (time travel / RESTORE would silently read the future)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        state = self._py_replay(target=version)
        # one action per row; the columns a row omits are null
        rows = [
            {
                "protocol": state["protocol"]
                or {"minReaderVersion": 1, "minWriterVersion": 2},
                "metaData": state["meta"],
            }
        ]
        # the app-transaction ledger MUST survive checkpointing or
        # exactly-once replay breaks after 10 commits
        rows += [
            {"txn": {"appId": a, "version": v}}
            for a, v in sorted(state["txn"].items())
        ]
        rows += [
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": a.get("partitionValues") or {},
                    "size": a.get("size", 0),
                    "modificationTime": a.get("modificationTime", 0),
                    "dataChange": bool(a.get("dataChange", True)),
                    "stats": a.get("stats"),
                    # DV descriptors MUST survive checkpointing or
                    # deleted rows resurrect after log truncation
                    "deletionVector": a.get("deletionVector"),
                },
            }
            for a in state["adds"].values()
        ]
        map_ss = pa.map_(pa.string(), pa.string())
        cp_schema = pa.schema(
            [
                ("protocol", pa.struct(
                    [("minReaderVersion", pa.int32()),
                     ("minWriterVersion", pa.int32())]
                )),
                ("metaData", pa.struct(
                    [("id", pa.string()),
                     ("format", pa.struct(
                         [("provider", pa.string()),
                          ("options", map_ss)]
                     )),
                     ("schemaString", pa.string()),
                     ("partitionColumns", pa.list_(pa.string())),
                     ("configuration", map_ss),
                     ("createdTime", pa.int64())]
                )),
                ("add", pa.struct(
                    [("path", pa.string()),
                     ("partitionValues", map_ss),
                     ("size", pa.int64()),
                     ("modificationTime", pa.int64()),
                     ("dataChange", pa.bool_()),
                     ("stats", pa.string()),
                     ("deletionVector", pa.struct(
                         [("storageType", pa.string()),
                          ("pathOrInlineDv", pa.string()),
                          ("offset", pa.int32()),
                          ("sizeInBytes", pa.int32()),
                          ("cardinality", pa.int64())]
                     ))]
                )),
                ("remove", pa.struct(
                    [("path", pa.string()),
                     ("deletionTimestamp", pa.int64()),
                     ("dataChange", pa.bool_())]
                )),
                ("txn", pa.struct(
                    [("appId", pa.string()),
                     ("version", pa.int64())]
                )),
            ]
        )
        import io as _io

        table = pa.Table.from_pylist(rows, schema=cp_schema)
        path = os.path.join(
            self.log, f"{version:020d}.checkpoint.parquet"
        )
        buf = _io.BytesIO()
        pq.write_table(table, buf)
        self.store.put_atomic(path, buf.getvalue())
        ptr = os.path.join(self.log, "_last_checkpoint")
        self.store.put_atomic(
            ptr,
            json.dumps(
                {"version": version, "size": len(rows)}
            ).encode(),
        )


class DeltaStandardSink:
    """The :class:`~kafka_delta_ingest_spark.sinks.base.Sink` over
    :class:`DeltaStandardWriter`: the default ingest destination
    (``IngestOptions.log_format == "delta"``) and the DLQ table. The
    output is a standard ``_delta_log`` table any Delta reader
    consumes — the reference daemon's whole value proposition (Kafka →
    a Delta table, README.adoc:3-5), with the exactly-once ledger in
    the protocol's own ``txn`` actions (src/delta_helpers.rs:15-40).
    """

    def __init__(self, path: str):
        self.path = path
        self.w = DeltaStandardWriter(path)

    def snapshot(self) -> dict:
        st = self.w._py_replay()
        return {
            "txn": st["txn"],
            "version": self.w.latest_version(),
            "metaData": st["meta"],
        }

    def table_schema(self):
        st = self.w._py_replay()
        if st["meta"] is None:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(
            json.loads(st["meta"]["schemaString"])
        )

    def write_batch(self, df, partition_by=None, txn=None) -> CommitResult:
        version, adds = self.w.write_adds(
            df, mode="append", partition_by=partition_by or None,
            txn=txn or {},
        )
        if not adds:
            # replay-skip (txn already stored) or empty batch
            return CommitResult(version, 0, 0, skipped=True)
        return CommitResult(
            version,
            len(adds),
            sum(json.loads(a["stats"])["numRecords"] for a in adds),
            num_bytes=sum(a["size"] for a in adds),
        )

    def commit_offsets(self, txn: dict[str, int]) -> int:
        """Ledger entries alone, as ``txn`` actions (the reference's
        ``write_offsets_to_delta``, src/offsets.rs:52-101)."""
        return self.w._atomic_commit([], operation="SET TRANSACTION", txn=txn)

    def read(self, spark, as_of=None):
        return read_delta(spark, self.path, version=as_of)

    def optimize(self, spark, target_file_bytes: int = 134_217_728,
                 **_kwargs):
        return self.w.optimize(spark, target_file_bytes)


def table_changes(spark, table_path: str, start_version: int,
                  end_version: int | None = None):
    """Change Data Feed over a STANDARD ``_delta_log`` table: one row
    per change in ``[start_version, end_version]`` with
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``
    meta columns — the surface ``table_changes()`` exposes in
    delta-spark.

    Per commit: explicit ``cdc`` actions win (their parquet files
    carry ``_change_type``, including ``update_preimage``/
    ``update_postimage``); otherwise changes DERIVE from the data
    actions — adds with ``dataChange`` are inserts, removes with
    ``dataChange`` are deletes of the removed file's rows (readable
    until VACUUM, exactly delta-spark's derivation). Commits whose
    actions all carry ``dataChange=false`` (OPTIMIZE, clustering,
    DV re-adds) contribute nothing. A DV DELETE without a cdc action
    raises: its change set is the DV diff, which only the writer
    knows — enable CDF on the writer instead.

    Scale: one parquet scan per contributing commit, unioned — the
    cost is the changed data, never a table scan."""
    from pyspark.sql import functions as F

    log = _log_path(table_path)
    store = get_log_store(table_path)
    last = _resolve_version(log, store)
    if end_version is None:
        end_version = last
    state = _replay(log, min(end_version, last), store)
    logical, rename, part_cols, _id_mode, _rf = _schema_mapping(
        state["meta"]
    )
    if part_cols and rename:
        raise ValueError(
            "table_changes on column-mapped partitioned tables is "
            "not supported here"
        )

    def _abs(p: str) -> str:
        p = urllib.parse.unquote(p)
        if p.startswith("file:"):
            p = p[len("file:"):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    data_fields = [f for f in logical.fields if f.name not in part_cols]
    from pyspark.sql.types import StructType

    read_schema = StructType(data_fields)
    out = None
    for v in _commit_versions(log, store):
        if v < start_version or v > end_version:
            continue
        cdc_paths, add_paths, rm_paths = [], [], []
        ts = None
        dv_delete = False
        for act in _commit_actions(log, v, store):
            if "commitInfo" in act:
                ts = act["commitInfo"].get("timestamp")
            elif "cdc" in act:
                cdc_paths.append(act["cdc"]["path"])
            elif "add" in act:
                if act["add"].get("dataChange", True):
                    add_paths.append(act["add"]["path"])
                elif act["add"].get("deletionVector"):
                    dv_delete = True
            elif "remove" in act:
                if act["remove"].get("dataChange", True):
                    rm_paths.append(act["remove"]["path"])
        frames = []
        if cdc_paths:
            cdc_schema = StructType(
                list(read_schema.fields)
                + [f for f in logical.fields if f.name in part_cols]
            ).add("_change_type", "string")
            cdf = spark.read.schema(cdc_schema)
            if part_cols:
                cdf = cdf.option("basePath", table_path)
            frames.append(cdf.parquet(*[_abs(p) for p in cdc_paths]))
        else:
            if dv_delete:
                raise ValueError(
                    f"commit {v} deletes rows via deletion vectors "
                    "without cdc actions — the change set is not "
                    "derivable; enable CDF on the writer"
                )

            def _scan(paths):
                full = StructType(
                    list(read_schema.fields)
                    + [f for f in logical.fields if f.name in part_cols]
                )
                r = spark.read.schema(full)
                if part_cols:
                    r = r.option("basePath", table_path)
                return r.parquet(*[_abs(p) for p in paths])

            if add_paths:
                frames.append(
                    _scan(add_paths).withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            if rm_paths:
                frames.append(
                    _scan(rm_paths).withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
        for fr in frames:
            fr = fr.withColumn(
                "_commit_version", F.lit(v).cast("long")
            ).withColumn(
                "_commit_timestamp",
                F.lit(ts).cast("long"),
            )
            out = fr if out is None else out.unionByName(
                fr, allowMissingColumns=True
            )
    if out is None:
        raise ValueError(
            f"no changes in versions [{start_version}, {end_version}]"
        )
    return out


def delta_history(table_path: str) -> list[dict]:
    """(version, operation, timestamp) per commit — DESCRIBE HISTORY
    for standard-layout tables."""
    log = _log_path(table_path)
    store = get_log_store(table_path)
    out = []
    for v in _commit_versions(log, store):
        info = next(
            (
                a["commitInfo"]
                for a in _commit_actions(log, v, store)
                if "commitInfo" in a
            ),
            {},
        )
        out.append({"version": v, "operation": info.get("operation"),
                    "timestamp": info.get("timestamp")})
    return out
