"""Delta-style transactional sink over Hive-partitioned parquet.

The reference commits parquet files to a Delta table together with
per-Kafka-partition ``txn`` offset actions for end-to-end exactly-once
(reference src/delta_helpers.rs:15-40, src/lib.rs:966-1024). On a
cluster with the delta-spark package installed, Spark's Delta sink with
``txnAppId``/``txnVersion`` gives all of this natively. This module
provides the same *semantics* without the Delta jars: an append-only
JSON action log over a partitioned parquet directory, mirroring the Delta protocol's
shape:

* versioned commits ``_kdi_log/<%020d>.json`` — JSON-lines of
  ``commitInfo`` / ``txn`` / ``add`` actions;
* ``txn`` actions ``{appId: "<app_id>-<partition>", version: <offset>}``
  (reference src/delta_helpers.rs:29-40) enable idempotent replay: a
  batch whose offsets are already recorded is skipped
  (src/lib.rs:1087-1100 ``should_process_offset``);
* per-file stats (numRecords, minValues, maxValues, nullCount) decoded
  from parquet footers — the reference computes these in
  src/writer.rs:657-1076; we read them back from the files the
  vectorized parquet writer already produced;
* optimistic-concurrency commit: atomic O_EXCL create of the next
  version file, retry on conflict (src/lib.rs:966-1024);
* checkpoint every 10th version (src/delta_helpers.rs:42-68):
  consolidated state + ``_last_checkpoint`` pointer so the log scan is
  O(10) regardless of table age.

Data files are written by Spark's native parquet writer (snappy,
Hive-style ``k=v`` dirs, ``__HIVE_DEFAULT_PARTITION__`` for nulls —
reference src/writer.rs:504-543 builds these paths by hand) into a
staging dir, then moved into the table root and recorded in the log.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from kafka_delta_ingest_spark.sinks.base import (
    CommitResult,
    ConstraintViolation,
    _parquet_stats,
    already_applied,
    promote_staging,
    zorder_value,
)

LOG_DIR = "_kdi_log"
CHECKPOINT_EVERY = 10  # reference src/delta_helpers.rs:46
MAX_COMMIT_ATTEMPTS = 100_000  # reference uses 10M (src/lib.rs:74-75)


class CommitConflict(RuntimeError):
    pass


class ConcurrentDeleteDelete(CommitConflict):
    """Another commit already removed a file this rewrite also removes.

    Mirrors Delta's ConcurrentDeleteDeleteException (and the reference's
    conflict loop, src/lib.rs:966-1024): the rewrite was derived from a
    snapshot that no longer describes those files, so blindly committing
    would re-add rows the other writer deleted (silent row resurrection)
    or double-apply a compaction. The caller must re-read the new
    snapshot and recompute."""


def _bloom_canon(v) -> str:
    """Canonical string form hashed into blooms — MUST be identical on
    the build side (pandas values) and the probe side (python literals),
    or every lookup degenerates to keep-the-file."""
    if isinstance(v, bool):
        return "true" if v else "false"
    try:  # numpy integer scalars stringify with their dtype otherwise
        import numpy as _np

        if isinstance(v, _np.integer):
            return str(int(v))
    except ImportError:
        pass
    return str(v)


def _bloom_positions(value, m: int, k: int) -> list[int]:
    import hashlib

    canon = _bloom_canon(value)
    return [
        int.from_bytes(
            hashlib.md5(f"{i}:{canon}".encode()).digest()[:8], "big"
        )
        % m
        for i in range(k)
    ]


def _bloom_might_contain(bloom: dict, value) -> bool:
    import base64

    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[p // 8] & (1 << (p % 8))
        for p in _bloom_positions(value, bloom["m"], bloom["k"])
    )


def _bloom_pass(
    spark: SparkSession, staging: str, cols: list[str], m: int, k: int
) -> dict[str, dict]:
    """Per-file bloom bitmaps for ``cols`` over every staged parquet
    file, keyed by file basename (promotion preserves basenames).

    Distributed: one grouped-map pass keyed by input file — the
    rewritten data shuffles once by filename, each task folds its
    file's distinct values into an ``m``-bit bitmap. Only the bitmaps
    (one small row per file x column) ever reach the driver.
    """
    import base64

    import pandas as pd
    from pyspark.sql import functions as F

    df = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(staging)
        .select(F.input_file_name().alias("_f"), *cols)
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        fname = os.path.basename(pdf["_f"].iloc[0])
        rows = []
        for c in cols:
            bits = bytearray((m + 7) // 8)  # ceil: bit m-1 must exist
            for v in pdf[c].dropna().unique():
                for p in _bloom_positions(v, m, k):
                    bits[p // 8] |= 1 << (p % 8)
            rows.append((fname, c, base64.b64encode(bytes(bits)).decode()))
        return pd.DataFrame(rows, columns=["file", "col", "b64"])

    out = df.groupBy("_f").applyInPandas(build, "file string, col string, b64 string")
    blooms: dict[str, dict] = {}
    for r in out.collect():  # one row per (file, column) — driver-scalar
        blooms.setdefault(r.file, {})[r.col] = {"m": m, "k": k, "b64": r.b64}
    return blooms


class DeltaLikeTable:
    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.log_path = os.path.join(self.path, LOG_DIR)
        os.makedirs(self.log_path, exist_ok=True)

    # -- log state ---------------------------------------------------------

    def _version_file(self, v: int) -> str:
        return os.path.join(self.log_path, f"{v:020d}.json")

    def latest_version(self) -> int:
        versions = [
            int(f[:20])
            for f in os.listdir(self.log_path)
            if f.endswith(".json") and f[:20].isdigit()
        ]
        return max(versions, default=-1)

    def _read_checkpoint(self) -> tuple[int, dict]:
        ptr = os.path.join(self.log_path, "_last_checkpoint")
        if not os.path.exists(ptr):
            return -1, {"txn": {}, "files": [], "metaData": None}
        with open(ptr) as f:
            v = json.load(f)["version"]
        with open(os.path.join(self.log_path, f"checkpoint.{v:020d}.json")) as f:
            state = json.load(f)
        state.setdefault("metaData", None)
        return v, state

    def snapshot(self, as_of: int | None = None) -> dict:
        """Consolidated table state: txn app versions + live files.

        ``as_of`` replays the log only through that version — time
        travel. The replay starts from version 0 (checkpoints hold only
        the LATEST consolidated state); version files below a checkpoint
        are never deleted by ``_checkpoint``, so every historical
        version stays reconstructable until ``vacuum`` reclaims its
        data files.
        """
        if as_of is None:
            cp_version, state = self._read_checkpoint()
        else:
            cp_version, state = -1, {"txn": {}, "files": [], "metaData": None}
        txn = dict(state["txn"])
        files = list(state["files"])
        meta = state.get("metaData")
        removed: set[str] = set(state.get("removed", []))
        v = cp_version + 1
        while os.path.exists(self._version_file(v)) and (
            as_of is None or v <= as_of
        ):
            with open(self._version_file(v)) as f:
                for line in f:
                    action = json.loads(line)
                    if "txn" in action:
                        txn[action["txn"]["appId"]] = action["txn"]["version"]
                    elif "add" in action:
                        files.append(action["add"])
                        removed.discard(action["add"]["path"])
                    elif "remove" in action:
                        removed.add(action["remove"]["path"])
                    elif "metaData" in action:
                        meta = action["metaData"]
            v += 1
        if as_of is not None and v - 1 < as_of:
            raise ValueError(
                f"version {as_of} does not exist (latest is {v - 1})"
            )
        return {
            "version": v - 1,
            "txn": txn,
            "files": files,
            "metaData": meta,
            "removed": removed,
        }

    def txn_version(self, app_id: str) -> int | None:
        """Last committed version for an appId — the reference's
        ``last_txn_version`` (src/delta_helpers.rs:70-72)."""
        return self.snapshot()["txn"].get(app_id)

    def table_schema(self):
        """Declared table schema (StructType) from the latest metaData
        action, or None for an empty table — the reference reads this
        from ``_delta_log`` at startup and AFTER EVERY file write to
        detect runtime evolution (src/writer.rs:340-350, 370-387)."""
        meta = self.snapshot()["metaData"]
        if not meta:
            return None
        from pyspark.sql.types import StructType as _St

        return _St.fromJson(json.loads(meta["schemaString"]))

    def evolve_schema(self, schema, partition_by: list[str] | None = None) -> int:
        """Commit a new metaData action (ALTER TABLE ADD COLUMNS
        analog). Writers pick it up on their next batch
        (reference tests/schema_update_tests.rs:23-113).

        Guards (each a silent-corruption vector otherwise):

        * omitting ``partition_by`` KEEPS the current partitioning — it
          never silently resets a partitioned table to unpartitioned;
        * changing partition columns on a table with live files is
          refused (old and new directory layouts would mix under one
          root and confuse partition discovery — rewrite via a deep
          ``clone_to`` instead), matching Delta, which also requires a
          rewrite to repartition;
        * changing an existing column's TYPE is refused (readers union
          old and new files with mergeSchema, which cannot reconcile
          differing physical parquet types) — add a new column and
          backfill, or rewrite.
        """
        return self._ddl_retry(
            lambda: self._evolve_schema_once(schema, partition_by)
        )

    def _evolve_schema_once(self, schema, partition_by=None) -> int:
        snap = self.snapshot()
        meta = snap["metaData"]
        cur_parts = (meta or {}).get("partitionColumns", [])
        if partition_by is None:
            partition_by = list(cur_parts)
        if meta and list(partition_by) != list(cur_parts) and self._live_files(snap):
            raise ValueError(
                f"changing partition columns {cur_parts} -> "
                f"{list(partition_by)} on a non-empty table would mix "
                f"directory layouts; rewrite via clone_to(shallow=False)"
            )
        if meta:
            old_types = {
                f["name"]: f["type"]
                for f in json.loads(meta["schemaString"])["fields"]
            }
            new_fields = json.loads(schema.json())["fields"]
            for f in new_fields:
                if f["name"] in old_types and old_types[f["name"]] != f["type"]:
                    raise ValueError(
                        f"column {f['name']!r}: type change "
                        f"{old_types[f['name']]!r} -> {f['type']!r} cannot "
                        f"be applied to already-written files; add a new "
                        f"column and backfill, or rewrite the table"
                    )
            # Refuse schemas that OMIT an existing column: accepting one
            # would remove the column WITHOUT a DROPPED_PREFIX tombstone,
            # so a later re-add of the same name passes
            # _physical_conflicts and resurrects the old files' stale
            # bytes as the new column's values — the exact corruption
            # drop_column's tombstone exists to prevent.
            new_names = {f["name"] for f in new_fields}
            missing = sorted(n for n in old_types if n not in new_names)
            if missing:
                raise ValueError(
                    f"evolved schema omits existing column(s) {missing}; "
                    f"schema evolution is add-only — use drop_column() to "
                    f"remove a column (it tombstones the physical name so "
                    f"the name can never silently resurrect old bytes)"
                )
            added = [
                f["name"] for f in new_fields if f["name"] not in old_types
            ]
            bad = self._physical_conflicts(meta, added)
            if bad:
                raise ValueError(
                    f"new column(s) {bad} collide with a physical parquet "
                    f"name still present in old files (renamed or dropped "
                    f"column); pick different names or rewrite the table"
                )
        return self._commit(
            [
                {
                    "commitInfo": {
                        "operation": "CHANGE SCHEMA",
                        "timestamp": int(time.time() * 1000),
                    }
                },
                {
                    "metaData": {
                        "schemaString": schema.json(),
                        "partitionColumns": list(partition_by),
                        # Preserve table configuration (CHECK constraints
                        # live under delta.constraints.*) across schema
                        # evolution — a metaData action REPLACES state.
                        "configuration": (meta or {}).get("configuration", {}),
                    }
                },
            ],
            expected_version=snap["version"],
        )

    # -- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT parity) -------

    def constraints(self, snap: dict | None = None) -> dict[str, str]:
        """name → SQL expression, from the metaData configuration under
        Delta's own key convention (``delta.constraints.<name>``)."""
        meta = (snap or self.snapshot())["metaData"]
        cfg = (meta or {}).get("configuration", {})
        prefix = "delta.constraints."
        return {
            k[len(prefix):]: v for k, v in cfg.items() if k.startswith(prefix)
        }

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT <name> CHECK (<expr>).

        Existing rows are validated first (Delta scans the table before
        accepting a constraint); a violating table rejects the DDL."""
        snap = self.snapshot()
        meta = snap["metaData"]
        if meta is None:
            raise ValueError("table has no schema yet")
        if name in self.constraints(snap):
            raise ValueError(f"constraint {name!r} already exists")
        from pyspark.sql import functions as _F

        existing = self._frame_for(spark, snap, self._live_files(snap))
        n_bad = existing.filter(
            ~_F.coalesce(_F.expr(expr), _F.lit(True))
        ).count()
        if n_bad:
            raise ConstraintViolation(
                f"cannot add constraint {name!r}: {n_bad} existing row(s) "
                f"violate CHECK ({expr})"
            )
        def mutate(cfg, _meta):
            if f"delta.constraints.{name}" in cfg:
                raise ValueError(f"constraint {name!r} already exists")
            cfg[f"delta.constraints.{name}"] = expr
            return cfg

        return self._update_config(f"ADD CONSTRAINT {name}", mutate)

    def drop_constraint(self, name: str) -> int:
        snap = self.snapshot()
        meta = snap["metaData"]
        key = f"delta.constraints.{name}"
        if meta is None or key not in (meta.get("configuration") or {}):
            raise ValueError(f"no such constraint: {name!r}")
        def mutate(cfg, _meta):
            if key not in cfg:
                raise ValueError(f"no such constraint: {name!r}")
            del cfg[key]
            return cfg

        return self._update_config(f"DROP CONSTRAINT {name}", mutate)

    def _commit_meta_config(
        self,
        meta: dict,
        cfg: dict,
        operation: str,
        expected_version: int | None = None,
    ) -> int:
        return self._commit(
            [
                {
                    "commitInfo": {
                        "operation": operation,
                        "timestamp": int(time.time() * 1000),
                    }
                },
                {
                    "metaData": {
                        "schemaString": meta["schemaString"],
                        "partitionColumns": meta.get("partitionColumns", []),
                        "configuration": cfg,
                    }
                },
            ],
            expected_version=expected_version,
        )

    def _update_config(self, operation: str, mutate) -> int:
        """Compare-and-set configuration change: re-derive the config
        from a FRESH snapshot each attempt and commit at exactly
        snapshot+1, so two racing DDLs (e.g. concurrent ADD CONSTRAINT
        a / ADD CONSTRAINT b) merge instead of the loser silently
        erasing the winner's change with its stale full-replacement
        metaData."""
        last: Exception | None = None
        for _ in range(MAX_COMMIT_ATTEMPTS):
            snap = self.snapshot()
            meta = snap["metaData"]
            if meta is None:
                raise ValueError("table has no schema yet")
            cfg = mutate(dict(meta.get("configuration") or {}), meta)
            try:
                return self._commit_meta_config(
                    meta, cfg, operation, expected_version=snap["version"]
                )
            except CommitConflict as ex:
                last = ex
        raise CommitConflict(f"{operation}: lost every metadata race") from last

    def _ddl_retry(self, attempt) -> int:
        """Bounded retry for schema-changing DDL: each attempt
        re-derives from a fresh snapshot and commits compare-and-set
        (expected_version), so racing commits can never be silently
        overwritten by a stale metaData replacement."""
        last: Exception | None = None
        for _ in range(MAX_COMMIT_ATTEMPTS):
            try:
                return attempt()
            except CommitConflict as ex:
                last = ex
        raise CommitConflict("DDL lost every metadata race") from last

    # -- column mapping (Delta columnMapping.mode=name parity) -------------

    COLMAP_MODE_KEY = "delta.columnMapping.mode"
    COLMAP_PREFIX = "kdi.colmap."

    def _colmap(self, snap: dict | None = None) -> dict[str, str]:
        """logical → physical column names, only the entries that
        differ (identity mappings are dropped so the no-rename fast
        path costs nothing)."""
        meta = (snap or self.snapshot()).get("metaData")
        cfg = (meta or {}).get("configuration") or {}
        p = self.COLMAP_PREFIX
        return {
            k[len(p):]: v
            for k, v in cfg.items()
            if k.startswith(p) and v != k[len(p):]
        }

    @staticmethod
    def _rename_cols(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        for a, b in mapping.items():
            if a in df.columns:
                df = df.withColumnRenamed(a, b)
        return df

    def _phys_preds(
        self, predicates: list[tuple] | None, cm: dict[str, str]
    ) -> list[tuple] | None:
        """Predicates arrive under LOGICAL names; stats, partition
        values, and blooms are keyed by PHYSICAL names on disk."""
        if not predicates or not cm:
            return predicates
        return [(cm.get(p[0], p[0]), *p[1:]) for p in predicates]

    def enable_column_mapping(self) -> int:
        """SET TBLPROPERTIES (delta.columnMapping.mode = name).

        Every existing column's physical name is frozen at its current
        logical name; from here on ``rename_column`` changes only the
        LOGICAL name — files, stats, and partition directories keep the
        physical name forever, so a rename is one metaData commit on a
        100 TB table, zero data rewritten (Delta's name-mode column
        mapping)."""
        def mutate(cfg, meta):
            cfg[self.COLMAP_MODE_KEY] = "name"
            from pyspark.sql.types import StructType as _St

            for f in _St.fromJson(json.loads(meta["schemaString"])).fields:
                cfg.setdefault(self.COLMAP_PREFIX + f.name, f.name)
            return cfg

        return self._update_config("SET TBLPROPERTIES", mutate)

    DROPPED_PREFIX = "kdi.droppedcol."

    def _physical_conflicts(self, meta: dict | None, names) -> list[str]:
        """Which of ``names`` collide with a PHYSICAL parquet column
        already in use by a renamed column or left behind by a dropped
        one. Introducing such a logical column would read the old
        files' stale bytes as the new column's values (resurrection) or
        produce duplicate columns after the rename pass."""
        cfg = (meta or {}).get("configuration") or {}
        in_use = {
            v for k, v in cfg.items() if k.startswith(self.COLMAP_PREFIX)
        }
        dropped = {
            k[len(self.DROPPED_PREFIX):]
            for k in cfg
            if k.startswith(self.DROPPED_PREFIX)
        }
        return sorted(n for n in names if n in in_use or n in dropped)

    def _refuse_referenced(self, snap: dict, name: str, what: str) -> None:
        refs = {**self.constraints(snap), **self.generated_columns(snap)}
        offenders = [
            n
            for n, expr in refs.items()
            if re.search(rf"\b{re.escape(name)}\b", expr)
        ]
        gen_cols = [
            g for g in self.generated_columns(snap) if g == name
        ]
        if offenders or gen_cols:
            raise ValueError(
                f"cannot {what} column {name!r}: referenced by "
                f"{sorted(set(offenders + gen_cols))}"
            )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE ... RENAME COLUMN old TO new — metadata only.

        Requires column mapping (auto-enabled on first rename). The
        physical name is carried over, so every already-written file
        stays valid; refuses if a CHECK constraint or generated-column
        expression references the old name (they are stored as SQL text
        and would silently break — same restriction real Delta
        enforces)."""
        return self._ddl_retry(lambda: self._rename_column_once(old, new))

    def _rename_column_once(self, old: str, new: str) -> int:
        snap = self.snapshot()
        meta = snap["metaData"]
        if meta is None:
            raise ValueError("table has no schema yet")
        cfg = dict((meta.get("configuration") or {}))
        if cfg.get(self.COLMAP_MODE_KEY) != "name":
            self.enable_column_mapping()
            snap = self.snapshot()
            meta = snap["metaData"]
            cfg = dict(meta.get("configuration") or {})
        schema = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        own_phys = cfg.get(self.COLMAP_PREFIX + old, old)
        bad = [
            n for n in self._physical_conflicts(meta, [new]) if n != own_phys
        ]
        if bad:
            raise ValueError(
                f"cannot rename to {new!r}: it is the physical parquet "
                f"name of another (renamed or dropped) column still "
                f"present in old files"
            )
        self._refuse_referenced(snap, old, "rename")
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        physical = cfg.pop(self.COLMAP_PREFIX + old, old)
        cfg[self.COLMAP_PREFIX + new] = physical
        parts = [
            new if c == old else c for c in meta.get("partitionColumns", [])
        ]
        return self._commit(
            [
                {
                    "commitInfo": {
                        "operation": f"RENAME COLUMN {old} TO {new}",
                        "timestamp": int(time.time() * 1000),
                    }
                },
                {
                    "metaData": {
                        "schemaString": json.dumps(schema),
                        "partitionColumns": parts,
                        "configuration": cfg,
                    }
                },
            ],
            expected_version=snap["version"],
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE ... DROP COLUMN — metadata only: the field
        leaves the schema (readers prune it via the schema select);
        bytes stay in the files until files are rewritten. Partition
        columns and columns referenced by constraints/generated
        expressions are refused."""
        return self._ddl_retry(lambda: self._drop_column_once(name))

    def _drop_column_once(self, name: str) -> int:
        snap = self.snapshot()
        meta = snap["metaData"]
        if meta is None:
            raise ValueError("table has no schema yet")
        if name in (meta.get("partitionColumns") or []):
            raise ValueError(f"cannot drop partition column {name!r}")
        self._refuse_referenced(snap, name, "drop")
        schema = json.loads(meta["schemaString"])
        if name not in [f["name"] for f in schema["fields"]]:
            raise ValueError(f"no such column: {name!r}")
        schema["fields"] = [
            f for f in schema["fields"] if f["name"] != name
        ]
        cfg = dict((meta.get("configuration") or {}))
        phys = cfg.pop(self.COLMAP_PREFIX + name, name)
        # Tombstone the physical name: old files still carry its bytes,
        # and a later column re-using this name would silently read
        # them back as its own values.
        cfg[self.DROPPED_PREFIX + phys] = "true"
        return self._commit(
            [
                {
                    "commitInfo": {
                        "operation": f"DROP COLUMN {name}",
                        "timestamp": int(time.time() * 1000),
                    }
                },
                {
                    "metaData": {
                        "schemaString": json.dumps(schema),
                        "partitionColumns": meta.get("partitionColumns", []),
                        "configuration": cfg,
                    }
                },
            ],
            expected_version=snap["version"],
        )

    def generated_columns(self, snap: dict | None = None) -> dict[str, str]:
        """column → generation expression (Delta generated-column
        analog; stored under ``kdi.generated.<col>`` configuration
        keys — real Delta tucks the expression into schema-field
        metadata, same contract)."""
        meta = (snap or self.snapshot())["metaData"]
        cfg = (meta or {}).get("configuration", {})
        prefix = "kdi.generated."
        return {
            k[len(prefix):]: v for k, v in cfg.items() if k.startswith(prefix)
        }

    def set_generated_column(self, name: str, expr: str) -> int:
        """Declare ``name`` as GENERATED ALWAYS AS (<expr>).

        Writers may omit the column (it is computed in-flight, the
        classic derived-date-partition pattern) or supply it — in which
        case the supplied value must equal the expression, enforced
        like a CHECK constraint."""
        snap = self.snapshot()
        meta = snap["metaData"]
        if meta is None:
            raise ValueError("table has no schema yet")
        def mutate(cfg, _meta):
            cfg[f"kdi.generated.{name}"] = expr
            return cfg

        return self._update_config(f"SET GENERATED COLUMN {name}", mutate)

    def _apply_generated(self, df: DataFrame, snap: dict) -> DataFrame:
        """Compute missing generated columns; validate supplied ones."""
        gen = self.generated_columns(snap)
        if not gen:
            return df
        from pyspark.sql import functions as _F

        checks = {}
        for name, expr in gen.items():
            if name in df.columns:
                checks[f"generated column {name}"] = (
                    f"({name}) <=> ({expr})"  # null-safe equality
                )
            else:
                df = df.withColumn(name, _F.expr(expr))
        if checks:
            counts = df.agg(
                *[
                    _F.sum(
                        (~_F.expr(e)).cast("long")
                    ).alias(str(i))
                    for i, e in enumerate(checks.values())
                ]
            ).collect()[0]
            names = list(checks)
            bad = {
                names[i]: counts[str(i)]
                for i in range(len(names))
                if (counts[str(i)] or 0) > 0
            }
            if bad:
                detail = "; ".join(
                    f"{n}: {c} supplied row(s) differ from the generation "
                    f"expression" for n, c in bad.items()
                )
                raise ConstraintViolation(detail)
        return df

    def _enforce_constraints(self, df: DataFrame, snap: dict) -> None:
        """Fail the transaction if any incoming row violates a CHECK
        constraint (expression FALSE; NULL satisfies). One aggregate
        pass counts every constraint's violations together."""
        cons = self.constraints(snap)
        if not cons:
            return
        from pyspark.sql import functions as _F

        counts = df.agg(
            *[
                _F.sum(
                    (~_F.coalesce(_F.expr(e), _F.lit(True))).cast("long")
                ).alias(n)
                for n, e in cons.items()
            ]
        ).collect()[0]
        bad = {n: counts[n] for n in cons if (counts[n] or 0) > 0}
        if bad:
            detail = "; ".join(
                f"{n}: {c} row(s) violate CHECK ({cons[n]})"
                for n, c in bad.items()
            )
            raise ConstraintViolation(detail)

    # -- write path --------------------------------------------------------

    def write_batch(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: dict[str, int] | None = None,
        operation: str = "STREAMING UPDATE",
    ) -> CommitResult:
        """Append ``df`` and commit atomically with ``txn`` actions.

        ``txn`` maps appId → version (e.g. ``{"app-0": 1042}`` per Kafka
        partition). If EVERY supplied appId is already at-or-beyond its
        version in the log, the write is skipped (idempotent replay —
        reference src/offsets.rs:36-102 + src/lib.rs:1087-1100).
        Empty batches never commit (src/lib.rs:902-904).
        """
        txn = txn or {}
        snap = self.snapshot()
        if already_applied(snap["txn"], txn):
            return CommitResult(snap["version"], 0, 0, skipped=True)
        if partition_by is None and snap["metaData"]:
            # Inherit the table's declared partitioning (Delta writers
            # always do) — a layout-mixing unpartitioned append into a
            # partitioned table confuses directory-based reads.
            partition_by = snap["metaData"].get("partitionColumns") or []
        df = self._apply_generated(df, snap)
        self._enforce_constraints(df, snap)

        # Column mapping: files, stats, and partition directories are
        # written under PHYSICAL names; the frame stays logical until
        # this point (no-op when no rename ever happened).
        cm = self._colmap(snap)
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        writer = self._rename_cols(df, cm).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*[cm.get(c, c) for c in partition_by])
        writer.parquet(staging)

        adds = promote_staging(staging, self.path, int(time.time() * 1000))
        if not adds:
            return CommitResult(self.latest_version(), 0, 0, skipped=True)

        actions = [
            {
                "commitInfo": {
                    "operation": operation,
                    "timestamp": int(time.time() * 1000),
                    "operationParameters": {"partitionBy": partition_by or []},
                }
            }
        ]
        if snap["metaData"] is None:
            # First commit records the table schema (Delta's metaData
            # action) so readers restore exact types for partition
            # columns instead of re-inferring them from directory names.
            actions.append(
                {
                    "metaData": {
                        "schemaString": df.schema.json(),
                        "partitionColumns": partition_by or [],
                    }
                }
            )
        actions += [{"txn": {"appId": a, "version": v}} for a, v in txn.items()]
        actions += [{"add": a} for a in adds]
        version = self._commit(actions)
        if version % CHECKPOINT_EVERY == 0 and version > 0:
            self._checkpoint(version)
        n_records = sum(a["stats"]["numRecords"] for a in adds)
        return CommitResult(
            version, len(adds), n_records,
            num_bytes=sum(a["size"] for a in adds),
        )

    def _commit(
        self,
        actions: list[dict],
        read_version: int | None = None,
        remove_paths: set[str] | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Optimistic-concurrency commit (reference src/lib.rs:966-1024).

        Plain appends (``remove_paths`` empty/None) are always safe to
        land at the next free version — blind INSERTs never conflict
        under WriteSerializable, Delta's default isolation level.

        Rewrite commits (MERGE/DELETE/OPTIMIZE) pass the snapshot
        version they were computed from plus their remove set; before
        claiming a version slot, every log entry committed since that
        snapshot is checked for an overlapping remove. An overlap means
        another writer already rewrote (or tombstoned) one of our input
        files — committing anyway would resurrect its deleted rows —
        so the commit fails with :class:`ConcurrentDeleteDelete` and the
        caller recomputes from the fresh snapshot. Concurrent APPENDS do
        not conflict: the rewrite's predicate applies to the snapshot it
        read, and later-inserted rows survive, exactly Delta's
        WriteSerializable behavior.
        """
        payload = "\n".join(json.dumps(a) for a in actions) + "\n"
        if expected_version is not None:
            # Compare-and-set: metaData replacements (DDL) must land at
            # EXACTLY expected_version+1 — landing later would
            # overwrite configuration a racing commit just changed
            # (lost update). The caller re-derives from a fresh
            # snapshot and retries.
            version = expected_version + 1
            if self.latest_version() >= version:
                raise CommitConflict(
                    f"metadata commit expected version {version} but the "
                    f"log moved past it"
                )
            try:
                fd = os.open(
                    self._version_file(version),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                raise CommitConflict(
                    f"metadata commit lost the race for version {version}"
                ) from None
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            return version
        checked_through = read_version if read_version is not None else -1
        for _ in range(MAX_COMMIT_ATTEMPTS):
            version = self.latest_version() + 1
            if remove_paths and read_version is not None:
                for v in range(checked_through + 1, version):
                    with open(self._version_file(v)) as f:
                        for line in f:
                            a = json.loads(line).get("remove")
                            if a and a["path"] in remove_paths:
                                raise ConcurrentDeleteDelete(
                                    f"file {a['path']!r} was removed by "
                                    f"commit {v} after this rewrite read "
                                    f"version {read_version}"
                                )
                checked_through = version - 1
            try:
                fd = os.open(
                    self._version_file(version),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                continue  # another writer won this version; retry
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            return version
        raise CommitConflict("exhausted commit attempts")

    def _checkpoint(self, version: int) -> None:
        state = self.snapshot()
        # Checkpoints store only LIVE files (removes already applied) —
        # plus the metaData action: without it a post-checkpoint
        # snapshot would lose the declared schema and partition types
        # whenever no later metaData action exists.
        cp = {
            "txn": state["txn"],
            "files": self._live_files(state),
            "metaData": state["metaData"],
        }
        cp_file = os.path.join(self.log_path, f"checkpoint.{version:020d}.json")
        tmp = cp_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cp, f)
        os.replace(tmp, cp_file)
        with open(os.path.join(self.log_path, "_last_checkpoint.tmp"), "w") as f:
            json.dump({"version": version}, f)
        os.replace(
            os.path.join(self.log_path, "_last_checkpoint.tmp"),
            os.path.join(self.log_path, "_last_checkpoint"),
        )

    # -- compaction --------------------------------------------------------

    def optimize(
        self,
        spark: SparkSession,
        target_file_bytes: int = 134_217_728,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        bloom_for: list[str] | None = None,
        bloom_bits: int = 8192,
        bloom_hashes: int = 6,
        where: list[tuple] | None = None,
        incremental: bool = False,
    ) -> CommitResult:
        """Bin-pack small files into ~``target_file_bytes`` files,
        optionally clustering rows by ``cluster_by`` while rewriting.

        The reference reaches its 128 MiB ``min_bytes_per_file`` target
        by holding parquet writers open across record batches
        (reference doc/DESIGN.md:61-76, src/writer.rs:183-295). Spark's
        commit model closes files per micro-batch, so the idiomatic
        substitute (SURVEY §7.2) is periodic OPTIMIZE: read the live
        small files, rewrite coalesced, commit ``remove`` + ``add``
        actions atomically. Readers of any snapshot see exactly-one copy
        of every row.

        ``cluster_by`` is the Delta ZORDER/liquid-clustering analog:
        ``repartitionByRange`` + in-partition sort on the keys makes
        every rewritten file own a narrow disjoint min/max window, so
        reader-side data skipping (``files_for``) prunes point and
        range predicates on those columns to ~one file instead of all
        of them. With clustering, ALL live files are rewritten (the
        point is the global sort, not just packing the small ones).

        ``zorder_by`` is the multi-dimensional variant (Delta's
        OPTIMIZE ... ZORDER BY): rows sort by the Morton interleave of
        the columns' normalized ranks (``zorder_value``), so every
        output file gets a narrow min/max window on EVERY listed column
        at once — a lexicographic ``cluster_by`` bounds only the
        leading column, leaving predicates on the others unprunable.

        ``bloom_for`` additionally records an ``m``-bit bloom bitmap per
        rewritten file for each listed int/string column (Delta's bloom
        filter index analog): ``files_for`` then prunes ``=`` lookups on
        values a file provably does not contain, even when every file's
        min/max window spans the whole domain (high-cardinality ids in
        arrival order — the case clustering cannot fix without choosing
        that column). Size ``bloom_bits`` at ~10 bits per expected
        distinct value per file for ~1% false positives; a false
        positive only costs an extra file scan, never correctness.
        """
        if cluster_by and zorder_by:
            raise ValueError("optimize: cluster_by and zorder_by are exclusive")
        snap = self.snapshot()
        meta = snap["metaData"]
        partition_by = partition_by or (meta["partitionColumns"] if meta else [])
        removed = set()
        live = self._live_files(snap)
        if where:
            # OPTIMIZE ... WHERE <partition predicate>: scope the pass
            # to the files the predicate selects — on a 100 TB table
            # you compact/recluster one partition at a time, never the
            # world. Same (column, op, value) grammar as files_for;
            # conservative pruning keeps any file the stats can't clear.
            preds_p = self._phys_preds(list(where), self._colmap(snap))
            live = [f for f in live if not _file_excluded(f, preds_p)]
        keys = cluster_by or zorder_by
        cluster_tag = (
            {
                "mode": "zorder" if zorder_by else ("range" if keys else "bloom"),
                "keys": list(keys or []),
                "bloom": sorted(bloom_for or []),
            }
            if (keys or bloom_for)
            else None
        )
        if cluster_by or zorder_by or bloom_for:
            if incremental and cluster_tag:
                # Liquid-clustering-style incremental pass: only files
                # NOT already produced by an identical clustering pass
                # rewrite (appends since the last pass, DV'd files, or
                # files clustered under different keys). Already-
                # clustered files keep their narrow windows; each pass
                # adds its own narrowly-windowed generation, so a
                # predicate touches ~one file per pass instead of the
                # table — the only clustering discipline that survives
                # continuous ingest at 100 TB (a full re-sort per pass
                # does not).
                small = [
                    f
                    for f in live
                    if f.get("clusteredBy") != cluster_tag
                    or f.get("deletionVector")
                ]
            else:
                small = list(live)
        else:
            small = [
                f
                for f in live
                # DV'd files always rewrite: OPTIMIZE is how deletion
                # vectors get materialized away.
                if f["size"] < target_file_bytes or f.get("deletionVector")
            ]
        if not small or (
            len(small) < 2
            and not any(f.get("deletionVector") for f in small)
            # An incremental clustering pass rewrites even a single new
            # file — the point is its windows/blooms, not bin-packing.
            and not (incremental and cluster_tag)
        ):
            return CommitResult(snap["version"], 0, 0, skipped=True)
        total_bytes = sum(f["size"] for f in small)
        n_out = max(1, round(total_bytes / target_file_bytes))

        # Logical read (_frame_for): deletion vectors apply, so the
        # rewritten files carry surviving rows only — no descriptor.
        df = self._frame_for(spark, snap, small)
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        if cluster_by:
            from pyspark.sql import functions as _F

            keys = [_F.col(c) for c in cluster_by]
            shaped = df.repartitionByRange(n_out, *keys).sortWithinPartitions(*keys)
        elif zorder_by:
            shaped = (
                df.withColumn("_kdi_z", zorder_value(df, zorder_by))
                .repartitionByRange(n_out, "_kdi_z")
                .sortWithinPartitions("_kdi_z")
                .drop("_kdi_z")
            )
        else:
            shaped = df.coalesce(n_out)
        cm = self._colmap(snap)
        writer = self._rename_cols(shaped, cm).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*[cm.get(c, c) for c in partition_by])
        writer.parquet(staging)
        if bloom_for:
            types = dict(df.dtypes)
            for c in bloom_for:
                t = types.get(c)
                if t not in ("tinyint", "smallint", "int", "bigint", "string"):
                    raise ValueError(
                        f"bloom_for: column {c!r} has type {t}; only "
                        "int/string columns have a canonical hash form"
                    )
            # Bloom bitmaps key on the PHYSICAL name, same as stats.
            blooms = _bloom_pass(
                spark,
                staging,
                [cm.get(c, c) for c in bloom_for],
                bloom_bits,
                bloom_hashes,
            )
        else:
            blooms = {}
        adds = promote_staging(staging, self.path, int(time.time() * 1000))
        for a in adds:
            b = blooms.get(os.path.basename(a["path"]))
            if b:
                a["bloom"] = b
            if cluster_tag:
                # Clustered-state marker (liquid-clustering analog):
                # a later incremental pass skips files carrying an
                # identical tag.
                a["clusteredBy"] = cluster_tag
        removed = {f["path"] for f in small}
        actions = [
            {
                "commitInfo": {
                    "operation": "OPTIMIZE",
                    "timestamp": int(time.time() * 1000),
                    "operationParameters": {
                        "targetSize": target_file_bytes,
                        "numRemoved": len(removed),
                        "numAdded": len(adds),
                        "clusterBy": cluster_by or [],
                        "zOrderBy": zorder_by or [],
                        "bloomFor": bloom_for or [],
                        "where": [list(p) for p in (where or [])],
                        "incremental": bool(incremental),
                    },
                }
            }
        ]
        actions += [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": int(time.time() * 1000),
                    "dataChange": False,
                }
            }
            for p in sorted(removed)
        ]
        actions += [{"add": a} for a in adds]
        version = self._commit(
            actions, read_version=snap["version"], remove_paths=removed
        )
        if version % CHECKPOINT_EVERY == 0 and version > 0:
            self._checkpoint(version)
        # No physical deletion here: removed files become tombstones so
        # in-flight readers of older snapshots (and time travel) keep
        # working — exactly Delta's OPTIMIZE semantics. ``vacuum``
        # reclaims them after the retention window.
        n_records = sum(a["stats"]["numRecords"] for a in adds)
        return CommitResult(version, len(adds), n_records)

    def vacuum(
        self,
        spark=None,
        retention_ms: int = 7 * 24 * 3600 * 1000,
        dry_run: bool = False,
    ) -> list[str]:
        """Physically delete data files no longer referenced by the
        CURRENT snapshot and older than ``retention_ms`` (by mtime).
        ``dry_run=True`` returns what WOULD be reclaimed without
        touching anything (VACUUM ... DRY RUN).

        Mirrors Delta VACUUM: the walk covers tombstoned files AND
        orphans from aborted writes (staging dirs that never promoted);
        anything inside the retention window survives so concurrent
        readers of recent snapshots and short-horizon time travel keep
        working. After a vacuum, ``read(version=...)`` below the
        reclaimed horizon fails — the same trade Delta documents.
        Returns the deleted relative paths.
        """
        live_actions = self._live_files()
        live = {f["path"] for f in live_actions}
        cutoff = time.time() - retention_ms / 1000.0
        deleted: list[str] = []
        for root, dirs, names in os.walk(self.path):
            # _kdi_log, _staging-*: underscore-prefixed internals.
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            for name in names:
                if name.startswith("_") or name.startswith("."):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path)
                if rel in live:
                    continue
                try:
                    if os.path.getmtime(full) <= cutoff:
                        if not dry_run:
                            os.remove(full)
                        deleted.append(rel)
                except FileNotFoundError:
                    pass
        # Aborted-write orphans: a _staging-* dir that never promoted
        # (writer crashed between the parquet write and the commit).
        # Underscore dirs are pruned from the main walk, so they are
        # reclaimed explicitly — past retention, so a LIVE writer's
        # in-flight staging dir is never yanked out from under it.
        for name in os.listdir(self.path):
            if not name.startswith("_staging-"):
                continue
            full = os.path.join(self.path, name)
            try:
                if os.path.getmtime(full) <= cutoff:
                    if not dry_run:
                        shutil.rmtree(full, ignore_errors=True)
                    deleted.append(name)
            except FileNotFoundError:
                pass
        # Deletion-vector sidecars: a sidecar directory is reclaimable
        # once no LIVE add references it (e.g. OPTIMIZE materialized the
        # vector away) and it has aged past retention — same horizon
        # rule as data files, so recent-snapshot readers keep working.
        referenced = {
            f["deletionVector"]["storagePath"]
            for f in live_actions
            if f.get("deletionVector")
        }
        dv_root = os.path.join(self.path, "_kdi_dv")
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                rel = os.path.join("_kdi_dv", name)
                full = os.path.join(dv_root, name)
                if rel in referenced:
                    continue
                try:
                    if os.path.getmtime(full) <= cutoff:
                        if not dry_run:
                            shutil.rmtree(full, ignore_errors=True)
                        deleted.append(rel)
                except FileNotFoundError:
                    pass
        # Change-data files: a cdc file referenced by ANY committed
        # version backs ``table_changes`` history and lives as long as
        # the version files themselves (which this sink never deletes).
        # Unreferenced cdc files are orphans of commits that lost their
        # race — reclaimable past the same retention horizon.
        cdc_root = os.path.join(self.path, "_change_data")
        if os.path.isdir(cdc_root):
            referenced_cdc: set[str] = set()
            for v in range(0, self.latest_version() + 1):
                try:
                    with open(self._version_file(v)) as f:
                        for line in f:
                            a = json.loads(line).get("cdc")
                            if a:
                                referenced_cdc.add(a["path"])
                except FileNotFoundError:
                    continue
            for root, _dirs, names in os.walk(cdc_root, topdown=False):
                for name in names:
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, self.path)
                    if rel in referenced_cdc:
                        continue
                    try:
                        if os.path.getmtime(full) <= cutoff:
                            if not dry_run:
                                os.remove(full)
                            deleted.append(rel)
                    except FileNotFoundError:
                        pass
                if not dry_run:
                    try:
                        os.rmdir(root)  # only succeeds when fully drained
                    except OSError:
                        pass
        return sorted(deleted)

    # -- change data feed plumbing (Delta CDF parity) ----------------------

    CDF_KEY = "delta.enableChangeDataFeed"

    def enable_cdf(self) -> int:
        """SET TBLPROPERTIES (delta.enableChangeDataFeed = true).

        From the NEXT commit on, every row-mutating DML (UPDATE /
        DELETE / MERGE / RESTORE) also writes change-data files under
        ``_change_data/`` and records them as ``cdc`` actions — the
        exact action shape real Delta uses — so ``table_changes`` can
        answer row-level diffs without snapshot comparison. Append
        commits need no change files (their add files ARE the inserts),
        which is also Delta's behavior."""
        def mutate(cfg, _meta):
            cfg[self.CDF_KEY] = "true"
            return cfg

        return self._update_config("SET TBLPROPERTIES", mutate)

    def _cdf_enabled(self, snap: dict) -> bool:
        cfg = ((snap.get("metaData") or {}).get("configuration")) or {}
        return str(cfg.get(self.CDF_KEY, "")).lower() == "true"

    def _write_cdc(self, df: DataFrame, snap: dict | None = None) -> list[dict]:
        """Write a change frame (table columns + ``_change_type``) under
        ``_change_data/`` and return its ``cdc`` actions. The directory
        is underscore-prefixed so plain table reads never see it; only
        ``table_changes`` resolves cdc paths. Change files store
        PHYSICAL column names like data files, so they stay valid
        across later renames."""
        if snap is not None:
            df = self._rename_cols(df, self._colmap(snap))
        rel_dir = os.path.join("_change_data", f"cdc-{uuid.uuid4().hex}")
        out_dir = os.path.join(self.path, rel_dir)
        df.write.mode("overwrite").parquet(out_dir)
        actions = []
        for fname in sorted(os.listdir(out_dir)):
            if not fname.endswith(".parquet"):
                continue
            full = os.path.join(out_dir, fname)
            if _parquet_stats(full)["numRecords"] == 0:
                os.remove(full)
                continue
            actions.append(
                {
                    "cdc": {
                        "path": os.path.join(rel_dir, fname),
                        "partitionValues": {},
                        "size": os.path.getsize(full),
                        "dataChange": False,
                    }
                }
            )
        return actions

    def table_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change feed for ``(from_version, to_version]`` —
        the reader half of Delta CDF (``table_changes(...)`` TVF).

        Each returned row carries ``_change_type`` in
        ``insert | delete | update_preimage | update_postimage`` plus
        ``_commit_version``. Append commits stream their add files as
        inserts directly (no change files exist or are needed); DML
        commits stream their recorded ``cdc`` files. A data-changing
        DML commit in range that predates ``enable_cdf`` raises — the
        feed cannot be reconstructed for it, matching Delta's error.

        Incremental consumers poll this with a version cursor: cost
        tracks the change rate, never table size."""
        from pyspark.sql import functions as _F

        latest = self.latest_version()
        to_version = latest if to_version is None else to_version
        if to_version > latest:
            raise ValueError(f"version {to_version} does not exist")
        frames = []
        rewrite_ops = {"UPDATE", "DELETE", "MERGE", "RESTORE"}
        # Seed the pre-range metaData from the newest checkpoint at or
        # below from_version instead of replaying the log from 0 —
        # checkpoints land every CHECKPOINT_EVERY commits and persist,
        # so an incremental poll reads O(range + CHECKPOINT_EVERY) log
        # files, not O(table history). Without this, a 30-second poll
        # loop against a long-lived table re-opens every version file
        # ever written on every poll.
        start, meta = 0, None
        cp_candidates = [
            int(f[len("checkpoint."):-len(".json")])
            for f in os.listdir(self.log_path)
            if f.startswith("checkpoint.") and f.endswith(".json")
        ]
        usable = [v for v in cp_candidates if v <= from_version]
        if usable:
            cp_v = max(usable)
            with open(
                os.path.join(self.log_path, f"checkpoint.{cp_v:020d}.json")
            ) as f:
                meta = json.load(f).get("metaData")
            start = cp_v + 1
        # Physical names are the stable key across renames: every frame
        # is surfaced under the CURRENT logical names, whatever the
        # column was called when its commit landed.
        inv_cur = {v: k for k, v in self._colmap().items()}
        for v in range(start, to_version + 1):
            op, adds, cdcs, n_removes, cdf_on = None, [], [], 0, False
            with open(self._version_file(v)) as f:
                for line in f:
                    action = json.loads(line)
                    if "commitInfo" in action:
                        op = action["commitInfo"].get("operation")
                        cdf_on = bool(
                            (
                                action["commitInfo"].get(
                                    "operationParameters"
                                )
                                or {}
                            ).get("changeDataFeed")
                        )
                    elif "metaData" in action:
                        meta = action["metaData"]
                    elif "cdc" in action:
                        cdcs.append(action["cdc"])
                    elif "remove" in action and action["remove"].get(
                        "dataChange", True
                    ):
                        n_removes += 1
                    elif "add" in action and action["add"].get(
                        "dataChange", True
                    ):
                        adds.append(action["add"])
            if v <= from_version:
                continue
            if cdcs:
                # Change files store physical names; one inverse map
                # lands them on the current logical schema.
                cdf = self._rename_cols(
                    spark.read.parquet(
                        *[os.path.join(self.path, c["path"]) for c in cdcs]
                    ),
                    inv_cur,
                )
            elif op in rewrite_ops and (adds or n_removes):
                # A rewrite with adds OR data-changing removes (a DELETE
                # that drained whole files has removes only) mutated
                # rows. `changeDataFeed: true` in commitInfo means the
                # feed WAS on and the change set was simply empty (stats
                # matched files but no rows); without it the changes
                # were never recorded and the range is unanswerable.
                if cdf_on:
                    continue
                raise ValueError(
                    f"commit {v} ({op}) predates "
                    f"delta.enableChangeDataFeed; its row-level changes "
                    f"were not recorded"
                )
            elif adds and op != "OPTIMIZE":
                # _frame_for surfaces the commit-era logical names;
                # compose era-logical -> physical -> current-logical.
                era_cm = self._colmap({"metaData": meta})
                era_to_cur = {
                    l_era: inv_cur.get(phys, phys)
                    for l_era, phys in era_cm.items()
                }
                for phys, l_cur in inv_cur.items():
                    era_to_cur.setdefault(phys, l_cur)
                cdf = self._rename_cols(
                    self._frame_for(spark, {"metaData": meta}, adds),
                    era_to_cur,
                ).select("*", _F.lit("insert").alias("_change_type"))
            else:
                continue
            frames.append(
                cdf.withColumn("_commit_version", _F.lit(v).cast("long"))
            )
        if not frames:
            empty = self._frame_for(spark, self.snapshot(), [])
            return (
                empty.select(
                    "*",
                    _F.lit(None).cast("string").alias("_change_type"),
                    _F.lit(None).cast("long").alias("_commit_version"),
                )
            ).limit(0)
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf, allowMissingColumns=True)
        return out

    # -- history -----------------------------------------------------------

    def describe_history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY: one row per commit, newest first —
        version, timestamp, operation, operationParameters (JSON), and
        the commit's add/remove file counts. Pure log read, no data
        files touched; the audit surface Delta exposes for every table."""
        rows = []
        for v in range(self.latest_version(), -1, -1):
            op, params, ts, n_add, n_remove = None, {}, None, 0, 0
            with open(self._version_file(v)) as f:
                for line in f:
                    action = json.loads(line)
                    if "commitInfo" in action:
                        ci = action["commitInfo"]
                        op = ci.get("operation")
                        params = ci.get("operationParameters") or {}
                        ts = ci.get("timestamp")
                    elif "add" in action:
                        n_add += 1
                    elif "remove" in action:
                        n_remove += 1
            rows.append(
                (
                    v,
                    ts,
                    op,
                    json.dumps(params, sort_keys=True),
                    n_add,
                    n_remove,
                )
            )
        return spark.createDataFrame(
            rows,
            "version long, timestamp long, operation string, "
            "operationParameters string, numAddedFiles int, "
            "numRemovedFiles int",
        )

    # -- metadata-only aggregates ------------------------------------------

    def min_max(self, column: str) -> tuple | None:
        """MIN/MAX of ``column`` answered from add-action stats alone,
        or None when the log cannot prove the answer. Sound only when
        no live file carries a deletion vector (a DV may mask exactly
        the extreme row) and every live file has min/max stats for the
        column with zero nulls unaccounted — the conservative dual of
        file pruning, same contract as :meth:`count_rows`."""
        snap = self.snapshot()
        files = self._live_files(snap)
        logical = column
        column = self._colmap(snap).get(column, column)
        if not files:
            return None
        # Partition values are directory STRINGS; comparing them raw
        # would give lexicographic (wrong) extremes for numeric columns
        # ("9" > "10"). The declared schema supplies the type.
        ftype = None
        meta = snap.get("metaData")
        if meta:
            for f in json.loads(meta["schemaString"])["fields"]:
                if f["name"] == logical:
                    ftype = f["type"]

        def _typed(v):
            if not isinstance(v, str):
                return v
            if ftype in ("byte", "short", "integer", "long"):
                return int(v)
            if ftype in ("float", "double"):
                return float(v)
            return v

        lo = hi = None
        for f in files:
            if f.get("deletionVector"):
                return None
            stats = f.get("stats") or {}
            if isinstance(stats, str):
                stats = json.loads(stats)
            mins = (stats.get("minValues") or {})
            maxs = (stats.get("maxValues") or {})
            pvals = f.get("partitionValues") or {}
            if column in pvals:
                fmin = fmax = _typed(pvals[column])
            elif column in mins and column in maxs:
                fmin, fmax = mins[column], maxs[column]
            else:
                return None
            if fmin is None or fmax is None:
                return None
            lo = fmin if lo is None or fmin < lo else lo
            hi = fmax if hi is None or fmax > hi else hi
        return (lo, hi)

    def count_rows(self, predicates: list[tuple] | None = None) -> int | None:
        """SELECT COUNT(*) answered from the transaction log alone —
        Delta's metadata-only count optimization. Every add action
        carries ``stats.numRecords`` and every deletion-vector
        descriptor its exact ``cardinality``, so the live row count is
        one log read: zero data files touched, O(files) driver work,
        the same answer at 100 TB as at 100 rows.

        With ``predicates``, the count is exact only when every live
        file is either provably excluded OR provably all-matching;
        a file whose stats window straddles the predicate makes the
        metadata answer unsound, and the method returns None — the
        caller falls back to a scan. (No-predicate counts are always
        exact.)"""
        snap = self.snapshot()
        files = self._live_files(snap)
        predicates = self._phys_preds(predicates, self._colmap(snap))
        def _num_records(f: dict) -> int:
            # add actions may store stats as a JSON STRING (the shape
            # real Delta logs use) — same guard as min_max.
            stats = f.get("stats") or {}
            if isinstance(stats, str):
                stats = json.loads(stats)
            return int(stats.get("numRecords", 0))

        if not predicates:
            return sum(
                _num_records(f)
                - int((f.get("deletionVector") or {}).get("cardinality", 0))
                for f in files
            )
        total = 0
        for f in files:
            if _file_excluded(f, predicates):
                continue
            if f.get("deletionVector"):
                # DV-masked rows are positionally deleted; stats can't
                # say WHICH rows, so any matching DV'd file is unsound.
                return None
            if not _file_all_matching(f, predicates):
                return None
            total += _num_records(f)
        return total

    # -- clone (Delta CLONE parity) ----------------------------------------

    def clone_to(
        self,
        spark: SparkSession,
        dest_path: str,
        shallow: bool = True,
        version: int | None = None,
    ) -> "DeltaLikeTable":
        """CREATE TABLE ... [SHALLOW] CLONE, optionally AS OF a version.

        Shallow: the clone's version-0 commit re-references the source's
        live data files by ABSOLUTE path — zero data copied, O(files)
        metadata, instant even at 100 TB. The clone then evolves
        independently: its DML rewrites land as local relative-path
        files; the source never sees them. The documented Delta trade
        applies — vacuuming the SOURCE can orphan a shallow clone.
        Shallow cloning a table with live deletion vectors is refused
        (the sidecar row addressing is source-root-relative; real Delta
        materializes DVs on clone for the same reason — use
        ``shallow=False``).

        Deep: logical rows are read once and written as the clone's own
        files (DVs materialize away), same metaData and properties."""
        snap = self.snapshot(as_of=version)
        meta = snap["metaData"]
        if meta is None:
            raise ValueError("cannot clone a table with no schema")
        live = self._live_files(snap)
        dest = DeltaLikeTable(dest_path)
        if dest.latest_version() >= 0:
            raise ValueError(f"clone destination {dest_path!r} is not empty")
        if not shallow:
            df = self._frame_for(spark, snap, live)
            res = dest.write_batch(
                df,
                partition_by=meta.get("partitionColumns") or [],
                operation="CLONE",
            )
            # write_batch records the schema; carry the configuration
            # (constraints, CDF flag, generated columns) over too —
            # EXCEPT the column-mapping entries: the deep clone's files
            # were just written under LOGICAL names, so a carried
            # logical→physical map would mis-rename every future
            # read/write of the clone.
            if meta.get("configuration"):
                cfg = {
                    k: v
                    for k, v in meta["configuration"].items()
                    if not k.startswith(self.COLMAP_PREFIX)
                    and k != self.COLMAP_MODE_KEY
                }
                if cfg:
                    dest._commit_meta_config(
                        dest.snapshot()["metaData"],
                        cfg,
                        "CLONE PROPERTIES",
                    )
            return dest
        dv_files = [f["path"] for f in live if f.get("deletionVector")]
        if dv_files:
            raise ValueError(
                f"shallow clone with live deletion vectors is not "
                f"supported ({len(dv_files)} file(s), e.g. "
                f"{dv_files[0]!r}); use shallow=False"
            )
        src_root = os.path.abspath(self.path)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "operation": "CLONE",
                    "timestamp": int(time.time() * 1000),
                    "operationParameters": {
                        "source": src_root,
                        "sourceVersion": snap["version"],
                        "shallow": True,
                    },
                }
            },
            {"metaData": meta},
        ]
        for f in live:
            a = dict(f)
            a["path"] = os.path.join(src_root, f["path"])
            actions.append({"add": a})
        dest._commit(actions)
        return dest

    # -- restore (Delta RESTORE TABLE ... VERSION AS OF parity) ------------

    def restore(self, spark: SparkSession, version: int) -> CommitResult:
        """RESTORE TABLE ... TO VERSION AS OF ``version``.

        Rolls the LIVE state back by committing a forward diff — remove
        every file live now but not at the target version, re-add every
        file live then but not now (including deletion-vector descriptor
        changes: a path whose DV differs is re-added with the target's
        descriptor) — plus the target's metaData when schema/properties
        changed. History is preserved: this lands as a NEW version, the
        rolled-back commits stay readable via time travel, exactly
        Delta's RESTORE.

        No data file is read or written unless CDF is enabled — the
        commit is pure log metadata, O(diff) not O(table), so restoring
        a 100 TB table after a bad batch is instant. Files already
        reclaimed by ``vacuum`` fail the restore up front (Delta raises
        the same way). A racing rewrite of a file this restore removes
        raises :class:`ConcurrentDeleteDelete`.

        With CDF enabled, the row-level diff rides along as change
        files: multiset value difference (exceptAll) over only the
        differing files, so restored-away rows emit ``delete`` and
        resurrected rows emit ``insert`` while rows carried unchanged
        through a rewrite emit nothing — exact even when only a DV
        descriptor changed."""
        from pyspark.sql import functions as _F

        if version < 0:
            raise ValueError(f"version {version} does not exist")
        snap_cur = self.snapshot()
        if version == snap_cur["version"]:
            return CommitResult(snap_cur["version"], 0, 0, skipped=True)
        snap_tgt = self.snapshot(as_of=version)

        def keyed(snap):
            return {
                (
                    f["path"],
                    (f.get("deletionVector") or {}).get("storagePath"),
                ): f
                for f in self._live_files(snap)
            }

        cur_live, tgt_live = keyed(snap_cur), keyed(snap_tgt)
        removes = [f for k, f in cur_live.items() if k not in tgt_live]
        re_adds = [f for k, f in tgt_live.items() if k not in cur_live]
        meta_cur, meta_tgt = snap_cur["metaData"], snap_tgt["metaData"]
        meta_changed = (meta_cur or {}) != (meta_tgt or {})
        if not removes and not re_adds and not meta_changed:
            return CommitResult(snap_cur["version"], 0, 0, skipped=True)
        missing = [
            f["path"]
            for f in re_adds
            if not os.path.exists(os.path.join(self.path, f["path"]))
        ] + [
            f["deletionVector"]["storagePath"]
            for f in re_adds
            if f.get("deletionVector")
            and not os.path.exists(
                os.path.join(self.path, f["deletionVector"]["storagePath"])
            )
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: {len(missing)} "
                f"file(s) were vacuumed (e.g. {missing[0]!r})"
            )

        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap_cur) and (removes or re_adds):
            # Row-level diff over ONLY the differing files: multiset
            # difference (exceptAll — null-safe, duplicate-exact), so
            # rows carried unchanged through a rewrite never appear as
            # changes. Across a schema change there is no value-level
            # row identity; every diff-file row is a delete + insert.
            cur_f = self._frame_for(spark, snap_cur, removes)
            tgt_f = self._frame_for(spark, snap_tgt, re_adds)
            if cur_f.schema == tgt_f.schema:
                deleted, inserted = cur_f.exceptAll(tgt_f), tgt_f.exceptAll(cur_f)
            else:
                deleted, inserted = cur_f, tgt_f
            cdc_actions = self._write_cdc(
                deleted.select(
                    "*", _F.lit("delete").alias("_change_type")
                ).unionByName(
                    inserted.select(
                        "*", _F.lit("insert").alias("_change_type")
                    ),
                    allowMissingColumns=True,
                ),
                snap_cur,
            )

        ts = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "operation": "RESTORE",
                    "timestamp": ts,
                    "operationParameters": {
                        "version": version,
                        "numRemovedFiles": len(removes),
                        "numRestoredFiles": len(re_adds),
                        "changeDataFeed": self._cdf_enabled(snap_cur),
                    },
                }
            }
        ]
        if meta_changed and meta_tgt is not None:
            actions.append({"metaData": meta_tgt})
        for f in removes:
            actions.append(
                {
                    "remove": {
                        "path": f["path"],
                        "deletionTimestamp": ts,
                        "dataChange": True,
                    }
                }
            )
        for f in re_adds:
            re_add = dict(f)
            re_add["dataChange"] = True
            actions.append({"add": re_add})
        actions += cdc_actions
        new_version = self._commit(
            actions,
            read_version=snap_cur["version"],
            remove_paths={f["path"] for f in removes},
        )
        if new_version % CHECKPOINT_EVERY == 0 and new_version > 0:
            self._checkpoint(new_version)
        n_rows = sum(
            (f.get("stats") or {}).get("numRecords", 0) for f in re_adds
        )
        return CommitResult(new_version, len(re_adds), n_rows)

    # -- row-level mutations (MERGE / DELETE / UPDATE) ---------------------

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
        delete_condition: str | None = None,
        update_condition: str | None = None,
        drop_cols: list[str] | None = None,
        evolve: bool = False,
    ) -> CommitResult:
        """Upsert: source rows REPLACE table rows with equal keys;
        unmatched source keys are inserts (whole-row semantics — the
        WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * shape of
        Delta MERGE).

        Conditional clauses (Delta's multi-clause MERGE, conditions
        evaluated on the SOURCE row):

        - ``delete_condition`` — WHEN MATCHED AND <cond> THEN DELETE:
          a matched table row whose source mate satisfies the condition
          is dropped and the source row is NOT inserted; an unmatched
          delete-flagged source row is a no-op (CDC tombstone for a row
          that never arrived). This is the clause a change-feed apply
          needs.
        - ``update_condition`` — WHEN MATCHED AND <cond> THEN UPDATE:
          a matched source row failing the condition leaves the table
          row UNCHANGED (stale-update guard, e.g. ``s.ts > t.ts`` style
          ordering keys pre-resolved into the source). Unmatched rows
          insert regardless (gate inserts upstream with a filter).
        - ``drop_cols`` — control columns (flags, cursors) consumed by
          the conditions and excluded from the written rows.

        Scale design: only files whose stats window overlaps the
        source's key range are rewritten. The pruning predicate is the
        source's [min, max] on the first key column — two scalars from
        one aggregate (plan-level metadata, not a per-row collect) —
        so a trickle of late updates against a 100 TB table rewrites a
        handful of files, not the table. The rewrite itself is one
        left-anti join (matched rows drop) + union with the source,
        committed as remove+add atomically; concurrent readers see the
        old snapshot until the commit lands.
        """
        from pyspark.sql import functions as _F

        snap = self.snapshot()
        meta = snap["metaData"]
        partition_by = partition_by or (meta["partitionColumns"] if meta else [])
        source = source.dropDuplicates(key_cols)
        # Generated columns apply to the rows MERGE writes, exactly as
        # on append: omitted -> computed in-flight, supplied -> value
        # validated against the expression.
        source = self._apply_generated(source, snap)
        # Split BEFORE dropping control columns: the conditions may
        # reference them. Each key appears once (dropDuplicates), so
        # the delete/upsert branches are disjoint by key.
        if delete_condition is not None:
            del_src = source.filter(
                _F.coalesce(_F.expr(delete_condition), _F.lit(False))
            )
            source = source.filter(
                ~_F.coalesce(_F.expr(delete_condition), _F.lit(False))
            )
        else:
            del_src = None
        if update_condition is not None:
            noop_src = source.filter(
                ~_F.coalesce(_F.expr(update_condition), _F.lit(False))
            )
            source = source.filter(
                _F.coalesce(_F.expr(update_condition), _F.lit(False))
            )
        else:
            noop_src = None
        if drop_cols:
            source = source.drop(*drop_cols)
            if del_src is not None:
                del_src = del_src.drop(*drop_cols)
            if noop_src is not None:
                noop_src = noop_src.drop(*drop_cols)
        # Schema evolution (Delta's schema.autoMerge): extra source
        # columns either evolve the table schema in the SAME commit
        # (``evolve=True`` — old rows read the new column as NULL) or
        # fail loudly; silently dropping data is never an option.
        meta_evolution: list[dict] = []
        if meta is None:
            # First-ever commit via MERGE: record the schema exactly as
            # write_batch would — without it partition column types and
            # later partitioning inheritance are lost.
            meta_evolution = [
                {
                    "metaData": {
                        "schemaString": source.schema.json(),
                        "partitionColumns": partition_by or [],
                        "configuration": {},
                    }
                }
            ]
        if meta is not None:
            tbl_schema = json.loads(meta["schemaString"])
            tbl_cols = {f["name"] for f in tbl_schema["fields"]}
            extra = [c for c in source.columns if c not in tbl_cols]
            if extra and not evolve:
                raise ValueError(
                    f"MERGE source has columns not in the table schema: "
                    f"{extra}; pass evolve=True to evolve it (Delta "
                    f"autoMerge) or drop them via drop_cols"
                )
            if extra:
                bad = self._physical_conflicts(meta, extra)
                if bad:
                    raise ValueError(
                        f"MERGE evolution column(s) {bad} collide with a "
                        f"physical parquet name still present in old files"
                    )
            if extra:
                src_schema = json.loads(source.schema.json())
                tbl_schema["fields"] += [
                    f for f in src_schema["fields"] if f["name"] in extra
                ]
                meta_evolution = [
                    {
                        "metaData": {
                            "schemaString": json.dumps(tbl_schema),
                            "partitionColumns": meta.get(
                                "partitionColumns", []
                            ),
                            "configuration": meta.get("configuration", {}),
                        }
                    }
                ]

        k0 = key_cols[0]
        # Pruning bounds cover upsert AND delete-flagged keys: a file is
        # a rewrite candidate if it may hold a row either branch touches.
        touch = source.select(k0)
        if del_src is not None:
            touch = touch.unionByName(del_src.select(k0))
        bounds = touch.agg(
            _F.min(k0).alias("lo"), _F.max(k0).alias("hi")
        ).collect()[0]
        if bounds["lo"] is None and noop_src is None:
            return CommitResult(snap["version"], 0, 0, skipped=True)
        live = self._live_files(snap)
        cm_merge = self._colmap(snap)
        if bounds["lo"] is not None:
            preds = self._phys_preds(
                [(k0, ">=", bounds["lo"]), (k0, "<=", bounds["hi"])], cm_merge
            )
            candidates = [f for f in live if not _file_excluded(f, preds)]
        else:
            candidates = []

        touched_keys = source.select(*key_cols)
        if del_src is not None:
            touched_keys = touched_keys.unionByName(del_src.select(*key_cols))
        if candidates:
            cur = self._frame_for(spark, snap, candidates)
            keep = cur.join(touched_keys, on=key_cols, how="left_anti")
            out = keep.unionByName(source, allowMissingColumns=True)
        else:
            out = source
        if noop_src is not None:
            # Update-condition misses: matched rows stay as-is (already
            # in `keep` — their keys are not in touched_keys), but
            # UNMATCHED rows still insert. Probing for "unmatched" reads
            # only the files whose stats overlap the noop key range, and
            # those files are read-only — never rewritten.
            nb = noop_src.agg(
                _F.min(k0).alias("lo"), _F.max(k0).alias("hi")
            ).collect()[0]
            if nb["lo"] is not None:
                npreds = self._phys_preds(
                    [(k0, ">=", nb["lo"]), (k0, "<=", nb["hi"])], cm_merge
                )
                probe_files = [
                    f for f in live if not _file_excluded(f, npreds)
                ]
                probe = self._frame_for(spark, snap, probe_files).select(
                    *key_cols
                )
                noop_ins = noop_src.join(probe, on=key_cols, how="left_anti")
                out = out.unionByName(noop_ins, allowMissingColumns=True)
            else:
                noop_ins = None
        else:
            noop_ins = None
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap):
            # CDF classification costs a few extra semi/anti joins over
            # the CANDIDATE files only (stats-pruned set, not the
            # table) and runs only when the feed is enabled.
            if candidates:
                pre = cur.join(
                    source.select(*key_cols), on=key_cols, how="left_semi"
                ).select("*", _F.lit("update_preimage").alias("_change_type"))
                table_keys = cur.select(*key_cols)
                post = source.join(
                    table_keys, on=key_cols, how="left_semi"
                ).select("*", _F.lit("update_postimage").alias("_change_type"))
                ins = source.join(
                    table_keys, on=key_cols, how="left_anti"
                ).select("*", _F.lit("insert").alias("_change_type"))
                changes = pre.unionByName(
                    post, allowMissingColumns=True
                ).unionByName(ins, allowMissingColumns=True)
                if del_src is not None:
                    dels = cur.join(
                        del_src.select(*key_cols), on=key_cols, how="left_semi"
                    ).select("*", _F.lit("delete").alias("_change_type"))
                    changes = changes.unionByName(
                        dels, allowMissingColumns=True
                    )
            else:
                changes = source.select(
                    "*", _F.lit("insert").alias("_change_type")
                )
            if noop_ins is not None:
                changes = changes.unionByName(
                    noop_ins.select(
                        "*", _F.lit("insert").alias("_change_type")
                    ),
                    allowMissingColumns=True,
                )
            cdc_actions = self._write_cdc(changes, snap)
        return self._rewrite_commit(
            spark,
            out,
            remove=[f["path"] for f in candidates],
            partition_by=partition_by,
            operation="MERGE",
            params={
                "keyCols": key_cols,
                "numCandidateFiles": len(candidates),
                "numLiveFiles": len(live),
                "changeDataFeed": self._cdf_enabled(snap),
            },
            read_version=snap["version"],
            extra_actions=meta_evolution + cdc_actions,
        )

    def apply_changes(
        self,
        spark: SparkSession,
        feed: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
    ) -> CommitResult:
        """Apply a change feed (the frame ``table_changes`` returns —
        table columns + ``_change_type`` + ``_commit_version``) to THIS
        table: the CDC-apply / replica-maintenance operator (Delta's
        "merge the change feed" recipe, APPLY CHANGES INTO in DLT).

        The feed first collapses to its NET effect per key — latest
        ``_commit_version`` wins, ``update_preimage`` rows drop — so a
        key inserted at v2, updated at v5, deleted at v9 applies as one
        delete. Then one conditional MERGE lands everything atomically:
        deletes via ``delete_condition``, upserts as plain matched
        updates / unmatched inserts. Polling ``table_changes`` on the
        source and ``apply_changes`` on the replica gives an
        incrementally-maintained mirror whose per-poll cost tracks the
        CHANGE RATE, never source-table size."""
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as _F

        net = feed.filter(_F.col("_change_type") != "update_preimage")
        # Tie-break WITHIN a commit: a RESTORE records a value change as
        # a delete (old value) plus an insert (new value) at the SAME
        # version; the insert is the live row, so delete loses ties.
        w = _W.partitionBy(*key_cols).orderBy(
            _F.col("_commit_version").desc(),
            (_F.col("_change_type") != "delete").cast("int").desc(),
        )
        latest = (
            net.withColumn("_rn", _F.row_number().over(w))
            .filter(_F.col("_rn") == 1)
            .drop("_rn", "_commit_version")
        )
        return self.merge(
            spark,
            latest,
            key_cols=key_cols,
            partition_by=partition_by,
            delete_condition="_change_type = 'delete'",
            drop_cols=["_change_type"],
        )

    def delete_where_with_retry(
        self,
        spark: SparkSession,
        predicates: list[tuple],
        dv: bool = False,
        max_retries: int = 10,
    ) -> CommitResult:
        """``delete_where`` wrapped in the reference's conflict loop
        (src/lib.rs:966-1024: recompute from a fresh snapshot and retry
        on version conflict, bounded attempts): a racing rewrite raises
        ConcurrentDeleteDelete inside; this re-reads and re-derives the
        delete until it lands or the budget runs out."""
        last: Exception | None = None
        for _ in range(max_retries):
            try:
                return self.delete_where(spark, predicates, dv=dv)
            except ConcurrentDeleteDelete as ex:
                last = ex
        raise CommitConflict(
            f"delete_where lost {max_retries} conflict races"
        ) from last

    def delete_where(
        self, spark: SparkSession, predicates: list[tuple], dv: bool = False
    ) -> CommitResult:
        """DELETE rows matching the conjunctive ``predicates`` (same
        ``(column, op, value)`` grammar as ``files_for``).

        Only files that MAY contain matches (per partition values and
        min/max stats) are rewritten without their matching rows; a
        file the stats prove untouched is never read. A fully-matching
        file simply yields zero surviving rows and is tombstoned
        without a replacement.

        ``dv=True`` takes the deletion-vector path instead: no data
        file is rewritten — matching (file, row_index) pairs land in a
        sidecar under ``_kdi_dv/`` and each affected file is re-added
        with a ``deletionVector`` descriptor (Delta's DV protocol
        shape: remove+add of the SAME path in one commit). The trickle-
        delete lever at 100 TB: a few hundred matching rows cost one
        sidecar write, not a rewrite of every touched 128 MiB file.
        ``optimize()`` later materializes DVs away (it reads logical
        rows and writes fresh files with no descriptor)."""
        snap = self.snapshot()
        meta = snap["metaData"]
        partition_by = meta["partitionColumns"] if meta else []
        live = self._live_files(snap)
        preds_p = self._phys_preds(predicates, self._colmap(snap))
        candidates = [f for f in live if not _file_excluded(f, preds_p)]
        if not candidates:
            return CommitResult(snap["version"], 0, 0, skipped=True)
        if dv:
            if any(os.path.isabs(f["path"]) for f in candidates):
                raise ValueError(
                    "deletion-vector DELETE cannot address rows in "
                    "shallow-cloned external files; optimize() or a "
                    "rewriting delete localizes them first"
                )
            return self._delete_with_dv(spark, snap, candidates, predicates)
        from pyspark.sql import functions as _F

        cur = self._frame_for(spark, snap, candidates)
        # SQL DELETE removes only rows where the predicate is TRUE; a
        # NULL predicate (e.g. a NULL column in a comparison) must keep
        # the row. A bare ``~pred`` turns NULL into NULL, which filter()
        # drops — coalesce to FALSE first so NULL-predicate rows survive.
        keep = cur.filter(~_F.coalesce(_pred_to_column(predicates), _F.lit(False)))
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap):
            deleted = cur.filter(
                _F.coalesce(_pred_to_column(predicates), _F.lit(False))
            ).select("*", _F.lit("delete").alias("_change_type"))
            cdc_actions = self._write_cdc(deleted, snap)
        return self._rewrite_commit(
            spark,
            keep,
            remove=[f["path"] for f in candidates],
            partition_by=partition_by,
            operation="DELETE",
            params={
                "predicate": [list(p) for p in predicates],
                "numCandidateFiles": len(candidates),
                "numLiveFiles": len(live),
                "changeDataFeed": self._cdf_enabled(snap),
            },
            read_version=snap["version"],
            extra_actions=cdc_actions,
        )

    def update_where_with_retry(
        self,
        spark: SparkSession,
        set_exprs: dict[str, str],
        predicates: list[tuple],
        dv: bool = False,
        max_retries: int = 10,
    ) -> CommitResult:
        """``update_where`` wrapped in the same bounded
        recompute-and-retry conflict loop as ``delete_where_with_retry``
        (reference src/lib.rs:966-1024)."""
        last: Exception | None = None
        for _ in range(max_retries):
            try:
                return self.update_where(spark, set_exprs, predicates, dv=dv)
            except ConcurrentDeleteDelete as ex:
                last = ex
        raise CommitConflict(
            f"update_where lost {max_retries} conflict races"
        ) from last

    def _apply_set(self, matched: DataFrame, set_exprs: dict[str, str], gen: dict[str, str]) -> DataFrame:
        """Evaluate every SET expression against the pre-image in one
        SELECT, then recompute generated columns not explicitly SET."""
        from pyspark.sql import functions as _F

        updated = matched.select(
            *[
                _F.expr(set_exprs[c]).cast(matched.schema[c].dataType).alias(c)
                if c in set_exprs
                else _F.col(f"`{c}`")
                for c in matched.columns
            ]
        )
        for gname, gexpr in gen.items():
            if gname not in set_exprs and gname in updated.columns:
                updated = updated.withColumn(gname, _F.expr(gexpr))
        return updated

    def update_where(
        self,
        spark: SparkSession,
        set_exprs: dict[str, str],
        predicates: list[tuple],
        dv: bool = False,
    ) -> CommitResult:
        """UPDATE ... SET <set_exprs> WHERE <predicates> (Delta UPDATE
        parity; the append-only reference has no row mutation — this
        rounds out the DML triad next to ``merge``/``delete_where``).

        ``set_exprs`` maps column → SQL expression; every expression is
        evaluated against the PRE-image row (standard SQL UPDATE
        semantics: ``SET a = b, b = a`` swaps). Only files whose
        partition values / min-max stats may hold a match are rewritten
        — a selective UPDATE against a 100 TB table touches a handful
        of files, proven by ``numCandidateFiles`` in the commit. NULL
        predicates leave rows untouched (SQL: only TRUE updates).

        Updated rows re-validate CHECK constraints, and generated
        columns not explicitly SET are recomputed from their expression
        (Delta recomputes generated columns whose inputs changed).
        Racing rewrites of the same files raise
        :class:`ConcurrentDeleteDelete`; deletion-vector state on the
        candidates is honored (the rewrite reads logical rows) and
        materialized away in the replacement files.

        ``dv=True`` is the trickle-update lever (how Delta runs UPDATE
        when DVs are enabled): instead of rewriting every candidate
        file, the matched rows are MASKED via a deletion-vector sidecar
        and only the updated rows are written as new files — a
        100-row update against 100 TB costs one sidecar plus one small
        file, not a rewrite of every touched 128 MiB candidate."""
        from pyspark.sql import functions as _F

        snap = self.snapshot()
        meta = snap["metaData"]
        if meta is None:
            return CommitResult(-1, 0, 0, skipped=True)
        schema = json.loads(meta["schemaString"])
        colnames = [f["name"] for f in schema["fields"]]
        unknown = sorted(set(set_exprs) - set(colnames))
        if unknown:
            raise ValueError(f"UPDATE SET targets unknown columns: {unknown}")
        partition_by = meta["partitionColumns"]
        live = self._live_files(snap)
        preds_p = self._phys_preds(predicates, self._colmap(snap))
        candidates = [f for f in live if not _file_excluded(f, preds_p)]
        if not candidates:
            return CommitResult(snap["version"], 0, 0, skipped=True)
        if dv:
            if any(os.path.isabs(f["path"]) for f in candidates):
                raise ValueError(
                    "deletion-vector UPDATE cannot address rows in "
                    "shallow-cloned external files; optimize() "
                    "localizes them first"
                )
            return self._update_with_dv(
                spark, snap, candidates, predicates, set_exprs, partition_by
            )

        cur = self._frame_for(spark, snap, candidates)
        pred = _F.coalesce(_pred_to_column(predicates), _F.lit(False))
        kept = cur.filter(~pred)
        matched = cur.filter(pred)
        updated = self._apply_set(
            matched, set_exprs, self.generated_columns(snap)
        )
        self._enforce_constraints(updated, snap)
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap):
            changes = matched.select(
                "*", _F.lit("update_preimage").alias("_change_type")
            ).unionByName(
                updated.select(
                    "*", _F.lit("update_postimage").alias("_change_type")
                )
            )
            cdc_actions = self._write_cdc(changes, snap)
        out = kept.unionByName(updated)
        return self._rewrite_commit(
            spark,
            out,
            remove=[f["path"] for f in candidates],
            partition_by=partition_by,
            operation="UPDATE",
            params={
                "predicate": [list(p) for p in predicates],
                "set": dict(set_exprs),
                "numCandidateFiles": len(candidates),
                "numLiveFiles": len(live),
                "changeDataFeed": self._cdf_enabled(snap),
            },
            read_version=snap["version"],
            extra_actions=cdc_actions,
        )

    def _delete_with_dv(
        self,
        spark: SparkSession,
        snap: dict,
        candidates: list[dict],
        predicates: list[tuple],
    ) -> CommitResult:
        """Deletion-vector DELETE over the candidate files.

        Reads the candidates LOGICALLY (existing DVs applied), so
        matches are disjoint from already-deleted rows; the new sidecar
        then carries the UNION of old DV rows and new matches for every
        affected file — one descriptor per add, cumulative across
        repeated DV deletes. Conflict detection reuses the rewrite
        protocol: the affected paths form the remove set, so a racing
        rewrite of the same files raises ConcurrentDeleteDelete."""
        from pyspark.sql import functions as _F

        cur = self._frame_for(spark, snap, candidates, with_meta=True)
        matches = cur.filter(
            _F.coalesce(_pred_to_column(predicates), _F.lit(False))
        ).select(
            _F.col("_dv_path").alias("path"),
            _F.col("_dv_ri").alias("row_index"),
        )
        old_sidecars = sorted(
            {
                f["deletionVector"]["storagePath"]
                for f in candidates
                if f.get("deletionVector")
            }
        )
        if old_sidecars:
            old_rows = spark.read.parquet(
                *[os.path.join(self.path, p) for p in old_sidecars]
            ).select("path", "row_index")
            # Only rows of files still affected ride into the new
            # sidecar; other files keep pointing at their old sidecar.
            matches = matches.unionByName(
                old_rows.join(
                    matches.select("path").distinct(), "path", "left_semi"
                )
            )
        dv_rel = os.path.join("_kdi_dv", f"{uuid.uuid4().hex}.parquet")
        matches.write.mode("overwrite").parquet(os.path.join(self.path, dv_rel))
        per_file = {
            r["path"]: r["n"]
            for r in spark.read.parquet(os.path.join(self.path, dv_rel))
            .groupBy("path")
            .agg(_F.count("*").alias("n"))
            .collect()
        }
        affected = [f for f in candidates if f["path"] in per_file]
        if not affected:
            shutil.rmtree(os.path.join(self.path, dv_rel), ignore_errors=True)
            return CommitResult(snap["version"], 0, 0, skipped=True)
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap):
            # The logical read already masks previously-deleted rows, so
            # this is exactly the NEWLY deleted set — disjoint from any
            # earlier DV delete's change files.
            deleted = cur.filter(
                _F.coalesce(_pred_to_column(predicates), _F.lit(False))
            ).drop("_dv_path", "_dv_ri").select(
                "*", _F.lit("delete").alias("_change_type")
            )
            cdc_actions = self._write_cdc(deleted, snap)
        ts = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "operation": "DELETE",
                    "operationParameters": {
                        "predicate": [list(p) for p in predicates],
                        "mode": "deletionVector",
                        "numCandidateFiles": len(candidates),
                        "numAffectedFiles": len(affected),
                        "changeDataFeed": self._cdf_enabled(snap),
                    },
                    "timestamp": ts,
                }
            }
        ]
        for f in affected:
            actions.append(
                {"remove": {"path": f["path"], "deletionTimestamp": ts}}
            )
            re_add = dict(f)
            re_add["deletionVector"] = {
                "storagePath": dv_rel,
                "cardinality": int(per_file[f["path"]]),
            }
            re_add["dataChange"] = True
            actions.append({"add": re_add})
        actions += cdc_actions
        version = self._commit(
            actions,
            read_version=snap["version"],
            remove_paths={f["path"] for f in affected},
        )
        if version % CHECKPOINT_EVERY == 0:
            self._checkpoint(version)
        total = sum(per_file.values())
        return CommitResult(version, len(affected), total)

    def _update_with_dv(
        self,
        spark: SparkSession,
        snap: dict,
        candidates: list[dict],
        predicates: list[tuple],
        set_exprs: dict[str, str],
        partition_by: list[str],
    ) -> CommitResult:
        """Deletion-vector UPDATE: mask the pre-image rows via a DV
        sidecar (same protocol as DV DELETE — remove+re-add of the same
        files with a new descriptor) and append the post-image rows as
        fresh files, all in ONE commit. Constraints validate the
        post-image; CDF records pre/post images as usual."""
        from pyspark.sql import functions as _F

        cur = self._frame_for(spark, snap, candidates, with_meta=True)
        pred = _F.coalesce(_pred_to_column(predicates), _F.lit(False))
        matched_meta = cur.filter(pred)
        matches = matched_meta.select(
            _F.col("_dv_path").alias("path"),
            _F.col("_dv_ri").alias("row_index"),
        )
        old_sidecars = sorted(
            {
                f["deletionVector"]["storagePath"]
                for f in candidates
                if f.get("deletionVector")
            }
        )
        if old_sidecars:
            old_rows = spark.read.parquet(
                *[os.path.join(self.path, p) for p in old_sidecars]
            ).select("path", "row_index")
            matches = matches.unionByName(
                old_rows.join(
                    matches.select("path").distinct(), "path", "left_semi"
                )
            )
        dv_rel = os.path.join("_kdi_dv", f"{uuid.uuid4().hex}.parquet")
        matches.write.mode("overwrite").parquet(os.path.join(self.path, dv_rel))
        per_file = {
            r["path"]: r["n"]
            for r in spark.read.parquet(os.path.join(self.path, dv_rel))
            .groupBy("path")
            .agg(_F.count("*").alias("n"))
            .collect()
        }
        affected = [f for f in candidates if f["path"] in per_file]
        if not affected:
            shutil.rmtree(os.path.join(self.path, dv_rel), ignore_errors=True)
            return CommitResult(snap["version"], 0, 0, skipped=True)

        matched = matched_meta.drop("_dv_path", "_dv_ri")
        updated = self._apply_set(
            matched, set_exprs, self.generated_columns(snap)
        )
        self._enforce_constraints(updated, snap)
        cm = self._colmap(snap)
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        writer = self._rename_cols(updated, cm).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*[cm.get(c, c) for c in partition_by])
        writer.parquet(staging)
        adds = promote_staging(staging, self.path, int(time.time() * 1000))

        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap):
            changes = matched.select(
                "*", _F.lit("update_preimage").alias("_change_type")
            ).unionByName(
                updated.select(
                    "*", _F.lit("update_postimage").alias("_change_type")
                )
            )
            cdc_actions = self._write_cdc(changes, snap)
        ts = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "operation": "UPDATE",
                    "operationParameters": {
                        "predicate": [list(p) for p in predicates],
                        "set": dict(set_exprs),
                        "mode": "deletionVector",
                        "numCandidateFiles": len(candidates),
                        "numAffectedFiles": len(affected),
                        "changeDataFeed": self._cdf_enabled(snap),
                    },
                    "timestamp": ts,
                }
            }
        ]
        for f in affected:
            actions.append(
                {"remove": {"path": f["path"], "deletionTimestamp": ts}}
            )
            re_add = dict(f)
            re_add["deletionVector"] = {
                "storagePath": dv_rel,
                "cardinality": int(per_file[f["path"]]),
            }
            re_add["dataChange"] = True
            actions.append({"add": re_add})
        actions += [{"add": a} for a in adds]
        actions += cdc_actions
        version = self._commit(
            actions,
            read_version=snap["version"],
            remove_paths={f["path"] for f in affected},
        )
        if version % CHECKPOINT_EVERY == 0:
            self._checkpoint(version)
        n_upd = sum(a["stats"]["numRecords"] for a in adds)
        return CommitResult(version, len(affected) + len(adds), n_upd)

    def _rewrite_commit(
        self,
        spark: SparkSession,
        df: DataFrame,
        remove: list[str],
        partition_by: list[str],
        operation: str,
        params: dict,
        read_version: int | None = None,
        extra_actions: list[dict] | None = None,
    ) -> CommitResult:
        """Write ``df`` as the replacement for ``remove`` and commit
        remove+add atomically (shared tail of MERGE/DELETE/OPTIMIZE).

        ``read_version`` is the snapshot version the rewrite was derived
        from; commits racing past it with an overlapping remove raise
        :class:`ConcurrentDeleteDelete` instead of resurrecting rows.
        ``extra_actions`` (e.g. ``cdc`` change-file records) ride in the
        same atomic commit; if the commit loses its race the files they
        reference are simply never referenced by any landed version and
        ``vacuum`` reclaims them."""
        snap_now = self.snapshot()
        if operation == "MERGE":
            # MERGE introduces/updates rows; CHECK constraints apply to
            # them (DELETE/OPTIMIZE only re-shuffle already-valid rows).
            self._enforce_constraints(df, snap_now)
        cm = self._colmap(snap_now)
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        writer = self._rename_cols(df, cm).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*[cm.get(c, c) for c in partition_by])
        writer.parquet(staging)
        adds = promote_staging(staging, self.path, int(time.time() * 1000))
        actions: list[dict] = [
            {
                "commitInfo": {
                    "operation": operation,
                    "timestamp": int(time.time() * 1000),
                    "operationParameters": _json_params(params),
                }
            }
        ]
        actions += [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": int(time.time() * 1000),
                    "dataChange": True,
                }
            }
            for p in sorted(remove)
        ]
        actions += [{"add": a} for a in adds]
        actions += list(extra_actions or [])
        version = self._commit(
            actions, read_version=read_version, remove_paths=set(remove)
        )
        if version % CHECKPOINT_EVERY == 0 and version > 0:
            self._checkpoint(version)
        n_records = sum(a["stats"]["numRecords"] for a in adds)
        return CommitResult(version, len(adds), n_records)

    # -- change feed -------------------------------------------------------

    def appended_between(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        operations: tuple[str, ...] = ("STREAMING UPDATE",),
    ) -> DataFrame:
        """Append change feed: rows ADDED by data-changing commits in
        ``(from_version, to_version]``, tagged with ``_commit_version``.

        The Delta CDF analog scoped to what an append-mostly ingest
        table can answer exactly: OPTIMIZE rewrites (dataChange=false)
        never appear, and MERGE/DELETE rewrites are excluded by the
        ``operations`` allowlist because their add files mix changed
        and carried-over rows — a consumer needing row-diff CDC for
        mutations should read the pre/post snapshots via time travel.

        Incremental consumers poll this instead of re-scanning the
        table: each call reads ONLY the files committed since their
        last cursor, so downstream cost tracks the append rate, not
        table size.
        """
        from pyspark.sql import functions as _F

        latest = self.latest_version()
        to_version = latest if to_version is None else to_version
        if to_version > latest:
            raise ValueError(f"version {to_version} does not exist")
        # One forward pass over the log, carrying the schema (metaData)
        # current AT each version — never an O(V²) per-version replay.
        frames = []
        meta = None
        for v in range(0, to_version + 1):
            op, adds = None, []
            with open(self._version_file(v)) as f:
                for line in f:
                    action = json.loads(line)
                    if "commitInfo" in action:
                        op = action["commitInfo"].get("operation")
                    elif "metaData" in action:
                        meta = action["metaData"]
                    elif "add" in action and action["add"].get("dataChange", True):
                        adds.append(action["add"])
            if v <= from_version or op not in operations or not adds:
                continue
            frames.append(
                self._frame_for(spark, {"metaData": meta}, adds).withColumn(
                    "_commit_version", _F.lit(v).cast("long")
                )
            )
        if not frames:
            empty = self._frame_for(spark, self.snapshot(), [])
            return empty.withColumn(
                "_commit_version", _F.lit(None).cast("long")
            ).limit(0)
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf, allowMissingColumns=True)
        return out

    def _live_files(self, snap: dict | None = None) -> list[dict]:
        """add actions minus remove actions, in commit order.

        The LAST add per path wins: a deletion-vector DELETE re-adds
        the same data file with an updated ``deletionVector`` descriptor
        (remove+add in one commit, exactly Delta's DV protocol shape),
        and readers must see the newest descriptor. Positions stay
        stable (dict preserves first-insert order)."""
        snap = snap or self.snapshot()
        removed: set[str] = set(snap.get("removed", set()))
        latest: dict[str, dict] = {}
        for f in snap["files"]:
            if f["path"] in removed:
                continue
            latest[f["path"]] = f
        return list(latest.values())

    # -- read path ---------------------------------------------------------

    def files_for(self, predicates: list[tuple] | None = None) -> list[dict]:
        """Live files minus those provably excluded by ``predicates`` —
        reader-side data skipping over the add-action stats the writer
        collects (the consumption side of reference src/writer.rs:657-1076;
        Delta calls this data skipping / file pruning).

        ``predicates`` is a list of ``(column, op, value)`` with op in
        ``= < <= > >= is_not_null``. Skipping is conservative: a file is
        dropped only when its partition value or min/max window proves no
        row can match; unknown columns/ops/missing stats keep the file.
        At scale this is the difference between scanning a 100 TB table
        and scanning the handful of files a time-range query touches.
        """
        snap = self.snapshot()
        files = self._live_files(snap)
        if not predicates:
            return files
        preds_p = self._phys_preds(predicates, self._colmap(snap))
        return [f for f in files if not _file_excluded(f, preds_p)]

    def read(
        self,
        spark: SparkSession,
        predicates: list[tuple] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        # _kdi_log and _staging-* are underscore-prefixed → invisible to
        # Spark's file listing, so a plain recursive read sees only data.
        # Partition values come from directory names as strings; the
        # metaData action restores their declared types.
        spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Log-driven read: exactly the LIVE file set from the txn log
        # (adds minus removes) — a reader never sees a file that a
        # concurrent OPTIMIZE logically replaced. mergeSchema: files
        # written before a schema evolution lack the new columns; the
        # union schema surfaces them as NULL for old rows (reference
        # tests/schema_update_tests.rs:98-110).
        snap = self.snapshot(as_of=version)
        live_actions = self._live_files(snap)
        if predicates:
            preds_p = self._phys_preds(predicates, self._colmap(snap))
            live_actions = [
                f for f in live_actions if not _file_excluded(f, preds_p)
            ]
        return self._frame_for(spark, snap, live_actions)

    def _rel_path_col(self):
        """Column: ``_metadata.file_path`` normalized to the add-action
        relative path (scheme stripped, table root removed)."""
        from pyspark.sql import functions as _F

        root = os.path.abspath(self.path)
        norm = _F.regexp_replace(
            _F.col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"
        )
        # +2: past the root and its trailing slash (substring is 1-based).
        return _F.substring(norm, len(root) + 2, 1 << 30)

    def _frame_for(
        self,
        spark: SparkSession,
        snap: dict,
        actions: list[dict],
        with_meta: bool = False,
    ) -> DataFrame:
        """DataFrame over exactly the given add actions, with partition
        columns restored to their declared types — shared by ``read``
        and the MERGE/DELETE rewrite paths so both see identical rows.

        Rows masked by a ``deletionVector`` descriptor on any action are
        filtered out via a broadcast anti-join on (file, row_index) —
        the reader half of the DV protocol. ``with_meta=True`` keeps
        ``_dv_path``/``_dv_ri`` columns (relative file path + physical
        row index) so the DV write path can address rows."""
        from pyspark.sql import functions as _F

        spark.conf.set(
            "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
        )
        live = [os.path.join(self.path, f["path"]) for f in actions]
        if not live:
            # Zero live files. Never fall back to scanning the table
            # directory: tombstoned-but-unvacuumed data files still sit
            # there and a directory read would resurrect their rows
            # (caught by the model-based fuzz in
            # tests/test_sink_model_fuzz.py). With a declared schema,
            # an empty frame is exact; without one (never-written
            # table) the directory holds no data files, so the listing
            # read keeps its original "infer empty" behavior.
            meta0 = snap["metaData"]
            if meta0:
                from pyspark.sql.types import StructType as _St

                empty = spark.createDataFrame(
                    [], _St.fromJson(json.loads(meta0["schemaString"]))
                )
                if with_meta:
                    from pyspark.sql import functions as _F0

                    empty = empty.select(
                        "*",
                        _F0.lit(None).cast("string").alias("_dv_path"),
                        _F0.lit(None).cast("long").alias("_dv_ri"),
                    )
                return empty
            live = [self.path]
        if any(os.path.isabs(f["path"]) for f in actions):
            # Shallow-cloned files live OUTSIDE the table root (absolute
            # add paths), where Spark's basePath partition-directory
            # inference cannot apply. Rows are read per partition-value
            # group with the values re-attached as literals from the
            # add actions — the log, not the directory layout, is the
            # source of truth. DV addressing is source-root-relative,
            # so external files never carry descriptors (clone_to
            # refuses them) and the DV machinery is bypassed.
            if with_meta:
                raise ValueError(
                    "row-address reads (deletion vectors) are not "
                    "supported on shallow-cloned external files; "
                    "optimize() localizes them first"
                )
            groups: dict[tuple, list[str]] = {}
            for f in actions:
                key = tuple(sorted((f.get("partitionValues") or {}).items()))
                groups.setdefault(key, []).append(
                    os.path.join(self.path, f["path"])
                )
            parts = []
            for key, paths in groups.items():
                g = spark.read.option("mergeSchema", "true").parquet(*paths)
                for pcol, pval in key:
                    g = g.withColumn(pcol, _F.lit(pval))
                parts.append(g)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
            df = self._rename_cols(
                df, {v: k for k, v in self._colmap(snap).items()}
            )
            meta = snap["metaData"]
            if meta:
                from pyspark.sql.types import StructType as _St

                schema = _St.fromJson(json.loads(meta["schemaString"]))
                for pcol in meta["partitionColumns"]:
                    if pcol in schema.fieldNames() and pcol in df.columns:
                        df = df.withColumn(
                            pcol, _F.col(pcol).cast(schema[pcol].dataType)
                        )
                df = df.select(
                    *[
                        f"`{f.name}`"
                        for f in schema.fields
                        if f.name in df.columns
                    ]
                )
            return df
        df = (
            spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(*live)
        )
        # Column mapping: files store PHYSICAL names; the frame exposes
        # LOGICAL names from here on (no-op without renames).
        df = self._rename_cols(
            df, {v: k for k, v in self._colmap(snap).items()}
        )
        dv_sidecars = sorted(
            {
                f["deletionVector"]["storagePath"]
                for f in actions
                if f.get("deletionVector")
            }
        )
        if dv_sidecars or with_meta:
            df = df.select(
                "*",
                self._rel_path_col().alias("_dv_path"),
                _F.col("_metadata.row_index").alias("_dv_ri"),
            )
        if dv_sidecars:
            dv = spark.read.parquet(
                *[os.path.join(self.path, p) for p in dv_sidecars]
            ).select(
                _F.col("path").alias("_dv_path"),
                _F.col("row_index").alias("_dv_ri"),
            )
            from pyspark.sql.functions import broadcast as _b

            df = df.join(_b(dv), ["_dv_path", "_dv_ri"], "left_anti")
        meta = snap["metaData"]
        keep_meta = ["_dv_path", "_dv_ri"] if with_meta else []
        if meta:
            from pyspark.sql.types import StructType as _St

            schema = _St.fromJson(json.loads(meta["schemaString"]))
            for pcol in meta["partitionColumns"]:
                if pcol in schema.fieldNames() and pcol in df.columns:
                    df = df.withColumn(pcol, _F.col(pcol).cast(schema[pcol].dataType))
            df = df.select(
                *[f"`{f.name}`" for f in schema.fields if f.name in df.columns],
                *keep_meta,
            )
        elif not with_meta and ("_dv_path" in df.columns):
            df = df.drop("_dv_path", "_dv_ri")
        return df


def _coerce_like(stored, probe):
    """Coerce a stored stat/partition value into the probe's comparison
    domain. Partition values are strings on disk; numeric predicates must
    not compare lexicographically ("10" < "9")."""
    if stored is None:
        return None
    if isinstance(probe, bool):
        return str(stored).lower() == "true" if isinstance(stored, str) else bool(stored)
    if isinstance(probe, (int, float)):
        try:
            return float(stored)
        except (TypeError, ValueError):
            return None
    if hasattr(probe, "isoformat"):  # datetime probe vs ISO-string stat
        return str(stored)
    return str(stored)


def _norm_probe(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    return v


def _pred_to_column(predicates: list[tuple]):
    """Conjunction Column for the ``(column, op, value)`` grammar —
    the row-level twin of ``_file_excluded``'s file-level pruning, so
    DELETE prunes and filters with the same predicate."""
    from functools import reduce

    from pyspark.sql import functions as _F

    cols = []
    for col, op, *rest in predicates:
        c = _F.col(col)
        if op == "is_not_null":
            cols.append(c.isNotNull())
            continue
        value = rest[0]
        cols.append(
            {
                "=": c == value,
                "<": c < value,
                "<=": c <= value,
                ">": c > value,
                ">=": c >= value,
            }[op]
        )
    return reduce(lambda a, b: a & b, cols)


def _json_params(params: dict) -> dict:
    return json.loads(json.dumps(params, default=str))


def _file_excluded(f: dict, predicates: list[tuple]) -> bool:
    """True iff the add action PROVES no row in the file can satisfy
    every predicate (conjunctive semantics)."""
    pvals = f.get("partitionValues") or {}
    stats = f.get("stats") or {}
    if isinstance(stats, str):
        stats = json.loads(stats)
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    nulls = stats.get("nullCount") or {}
    nrec = stats.get("numRecords")
    blooms = f.get("bloom") or {}
    for col, op, *rest in predicates:
        value = rest[0] if rest else None
        if (
            op == "="
            and value is not None
            and col in blooms
            and not _bloom_might_contain(blooms[col], value)
        ):
            return True
        if op == "is_not_null":
            if col in pvals:
                if pvals[col] is None:
                    return True
            elif nrec is not None and nulls.get(col) == nrec:
                return True
            continue
        probe = _norm_probe(value)
        if col in pvals:
            lo = hi = _coerce_like(pvals[col], probe)
            if pvals[col] is None:
                return True  # null partition value matches no comparison
        else:
            lo, hi = _coerce_like(mins.get(col), probe), _coerce_like(maxs.get(col), probe)
        if lo is None or hi is None:
            continue  # no usable stats — keep the file
        if (
            (op == "=" and (probe < lo or probe > hi))
            or (op == "<" and lo >= probe)
            or (op == "<=" and lo > probe)
            or (op == ">" and hi <= probe)
            or (op == ">=" and hi < probe)
        ):
            return True
    return False


def _file_all_matching(f: dict, predicates: list[tuple]) -> bool:
    """True iff the add action PROVES every row in the file satisfies
    every predicate — the dual of :func:`_file_excluded`, used by
    metadata-only aggregates. Conservative: missing stats, any NULL in
    a compared column, or a straddling window all return False."""
    pvals = f.get("partitionValues") or {}
    stats = f.get("stats") or {}
    if isinstance(stats, str):
        stats = json.loads(stats)
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    nulls = stats.get("nullCount") or {}
    for col, op, *rest in predicates:
        value = rest[0] if rest else None
        if op == "is_not_null":
            if col in pvals:
                if pvals[col] is None:
                    return False
                continue
            if nulls.get(col) != 0:
                return False
            continue
        probe = _norm_probe(value)
        if col in pvals:
            if pvals[col] is None:
                return False
            lo = hi = _coerce_like(pvals[col], probe)
        else:
            if nulls.get(col) != 0:
                return False  # NULL rows fail every comparison
            lo = _coerce_like(mins.get(col), probe)
            hi = _coerce_like(maxs.get(col), probe)
        if lo is None or hi is None:
            return False
        if not (
            (op == "=" and lo == probe and hi == probe)
            or (op == "<" and hi < probe)
            or (op == "<=" and hi <= probe)
            or (op == ">" and lo > probe)
            or (op == ">=" and lo >= probe)
        ):
            return False
    return True
