"""Explicit seek-offset bootstrap (reference src/offsets.rs:36-157).

``--seek_offsets '{"0": 123, "1": 456}'`` seeds the per-partition txn
ledger BEFORE consumption starts, so the stream begins exactly after
those offsets:

* no offsets stored for any requested partition → commit fresh ``txn``
  actions (one ``{appId: "<app_id>-<p>", version: <offset>}`` each);
* every stored offset ≥ requested → no-op ("already applied");
* any stored offset < requested → ``InconsistentStoredOffsets`` error —
  seeking forward past data the ledger says is unprocessed is refused.

On the Spark side the same offsets also map onto the Kafka source's
``startingOffsets`` JSON (IngestJob.kafka_source); this module keeps the
cross-engine ledger in the table log consistent with that seek.
"""

from __future__ import annotations

from kafka_delta_ingest_spark.sinks.base import Sink


class InconsistentStoredOffsets(RuntimeError):
    """Stored offsets are lower than the requested seek offsets
    (reference src/offsets.rs:96-102)."""


def txn_app_id_for_partition(app_id: str, partition: int) -> str:
    """reference src/delta_helpers.rs:29-34."""
    return f"{app_id}-{partition}"


def write_offsets_to_table(
    table: Sink, app_id: str, offsets: dict[int, int]
) -> bool:
    """Seed seek offsets into the txn ledger; True if a commit was made.

    Mirrors reference ``write_offsets_to_delta`` decision tree
    (src/offsets.rs:52-101).
    """
    mapped = {txn_app_id_for_partition(app_id, p): o for p, o in offsets.items()}
    stored = table.snapshot()["txn"]

    if not any(app in stored for app in mapped):
        # Safe: nothing stored for these partitions → commit txn actions.
        table.commit_offsets(mapped)
        return True

    conflicts = [
        (app, stored[app], want)
        for app, want in mapped.items()
        if app in stored and stored[app] < want
    ]
    if conflicts:
        detail = ", ".join(
            f"{app.rsplit('-', 1)[-1]}:stored={have}/seek={want}"
            for app, have, want in conflicts
        )
        raise InconsistentStoredOffsets(f"[{detail}]")
    # Stored offsets are present and >= requested: already applied.
    return False
