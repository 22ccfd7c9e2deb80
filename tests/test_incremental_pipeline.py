"""Incremental curation driven by the change data feed.

The 100 TB operating mode for a curation pipeline is incremental: new
document batches land in a raw table continuously, and each poll must
process ONLY the delta — quality-filter the new rows, drop any that
duplicate the already-curated corpus or each other, and append the
survivors. The invariant proven here is the one that matters: after
every poll, the incrementally-maintained curated table equals a full
batch recompute over the raw table from scratch. Poll cost tracks the
CHANGE RATE (feed rows + an anti-join against the curated keys), never
raw-table size.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.operators.dedup import exact_dedup_normalized
from kafka_delta_ingest_spark.operators.text import normalize_text, quality_score
from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardWriter,
    read_delta,
    table_changes,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="kdi-incr-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _curate_batch(df):
    """The per-poll curation core: quality gate + in-batch exact dedup."""
    q = df.filter(quality_score(F.col("text")) >= 0.4)
    return exact_dedup_normalized(q, "text", "doc_id")


def _full_recompute(spark, raw):
    """Golden path: the same pipeline over the WHOLE raw table."""
    return _curate_batch(read_delta(spark, raw.root))


def _poll(spark, raw, curated, cursor):
    """One incremental poll: feed after cursor -> admit -> append."""
    head = raw.latest_version()
    feed = table_changes(spark, raw.root, cursor + 1, head)
    batch = _curate_batch(
        feed.filter(F.col("_change_type") == "insert").drop(
            "_change_type", "_commit_version", "_commit_timestamp"
        )
    ).withColumn("_nk", F.md5(normalize_text(F.col("text"))))
    if curated.latest_version() >= 0:
        existing = read_delta(spark, curated.root).select(
            F.md5(normalize_text(F.col("text"))).alias("_nk")
        )
        batch = batch.join(existing, "_nk", "left_anti")
    admitted = batch.drop("_nk")
    curated.write(admitted, txn={"curator": head})
    return head


def _ids(spark, t):
    return {r.doc_id for r in read_delta(spark, t.root).collect()}


def test_incremental_equals_batch_recompute(spark, root):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
        .limit(60)
        .collect()
    )
    raw = DeltaStandardWriter(root + "/raw")
    curated = DeltaStandardWriter(root + "/curated")
    schema = "doc_id long, text string, lang string"

    # Batch 1: first 30 docs.
    raw.write(spark.createDataFrame(docs[:30], schema))
    raw.enable_change_data_feed()
    cursor = -1
    cursor = _poll(spark, raw, curated, cursor)
    golden = {r.doc_id for r in _full_recompute(spark, raw).collect()}
    got = _ids(spark, curated)
    assert got == golden and len(got) > 0

    # Batch 2: 20 fresh docs PLUS 5 re-submissions of batch-1 text
    # under new ids (cross-batch dupes) and one in-batch dupe pair.
    resub = [
        (1000 + i, docs[i].text, docs[i].lang) for i in range(5)
    ]
    inbatch_dupe = [(2000, docs[31].text, docs[31].lang)]
    raw.write(
        spark.createDataFrame(
            [tuple(d) for d in docs[30:50]] + resub + inbatch_dupe, schema
        )
    )
    cursor = _poll(spark, raw, curated, cursor)
    golden = {r.doc_id for r in _full_recompute(spark, raw).collect()}
    got = _ids(spark, curated)
    assert got == golden
    # The cross-batch re-submissions were rejected by the curated-key
    # anti-join, the in-batch dupe by the batch dedup.
    assert not any(i >= 1000 for i in got)

    # Batch 3: the last 10 docs; replaying the SAME poll twice must be
    # idempotent (txn ledger skips the second write).
    raw.write(spark.createDataFrame([tuple(d) for d in docs[50:]], schema))
    feed_cursor = cursor
    cursor = _poll(spark, raw, curated, feed_cursor)
    n_after = read_delta(spark, curated.root).count()
    _poll(spark, raw, curated, feed_cursor)  # replay, same cursor
    assert read_delta(spark, curated.root).count() == n_after
    golden = {r.doc_id for r in _full_recompute(spark, raw).collect()}
    assert _ids(spark, curated) == golden


def test_poll_reads_only_the_delta(spark, root):
    """The feed for a poll must contain exactly the rows appended since
    the cursor — the incremental-cost contract."""
    raw = DeltaStandardWriter(root + "/raw")
    raw.write(
        spark.createDataFrame([(i, f"t{i}") for i in range(100)], "doc_id long, text string")
    )
    v1 = raw.enable_change_data_feed()
    raw.write(
        spark.createDataFrame([(100 + i, f"t{100+i}") for i in range(7)], "doc_id long, text string")
    )
    feed = table_changes(spark, raw.root, v1 + 1)
    assert feed.count() == 7  # never the 100-row backlog
    assert {r._change_type for r in feed.collect()} == {"insert"}


def _replicate(spark, src, dst, key):
    """One replication poll whose cursor is the destination's own txn
    ledger: the net change per key since the last applied source
    version, MERGEd with that version as the txn — so the apply and
    the cursor advance commit atomically, and a replayed poll skips."""
    from pyspark.sql import Window

    head = src.latest_version()
    pos = dst.txn_version("replica")
    if pos is not None and pos >= head:
        return head
    feed = table_changes(spark, src.root, (pos or 0) + 1, head).filter(
        "_change_type != 'update_preimage'"
    )
    # within a commit a delete precedes its re-insert
    rank = F.when(F.col("_change_type") == "delete", 0).otherwise(1)
    w = Window.partitionBy(key).orderBy(
        F.col("_commit_version").desc(), rank.desc()
    )
    net = (
        feed.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn", "_commit_version", "_commit_timestamp")
    )
    # a tombstone for a key the mirror never held inserts nothing
    held = read_delta(spark, dst.root).select(key)
    net = net.filter("_change_type != 'delete'").unionByName(
        net.filter("_change_type = 'delete'").join(held, key, "left_semi")
    )
    cols = [c for c in net.columns if c != "_change_type"]
    dst.merge(
        spark,
        net,
        f"source.{key} = target.{key}",
        when_matched_delete="source._change_type = 'delete'",
        when_matched_update={c: f"source.{c}" for c in cols},
        when_not_matched_insert={c: f"source.{c}" for c in cols},
        txn={"replica": head},
    )
    return head


def test_change_feed_cursor_replication(spark, root):
    """A mirror maintained from the change feed with the destination's
    txn ledger as the durable cursor; replayed and empty polls are
    no-ops."""
    src = DeltaStandardWriter(root + "/src")
    dst = DeltaStandardWriter(root + "/dst")
    src.write(
        spark.createDataFrame([(i, i) for i in range(10)], "id long, val long")
    )
    src.enable_change_data_feed()
    dst.write(read_delta(spark, src.root), txn={"replica": src.latest_version()})

    def rows(t):
        return sorted(map(tuple, read_delta(spark, t.root).collect()))

    src.update_where(spark, "id < 3", {"val": "val + 100"})
    src.delete_where(spark, "id = 9")
    src.write(spark.createDataFrame([(42, 0)], "id long, val long"))
    h2 = _replicate(spark, src, dst, "id")
    assert rows(dst) == rows(src)
    assert dst.txn_version("replica") == h2

    # Empty poll: cursor already at head, destination untouched.
    v_dst = dst.latest_version()
    assert _replicate(spark, src, dst, "id") == h2
    assert dst.latest_version() == v_dst

    # Crash-replay: the same poll re-applied is skipped by the ledger.
    head = src.latest_version()
    dst.merge(
        spark,
        spark.createDataFrame([(0, -1)], "id long, val long"),
        "source.id = target.id",
        when_matched_update={"val": "source.val"},
        txn={"replica": head},
    )
    assert dst.latest_version() == v_dst
    assert rows(dst) == rows(src)


def _doc_rows(spark, lo, hi):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(hi)
        .collect()[lo:hi]
    )


def test_indexed_admission_equals_stateless(spark):
    """incremental_ngram_dedup_indexed over build_gram_index(existing)
    must admit exactly the rows the stateless form admits — the
    contract that lets a steady-state deployment swap corpus
    re-shingling for one persisted-index scan."""
    from kafka_delta_ingest_spark.operators.dedup import (
        build_gram_index,
        incremental_ngram_dedup,
        incremental_ngram_dedup_indexed,
    )

    docs = _doc_rows(spark, 0, 40)
    schema = "doc_id long, text string"
    existing = spark.createDataFrame([(d.doc_id, d.text) for d in docs[:25]], schema)
    # incoming: 10 fresh docs + near-dup resubmissions of corpus text
    # (one word appended: high-Jaccard, not exact) + an intra-batch
    # near-dup pair.
    incoming_rows = [(10_000 + i, docs[25 + i].text) for i in range(10)]
    incoming_rows += [
        (20_000 + i, docs[i].text + " extra") for i in range(4)
    ]
    incoming_rows += [(30_000, docs[30].text), (30_001, docs[30].text + " tail")]
    incoming = spark.createDataFrame(incoming_rows, schema)

    stateless = incremental_ngram_dedup(
        existing, incoming, "doc_id", "text", n=3, threshold=0.5
    )
    index = build_gram_index(existing, "doc_id", "text", n=3)
    indexed = incremental_ngram_dedup_indexed(
        index, incoming, "doc_id", "text", n=3, threshold=0.5
    )
    got_a = sorted(r.doc_id for r in stateless.collect())
    got_b = sorted(r.doc_id for r in indexed.collect())
    assert got_a == got_b
    # the resubmissions and the higher intra-batch twin must be gone,
    # the fresh docs admitted
    assert all(i < 20_000 or i == 30_000 for i in got_b)
    assert {10_000 + i for i in range(10)} <= set(got_b)


def test_gram_index_append_invariant(spark):
    """Appending an admitted batch's grams to the index and admitting
    the NEXT batch equals the stateless form run against
    corpus ∪ admitted — the index stays a faithful corpus mirror
    across polls."""
    from kafka_delta_ingest_spark.operators.dedup import (
        build_gram_index,
        incremental_ngram_dedup,
        incremental_ngram_dedup_indexed,
    )

    docs = _doc_rows(spark, 0, 45)
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame([(d.doc_id, d.text) for d in docs[:20]], schema)
    batch1 = spark.createDataFrame(
        [(1_000 + i, docs[20 + i].text) for i in range(10)]
        + [(2_000, docs[0].text + " x")],
        schema,
    )
    batch2 = spark.createDataFrame(
        [(5_000 + i, docs[30 + i].text) for i in range(10)]
        # near-dups of batch-1 ADMITTED text — only the index append
        # can reject these
        + [(6_000 + i, docs[20 + i].text + " y") for i in range(3)],
        schema,
    )

    index = build_gram_index(corpus, "doc_id", "text", n=3)
    admitted1 = incremental_ngram_dedup_indexed(
        index, batch1, "doc_id", "text", n=3, threshold=0.5
    ).localCheckpoint()
    index2 = index.unionByName(
        build_gram_index(admitted1, "doc_id", "text", n=3)
    )
    admitted2 = incremental_ngram_dedup_indexed(
        index2, batch2, "doc_id", "text", n=3, threshold=0.5
    )

    golden_existing = corpus.unionByName(admitted1)
    golden2 = incremental_ngram_dedup(
        golden_existing, batch2, "doc_id", "text", n=3, threshold=0.5
    )
    assert sorted(r.doc_id for r in admitted2.collect()) == sorted(
        r.doc_id for r in golden2.collect()
    )
    # the batch-1-near-dup plants must be rejected by the appended index
    assert not any(
        6_000 <= r.doc_id < 7_000 for r in admitted2.collect()
    )


def test_incremental_dedup_zero_shingle_docs_admitted(spark):
    """Docs with no shingles have no gram rows (hence no derived size
    row); they can never pair, so they are always admitted — same as
    the old explicit size(word_shingles) lineage."""
    from kafka_delta_ingest_spark.operators.dedup import (
        incremental_ngram_dedup,
    )

    existing = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # dup: rejected
            (11, ""),  # zero shingles: admitted
            (12, "zz"),  # < n tokens -> zero shingles: admitted
            (13, "one two three four five six seven"),  # novel: admitted
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id
        for r in incremental_ngram_dedup(
            existing, incoming, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert got == {11, 12, 13}
