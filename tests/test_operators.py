"""Operator tests over the driver's synthetic tables (sf0.001)."""

import pytest
from pyspark.sql import Row, functions as F

from kafka_delta_ingest_spark.io import load_table
from kafka_delta_ingest_spark.operators import dedup, similarity, text
from kafka_delta_ingest_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
    FEATURE_DIM,
)
from kafka_delta_ingest_spark.streaming import sessionize, windowed_counts
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def embeds(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


# -- text ---------------------------------------------------------------


def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", text.token_count(F.col("text")).alias("n")).collect()
    for r in rows[:50]:
        assert r.n == len(r.text.split()), r.doc_id


def test_quality_and_ratios_bounded(spark, docs):
    prof = text.text_profile(docs).collect()
    assert len(prof) == docs.count()
    for r in prof:
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert len(r.fingerprint) == 32


def test_fingerprint_is_normalization_invariant(spark):
    df = spark.createDataFrame(
        [Row(a="Hello   World"), Row(a="hello world"), Row(a="HELLO\tWORLD")]
    )
    fps = [r.fp for r in df.select(text.fingerprint_md5(F.col("a")).alias("fp")).collect()]
    assert len(set(fps)) == 1


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat and the dog is happy"),
            Row(t="der hund und die katze ist da"),
            Row(t="el perro es grande y la casa"),
            Row(t="xyzzy qwerty plugh"),
        ]
    )
    out = [r.l for r in df.select(text.lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["en", "de", "es", "unknown"]


# -- dedup --------------------------------------------------------------


def test_exact_dedup_removes_planted_dupes(spark, docs):
    # plant duplicates: union docs with itself shifted ids
    dup = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(dup)
    kept = dedup.exact_dedup(both, ["text"], "doc_id")
    assert kept.count() == docs.select("text").distinct().count()
    # survivors are the low ids
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_self_similarity(spark, docs):
    small = docs.limit(50)
    # identical copies must be found with est_jaccard == 1.0
    copy = small.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = small.unionByName(copy)
    pairs = dedup.minhash_lsh_pairs(both, "doc_id", "text", num_hashes=32, bands=8)
    exact_pairs = pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("est_jaccard") == 1.0)
    )
    assert exact_pairs.count() == 50


def test_minhash_dedup_drops_copies(spark, docs):
    small = docs.limit(40)
    copy = small.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = small.unionByName(copy)
    kept = dedup.minhash_dedup(both, "doc_id", "text", threshold=0.9, num_hashes=32, bands=8)
    # every planted copy is dropped; originals may also pair among
    # themselves if the corpus contains true near-dupes
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0
    assert 35 <= kept.count() <= 40


def test_hamming_neardup_rejects_single_chunk(spark):
    """Explicit n_chunks=1 with max_hamming=0 passes the recall bound
    but would make the chunk mask (1 << 64) - 1, overflowing a Spark
    long at runtime — the guard must reject it up front."""
    import pytest

    df = spark.createDataFrame([(1, 0)], "doc_id long, fp long")
    with pytest.raises(ValueError, match="n_chunks >= 2"):
        dedup.hamming_neardup_pairs(
            df, "doc_id", "fp", max_hamming=0, n_chunks=1
        )


def test_simhash_identical_distance_zero(spark, docs):
    small = docs.limit(30)
    copy = small.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = small.unionByName(copy)
    pairs = dedup.simhash_pairs(both, "doc_id", "text", max_hamming=0)
    hits = pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000)
    assert hits.count() == 30


def test_ngram_jaccard_exact_one_for_copies(spark, docs):
    small = docs.limit(20)
    copy = small.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = small.unionByName(copy)
    pairs = dedup.ngram_jaccard_pairs(both, "doc_id", "text", n=3, threshold=0.99)
    hits = pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("jaccard") == 1.0)
    )
    assert hits.count() == 20


# -- similarity ---------------------------------------------------------


def test_cosine_topk_self_nearest(spark, embeds):
    queries = embeds.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(embeds, queries, k=3)
    top1 = {r.query_id: r.neighbor_id for r in out.filter(F.col("rank") == 1).collect()}
    # each vector's nearest neighbor is itself (cos=1)
    for qid, nid in top1.items():
        assert qid == nid
    sims = out.filter(F.col("rank") == 1).select("cos_sim").collect()
    for s in sims:
        assert abs(s.cos_sim - 1.0) < 1e-4


def test_lsh_topk_recall_at_1(spark, embeds):
    queries = embeds.limit(10).select(F.col("vec_id").alias("query_id"), "embedding")
    approx = similarity.lsh_bucketed_topk(
        embeds, queries, k=1, dim=64, num_bits=8, num_tables=4
    )
    # self-match always lands in the same bucket → recall@1 == 1.0
    top1 = {r.query_id: r.neighbor_id for r in approx.filter(F.col("rank") == 1).collect()}
    assert all(q == n for q, n in top1.items())
    assert len(top1) == 10


def test_embedding_neardup_planted(spark, embeds):
    small = embeds.limit(20)
    copy = small.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    both = small.unionByName(copy)
    pairs = similarity.embedding_neardup_pairs(both, threshold=0.999, num_bits=6)
    hits = pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000)
    assert hits.count() == 20


# -- multimodal ---------------------------------------------------------


def test_multimodal_plumbing(spark, docs):
    media = media_from_documents(docs.limit(25))
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 25
    for r in rows:
        assert len(r.features) == FEATURE_DIM
        assert r.n_bytes > 0
    # deterministic: same input → same features
    again = {r.media_id: r.features for r in extract_features(media).collect()}
    for r in rows:
        assert again[r.media_id] == r.features


def test_frame_sample_plan(spark, docs):
    media = media_from_documents(docs.limit(5))
    plan = frame_sample_plan(media, every_ms=500)
    rows = plan.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    durations = {r.media_id: r["meta"].duration_ms for r in media.select("media_id", "meta").collect()}
    for r in rows:
        expected = max(durations[r.media_id] // 500, 1)
        assert r.n == expected


def test_real_decode_is_stubbed(spark, docs):
    from kafka_delta_ingest_spark.operators.multimodal import real_decode_stub

    with pytest.raises(NotImplementedError):
        real_decode_stub(b"bytes")


# -- event-time ---------------------------------------------------------


def test_windowed_counts_total(spark):
    events = load_table(spark, SF_DIR, "events")
    out = windowed_counts(events, window="1 hour")
    assert out.agg(F.sum("n_events")).collect()[0][0] == events.count()


def test_sessionize_gap_semantics(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        Row(user_id=1, ts=base),
        Row(user_id=1, ts=base + datetime.timedelta(minutes=10)),
        Row(user_id=1, ts=base + datetime.timedelta(minutes=70)),  # new session
        Row(user_id=2, ts=base),
    ]
    df = spark.createDataFrame(rows)
    out = sessionize(df, gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2
    assert len(by_user[2]) == 1
    assert sum(r.n_events for r in by_user[1]) == 3


def test_asof_join_semantics(spark):
    """asof_join: latest right row with ts <= left ts; <= is inclusive;
    no match → NULL."""
    import datetime

    from kafka_delta_ingest_spark.operators.joins import asof_join

    T = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 1, T(10)), (2, 1, T(20)), (3, 1, T(5)), (4, 2, T(30))],
        "lid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 1, T(10)), (200, 1, T(15))], "rid long, k long, rts timestamp"
    )
    out = {
        r["lid"]: r["asof_rid"]
        for r in asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts").collect()
    }
    assert out == {1: 100, 2: 200, 3: None, 4: None}
    # 1: rts==ts inclusive; 2: picks latest (200 not 100); 3: before all; 4: other key


def test_bpe_ish_token_count(spark):
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.operators.text import bpe_ish_token_count

    df = spark.createDataFrame(
        [("hello, world! it's 2024",), ("",), ("a-b",)], "t string"
    )
    got = [r["n"] for r in df.select(bpe_ish_token_count(F.col("t")).alias("n")).collect()]
    # hello , world ! it ' s 2024 → 8 ; "" → 0 ; a - b → 3
    assert got == [8, 0, 3]


def test_salted_agg_matches_plain_groupby(spark):
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.operators.util import salted_agg

    # heavily skewed: 90% of rows share one key
    rows = [(("hot" if i % 10 else f"k{i}"), i) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v long")
    salted = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in salted_agg(
            df, ["k"], {"n": ("count", "v"), "total": ("sum", "v"), "mx": ("max", "v")}
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx"))
        .collect()
    }
    assert salted == plain


def test_resize_media_plumbing(spark, docs):
    from kafka_delta_ingest_spark.operators import multimodal

    media = multimodal.media_from_documents(docs)
    out = multimodal.resize_media(media, width=8, height=4).collect()
    assert len(out) == media.count()
    for r in out:
        assert len(bytes(r["media"])) <= 8 * 4
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 4


def test_repetition_profile_hand_computed(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a a a b"), Row(doc_id=2, text="x y"), Row(doc_id=3, text="solo")]
    )
    got = {r.doc_id: r for r in text.repetition_profile(df).collect()}
    # doc 1: 4 words, 2 distinct -> dup 0.5; bigrams [a a, a a, a b] -> top 2/3
    assert got[1].n_words == 4 and got[1].dup_word_frac == 0.5
    assert got[1].top_bigram_frac == round(2 / 3, 6)
    # doc 2: no repetition; single bigram occupies everything
    assert got[2].dup_word_frac == 0.0 and got[2].top_bigram_frac == 1.0
    # doc 3: one word -> no bigrams -> 0
    assert got[3].top_bigram_frac == 0.0


def test_corpus_top_ngrams_document_frequency(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox the quick brown fox"),
            Row(doc_id=2, text="the quick brown cat"),
            Row(doc_id=3, text="lazy dog sleeps"),
        ]
    )
    top = text.corpus_top_ngrams(df, n=3, top_k=2).collect()
    # "the quick brown" appears in docs 1 and 2 (per-doc distinct -> df=2)
    assert top[0].g == "the quick brown" and top[0].doc_freq == 2
    assert top[1].doc_freq == 1


def test_recall_eval_hand_computed(spark):
    from pyspark.sql import Row

    exact = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=n) for n in (10, 11)]
        + [Row(query_id=2, neighbor_id=n) for n in (20, 21)]
    )
    approx = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=10), Row(query_id=1, neighbor_id=11),
         Row(query_id=2, neighbor_id=20), Row(query_id=2, neighbor_id=99)]
    )
    row = similarity.recall_eval(approx, exact).collect()[0]
    assert row.n_queries == 2 and row.n_hits == 3
    assert row.mean_recall == 0.75


def test_approx_count_distinct_error_bound(spark):
    import __spark_entry__ as E

    rows = E.queries()["agg_approx_distinct"](spark, SF_DIR).collect()
    assert rows, "no groups"
    for r in rows:
        # the query self-checks rel err <= 3*rsd and emits the verdict
        assert r.within_tol, (r.event_type, r.exact_users)
        assert r.exact_users > 0


def test_connected_components_chain_and_triangle(spark):
    from pyspark.sql import Row

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in
         [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]]
    )
    got = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_approx_percentile_error_bound(spark):
    import __spark_entry__ as E

    for r in E.queries()["agg_approx_percentiles"](spark, SF_DIR).collect():
        # the query self-checks |approx-exact|/exact <= 1% and emits
        # the verdicts next to the exact discrete cents percentiles
        assert r.p50_within_tol and r.p99_within_tol, r
        assert 0 < r.p50_cents <= r.p99_cents


def test_quantization_fidelity_bounds(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    rows = similarity.quantization_fidelity(e).collect()
    assert rows
    for r in rows:
        # int8 symmetric quantization keeps cosine essentially intact
        assert r.cos_fidelity >= 0.999, (r.vec_id, r.cos_fidelity)
        # per-component error bounded by half a quantization step
        assert r.max_abs_err >= 0.0


def test_deterministic_split_stable_and_partitioned(spark, docs):
    from kafka_delta_ingest_spark.operators.sampling import deterministic_split

    a = deterministic_split(docs, "doc_id", train_pct=90)
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()
    # md5 buckets are uniform: train share within a few points of 90%
    assert 0.85 <= counts["train"] / total <= 0.95
    # pure function of the key: re-derivation agrees row for row
    b = deterministic_split(docs.orderBy(F.rand(7)), "doc_id", train_pct=90)
    mismatch = (
        a.select("doc_id", F.col("split").alias("s1"))
        .join(b.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .where("s1 <> s2")
        .count()
    )
    assert mismatch == 0


def test_stratified_sample_hits_fractions(spark, docs):
    from kafka_delta_ingest_spark.operators.sampling import stratified_sample

    base = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    fr = {lang: 0.5 for lang in base}
    got = {
        r.lang: r.n
        for r in stratified_sample(docs, "lang", fr, seed=1)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, n in base.items():
        assert got.get(lang, 0) <= n
        if n >= 50:  # only check the ratio where the stratum is big enough
            assert 0.3 <= got[lang] / n <= 0.7


def test_pack_sequences_monotone_and_chunk_aligned(spark, docs):
    from kafka_delta_ingest_spark.operators.sampling import pack_sequences

    p = pack_sequences(docs, ctx_tokens=256).select("lang", "doc_id", "n_tokens", "pack_id")
    rows = p.orderBy("lang", "doc_id").collect()
    cum = {}
    for r in rows:
        start = cum.get(r.lang, 0)  # token offset where this doc begins
        assert r.pack_id == start // 256, (r.lang, r.doc_id)
        cum[r.lang] = start + r.n_tokens
    # pack ids never decrease along the concatenation order
    for lang in cum:
        ids = [r.pack_id for r in rows if r.lang == lang]
        assert ids == sorted(ids)


def test_tfidf_ubiquitous_term_scores_zero(spark):
    from kafka_delta_ingest_spark.operators.ranking import tfidf_top_terms

    d = spark.createDataFrame(
        [(1, "apple common x"), (2, "banana common y"), (3, "cherry common z")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.term): r.tfidf for r in tfidf_top_terms(d, top_k=3).collect()}
    # 'common' appears in every doc -> idf = ln(1) = 0
    assert all(abs(v) < 1e-9 for (d_, t), v in out.items() if t == "common")
    # each doc's distinctive terms outrank it
    assert out[(1, "apple")] > 0 and out[(2, "banana")] > 0 and out[(3, "cherry")] > 0


def test_bm25_ranks_matching_docs(spark):
    from kafka_delta_ingest_spark.operators.ranking import bm25_search

    d = spark.createDataFrame(
        [
            (1, "spark merge merge merge"),
            (2, "spark merge"),
            (3, "nothing relevant here"),
            (4, "merge"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_search(d, ["merge"], top_k=10).collect()
    got = [r.doc_id for r in rows]
    assert 3 not in got  # no query term, no score
    assert set(got) == {1, 2, 4}
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    # tf saturation: doc 1 (tf=3) beats doc 2 (tf=1, same length band)
    assert got[0] == 1


def test_hash_sample_exact_k_and_plan(spark, docs):
    from kafka_delta_ingest_spark.operators.sampling import hash_sample_exact

    s = hash_sample_exact(docs, 50)
    assert s.count() == 50
    # stable pick: same 50 ids regardless of input order
    a = {r.doc_id for r in s.collect()}
    b = {r.doc_id for r in hash_sample_exact(docs.orderBy(F.rand(3)), 50).collect()}
    assert a == b
    # top-k merge, not a global sort shuffle
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_source_mix_and_domain_cap(spark, docs):
    from kafka_delta_ingest_spark.operators.sampling import cap_per_group, source_mix

    kept = source_mix(docs, {"src0": 1.0, "src1": 0.0})
    srcs = {r.source for r in kept.select("source").distinct().collect()}
    assert srcs == {"src0"}  # 0-weight and unlisted sources drop
    n0 = docs.where("source = 'src0'").count()
    assert kept.count() == n0  # weight 1.0 keeps every row

    capped = cap_per_group(docs, "source", 3, [F.col("doc_id")])
    per = capped.groupBy("source").count().collect()
    assert all(r["count"] <= 3 for r in per)
    # kept rows are the 3 smallest doc_ids of each source
    for r in capped.where("source = 'src0'").collect():
        assert r.rn <= 3


def test_canonicalize_clusters_keeps_best(spark):
    docs = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.7)], "doc_id long, quality double"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    out = {r.doc_id: r for r in dedup.canonicalize_clusters(docs, clusters, "quality").collect()}
    assert out[2].keep == 1 and out[1].keep == 0  # best-quality member wins
    assert out[1].cluster_id == out[2].cluster_id == 1
    assert out[3].cluster_id == 3 and out[3].keep == 1  # singleton keeps itself


def test_pipeline_corpus_curation_funnel(spark):
    import __spark_entry__ as E

    rows = E.queries()["pipeline_corpus_curation"](spark, SF_DIR).collect()
    assert rows
    assert {r.split for r in rows} <= {"train", "holdout"}
    total = sum(r.n_docs for r in rows)
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert 0 < total < n_docs  # the funnel filtered something, kept something


# ---------------------------------------------------------------------------
# skew-safe sampling paths
# ---------------------------------------------------------------------------


def _skewed_docs(spark, n=6000, hot_frac=0.3):
    """Synthetic corpus where one domain owns ``hot_frac`` of all rows —
    the straggler shape a 100 TB per-domain cap/pack must survive."""
    hot = int(n * hot_frac)
    rows = [
        (i, "megadomain" if i < hot else f"src{i % 17}", f"word{i % 97} " * (5 + i % 40))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_salted_cap_matches_naive_exactly(spark):
    from kafka_delta_ingest_spark.operators.sampling import cap_per_group

    d = _skewed_docs(spark)
    order = [F.length("text").desc(), F.col("doc_id")]
    naive = cap_per_group(d, "source", 25, order, salt_shards=0)
    salted = cap_per_group(d, "source", 25, order, salt_shards=16)
    a = sorted(map(tuple, naive.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0


def test_salted_cap_bounds_per_task_rows(spark):
    """Phase 2 of the salted top-n sees ≤ salt_shards·n rows per group
    no matter how hot the domain is — the straggler sort is gone."""
    from kafka_delta_ingest_spark.operators.sampling import cap_per_group

    d = _skewed_docs(spark)
    n, shards = 25, 16
    order = [F.length("text").desc(), F.col("doc_id")]
    # Reconstruct phase 1's survivor set and check the bound that makes
    # phase 2 skew-proof.
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64(*[F.col(c) for c in d.columns]), F.lit(shards))
    w1 = Window.partitionBy("source", "_salt").orderBy(*order)
    survivors = (
        d.withColumn("_salt", salt)
        .withColumn("_lrn", F.row_number().over(w1))
        .where(F.col("_lrn") <= n)
    )
    per_group = survivors.groupBy("source").count().collect()
    hot_total = d.filter(F.col("source") == "megadomain").count()
    assert hot_total >= 1500  # fixture really is skewed
    for r in per_group:
        assert r["count"] <= shards * n
    # and phase 1 split the hot domain across many window partitions
    hot_shards = (
        survivors.filter(F.col("source") == "megadomain")
        .select("_salt").distinct().count()
    )
    assert hot_shards == shards


def test_sharded_pack_sequences_bounded_and_consistent(spark):
    """Sharded packing: every (group, shard) stream packs independently
    and exactly (running-sum law holds inside each stream), and the hot
    group's rows split across all shards instead of one sort task."""
    import math

    from kafka_delta_ingest_spark.operators.sampling import pack_sequences

    d = _skewed_docs(spark)
    ctx, shards = 256, 8
    p = pack_sequences(
        d, ctx_tokens=ctx, group_col="source", order_col="doc_id", shards=shards
    )
    rows = p.filter(F.col("source") == "megadomain").orderBy(
        "pack_shard", "doc_id"
    ).collect()
    assert {r.pack_shard for r in rows} == set(range(shards))
    # per-stream exact running-sum packing
    from collections import defaultdict

    streams = defaultdict(list)
    for r in rows:
        streams[r.pack_shard].append(r)
    for sh, rs in streams.items():
        cum = 0
        for r in rs:
            assert r.pack_id == math.floor(cum / ctx) or r.pack_id == (cum) // ctx
            expect = cum // ctx
            assert r.pack_id == expect
            cum += r.n_tokens
    # rows per stream bounded well below the hot group's total
    sizes = [len(rs) for rs in streams.values()]
    assert max(sizes) < 0.5 * sum(sizes)


def test_sharded_pack_plan_has_no_single_group_window(spark):
    """The physical plan must window on (group, shard), not group alone."""
    from kafka_delta_ingest_spark.operators.sampling import pack_sequences

    d = _skewed_docs(spark)
    p = pack_sequences(d, ctx_tokens=256, group_col="source", order_col="doc_id", shards=8)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "pack_shard" in plan.split("Window")[1][:400]


# -- decontamination ----------------------------------------------------


def test_contamination_flags_excerpt_sources(spark, docs):
    """A benchmark built from 30-word excerpts must flag exactly the
    source documents (plus any true n-gram collisions) and report a
    sane overlap rate."""
    from kafka_delta_ingest_spark.operators.decontam import contamination_report

    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(
            " ", F.slice(F.split(text.normalize_text(F.col("text")), " "), 1, 30)
        ).alias("text"),
    )
    report = contamination_report(docs, bench, n=8)
    rows = {r.doc_id: r for r in report.collect()}
    bench_ids = [r.bench_id for r in bench.select("bench_id").collect()]
    for b in bench_ids:
        assert b in rows, f"benchmark source doc {b} not flagged"
        r = rows[b]
        assert 0 < r.n_hit_grams <= r.n_grams
        assert r.n_bench_docs >= 1
        assert 0.0 < r.contamination_rate <= 1.0


def test_decontaminate_drops_flagged_keeps_clean(spark, docs):
    from kafka_delta_ingest_spark.operators.decontam import (
        contamination_report,
        decontaminate,
    )

    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("text")
    )
    flagged = {
        r.doc_id
        for r in contamination_report(docs, bench, n=8).collect()
    }
    clean = decontaminate(docs, bench, n=8)
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    total = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept == total - flagged
    assert flagged  # the verbatim benchmark must flag its own sources


def test_contamination_match_is_broadcast(spark, docs):
    """The corpus-side flagging join must be a broadcast-hash join —
    the 100 TB side never shuffles for the match step."""
    from kafka_delta_ingest_spark.operators.decontam import contamination_report

    bench = docs.limit(5).select(
        F.col("doc_id").alias("bench_id"), F.col("text")
    )
    plan = (
        contamination_report(docs, bench, n=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# -- PII scrub ----------------------------------------------------------


def test_pii_counts_and_redaction_roundtrip(spark):
    from kafka_delta_ingest_spark.operators.pii import pii_report

    rows = [
        Row(doc_id=1, text="reach me at jane.doe+spam@mail.example.org today"),
        Row(doc_id=2, text="call 415-555-0134 or 650-555-0199"),
        Row(doc_id=3, text="ssn 123-45-6789 on file"),
        Row(doc_id=4, text="served from 192.168.1.254 cluster"),
        Row(doc_id=5, text="clean text with no identifiers at all"),
        Row(doc_id=6, text="a@b.io and 10.0.0.1 and 999-99-9999"),
    ]
    out = {r.doc_id: r for r in pii_report(spark.createDataFrame(rows)).collect()}
    assert out[1].n_email == 1 and "<EMAIL>" in out[1].redacted
    assert "jane" not in out[1].redacted
    assert out[2].n_phone == 2 and out[2].redacted.count("<PHONE>") == 2
    assert out[3].n_ssn == 1 and "<SSN>" in out[3].redacted
    assert out[4].n_ipv4 == 1 and "<IPV4>" in out[4].redacted
    assert out[5].pii_total == 0 and out[5].redacted == rows[4].text
    assert out[6].n_email == 1 and out[6].n_ipv4 == 1 and out[6].n_ssn == 1
    assert out[6].pii_total == 3


def test_pii_ssn_phone_disambiguation(spark):
    """3-2-4 digit runs are SSNs, 3-3-4 are phones — neither pattern may
    consume the other's match."""
    from kafka_delta_ingest_spark.operators.pii import pii_report

    rows = [Row(doc_id=1, text="415-555-0134 vs 123-45-6789")]
    r = pii_report(spark.createDataFrame(rows)).collect()[0]
    assert r.n_phone == 1 and r.n_ssn == 1
    assert r.redacted == "<PHONE> vs <SSN>"


def test_pii_scrub_is_pure_projection(spark, docs):
    """The scrub plan must be a single Project over the scan — no
    shuffle, no UDF eval nodes."""
    from kafka_delta_ingest_spark.operators.pii import pii_report

    plan = (
        pii_report(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -- incremental dedup --------------------------------------------------


def test_incremental_dedup_admission_rules(spark):
    """Cross rejection (vs corpus), intra rejection (vs lower-id batch
    mate), and admission of novel docs, on hand-checkable texts."""
    from kafka_delta_ingest_spark.operators.dedup import incremental_ngram_dedup

    existing = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "pack my box with five dozen liquor jugs right now"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (first word dropped) -> rejected
            (10, "quick brown fox jumps over the lazy dog tonight"),
            # novel -> admitted
            (11, "completely unrelated sentence about spark query planning"),
            # exact copy of 11 -> rejected intra-batch (higher id loses)
            (12, "completely unrelated sentence about spark query planning"),
        ],
        "doc_id long, text string",
    )
    admitted = incremental_ngram_dedup(
        existing, incoming, "doc_id", "text", n=3, threshold=0.5
    )
    assert {r.doc_id for r in admitted.collect()} == {11}
    # admitted rows keep their full schema
    assert admitted.columns == ["doc_id", "text"]


def test_incremental_dedup_empty_existing(spark):
    """With no corpus, this degrades to plain intra-batch dedup."""
    from kafka_delta_ingest_spark.operators.dedup import incremental_ngram_dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    admitted = incremental_ngram_dedup(empty, incoming, "doc_id", "text")
    assert {r.doc_id for r in admitted.collect()} == {1, 3}


def test_shared_passages_finds_planted_boilerplate(spark):
    from kafka_delta_ingest_spark.operators.text import shared_passages

    boiler = " ".join(f"term{i}" for i in range(60))
    filler = [
        " ".join(f"w{d}x{i}" for i in range(80))  # unique 80-word bodies
        for d in range(4)
    ]
    rows = [
        (0, filler[0] + " " + boiler),
        (1, filler[1] + " " + boiler),
        (2, filler[2] + " " + boiler),
        (3, filler[3]),  # no boilerplate
    ]
    out = shared_passages(
        spark.createDataFrame(rows, "doc_id long, text string"),
        window=50,
        min_docs=2,
    ).collect()
    # exactly the 11 in-boilerplate windows repeat (60 - 50 + 1), each
    # carried by docs {0,1,2}; windows touching the unique bodies don't.
    assert len(out) == 11
    for r in out:
        assert r.n_docs == 3 and r.min_doc == 0 and r.max_doc == 2


def test_remove_shared_passages_strips_all_but_keeper(spark):
    from kafka_delta_ingest_spark.operators.text import (
        remove_shared_passages,
    )

    boiler = " ".join(f"term{i}" for i in range(60))
    filler = [
        " ".join(f"w{d}x{i}" for i in range(80)) for d in range(4)
    ]
    rows = [
        (0, filler[0] + " " + boiler),
        (1, filler[1] + " " + boiler),
        (2, filler[2] + " " + boiler),
        (3, filler[3]),  # no boilerplate
        (4, "short doc"),  # below window: untouched
    ]
    out = {
        r.doc_id: r
        for r in remove_shared_passages(
            spark.createDataFrame(rows, "doc_id long, text string"),
            window=50,
            min_docs=2,
        ).collect()
    }
    # doc 0 is the lowest-id carrier: keeps its copy verbatim
    assert out[0].n_removed == 0 and out[0].clean_text == rows[0][1]
    # docs 1/2 lose exactly the 60 boilerplate words, filler survives
    for d in (1, 2):
        assert out[d].n_removed == 60
        assert out[d].clean_text == filler[d]
        assert out[d].n_tok == 140
    # untouched docs round-trip exactly (whitespace-normalized join)
    assert out[3].n_removed == 0 and out[3].clean_text == filler[3]
    assert out[4].clean_text == "short doc" and out[4].n_tok == 2


def test_remove_shared_passages_case_insensitive_match(spark):
    # Passage keys are case-insensitive (matching shared_passages'
    # census semantics): an upper-cased copy of the boilerplate still
    # counts as the same repeated passage, yet the SURVIVING text keeps
    # its original case.
    from kafka_delta_ingest_spark.operators.text import (
        remove_shared_passages,
        shared_passages,
    )

    boiler = " ".join(f"term{i}" for i in range(60))
    filler = [" ".join(f"w{d}x{i}" for i in range(80)) for d in range(2)]
    rows = [
        (0, (filler[0] + " " + boiler).upper()),  # keeper, upper-case
        (1, filler[1] + " " + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the census sees the repeat…
    assert shared_passages(df, window=50, min_docs=2).count() == 11
    out = {
        r.doc_id: r
        for r in remove_shared_passages(df, window=50, min_docs=2).collect()
    }
    # …and removal strips it from the non-keeper, case notwithstanding
    assert out[0].n_removed == 0 and out[0].clean_text == rows[0][1]
    assert out[1].n_removed == 60 and out[1].clean_text == filler[1]


def test_pq_exact_when_corpus_is_its_own_codebook(spark):
    """When every corpus vector IS a pivot, each vector's codes are its
    own subvectors, so the ADC distance is the true L2^2 — PQ becomes
    exact: top-1 for each query must be itself at distance 0."""
    import random

    from kafka_delta_ingest_spark.operators.similarity import pq_topk

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(10)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_topk(
        corpus,
        corpus.selectExpr("vec_id AS query_id", "embedding"),
        k=3,
        dim=16,
        m=4,
        centroid_mod=1,  # every corpus vector is a pivot
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(10))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        assert rs[0].neighbor_id == qid and rs[0].approx_d == 0.0
        assert all(r.approx_d >= 0 for r in rs)


def test_pq_recall_against_exact_topk(spark, embeds):
    """PQ is approximate; this pins a recall floor against the exact
    cosine top-k on the driver's embeddings so codebook or ADC
    regressions show up as a recall collapse, not silent bad answers."""
    from kafka_delta_ingest_spark.operators.similarity import cosine_topk, pq_topk

    q = embeds.filter(F.col("vec_id") % 50 == 0)
    exact = cosine_topk(embeds, q, k=10, query_id="vec_id")
    approx = pq_topk(embeds, q, k=10, dim=64, m=8, centroid_mod=10,
                     query_id="vec_id")
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, recall  # coarse 16-cell codebooks; floor, not target


def test_semdedup_drops_higher_id_near_identical(spark):
    """Planted near-identical vectors: the lowest id in each clique
    survives, everything else is dropped; distinct vectors all survive."""
    import math

    from kafka_delta_ingest_spark.operators.similarity import semdedup

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = unit([1.0, 2.0, 3.0, 4.0])
    near = unit([1.001, 2.0, 3.0, 4.0])  # cos ~ 1.0 with base
    far = unit([4.0, -3.0, 2.0, -1.0])
    rows = [
        Row(vec_id=0, embedding=base),   # pivot (0 % 10 == 0) + clique min
        Row(vec_id=1, embedding=near),   # dropped (near 0)
        Row(vec_id=2, embedding=base),   # dropped (identical to 0)
        Row(vec_id=3, embedding=far),    # kept (distinct)
        Row(vec_id=10, embedding=unit([-1.0, -2.0, -3.0, -4.0])),  # pivot, kept
    ]
    df = spark.createDataFrame(rows)
    got = {r.vec_id: r.kept for r in semdedup(df, threshold=0.99).collect()}
    assert got == {0: True, 1: False, 2: False, 3: True, 10: True}


def test_gopher_rules_each_rule_fires(spark):
    """One crafted document per rule: exactly that rule fails."""
    from kafka_delta_ingest_spark.operators.text import gopher_quality

    good = (
        "The quick brown fox jumps over the lazy dog and runs away with "
        "great speed because it must have been chased by loud hunters. "
    ) * 3  # ~66 words, all rules pass
    docs = {
        0: good,
        1: "The dog and that cat have fun with all of it",  # < 50 words
        2: good + " ##########" * 20,  # hash ratio
        3: good + ("\nwait for it...\n" * 40),  # ellipsis lines
        4: good + " " + " ".join(["z" * 60] * 30),  # mean word len
        5: good + " " + " ".join(["123456"] * 40),  # alpha-word ratio
        6: " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 12),  # stopwords
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs.items()]
    )
    got = {r.doc_id: r.asDict() for r in gopher_quality(df).collect()}
    assert got[0]["gopher_keep"] is True
    assert got[1]["word_count_ok"] is False
    assert got[2]["hash_ratio_ok"] is False
    assert got[3]["ellipsis_line_ratio_ok"] is False
    assert got[4]["mean_word_len_ok"] is False
    assert got[5]["alpha_word_ratio_ok"] is False
    assert got[6]["stopword_ok"] is False
    for i in range(1, 7):
        assert got[i]["gopher_keep"] is False, i


def test_ivfpq_recall_against_exact_topk(spark, embeds):
    """IVF-PQ compounds two approximations (probe misses + code
    quantization); pin a recall floor against exact cosine so either
    half regressing shows up as a collapse."""
    from kafka_delta_ingest_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
    )

    q = embeds.filter(F.col("vec_id") % 50 == 0)
    exact = cosine_topk(embeds, q, k=10, query_id="vec_id")
    approx = ivfpq_topk(
        embeds, q, k=10, dim=64, m=8, centroid_mod=10, coarse_mod=25,
        n_probe=3, query_id="vec_id",
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.2, recall  # floor: 3 of ~tiny-SF cells probed


def test_sample_token_budget_shortest_prefix(spark):
    """The selection is the unique SHORTEST hash-order prefix reaching
    the budget: total >= budget, and dropping the last admitted doc
    falls below."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.operators.sampling import (
        sample_token_budget,
    )
    from kafka_delta_ingest_spark.operators.text import token_count

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sample_token_budget(d, budget=3000, id_col="doc_id", seed=3)
    toks = out.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n"),
        F.md5(F.concat(F.lit("3-"), F.col("doc_id").cast("string"))).alias("k"),
    ).collect()
    total = sum(r.n for r in toks)
    assert total >= 3000
    last = max(toks, key=lambda r: r.k)
    assert total - last.n < 3000
    # Rerun-stable: same seed, same selection.
    again = sample_token_budget(d, budget=3000, id_col="doc_id", seed=3)
    assert {r.doc_id for r in again.select("doc_id").collect()} == {
        r.doc_id for r in toks
    }


def test_ivf_persisted_index_roundtrip(spark, tmp_path):
    """The production ANN shape: build the IVF index once, persist
    centroids + cell assignments as parquet (assignments partitioned
    by cell — the layout that lets a query prune to its probed cells),
    reload, and serve queries — results must equal the inline
    build+query plan exactly."""
    from kafka_delta_ingest_spark.io import load_table
    from kafka_delta_ingest_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
        ivf_topk,
    )
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)

    inline = ivf_topk(e, q, k=5, query_id="vec_id").collect()

    cents, assigned = ivf_build_index(e)
    cdir, adir = str(tmp_path / "cent"), str(tmp_path / "assign")
    cents.write.mode("overwrite").parquet(cdir)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(adir)
    served = ivf_query_index(
        spark.read.parquet(cdir),
        spark.read.parquet(adir),
        q.selectExpr("vec_id AS query_id", "embedding"),
        k=5,
    ).collect()

    assert sorted(
        [(r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in inline]
    ) == sorted(
        [(r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in served]
    )
    # the persisted layout actually partitions by cell
    import os

    assert any(
        p.startswith("cell=") for p in os.listdir(adir)
    )


def test_kmeans_centroids_and_incremental_append(spark, tmp_path):
    """Spherical k-means trains usable centroids for the IVF path, and
    a later vector batch appends to the persisted index by assignment
    against the broadcast centroids only (no rebuild)."""
    from kafka_delta_ingest_spark.io import load_table
    from kafka_delta_ingest_spark.operators.similarity import (
        ivf_append_to_index,
        ivf_query_index,
        kmeans_centroids,
    )
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    first = e.filter(F.col("vec_id") % 2 == 0)
    later = e.filter(F.col("vec_id") % 2 == 1)

    cents = kmeans_centroids(first, n_centroids=8, n_iters=3)
    crows = cents.collect()
    assert len(crows) == 8
    for r in crows:
        n2 = sum(x * x for x in r.cvec)
        assert abs(n2 - 1.0) < 1e-9  # unit-normalized

    # determinism: same input → identical centroids
    again = {r.cent_id: r.cvec for r in
             kmeans_centroids(first, n_centroids=8, n_iters=3).collect()}
    for r in crows:
        assert again[r.cent_id] == list(r.cvec)

    base = ivf_append_to_index(cents, first)
    delta = ivf_append_to_index(cents, later)
    full = base.unionByName(delta)
    assert full.count() == e.count()
    # incremental == from-scratch assignment over the union
    scratch = ivf_append_to_index(cents, e)
    a = {(r.vec_id, r.cell) for r in full.collect()}
    b = {(r.vec_id, r.cell) for r in scratch.collect()}
    assert a == b

    # the trained index actually serves: every query's top-1 is itself
    q = e.filter(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    top1 = {
        r.query_id: r.neighbor_id
        for r in ivf_query_index(cents, full, q, k=1, n_probe=2).collect()
    }
    assert top1 and all(qid == nid for qid, nid in top1.items())


def test_pq_trained_codebooks_reduce_distortion(spark):
    """pq_train_codebooks is real k-means: quantization distortion
    after Lloyd iterations is <= the distortion of its own init
    (monotone k-means objective), the output is deterministic, and the
    trained books plug into pq_topk's codebooks parameter."""
    from kafka_delta_ingest_spark.io import load_table
    from kafka_delta_ingest_spark.operators.similarity import (
        _as_double,
        _pq_l2sq,
        _pq_subspaces,
        _unit,
        pq_topk,
        pq_train_codebooks,
    )
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").limit(400)
    books0 = pq_train_codebooks(e, n_iters=0)
    books4 = pq_train_codebooks(e, n_iters=4)
    assert books4.count() == 8 * 16
    assert all(len(r.cv) == 8 for r in books4.collect())
    # determinism
    a = sorted((r.j, r.cent_id, tuple(r.cv)) for r in books4.collect())
    b = sorted(
        (r.j, r.cent_id, tuple(r.cv))
        for r in pq_train_codebooks(e, n_iters=4).collect()
    )
    assert a == b

    def distortion(books):
        vecs = e.select(
            "vec_id",
            _pq_subspaces(
                _unit(_as_double(F.col("embedding"))), 8, 8
            ).alias("s"),
        ).select("vec_id", "s.j", "s.sv")
        d = (
            vecs.join(books, "j")
            .withColumn("_d", _pq_l2sq(F.col("sv"), F.col("cv")))
            # per (vec, subspace), NOT per distinct subvector value:
            # Lloyd's monotonicity is on the duplicate-weighted
            # (multiset) objective, and the fixture plants exact dups.
            .groupBy("vec_id", "j")
            .agg(F.min("_d").alias("dmin"))
            .agg(F.sum("dmin"))
            .collect()[0][0]
        )
        return float(d)

    assert distortion(books4) <= distortion(books0) + 1e-9

    # trained books serve through the same ADC plan
    q = e.limit(3).selectExpr("vec_id AS query_id", "embedding")
    out = pq_topk(e, q, k=5, codebooks=books4).collect()
    assert len(out) == 15


def test_temperature_mix_follows_alpha_proportions(spark):
    from kafka_delta_ingest_spark.operators.sampling import temperature_mix

    rows = (
        [Row(doc_id=i, source="small", text="x") for i in range(100)]
        + [Row(doc_id=1000 + i, source="mid", text="x") for i in range(400)]
        + [Row(doc_id=10000 + i, source="big", text="x") for i in range(900)]
    )
    df = spark.createDataFrame(rows)
    kept = (
        temperature_mix(df, alpha=0.5)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = {r.source: r.n for r in kept}
    # smallest source keeps everything; larger sources keep
    # sqrt(n_min/n_s): expected ≈ 100 / 200 / 300 (= n_s^0.5 ratios)
    assert got["small"] == 100
    assert abs(got["mid"] - 200) < 40
    assert abs(got["big"] - 300) < 50
    # rerun-stable: identical kept set
    again = {
        r.source: r.n
        for r in temperature_mix(df, alpha=0.5)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == again


def test_winnow_pairs_catch_partial_overlap_jaccard_misses(spark):
    from kafka_delta_ingest_spark.operators.dedup import (
        ngram_jaccard_pairs,
        winnow_pairs,
    )

    shared = " ".join(f"quote{i}" for i in range(12))  # 12-token passage
    a = " ".join(f"aw{i}" for i in range(200)) + " " + shared
    b = shared + " " + " ".join(f"bw{i}" for i in range(200))
    c = " ".join(f"cw{i}" for i in range(50))  # unrelated
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in winnow_pairs(df, min_shared=1).collect()
    }
    # the 12-token shared run (>= w+k-1 = 8) guarantees the pair...
    assert (0, 1) in got
    assert not any(2 in p for p in got)
    # ...while whole-document Jaccard is far below any useful threshold
    jac = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.2).collect()
    assert not any({r.id_a, r.id_b} == {0, 1} for r in jac)


def test_winnow_guarantee_holds_for_repetitive_text(spark):
    # Internally repeated k-grams must keep their POSITIONS in the
    # hash sequence: a set-collapsed ("distinct") sequence loses
    # windows and the w+k-1-run guarantee becomes probabilistic.
    from kafka_delta_ingest_spark.operators.dedup import winnow_pairs

    rep = " ".join(["buy"] * 12)  # 12 tokens, all identical
    junk = " ".join(f"junk{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, rep), (1, junk + " " + rep)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in winnow_pairs(
            df, min_shared=1, max_fp_df=10**9
        ).collect()
    }
    assert (0, 1) in got


def test_winnow_blank_docs_never_pair(spark):
    from kafka_delta_ingest_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "\t\n"), (3, "real content here")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df).collect()
    assert {r.doc_id for r in fps} == {3}
    assert winnow_pairs(df, min_shared=1).count() == 0


def test_zero_vector_does_not_nan_poison_index(spark):
    from kafka_delta_ingest_spark.operators.similarity import (
        ivf_append_to_index,
        kmeans_centroids,
    )

    rows = [(0, [1.0] * 8), (1, [0.0] * 8), (2, [2.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, n_centroids=2, n_iters=2)
    # no NaN anywhere in the trained centroids
    import math

    for r in cents.collect():
        assert all(not math.isnan(x) for x in r.cvec), r
    assigned = ivf_append_to_index(cents, df).collect()
    assert len(assigned) == 3
    assert all(r.cell is not None for r in assigned)


def test_carriers_cap_bounds_groups_before_collection(spark):
    """The df-cap drops over-cap keys via the counter pre-aggregation;
    under-cap keys keep their full sorted carrier arrays, and the
    single-key / composite-key / struct-item forms agree."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.operators.util import _carriers

    rows = [("hot", i) for i in range(50)] + [("rare", 1), ("rare", 7)]
    df = spark.createDataFrame(rows, "g string, id long")
    got = {
        r.g: list(r.ids)
        for r in _carriers(df, "g", F.col("id"), 10).collect()
    }
    assert got == {"rare": [1, 7]}  # hot dropped pre-collection
    uncapped = {
        r.g: len(r.ids)
        for r in _carriers(df, "g", F.col("id"), None).collect()
    }
    assert uncapped == {"hot": 50, "rare": 2}
    # composite key + struct item: array_sort orders by first field
    df2 = spark.createDataFrame(
        [(0, 5, 3, "x"), (0, 5, 1, "y"), (1, 5, 2, "z")],
        "k1 int, k2 int, id long, t string",
    )
    comp = {
        (r.k1, r.k2): [(s.id, s.t) for s in r.ids]
        for r in _carriers(
            df2,
            ["k1", "k2"],
            F.struct(F.col("id"), F.col("t")),
            100,
        ).collect()
    }
    assert comp == {(0, 5): [(1, "y"), (3, "x")], (1, 5): [(2, "z")]}


def test_pair_generators_tolerate_duplicate_ids(spark):
    """A replayed row (same id appearing twice) must not produce a
    self-pair — downstream droppers would delete a doc as a duplicate
    of itself."""
    base = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    df = spark.createDataFrame(base + base, "doc_id long, text string")
    assert (
        dedup.minhash_lsh_pairs(df, "doc_id", "text", num_hashes=16, bands=4)
        .filter(F.col("id_a") == F.col("id_b")).count() == 0
    )
    assert (
        dedup.simhash_pairs(df, "doc_id", "text")
        .filter(F.col("id_a") == F.col("id_b")).count() == 0
    )
    assert (
        dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1)
        .filter(F.col("id_a") == F.col("id_b")).count() == 0
    )
    edf = spark.createDataFrame(
        [(7, [1.0] * 64), (7, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    assert (
        similarity.embedding_neardup_pairs(edf, threshold=0.5)
        .filter(F.col("id_a") == F.col("id_b")).count() == 0
    )


def test_semdedup_empty_pivot_set_keeps_everything(spark):
    """No pivots (no id on the centroid_mod grid) → nothing to
    cluster → every vector kept with a null cell, not an empty (i.e.
    drop-everything) result."""
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (3, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    out = similarity.semdedup(df, centroid_mod=10).collect()
    assert len(out) == 2
    assert all(r.kept for r in out)
    assert all(r.cell is None for r in out)


def test_containment_catches_doc_inside_doc_jaccard_misses(spark):
    """Broder containment vs resemblance: a short doc pasted into a
    long one scores containment 1.0 while Jaccard ~ |A|/|B| stays
    tiny."""
    short = " ".join(f"core{i}" for i in range(10))
    long_doc = short + " " + " ".join(f"pad{i}" for i in range(200))
    other = " ".join(f"zz{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, short), (1, long_doc), (2, other)], "doc_id long, text string"
    )
    cont = dedup.ngram_containment_pairs(
        df, "doc_id", "text", threshold=0.99
    ).collect()
    assert {(r.id_a, r.id_b) for r in cont} == {(0, 1)}
    assert cont[0].containment == 1.0
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.2)
    assert not any(
        {r.id_a, r.id_b} == {0, 1} for r in jac.collect()
    )


def test_assign_cells_fallback_join_matches_packed(spark):
    """When the centroid frame exceeds the packed-row bound,
    _assign_cells must switch to the broadcast-join + min_by hash-agg
    formulation and produce IDENTICAL assignments (same argmax-dot,
    same lowest-cent_id tie rule) — the packed single collect_list row
    hits the 2 GB row ceiling long before a broadcast table would."""
    from kafka_delta_ingest_spark.io import load_table
    from kafka_delta_ingest_spark.operators.similarity import (
        _as_double,
        _assign_cells,
        _unit,
    )
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    vecs = e.select(
        F.col("vec_id"), _unit(_as_double(F.col("embedding"))).alias("vec")
    )
    cents = e.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("cent_id"),
        _unit(_as_double(F.col("embedding"))).alias("cvec"),
    )
    packed = _assign_cells(vecs, cents).select("vec_id", "cell").collect()
    # max_packed=0 forces the fallback branch
    joined = (
        _assign_cells(vecs, cents, max_packed=0)
        .select("vec_id", "cell")
        .collect()
    )
    assert sorted((r.vec_id, r.cell) for r in packed) == sorted(
        (r.vec_id, r.cell) for r in joined
    )


def test_pack_concat_chunk_is_exact_prefix_scan(spark):
    """The two-level bucket scan must produce the same placements as a
    driver-side sequential scan in md5 order, and the stream must be
    gapless: starts are exactly the cumulative token counts."""
    import hashlib

    from kafka_delta_ingest_spark.io import load_table
    from kafka_delta_ingest_spark.operators.packing import pack_concat_chunk
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    got = {
        r.doc_id: (r.n_tokens, r.stream_start, r.first_ctx, r.last_ctx, r.n_ctx)
        for r in pack_concat_chunk(d, ctx_len=512).collect()
    }
    docs = [(r.doc_id, r.text) for r in d.select("doc_id", "text").collect()]
    ordered = sorted(
        docs, key=lambda t: hashlib.md5(f"0-{t[0]}".encode()).hexdigest()
    )
    run = 0
    for doc_id, text in ordered:
        n = len(text.split()) if text.strip() else 0
        first = run // 512
        last = (run + max(n - 1, 0)) // 512
        assert got[doc_id] == (n, run, first, last, last - first + 1), doc_id
        run += n
    assert len(got) == len(docs)


def test_pack_bins_nfd_capacity_and_determinism(spark):
    """Every multi-doc bin respects capacity; only a bin whose single
    document exceeds ctx_len may overflow; repeated runs agree."""
    from kafka_delta_ingest_spark.io import load_table
    from kafka_delta_ingest_spark.operators.packing import pack_bins_nfd
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    rows = pack_bins_nfd(d, ctx_len=128, n_shards=8).collect()
    fills: dict[tuple, list[int]] = {}
    for r in rows:
        fills.setdefault((r.shard, r.bin), []).append(r.n_tokens)
    for (shard, b), toks in fills.items():
        if len(toks) > 1:
            assert sum(toks) <= 128, (shard, b, toks)
    # bins are dense 0..max per shard
    per_shard: dict[int, set] = {}
    for r in rows:
        per_shard.setdefault(r.shard, set()).add(r.bin)
    for shard, bs in per_shard.items():
        assert bs == set(range(max(bs) + 1))
    again = pack_bins_nfd(d, ctx_len=128, n_shards=8).collect()
    assert sorted((r.doc_id, r.bin) for r in rows) == sorted(
        (r.doc_id, r.bin) for r in again
    )


def test_pack_bins_nfd_derived_shards_on_skewed_corpus(spark):
    """n_shards=None derives the shard count from corpus size /
    rows_per_shard; a 10x token-length-skewed corpus (a heavy class of
    giant docs amid short ones) must still bin correctly: every doc
    placed once, capacity respected, shard width bounded by the
    derived sharding."""
    from kafka_delta_ingest_spark.operators.packing import pack_bins_nfd

    n = 600
    docs = [
        # every 10th doc is ~10x longer than the rest
        (i, ("w " * (400 if i % 10 == 0 else 40)).strip())
        for i in range(n)
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pack_bins_nfd(d, ctx_len=128, rows_per_shard=10).collect()
    assert len(rows) == n and len({r.doc_id for r in rows}) == n
    shards = {r.shard for r in rows}
    # derived: max(32, ceil(600/10)) = 60 shards, ids spread mod 60
    assert max(shards) == 59 and min(shards) == 0
    from collections import Counter

    width = Counter(r.shard for r in rows)
    assert max(width.values()) == 10  # 600 ids mod 60: exact balance
    fills: dict[tuple, int] = {}
    for r in rows:
        fills[(r.shard, r.bin)] = fills.get((r.shard, r.bin), 0) + r.n_tokens
    multi = {
        k for k in fills
        if sum(1 for r in rows if (r.shard, r.bin) == k) > 1
    }
    for k in multi:
        assert fills[k] <= 128, k
    # a 400-token doc exceeds ctx_len=128 → it sits alone in its bin
    for r in rows:
        if r.n_tokens > 128:
            assert (
                sum(1 for x in rows if (x.shard, x.bin) == (r.shard, r.bin))
                == 1
            )


def test_c4_line_filter_rules_and_rewrite(spark):
    """Each C4 rule fires on a planted line; the rewrite half keeps
    exactly the surviving docs with the retained text."""
    from kafka_delta_ingest_spark.operators.text import (
        c4_kept_text,
        c4_line_filter,
    )

    rows = [
        (1, "good line stays here.\nno terminal punct\nalso a keeper!\nthird good line?"),
        (2, "uses javascript heavily.\nshort one.\na b c d e.\nf g h i j.\nk l m n o."),
        (3, "lorem ipsum dolor sit.\nfine line one here.\nfine line two here.\nfine line three here."),
        (4, "brace { in doc.\nfine line one here.\nfine line two here.\nfine line three here."),
        (5, "only two good lines.\nsecond good line here.\nbad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_line_filter(df).collect()}
    assert got[1].n_kept == 3 and not got[1].c4_drop
    # javascript line dropped, 'short one.' has 2 words -> dropped
    assert got[2].n_kept == 3 and not got[2].c4_drop
    assert got[3].c4_drop  # lorem ipsum
    assert got[4].c4_drop  # brace
    assert got[5].c4_drop  # < 3 kept lines
    kept = {r.doc_id: r.text for r in c4_kept_text(df).collect()}
    assert set(kept) == {1, 2}
    assert kept[1] == "good line stays here.\nalso a keeper!\nthird good line?"


def test_substring_dup_spans_planted_coverage(spark):
    """A shared 9-token span marks exactly its positions in both
    carriers; unique text and sub-k docs report zero."""
    from kafka_delta_ingest_spark.operators.dedup import substring_dup_spans

    span = "alpha beta gamma delta epsilon zeta eta theta iota"  # 9 tokens
    rows = [
        (1, span + " onlyone unique tail words here now extra"),
        (2, "different head words lead in then " + span),
        (3, "totally unrelated text with no repeated grams at all today"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.dup_tokens) for r in
           substring_dup_spans(df, "doc_id", "text", k=8).collect()}
    # 9-token shared span -> two 8-grams -> 9 covered positions
    assert got[1] == (16, 9)
    assert got[2] == (15, 9)
    assert got[3][1] == 0
    assert got[4] == (2, 0)


def test_substring_dedup_rewrite_canonical_keep(spark):
    """The earliest (id, pos) occurrence of a duplicated 8-gram span
    survives; later carriers lose exactly the span tokens; a doc that
    IS the span is emptied; within-doc repeats keep the first copy."""
    from kafka_delta_ingest_spark.operators.dedup import (
        substring_dedup_rewrite,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta iota"  # 9 toks
    rows = [
        (1, span + " unique1 tail1"),
        (2, "lead2 words2 " + span + " end2"),
        (3, span),
        (4, "short doc"),
        # doc 5: its own 8-gram repeated back-to-back -> second copy cut
        (5, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.kept_text)
        for r in substring_dedup_rewrite(df, "doc_id", "text", k=8).collect()
    }
    assert got[1] == (11, 0, span + " unique1 tail1")  # canonical carrier
    assert got[2] == (12, 9, "lead2 words2 end2")
    assert got[3] == (9, 9, "")
    assert got[4] == (2, 0, "short doc")
    assert got[5] == (16, 8, "r1 r2 r3 r4 r5 r6 r7 r8")


def test_zipf_fit_matches_numpy_least_squares(spark):
    import numpy as np

    from kafka_delta_ingest_spark.operators.text import zipf_fit

    # freq(term_i) planted as 2^(10-i): slope of ln f vs ln r is known
    rows = []
    rid = 0
    for i in range(8):
        for _ in range(2 ** (10 - i)):
            rows.append((rid, f"term{i}"))
            rid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = zipf_fit(df).collect()[0]
    freqs = sorted([2 ** (10 - i) for i in range(8)], reverse=True)
    x = np.log(np.arange(1, 9, dtype=float))
    y = np.log(np.array(freqs, dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert r.n_terms == 8 and r.n_instances == sum(freqs)
    assert abs(r.zipf_slope - slope) < 1e-6
    assert abs(r.zipf_intercept - intercept) < 1e-6


def test_paragraph_dedup_first_occurrence_wins(spark):
    """CCNet paragraph dedup: first (id, pos) occurrence survives,
    later copies are dropped cross-doc AND within-doc, documents
    rebuild in original order."""
    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha"),      # within-doc repeat of alpha
            (2, "Beta \ngamma"),            # beta dup (case/trim-insensitive)
            (3, "gamma\ndelta"),            # gamma dup
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_pars, r.n_removed, r.clean_text)
        for r in dedup.paragraph_dedup(df).collect()
    }
    assert out[1] == (3, 1, "alpha\nbeta")
    assert out[2] == (2, 1, "gamma")  # "Beta " normalizes to beta, dropped
    assert out[3] == (2, 1, "delta")  # gamma's canonical is doc 2


def test_paragraph_dedup_metachar_separator_and_wide_ids(spark):
    """sep is a LITERAL (a '.' separator must not regex-match every
    character) and the canonical pick survives ids beyond 2^43 (a
    packed integer order key would wrap) — review fixes."""
    wide = 1 << 50
    df = spark.createDataFrame(
        [(wide + 5, "one.two"), (3, "two.three")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_removed, r.clean_text)
        for r in dedup.paragraph_dedup(df, sep=".").collect()
    }
    # doc 3 has the lower id: its "two" is canonical
    assert out[3] == (0, "two.three")
    assert out[wide + 5] == (1, "one")


def test_paragraph_dedup_preserves_blank_structure(spark):
    """Blank paragraphs are document STRUCTURE, not dedup candidates:
    two unrelated documents with paragraph breaks must both keep
    them (review fix: blanks shared one hash group, so every blank
    line after the corpus-first was deleted)."""
    df = spark.createDataFrame(
        [(1, "intro\n\nbody"), (2, "unrelated\n\nother\n")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_removed, r.clean_text)
        for r in dedup.paragraph_dedup(df).collect()
    }
    assert out[1] == (0, "intro\n\nbody")
    assert out[2] == (0, "unrelated\n\nother\n")


def test_unicode_normalize_forms(spark):
    """NFC composes combining sequences; NFKC additionally folds
    compatibility characters; bad form rejected; nulls pass through."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, "e" + chr(0x0301)), (1, "ﬁle"), (2, None)],
        "doc_id long, t string",
    )
    out = {
        r.doc_id: (r.nfc, r.nfkc)
        for r in df.select(
            "doc_id",
            text.unicode_normalize(F.col("t"), "NFC").alias("nfc"),
            text.unicode_normalize(F.col("t"), "NFKC").alias("nfkc"),
        ).collect()
    }
    assert out[0] == ("é", "é")
    assert out[1] == ("ﬁle", "file")  # ligature folds only in NFKC
    assert out[2] == (None, None)
    with _pytest.raises(ValueError, match="normalization form"):
        text.unicode_normalize(F.col("t"), "NFX")


def test_split_sentences_rules(spark):
    """Terminal-punctuation segmentation: boundaries after .!? runs,
    trailing unterminated text is its own sentence, empties drop."""
    df = spark.createDataFrame(
        [
            (0, "Hello there. How are you? Fine!! trailing bit"),
            (1, ""),
            (2, None),
            (3, "no punctuation at all"),
        ],
        "doc_id long, t string",
    )
    out = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", text.split_sentences(F.col("t")).alias("s")
        ).collect()
    }
    assert out[0] == [
        "Hello there.", "How are you?", "Fine!!", "trailing bit",
    ]
    assert out[1] == []
    assert out[2] is None
    assert out[3] == ["no punctuation at all"]


def test_auto_cap_clamped_at_driver_budget():
    """8*sqrt(N) growth stops at _MAX_PIVOTS (r10 verdict item 7): the
    packed broadcast centroid row and codebook collects stay bounded
    driver-side at ANY corpus size; below the N~67M crossover the cap
    is exactly the FAISS 8*sqrt(N) guideline as before."""
    from kafka_delta_ingest_spark.operators.similarity import (
        _MAX_PIVOTS,
        _auto_cap,
    )

    assert _auto_cap(0) == 128
    assert _auto_cap(60_000) == 1960          # unchanged small-N shape
    assert _auto_cap(67_108_864) == _MAX_PIVOTS  # crossover
    assert _auto_cap(10**10) == _MAX_PIVOTS     # clamped, not 800k
    assert _auto_cap(10**12) == _MAX_PIVOTS


def test_kmeans_train_budget_noop_below_budget_and_samples_above(
    spark,
):
    """Sample-train bound: at N <= budget the hash-sample filter is a
    provable no-op (identical centroids to train_budget=None — the
    checked-SF oracle-hash invariant); a tiny budget still trains on a
    deterministic subset and returns well-formed unit centroids."""
    from kafka_delta_ingest_spark.operators.similarity import (
        kmeans_centroids,
    )

    df = spark.range(200).selectExpr(
        "id AS vec_id",
        "array(CAST(id % 7 AS DOUBLE), CAST(id % 3 AS DOUBLE), 1.0D)"
        " AS embedding",
    )
    a = {r.cent_id: list(r.cvec)
         for r in kmeans_centroids(df, 4, 2).collect()}
    b = {r.cent_id: list(r.cvec)
         for r in kmeans_centroids(df, 4, 2, train_budget=None).collect()}
    assert a == b
    small = kmeans_centroids(df, 4, 2, train_budget=50).collect()
    assert len(small) == 4
    for r in small:
        norm = sum(x * x for x in r.cvec) ** 0.5
        assert abs(norm - 1.0) < 1e-9
    # deterministic: same tiny budget twice -> same centroids
    again = kmeans_centroids(df, 4, 2, train_budget=50).collect()
    assert {r.cent_id: list(r.cvec) for r in small} == {
        r.cent_id: list(r.cvec) for r in again
    }


def test_source_mix_decorrelated_from_split(spark):
    """source_mix's salted hash must be independent of
    deterministic_split's bucket: a 0.4-weight source must still land
    rows in the holdout split (unsalted, every survivor had
    bucket < 40 < 90 -> train, emptying the holdout)."""
    from kafka_delta_ingest_spark.operators.sampling import (
        deterministic_split,
        source_mix,
    )

    d = load_table(spark, SF_DIR, "documents")
    mixed = source_mix(d, {f"src{i}": (1.0 if i % 2 == 0 else 0.4) for i in range(20)})
    split = deterministic_split(mixed, "doc_id", train_pct=90)
    odd_holdout = split.filter(
        (F.col("split") == "holdout")
        & (F.expr("CAST(substr(source, 4) AS INT) % 2 = 1"))
    ).count()
    assert odd_holdout > 0


def test_stratified_subpercent_fraction_not_dropped(spark):
    """A 0.5% fraction must sample ~0.5%, not quantize to zero."""
    from kafka_delta_ingest_spark.operators.sampling import (
        hash_stratified_sample,
    )

    d = spark.range(200_000).selectExpr("id AS doc_id", "'en' AS lang")
    got = hash_stratified_sample(d, "lang", {"en": 0.005}).count()
    assert 500 <= got <= 1500  # ~1000 expected; zero was the bug
