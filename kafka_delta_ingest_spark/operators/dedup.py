"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (100 TB / 1000 executors):

* **exact_dedup** groups on a 128-bit hash of the key columns, not the
  raw text — the shuffle moves 16-byte keys instead of documents.
* **MinHash** computes signatures with one explode + N min-aggregations
  (map-side partial aggregation collapses each partition before the
  shuffle); LSH banding turns the O(n²) pair search into equi-joins on
  (band, band_hash) buckets — only bucket-mates are compared.
* **SimHash** never explodes: bit votes are computed per-document with
  the ``aggregate``/``zip_with`` higher-order functions (whole-stage
  codegen), then near-dup candidates come from equality joins on 16-bit
  fingerprint chunks (any pair within Hamming distance 3 shares at
  least one of 4 chunks — pigeonhole).
* **n-gram Jaccard** caps gram document-frequency before any pair is
  generated (a gram occurring in thousands of docs contributes
  candidate pairs quadratically while carrying almost no signal —
  standard df-cap trick), keeping the pair volume near-linear.
* **Candidate pairs** across every family come from one shared shape
  (``operators.util._carriers``): group carrier ids per bucket key —
  df-caps enforced by a counter-only pre-aggregation so no collect
  buffer exceeds the cap — then stream ordered pairs by pairing each
  posexploded element with its strict suffix. One pass over the
  expensive signature/shingle lineage; the a/b aliased self-join
  alternative executes that lineage once per leg, because Spark does
  not reuse the exchange across aliased legs.

All hashing uses Spark's built-in ``xxhash64``/``hash``/``md5`` —
deterministic across runs and cluster sizes.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window, functions as F

from kafka_delta_ingest_spark.operators.text import normalize_text
from kafka_delta_ingest_spark.operators.util import (
    _carriers,
    _suffix_pairs,
    spread,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact key; returns the surviving rows.

    groupBy on md5(key) — map-side combine + 16-byte shuffle keys.
    """
    key = F.md5(F.concat_ws("", *[F.col(c) for c in key_cols]))
    keep = (
        df.select(F.col(id_col), key.alias("_key"))
        .groupBy("_key")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="inner").drop("_key")


def exact_dedup_normalized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text (case/whitespace-insensitive).

    Single-pass: row_number over the 16-byte md5 key keeps the min-id
    row per group. The window evaluates the input ONCE — the earlier
    groupBy-then-join-back shape re-executed the whole upstream plan
    for both sides, which doubles (and composed pipelines multiply)
    the cost of expensive lineages. Duplicate-text groups are tiny, so
    the per-key window sort is bounded; the shuffle volume equals the
    groupBy formulation's.
    """
    w = Window.partitionBy("_norm_key").orderBy(F.col(id_col))
    return (
        df.withColumn("_norm_key", F.md5(normalize_text(F.col(text_col))))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_norm_key", "_rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def positional_shingles(words: Column, n: Column, k: int) -> Column:
    """k-word shingles of ``words`` IN DOCUMENT ORDER, duplicates kept
    — element i is words[i..i+k-1]. The positional variant exists for
    :func:`winnow_fingerprints`, whose sliding-window coverage
    guarantee is over the gram *sequence* (collapsing repeated grams
    would silently drop windows). Docs shorter than k yield the single
    whole-doc shingle (standard edge rule).

    Two formulations, chosen by k (r13; both verified element-identical
    at k in {3, 5, 8, 50}):

    * small k (<= 6): chain ``zip_with`` over progressively shifted
      copies of the word array — after step j each element i holds
      words[i..i+j] joined by spaces; the first n-k+1 elements are the
      full k-shingles. One two-string concat per element per step;
      measured faster than the slice+join form up to k=5 (0.26 vs
      0.31 s at k=3 on the sf0.1 census).
    * large k (> 6): direct ``transform(sequence(...), i ->
      concat_ws(slice(words, i, k)))``. The chain copies every byte of
      every gram once per REMAINING step — O(k^2) byte work per gram —
      while slice+join copies each byte once. Measured 9x at k=50
      (1.95 -> 0.21 s) and 1.4x at k=8 on the same census; the
      boilerplate-passage operators (window=50) were dominated by the
      chain's quadratic copying.

    Tail elements (which would run past the array end) are cut by the
    final slice / bounded sequence, never inspected.
    """
    if k > 6:
        full = F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        )
        return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(full)
    grams = words
    for j in range(1, k):
        # slice length n (not INT_MAX: Slice computes start+length in
        # int32, which would overflow to an empty result) — clamped to
        # the array end, giving the j-shifted suffix.
        grams = F.zip_with(
            grams,
            F.slice(words, j + 1, n),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    full = F.slice(grams, 1, F.greatest(n - (k - 1), F.lit(1)))
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(full)


# Shared with similarity.py and any other HOF-heavy operator; the
# zip_with shingle chain here used to re-evaluate its ``words``
# argument ~16x per row before binding (r12 plan capture:
# plans/r12/pipeline_pretrain_curation_before.txt node 15).
from kafka_delta_ingest_spark.operators.util import let_once  # noqa: E402,F401


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of normalized text (the set-semantics
    builder every Jaccard/MinHash-family operator uses)."""
    return let_once(
        F.split(normalize_text(col), " "),
        lambda w: F.array_distinct(positional_shingles(w, F.size(w), k)),
    )


# Affine hash families over the Mersenne prime 2^31-1: every operand
# stays below 2^31, so a*h+b < 2^62 — safe under ANSI overflow checking.
_MERSENNE31 = (1 << 31) - 1


def _hash_family(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for h_j(x) = (a_j*x + b_j) mod p."""
    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(_MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) MinHash signatures.

    One explode over distinct shingles; each shingle STRING is hashed
    exactly once (xxhash64 → mod p), then the ``num_hashes`` families
    are affine transforms of that one long — 64 integer mul/add/mod per
    shingle instead of 64 variable-length string hashes (the string
    hashing dominated the old formulation's runtime). Partial (map-side)
    min-aggregation keeps the shuffle at |docs|×num_hashes.
    """
    exploded = (
        spread(df)
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_sh"),
        )
        .select(id_col, F.pmod(F.xxhash64("_sh"), F.lit(_MERSENNE31)).alias("_h0"))
    )
    # SQL-string battery (one py4j parse per agg instead of ~8 round
    # trips each — the Column-API loop cost ~1s of driver time per
    # query build at 64 hashes, r12). All-long literals: a*h+b < 2^62,
    # same values and result type as the old int-literal promotion.
    aggs = [
        F.expr(
            f"min(pmod({a}L * _h0 + {b}L, {_MERSENNE31}L)) as h{j}"
        )
        for j, (a, b) in enumerate(_hash_family(num_hashes))
    ]
    sigs = exploded.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col,
        F.expr(
            "array(" + ",".join(f"h{j}" for j in range(num_hashes)) + ") as sig"
        ),
    )


def sig_agreement(sig_a, sig_b, num_hashes: int):
    """Signature agreement rate — the unbiased Jaccard estimator both
    the pair miner and the benchmark probe score candidates with."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agree.cast("double") / F.lit(float(num_hashes))


def _banded(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry_sig: bool = False,
) -> DataFrame:
    """(id, band, bucket) LSH band rows for a signature frame — the
    shared candidate-generation core of pair mining and
    corpus-vs-benchmark probing. ``carry_sig=True`` keeps the
    signature array on each band row, for probes whose downstream
    verification would otherwise recompute the whole signature
    lineage just to fetch it back."""
    assert num_hashes % bands == 0, (
        f"num_hashes ({num_hashes}) must divide into bands ({bands}); "
        f"a remainder would silently exclude trailing signature "
        f"positions from candidate generation"
    )
    rows_per_band = num_hashes // bands
    keep = [F.col(id_col)] + ([F.col("sig")] if carry_sig else [])
    out = [id_col] + (["sig"] if carry_sig else []) + ["bb.band", "bb.bucket"]
    return sigs.select(
        *keep,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.hash(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(*out)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, est_jaccard ≥ threshold).

    est_jaccard is the signature agreement rate — an unbiased estimator
    of shingle-set Jaccard similarity.

    ``max_bucket`` optionally caps bucket size (see scale note below);
    the default keeps the candidate set complete.
    """
    assert num_hashes % bands == 0
    # One materialized signature table (r13, same shape as the jaccard
    # gram checkpoint): the banding/carrier pass and BOTH sig-fetch
    # joins below each re-executed the full shingle+64-agg signature
    # lineage (profiled: three ~5-10s-task-time 32-task stages per
    # run). The table is |docs| x (id + 64 longs) — corpus-scale rows
    # but metadata-scale bytes next to the text it replaces.
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)

    # Band/bucket rows carry only (id, band, bucket) — the 512-byte
    # signature arrays stay out of the bucket grouping and the pair
    # dedup shuffle; they are joined back onto the deduped (id_a,
    # id_b) pairs. Candidates come from grouping carrier ids per
    # (band, bucket) and streaming ordered pairs: ONE pass over the
    # signature lineage where the left/right aliased self-join
    # executed it twice. Default uncapped for a complete candidate
    # set; an identical-signature flood of N docs then costs an
    # N-element carrier buffer AND N^2/2 streamed pairs — quadratic
    # either way (the old join shape had the same N^2), so corpora
    # with million-scale duplicate floods should pass ``max_bucket``
    # to bound both.
    banded = _banded(sigs, id_col, num_hashes, bands)
    pair_ids = (
        _suffix_pairs(
            _carriers(banded, ["band", "bucket"], F.col(id_col), max_bucket),
            "id_a",
            "id_b",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = pair_ids.join(
        sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    est = sig_agreement(F.col("sig_a"), F.col("sig_b"), num_hashes)
    return (
        cand.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Drop near-duplicates: a doc is removed if it pairs (est_jaccard ≥
    threshold) with a lower-id doc — single LSH pass, no iteration.

    Greedy-by-min-id (standard in web-dedup pipelines): transitive
    chains collapse toward the lowest id without a connected-components
    iteration; at trillion-doc scale a full CC would need GraphFrames /
    iterative joins, which this deliberately avoids.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp) 64-bit SimHash fingerprints via explode + 64 partial sums.

    Per token, xxhash64 supplies 64 pseudo-random bits; each bit votes
    ±1; the fingerprint sets bit i when the vote sum is positive. The
    explode+groupBy shape keeps every expression tiny (whole-stage
    codegen friendly) and the 64 vote sums combine map-side, so the
    shuffle carries |docs|×64 longs — the earlier all-HOF formulation
    built a ~4000-node expression per row and fell off the codegen
    fast path entirely.
    """
    toks = spread(df).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("_t"),
    ).select(id_col, F.xxhash64("_t").alias("_h"))

    # Token-multiplicity pre-aggregation: collapse to one row per
    # (doc, token hash) with its count BEFORE the 64 bit-vote sums, so
    # the expensive conditional aggregation runs over |docs|×|vocab|
    # rows instead of every token occurrence. SimHash weights votes by
    # term frequency, and sum(±count) ≡ sum over occurrences exactly.
    #
    # The 64-expression batteries are built as SQL strings parsed
    # JVM-side in ONE py4j call each: the Column-API formulation cost
    # ~14k py4j round trips = 2-3s of DRIVER time per query build
    # (measured with cProfile at sf0.1, r12). shiftleft(1L, 63) is the
    # sign bit as a signed long (two's complement) — same value the old
    # -(1 << 63) literal produced, ANSI-overflow-safe; bit-disjoint
    # terms make the fp sum equivalent to bitwise OR, so no overflow.
    weighted = toks.groupBy(id_col, "_h").agg(F.count("*").alias("_w"))
    votes = weighted.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(cast(case when (_h & shiftleft(1L, {i})) != 0 "
                f"then _w else -_w end as bigint)) as v{i}"
            )
            for i in range(64)
        ]
    )
    fp = F.expr(
        " + ".join(
            f"(case when v{i} > 0 then shiftleft(1L, {i}) else 0L end)"
            for i in range(64)
        )
    )
    return votes.select(F.col(id_col), fp.alias("fp"))


def hamming_neardup_pairs(
    fp_df: DataFrame,
    id_col: str,
    fp_col: str = "fp",
    max_hamming: int = 3,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs among 64-bit fingerprints by Hamming distance
    ≤ ``max_hamming`` — the shared banding core under SimHash text
    near-dup AND perceptual-hash image near-dup (operators/phash.py).

    Pigeonhole banding: split the fingerprint into ``n_chunks`` ≥
    ``max_hamming + 1`` bit ranges; a pair within distance h differs
    in at most h chunks, so it AGREES on at least one — equality
    grouping per chunk yields a complete candidate set, then
    ``bit_count(xor)`` verifies exactly. Returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``, each pair once.

    Plan: chunk rows ride one explode; carriers per (chunk, val)
    group via :func:`_carriers` with the 8-byte fingerprint inside
    the struct — ONE pass over the fingerprint lineage (an aliased
    self-join would compute it per leg) and no fetch-back join. No
    cap: the pigeonhole candidate set must be complete (an
    identical-fingerprint flood is quadratic in any join shape).
    """
    if n_chunks is None:
        n_chunks = max(2, max_hamming + 1)
    if n_chunks < max_hamming + 1:
        raise ValueError("need n_chunks >= max_hamming + 1 for recall")
    if n_chunks < 2:
        # An explicit n_chunks=1 (legal vs the recall bound when
        # max_hamming=0) would make width=64, and the (1 << 64) - 1
        # chunk mask overflows a Spark long at runtime.
        raise ValueError("need n_chunks >= 2 (single-chunk mask "
                         "overflows a 64-bit literal)")
    width = 64 // n_chunks  # first chunks; the last takes the slack
    offs = [(c * width, width if c < n_chunks - 1 else 64 - c * width)
            for c in range(n_chunks)]
    chunks = fp_df.select(
        id_col,
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.call_function(
                        "shiftright", F.col(fp_col), F.lit(off)
                    )
                    .bitwiseAND(F.lit((1 << w) - 1))
                    .alias("val"),
                )
                for c, (off, w) in enumerate(offs)
            ])
        ).alias("cv"),
    ).select(id_col, "fp", "cv.chunk", "cv.val")
    cand = (
        _suffix_pairs(
            _carriers(
                chunks,
                ["chunk", "val"],
                F.struct(F.col(id_col).alias("id"), F.col("fp")),
                None,
            ),
            id_of=lambda c: c["id"],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.select("id_a", "id_b", dist.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole banding via :func:`hamming_neardup_pairs` (4 × 16-bit
    chunks at the default distance 3): any pair within distance 3
    agrees on ≥1 chunk, so equality joins on chunks produce a
    complete candidate set, then bit_count verifies exactly.
    """
    fp = simhash_fingerprints(df, id_col, text_col)
    return hamming_neardup_pairs(
        fp, id_col, "fp", max_hamming, n_chunks=max(4, max_hamming + 1)
    )


# ---------------------------------------------------------------------------
# Connected components (dedup clusters)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id) for every vertex of the pair graph —
    cluster_id is the MINIMUM id reachable through the edges, i.e. the
    canonical representative of each near-duplicate cluster.

    Join-based min-label propagation (the Pregel shape on plain
    DataFrames): each round every vertex takes the min of its own label
    and its neighbors'. Rounds needed = cluster diameter — near-dup
    graphs are shallow (copies of copies), so this converges in a
    handful of rounds where a general graph would want GraphFrames.
    Per round: one equi-join + one map-side-combined min aggregation;
    ``localCheckpoint`` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1. Convergence is detected from the
    SUM of labels (labels only ever decrease, so an unchanged exact
    decimal sum IS the fixed point) — one scalar action per round, no
    change-join.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # Materialize the edge set ONCE: without this every round's action
    # would re-run the (possibly expensive) pair-generation pipeline
    # feeding ``pairs`` — the dominant cost for LSH/Jaccard graphs.
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, labels.id == nbr.src, "left")
            .select(
                labels.id,
                F.least(
                    labels.label, F.coalesce(F.col("nbr_min"), labels.label)
                ).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact)
# ---------------------------------------------------------------------------


def canonicalize_clusters(
    df: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick each near-duplicate cluster's KEPT representative: the
    highest-``quality_col`` member (id tie-break). Documents absent from
    the cluster map are singletons — their own cluster, always kept.

    This is the decision step FineWeb-style pipelines run after
    clustering: drop all but the best copy. One broadcast-able left
    join (the cluster map is |clustered docs| rows — tiny next to the
    corpus) plus a window whose per-key state is one cluster's members.
    Adds (cluster_id, keep) to ``df``'s columns.
    """
    c = clusters.select(F.col(id_col), F.col("cluster_id").alias("_cl"))
    joined = (
        df.join(c, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("_cl"), F.col(id_col)))
        .drop("_cl")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return joined.withColumn("keep", (F.row_number().over(w) == 1).cast("int"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Word-n-gram Jaccard over candidate pairs sharing a gram, exact
    up to 64-bit hash collisions.

    Grams are compared by their ``xxhash64``, not their text: two
    distinct grams that collide count as one, which can inflate an
    intersection and a gram's df-cap count. For a corpus of G distinct
    grams the chance of any collision is about G² / 2⁶⁵ (under 1e-7
    at a million grams).

    ``max_gram_df`` drops grams present in more than that many docs
    before the pair join (df-cap — see module docstring).
    """
    df = spread(df)
    # One materialized gram table serves every consumer (r13, the same
    # shape _admit_incoming proved): the pair machinery reads grams
    # 2-3x (df-cap counter pre-agg, carrier collect) and the size
    # census once more — each consumer re-ran the full
    # tokenize+shingle lineage (profiled: two ~10s-task-time 32-task
    # shingle stages plus a lighter size pass per run). Grams are
    # hashed to 8-byte xxhash64 keys BEFORE the checkpoint/exchange
    # (guide §2.3: shuffle keys, not payloads — the same convention
    # the incremental forms and substring operators already use);
    # carrier grouping by hash yields identical pairs modulo 64-bit
    # collisions. Sizes: word_shingles is distinct-per-doc and yields
    # >= 1 gram for EVERY doc (short/empty docs get the whole-doc
    # shingle), so the per-doc gram-row count IS size(word_shingles)
    # exactly — no second pass over the text.
    grams = (
        df.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
        )
        .select(F.col(id_col), F.xxhash64("_g").alias("gh"))
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        _suffix_pairs(
            _carriers(grams, "gh", F.col(id_col), max_gram_df),
            "id_a",
            "id_b",
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    # Doc-size side tables are |docs| rows of (id, int). No explicit
    # broadcast hint: a hint would FORCE a driver-side build of an
    # O(|docs|) table and OOM at 1e9+ docs, bypassing the size check
    # AQE applies. Left to AQE, the sizes side broadcasts when small
    # and falls back to a shuffled hash join at corpus scale — the
    # same hand-off _carriers' df-cap counter pass relies on.
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT:
    |A∩B| / min(|A|, |B|) — the doc-inside-doc detector. A short
    document pasted into a long one (quoting, aggregation pages,
    scraped wrappers) scores containment 1.0 while its Jaccard is
    |A| / |B| ≈ 0, so a Jaccard threshold never pairs them (Broder's
    resemblance-vs-containment distinction).

    Same plan as :func:`ngram_jaccard_pairs` — carriers grouped per
    gram with bounded buffers, suffix-streamed pairs, size table
    joined back at pair scale — only the final ratio differs.
    ``max_gram_df=None`` disables the df-cap for callers needing
    exact containment on every pair (a capped gram removes itself
    from the intersection, understating containment). Grams are
    compared by ``xxhash64``, so "exact" holds up to 64-bit
    collisions, as in :func:`ngram_jaccard_pairs`.
    """
    df = spread(df)
    # Materialized hashed gram table shared by the size census and the
    # pair machinery — see ngram_jaccard_pairs (r13).
    grams = (
        df.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
        )
        .select(F.col(id_col), F.xxhash64("_g").alias("gh"))
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        _suffix_pairs(
            _carriers(grams, "gh", F.col(id_col), max_gram_df),
            "id_a",
            "id_b",
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    cont = F.col("inter").cast("double") / F.least(
        F.col("sz_a"), F.col("sz_b")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def _admit_incoming(
    grams: DataFrame,
    sizes: DataFrame | None,
    incoming: DataFrame,
    id_col: str,
    threshold: float,
    max_gram_df: int | None,
) -> DataFrame:
    """Shared admission core of the two incremental-dedup forms.

    ``grams``: one row per (doc, gram) — columns (id_col, ``_t``
    new-tag, ``gh`` hashed gram). ``sizes``: (id_col, ``sz``) distinct
    shingle counts — or ``None`` to derive them from the materialized
    gram table itself (grams are DISTINCT per doc in both forms, so
    the per-doc row count IS the shingle-set size; a separate sizes
    lineage would re-run the whole tokenize+shingle pass once more,
    r13). Same group-carriers-then-stream-pairs shape as
    ``ngram_jaccard_pairs`` (df-capped with bounded buffers via
    _carriers), carrying the new/existing tag inside the grouped
    struct so the pair stream filters existing x existing pairs
    inline and the admission step below needs no flag-table joins at
    all. array_sort on (id, t) structs orders by id first.

    ``grams`` and ``sizes`` are MATERIALIZED here (lazy
    localCheckpoint): the pair machinery consumes ``grams`` three
    times (the df-cap counter pre-agg, both sides of its semi-join)
    and ``sizes`` twice (the a/b size joins), and none of those
    consumers can share an exchange — without a cut, each one
    re-executes the full tokenize+shingle+hash lineage (measured: 102
    source scans in one uncut plan). The gram table is (id, tag,
    8-byte hash) rows and the size table (id, count) — both far
    smaller than the corpus text they replace.
    """
    # Bisect (r7, sf0.1 local[32], two interleaved passes of 3 runs
    # each): WITH checkpoint admit/indexed pooled medians 2.71s/2.96s,
    # WITHOUT 3.06s/3.61s — the configs overlap within the box's noise
    # band (single runs ranged 2.26-4.42s in BOTH configs; the r6
    # driver's 4.45s was one such outlier), and the checkpoint is
    # never slower in pooled medians. Kept: it also removes ~100
    # redundant source scans from the uncut plan, which is the bound
    # that matters at 100x corpus size.
    grams = grams.localCheckpoint(eager=False)
    if sizes is None:
        # one map-side-combined count over the materialized gram rows
        # — no second pass over the source text (r13)
        sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    else:
        sizes = sizes.localCheckpoint(eager=False)
    inter = (
        _suffix_pairs(
            _carriers(
                grams,
                "gh",
                F.struct(F.col(id_col).alias("id"), F.col("_t").alias("t")),
                max_gram_df,
            ),
            id_of=lambda c: c["id"],
        )
        # at least one side is incoming — existing x existing pairs
        # are dead weight and are cut before the aggregation
        .filter((F.col("a.t") == 1) | (F.col("b.t") == 1))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("a.t").alias("new_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.t").alias("new_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    # Size side tables are O(|docs|) — no broadcast hints (they
    # would force a corpus-scale driver build at 1e9+ docs); AQE
    # broadcasts them when they fit and shuffles otherwise.
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
    )
    # Greedy admission: an incoming doc loses to ANY existing match and
    # to a lower-id incoming match (chains collapse toward the corpus,
    # matching minhash_dedup's min-id convention).
    losers = pairs.select(
        F.when(F.col("new_a") == 0, F.col("id_b"))
        .when(F.col("new_b") == 0, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias(id_col)
    ).distinct()
    return incoming.join(losers, on=id_col, how="left_anti")


def incremental_ngram_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Admit the incoming-batch rows that near-duplicate neither the
    existing corpus nor a lower-id incoming row (exact word-n-gram
    Jaccard ≥ ``threshold`` disqualifies).

    The continuous-ingest form of dedup: every arriving batch is
    checked against the already-admitted corpus, so the corpus stays
    near-dup-free without ever re-deduping itself. One pair pass over
    the union computes both cross (existing x incoming) and intra
    (incoming x incoming) pairs; existing x existing pairs are
    irrelevant and get filtered before the pair aggregation, not after
    — the quadratic join never materializes them. Precondition: ids are
    disjoint across the two inputs (colliding ids would silently merge
    documents; callers allocate batch ids above the corpus ceiling).

    Stateless formulation: grams are recomputed from text each batch —
    right for backfills and one-shot merges. A steady-state deployment
    uses :func:`incremental_ngram_dedup_indexed`, which replaces the
    existing side's re-shingling with one scan of a persisted
    (id, gram-hash) index — grams compare by xxhash64 in BOTH forms,
    so the two produce identical admissions.
    """
    tagged = existing.select(
        F.col(id_col), F.col(text_col), F.lit(0).alias("_t")
    ).unionByName(
        incoming.select(F.col(id_col), F.col(text_col), F.lit(1).alias("_t"))
    )
    df = spread(tagged)
    grams = df.select(
        F.col(id_col),
        "_t",
        F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
    ).select(F.col(id_col), "_t", F.xxhash64("_g").alias("gh"))
    # sizes=None: derived from the materialized gram table (shingles
    # are distinct per doc, so the row count IS size(word_shingles)) —
    # the separate size pipeline re-ran the full tokenize+shingle pass
    # over corpus+batch once more per run (r13).
    return _admit_incoming(
        grams, None, incoming, id_col, threshold, max_gram_df
    )


def build_gram_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, gh) hashed-shingle index of an admitted corpus — the
    persistable state of :func:`incremental_ngram_dedup_indexed`.

    One row per (doc, distinct k-gram); ``gh`` is xxhash64 of the gram
    string, so the persisted table stores 16 bytes/row instead of the
    gram text and every downstream join/shuffle moves longs. Shingle
    counts are NOT stored: grams are distinct per doc, so the per-doc
    size is recoverable as a map-side-combined count over the index —
    keeping the index single-tabled and append-only (no second table
    to keep transactionally in step). Persist with
    ``index.write.partitionBy()/bucketBy(...)`` keyed on ``gh`` so the
    steady-state probe join co-locates.

    Same build-once / serve-many / append split the IVF ANN index uses
    (similarity.py ivf_build_index): append a new batch's rows after
    admission with ``index.unionByName(build_gram_index(admitted))``
    — no rebuild.
    """
    return (
        spread(df)
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
        )
        .select(F.col(id_col), F.xxhash64("_g").alias("gh"))
    )


def incremental_ngram_dedup_indexed(
    index: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Steady-state form of :func:`incremental_ngram_dedup`: the
    existing corpus arrives as a persisted :func:`build_gram_index`
    table instead of raw text, so each ingest batch joins incoming
    grams against ONE scan of the index rather than re-shingling the
    whole admitted corpus — the per-batch cost drops from
    O(|corpus| + |batch|) shingling to O(|batch|) shingling plus an
    index scan that partition-prunes/co-locates when the table is
    bucketed by ``gh``.

    Admission semantics are identical to the stateless form (asserted
    by tests/test_incremental_pipeline.py): both compare grams by
    xxhash64, share :func:`_admit_incoming`, and collapse chains
    toward the corpus by min-id. After admitting, append
    ``build_gram_index(admitted)`` to the index for the next batch.
    """
    inc = spread(incoming)
    # When a caller hands a computed lineage instead of a persisted
    # table (the registry query builds the index inline from text), a
    # lazy localCheckpoint keeps the cost shape of the steady state's
    # stored scan (r12). Distinct grams per doc ⇒ the materialized
    # gram table itself is the size table: _admit_incoming derives
    # sizes from it (sizes=None), so neither the index NOR the
    # incoming batch is shingled a second time for a size census
    # (r13; previously inc was tokenized+shingled twice).
    index = index.localCheckpoint(eager=False)
    grams = index.select(
        F.col(id_col), F.lit(0).alias("_t"), F.col("gh")
    ).unionByName(
        inc.select(
            F.col(id_col),
            F.lit(1).alias("_t"),
            F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
        ).select(F.col(id_col), "_t", F.xxhash64("_g").alias("gh"))
    )
    return _admit_incoming(
        grams,
        None,
        incoming,
        id_col,
        threshold,
        max_gram_df,
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS local fingerprinting scheme): hash every k-gram, slide a
    w-hash window, keep each window's MINIMUM hash. Guarantee: any
    shared run of at least w+k-1 tokens between two documents yields
    at least one shared fingerprint — the partial-overlap detector
    MinHash (whole-document similarity) and SimHash (global distance)
    both lack.

    Value-set variant: fingerprints are the DISTINCT selected hash
    values per document (positions dropped), which keeps tie-breaking
    trivially engine-portable. Returns (id, fp) rows.

    Scale shape: hashing and window-minima are array expressions — a
    narrow projection; the per-doc distinct collapses fingerprints
    before anything shuffles, and downstream pair grouping moves
    8-byte xxhash64 longs, not text.
    """
    # k-gram hashes over the POSITIONAL shingle sequence: repeated
    # grams must stay in place or windows vanish and the w+k-1-run
    # guarantee breaks for internally repetitive text. xxhash64 per
    # gram — no md5 hex formatting / base conversion; nothing
    # replicates these values engine-side (the oracle predicts PAIRS
    # from the coverage guarantee, not hash values), so the portable
    # md5 convention lm.py's bucketing needs does not apply here.
    #
    # Window minima by a shift-and-least chain (the same shape as the
    # shingle builder): after step j element i holds min(h[i..i+j]),
    # so the first nh-w+1 elements are the w-window minima — O(n*w)
    # two-arg `least` comparisons with no per-window slice allocation.
    # Both the word array and the hash array are let_once-bound: the
    # min chain references the hash array ~2(w-1) times and each of
    # those used to re-run the ENTIRE shingle+hash pipeline (itself
    # re-splitting the text ~16x) — the deepest duplication in the
    # dedup family (r12).
    def _window_mins(h: Column) -> Column:
        nh = F.size(h)
        m = h
        for j in range(1, w):
            m = F.zip_with(
                m, F.slice(h, j + 1, nh), lambda a, b: F.least(a, b)
            )
        return F.when(
            nh < w,
            # Shorter than one window: the whole doc is one window
            # (standard winnowing edge rule — every doc fingerprints).
            F.array(F.array_min(h)),
        ).otherwise(F.slice(m, 1, F.greatest(nh - (w - 1), F.lit(1))))

    mins = let_once(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda wv: let_once(
            F.transform(
                positional_shingles(wv, F.size(wv), k),
                lambda g: F.xxhash64(g),
            ),
            _window_mins,
        ),
    )
    return (
        spread(df)
        # split('') yields [''] (size 1), so gate on normalized length:
        # blank docs carry no content and must not all share
        # xxhash64('') as a spurious common fingerprint.
        .where(F.length(normalize_text(F.col(text_col))) > 0)
        .select(F.col(id_col), F.explode(mins).alias("fp"))
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — partial-overlap / plagiarism detection: a long shared passage
    surfaces the pair even when the rest of both documents is
    unrelated (where whole-document Jaccard stays near zero).

    Pair generation groups carrier ids per fingerprint (via
    ``_carriers`` — with a cap, over-df fingerprints are dropped by a
    counter pre-aggregation BEFORE any list is collected, bounding
    aggregation buffers; a fps-vs-fps self-join would instead compute
    the fingerprint projection once per aliased leg, since Spark does
    not reuse that exchange), then streams ordered pairs via
    posexplode + suffix-slice; per-row memory stays O(df), never
    O(df^2). ``max_fp_df=None`` disables the cap AND the extra
    counter pass — callers that rely on the MUST-pair coverage
    guarantee need it, since a cap may drop exactly the one
    fingerprint a pair shares."""
    # Materialized once (r13): with a df-cap the carrier machinery
    # consumes fps twice (counter pre-agg + collect), each pass
    # re-running the whole winnowing expression pipeline. (id, fp
    # long) rows — tiny next to the text lineage they replace.
    fps = winnow_fingerprints(
        df, id_col, text_col, k=k, w=w
    ).localCheckpoint(eager=False)
    return (
        _suffix_pairs(
            _carriers(fps, "fp", F.col(id_col), max_fp_df), "id_a", "id_b"
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    max_gram_df: int | None = 100_000,
) -> DataFrame:
    """Exact duplicated-substring coverage, the diagnostic behind
    substring-level dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): any duplicated token span of
    length >= k must contain a duplicated k-gram, so marking the token
    positions covered by k-grams occurring >= ``min_count`` times in
    the corpus (within- or cross-document) lower-bounds every
    >=k-token duplicated span exactly.

    Returns one row per document: ``(id, n_tokens, dup_tokens,
    dup_fraction)`` with ``dup_tokens`` = distinct token positions
    covered by a duplicated k-gram (0 for docs shorter than k).

    Plan: positional k-grams ride one posexplode (position = array
    index); occurrence counts are a map-side-combined hash aggregation
    on the 8-byte xxhash64 of the gram; the join back is an equi-join
    on that hash; coverage explodes each surviving gram into its k
    positions and distinct-counts per document. ``max_gram_df`` caps
    the join fan-in the same way the carrier caps do — a boilerplate
    gram in 1e8 documents would explode k * 1e8 coverage rows, and
    every position it covers is certainly duplicated anyway, so
    over-cap grams still COUNT as duplicated but are excluded from
    position-accurate coverage only when they exceed the cap (the
    default cap is far above anything the oracle data reaches, and
    ``None`` disables it for exact parity)."""
    from kafka_delta_ingest_spark.operators.util import spread

    def _grams_of(wv: Column) -> Column:
        n = F.size(wv)
        return F.when(n >= k, F.slice(
            positional_shingles(wv, n, k), 1,
            F.greatest(n - (k - 1), F.lit(1)),
        )).otherwise(F.array().cast("array<string>"))

    base = spread(df).select(
        F.col(id_col),
        let_once(
            normalize_text(F.col(text_col)),
            lambda t: F.when(F.length(t) == 0, F.lit(0)).otherwise(
                F.size(F.split(t, " "))
            ),
        ).alias("n_tokens"),
        let_once(
            F.split(normalize_text(F.col(text_col)), " "), _grams_of
        ).alias("_grams"),
    )
    # One explicit gh-shuffle shared by BOTH consumers (the count
    # aggregation and the coverage join probe): the expensive shingle
    # lineage runs in the map side of this single exchange, which
    # Spark's stage cache reuses across legs — without it each leg
    # re-executes shingling past the shared scan. The aggregation and
    # the join both want exactly this partitioning, so no further
    # gram shuffle exists downstream.
    grams = base.select(
        id_col,
        F.posexplode("_grams").alias("pos", "_g"),
    ).select(id_col, "pos", F.xxhash64("_g").alias("gh")).repartition(
        F.col("gh")
    )
    counts = grams.groupBy("gh").agg(F.count("*").alias("_c"))
    dup = counts.filter(F.col("_c") >= min_count)
    if max_gram_df is not None:
        dup = dup.filter(F.col("_c") <= max_gram_df)
    covered = (
        grams.join(dup.select("gh"), "gh", "left_semi")
        .select(id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"))
        .groupBy(id_col)
        .agg(F.count_distinct("p").alias("dup_tokens"))
    )
    return (
        base.select(id_col, "n_tokens")
        .join(covered, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.coalesce("dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens")
                ),
                6,
            ).alias("dup_fraction"),
        )
    )


def substring_dedup_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """The REWRITE half of exact-substring dedup (Lee et al. 2022
    ExactSubstr): for every k-gram occurring >= ``min_count`` times in
    the corpus, the lexicographically-first occurrence (min
    ``(id, pos)``) is canonical and survives; every other occurrence
    marks its k token positions for removal in its document. A token
    survives unless some non-canonical occurrence of a duplicated
    k-gram covers it — so for an isolated duplicated span one copy
    (in the earliest carrier) remains and the rest is excised, the
    editorial move the paper applies with a suffix array. Caveat
    (shared with Lee et al.-style greedy excision): when duplicated
    spans OVERLAP, removal positions from a different gram's
    non-canonical occurrence can fall inside a canonical occurrence,
    so the surviving copy may itself lose tokens — "exactly one
    intact copy" is not guaranteed in overlap cases. Docs shorter
    than k tokens are never touched.

    Returns ``(id, n_tokens, removed_tokens, kept_text)`` on the
    NORMALIZED text (lowercase, collapsed whitespace — same notion of
    "same text" as the rest of the dedup family).

    Plan: one positional-shingle pass feeding one explicit gh-keyed
    exchange whose stage both consumers reuse; duplicated grams and
    their canonical occurrence come from one aggregation on the
    8-byte xxhash64 (``min`` over a ``(id, pos)`` struct is the
    canonical pick — lexicographic struct ordering, no window; the
    struct-typed buffer makes Spark plan a SortAggregate, which here
    sorts each gh-partition locally — distributed and spill-safe,
    NOT a global sort); non-canonical occurrences are an equi-join
    back on the hash (co-partitioned by construction, AQE splits any
    boilerplate-gram probe skew) plus a struct inequality; removal
    positions explode k rows per non-canonical occurrence (linear in
    true duplication mass) and fold into one bounded-by-doc-length
    ``collect_set`` per document; the rewrite is a positional array
    filter — no second text scan. Unlike :func:`substring_dup_spans` there is no
    ``max_gram_df`` cap: removal must stay position-exact for every
    occurrence, and the explode cost is k rows per occurrence —
    already linear in the gram table, not a fan-out join.

    reference parity: none (the reference is an ingest daemon);
    extends SURVEY §6's dedup family with the curate-stage rewrite."""
    from kafka_delta_ingest_spark.operators.util import spread

    def _grams_of(wv: Column) -> Column:
        n = F.size(wv)
        return F.when(n >= k, F.slice(
            positional_shingles(wv, n, k),
            1,
            F.greatest(n - (k - 1), F.lit(1)),
        )).otherwise(F.array().cast("array<string>"))

    base = spread(df).select(
        F.col(id_col),
        let_once(
            normalize_text(F.col(text_col)),
            lambda t: F.when(
                F.length(t) == 0, F.array().cast("array<string>")
            ).otherwise(F.split(t, " ")),
        ).alias("_w"),
        let_once(
            F.split(normalize_text(F.col(text_col)), " "), _grams_of
        ).alias("_grams"),
    )
    # Shared gh-shuffle: shingling runs once in this exchange's map
    # side and the stage is reused by both the canonical aggregation
    # and the removal join probe (see substring_dup_spans).
    grams = base.select(
        id_col,
        F.posexplode("_grams").alias("pos", "_g"),
    ).select(id_col, "pos", F.xxhash64("_g").alias("gh")).repartition(
        F.col("gh")
    )
    dup_canon = (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("_c"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_canon"),
        )
        .filter(F.col("_c") >= min_count)
        .select("gh", "_canon")
    )
    removed = (
        grams.join(dup_canon, "gh")
        .where(
            (F.col(id_col) != F.col("_canon").getField(id_col))
            | (F.col("pos") != F.col("_canon").getField("pos"))
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("p"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("p").alias("_rem"))
    )
    rem = F.coalesce(F.col("_rem"), F.array().cast("array<int>"))
    # HOF filter's index is 0-based, matching posexplode positions.
    kept = F.filter(
        F.col("_w"), lambda w, i: ~F.array_contains(rem, i)
    )
    return (
        base.join(removed, id_col, "left")
        .select(
            id_col,
            F.size("_w").cast("long").alias("n_tokens"),
            F.size(rem).cast("long").alias("removed_tokens"),
            F.array_join(kept, " ").alias("kept_text"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide PARAGRAPH deduplication — the CCNet preprocessing
    step (Wenzek et al. 2020 run it before language ID; C4 does the
    sentence-level analog): normalize each paragraph (lowercase,
    trim), keep only its FIRST occurrence corpus-wide (ordered by
    ``(id, position)``), drop every later copy — including repeats
    WITHIN one document — and rebuild each document from its
    surviving paragraphs in order.

    Returns (id, n_pars, n_removed, clean_text).

    Scale shape: ONE exchange keyed by the paragraph's xxhash64
    (8-byte longs travel, not paragraph text... the text rides along
    for reassembly but is never a shuffle KEY); the canonical pick is
    ``min`` over that hash partition — WindowExec adds one LOCAL
    per-partition sort on the 8-byte key (its clustering requirement;
    no global ordering, no corpus-wide sort); reassembly is a per-doc
    groupBy whose collect_list is bounded by document length. The
    canonical pick orders by an (id, pos) STRUCT min, valid for any
    id range
    (a packed integer key would wrap for ids >= 2^43). ``sep`` is a
    LITERAL separator — escaped before the regex split, joined back
    verbatim — so metacharacter separators like "." or "|" are safe.

    BLANK paragraphs (empty after trim) are NOT dedup candidates —
    they are document structure (the blank line in "intro\\n\\nbody"),
    and deduping them would strip every paragraph break in the corpus
    but the first. Each blank keys its own salted group (a unique
    (id, pos) hash), which both preserves it unconditionally and
    keeps the all-blanks key from becoming one skewed partition.
    """
    import re as _re

    from kafka_delta_ingest_spark.operators.util import spread

    pars = spread(df).select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("pos", "par"),
    )
    norm = F.trim(F.lower(F.col("par")))
    occ = pars.withColumn(
        "gh",
        F.when(
            norm == "",
            F.xxhash64(
                F.lit("\x00blank"),
                F.col(id_col).cast("string"),
                F.col("pos").cast("string"),
            ),
        ).otherwise(F.xxhash64(norm)),
    )
    w = Window.partitionBy("gh")
    ok = F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
    first = F.min(ok).over(w)
    flagged = occ.withColumn(
        "keep",
        (F.col(id_col) == first["i"]) & (F.col("pos") == first["p"]),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_pars"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("int")
            .alias("n_removed"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "par"))
                        )
                    ),
                    lambda s: s["par"],
                ),
            ).alias("clean_text"),
        )
    )
