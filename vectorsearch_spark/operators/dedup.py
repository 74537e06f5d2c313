"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, n-gram Jaccard, SimHash, and embedding-cosine near-dup
(north-star extensions per BASELINE.json).

Scale design, per operator:
- exact: one hash-groupBy on a 32-byte key — the cheapest possible
  shuffle, AQE-coalesced.
- minhash_lsh: shingle → minhash signature (narrow map) → explode band
  keys → self-join on band key. Only docs sharing a band bucket ever
  meet, so the join is bucket-local; candidate pairs are then verified
  with exact Jaccard. This is THE 100 TB near-dup path.
- ngram_jaccard: exact pairwise Jaccard via shingle-explode self-join.
  O(pairs-sharing-a-shingle), so ``max_shingle_freq`` (default 1000)
  drops stop-shingles — one shingle shared by f docs contributes
  O(f²) pairs, and the df cap bounds f; the standard mitigation.
  Use LSH above when the corpus is huge.
- simhash: 60-bit fingerprint per doc (codegen expressions), banded by
  16-bit chunks for candidate generation, Hamming-verified.
- embedding cosine: random-hyperplane LSH band-join candidates +
  exact cosine verify — bucketed, never cartesian; opt-in exact
  pairwise fallback for bounded inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectorsearch_spark.functions.distances import cosine
from vectorsearch_spark.fsio import epoch_dirs
from vectorsearch_spark.operators.incremental import (
    EpochBucketedState,
    commit_epoch,
    committed_epoch,
    epoch_already_applied,
    source_snapshot,
    start_fold_stream,
)
from vectorsearch_spark.operators.text import hamming64, simhash_fingerprints

# MinHash affine-family modulus: 2³¹−1 (prime). Family member i of a
# shingle with md5 halves (h1, h2) is (h1 + i·h2) mod P — one digest
# per shingle, the rest is codegen arithmetic.
_MINHASH_P = 2147483647

# Hot-band-bucket cap (see _cap_band_freq): the LSH analog of
# jaccard_pairs' max_shingle_freq.
MAX_BAND_FREQ_DEFAULT = 5000


def _cap_band_freq(buckets: DataFrame, max_band_freq: int | None) -> DataFrame:
    """Drop band buckets larger than ``max_band_freq`` before the
    self-join. A band shared by f docs contributes f·(f-1)/2 candidate
    pairs, so ONE degenerate bucket (a boilerplate band, a giant
    exact-duplicate group) turns the bucket-local join quadratic — the
    plan that dies at 100 TB. Groups that large are byte-identical
    duplicates in practice, which ``exact_duplicates`` already resolves
    with a linear hash-groupBy; near-dup TEXT groups beyond the cap
    are vanishingly rare. One window count per bucket (same shuffle key
    as the join that follows)."""
    if max_band_freq is None:
        return buckets
    w = Window.partitionBy("band_key")
    return (
        buckets.withColumn("_bf", F.count(F.lit(1)).over(w))
        .filter(F.col("_bf") <= max_band_freq)
        .drop("_bf")
    )


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) texts: fingerprint,
    n_copies, keeper (min id); only groups with n_copies > 1."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _shingle_df(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Fan-out → tokenize → exchange → shingle, in that order,
    deliberately:

    - the conditional fan-out spreads raw text so the tokenizer regex —
      the pipeline's dominant CPU cost — runs at cluster parallelism
      even when the corpus is a handful of parquet files;
    - tokenization runs BELOW the second repartition, so the regex
      evaluates once per document and its result crosses the shuffle as
      data;
    - that repartition is ALSO the projection barrier — without it
      Catalyst collapses the projections and the per-shingle ``slice``
      lambda re-evaluates the tokenizer regex for EVERY shingle position
      (quadratic);
    - shingling above the exchange reads the materialized token array;
    - the exchange subtree is identical for every downstream use
      (signature build + both verify sides), so Spark's ReusedExchange
      computes tokenization exactly once per query;
    - there is deliberately NO ``size(shingles) > 0`` filter, and
      ``InferFiltersFromGenerate`` is excluded on the session (it would
      re-infer that filter from the downstream explode): predicate
      pushdown sinks such a filter below the exchange and inlines the
      ENTIRE tokenize+shingle expression into the narrow scan stage's
      filter — re-computing it per row at file parallelism (measured
      8 of 10 s of the pipeline at sf0.1). Empty shingle arrays are
      harmless: they explode to zero rows, so such docs never form
      signatures or pairs.
    """
    from vectorsearch_spark.functions.text import tokens
    from vectorsearch_spark.operators.text import (
        exclude_generate_filter_inference,
        fan_out,
    )

    exclude_generate_filter_inference(df.sparkSession)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    src = fan_out(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")),
        "doc_id",
    )
    tok = src.select(
        "doc_id", tokens("_text").alias("_toks")
    ).repartition(parallelism, F.col("doc_id"))
    return tok.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n)),
            )
        ).alias("shingles"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard ≥ τ).

    ``max_shingle_freq`` caps the document frequency of shingles
    entering the pair join (default 1000): a single stop-shingle shared
    by f documents alone generates f·(f-1)/2 candidate rows, so without
    the cap one hot shingle in a 10k-doc corpus yields 10⁸ pairs — the
    plan that dies at scale. Dropped shingles reduce the measured
    intersection only (denominators keep the full shingle sets), so
    capped Jaccard is a lower bound: near-dup pairs whose overlap lives
    in ultra-common shingles are not near-dups worth keeping anyway.
    Pass ``None`` to disable (exact, bounded corpora only).
    """
    sh = _shingle_df(df, id_col, text_col, shingle_n)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_shingle_freq is not None:
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_freq)
            .select("shingle")
        )
        exploded = exploded.join(hot, "shingle", "left_anti")
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _minhash_buckets(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band_key) LSH bucket assignments from a shingle DF.

    ONE md5 per shingle; the family members are Carter–Wegman affine
    combinations ``(h1 + i·h2) mod P`` of the digest's two 60-bit
    halves reduced mod P = 2³¹−1. Shared by the self-join and the
    incremental (batch-vs-corpus) dedups — identical parameters on two
    calls produce comparable signatures by construction.
    """
    rows_per_band = num_hashes // bands
    exploded = sh.select("doc_id", F.explode("shingles").alias("_s"))
    digest = exploded.select("doc_id", F.md5("_s").alias("_d"))
    P = _MINHASH_P
    hashed = digest.select(
        "doc_id",
        (F.conv(F.substring("_d", 1, 15), 16, 10).cast("long") % P).alias("_h1"),
        (F.conv(F.substring("_d", 17, 15), 16, 10).cast("long") % P).alias("_h2"),
    )
    # F.expr-text construction (r14): the per-hash/per-band DSL loops
    # paid a few hundred py4j round-trips per call; the strings mirror
    # the DSL trees exactly (same int-literal affine combos, same
    # concat_ws band digests), so signatures are bit-identical.
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"min((_h1 + {i} * _h2) % {P}) AS _s{i}")
            for i in range(num_hashes)
        ]
    )
    band_keys = ", ".join(
        "concat('{b}|', md5(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(
                f"_s{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "doc_id", F.explode(F.expr(f"array({band_keys})")).alias("band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_band_freq: int | None = MAX_BAND_FREQ_DEFAULT,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: banded signature bucketing generates
    candidates, exact Jaccard verifies. Returns (doc_a, doc_b, jaccard)
    for verified pairs ≥ τ.

    Signature computation is explode → groupBy, NOT nested array
    lambdas: each shingle is digested exactly once and the per-band keys
    read materialized agg columns. (The pure-expression form re-evaluates
    the whole signature per band because Catalyst doesn't hoist
    loop-invariant lambda subexpressions — quadratic blowup on long
    documents.) One explode + one doc-keyed shuffle; map-side combine
    applies to the min() aggregates.

    Hash family: ONE md5 per shingle; the ``num_hashes`` family members
    are the Carter–Wegman affine combinations ``(h1 + i·h2) mod P`` of
    two 60-bit digest halves reduced mod P = 2³¹−1 — pairwise-
    independent, and 16× cheaper than one md5 per family member (the
    digest dominates; the affine arithmetic is codegen adds/mults).
    """
    sh = _shingle_df(df, id_col, text_col, shingle_n)
    buckets = _cap_band_freq(
        _minhash_buckets(sh, num_hashes, bands), max_band_freq
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def incremental_minhash_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_band_freq: int | None = MAX_BAND_FREQ_DEFAULT,
) -> DataFrame:
    """Incremental near-dedup: MinHash-LSH candidates between a NEW
    ``batch`` and an EXISTING ``corpus`` — the production shape, where
    each ingested batch is checked against everything already accepted
    instead of re-running the O(corpus²) self-join. Returns
    (batch_id, corpus_id, jaccard) for verified pairs ≥ ``threshold``.

    Both sides run the identical signature machinery
    (``_minhash_buckets`` with the same parameters), so a batch doc and
    a corpus doc collide exactly when they would have in the self-join
    plan — an accepted corpus's (doc_id, band_key) buckets can be
    PERSISTED once and re-joined by every subsequent batch, making the
    per-batch cost O(|batch| tokens + matched buckets), independent of
    corpus size. The band join is keyed by band_key with the same
    hot-band caps (applied per side) as the self-join; no all-pairs
    plan exists at any scale. Ids may overlap across sides (they are
    different namespaces); no (a < b) ordering is imposed.
    """
    sh_b = _shingle_df(batch, id_col, text_col, shingle_n)
    sh_c = _shingle_df(corpus, id_col, text_col, shingle_n)
    bk_b = _cap_band_freq(
        _minhash_buckets(sh_b, num_hashes, bands), max_band_freq
    )
    bk_c = _cap_band_freq(
        _minhash_buckets(sh_c, num_hashes, bands), max_band_freq
    )
    cand = (
        bk_b.select(F.col("doc_id").alias("batch_id"), "band_key")
        .join(
            bk_c.select(F.col("doc_id").alias("corpus_id"), "band_key"),
            "band_key",
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    va = sh_b.select(F.col("doc_id").alias("batch_id"), F.col("shingles").alias("sh_a"))
    vb = sh_c.select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(va, "batch_id")
        .join(vb, "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", F.round("jaccard", 4).alias("jaccard"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    band_bits: int = 15,
    max_band_freq: int | None = MAX_BAND_FREQ_DEFAULT,
) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints, candidates share at
    least one of four 15-bit bands (any pair within Hamming ≤ 3 must;
    larger radii are caught heuristically), verified by exact Hamming
    distance ≤ ``max_hamming``. ``max_band_freq`` caps hot band buckets
    (see ``_cap_band_freq``)."""
    fp = simhash_fingerprints(df, id_col, text_col)
    bands = 60 // band_bits
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}|"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .cast("string"),
            )
            for b in range(bands)
        ]
    )
    banded = _cap_band_freq(
        fp.select("doc_id", "simhash", F.explode(band_keys).alias("band_key")),
        max_band_freq,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # Hamming-verify BEFORE the pair dedup: the verify is pure codegen
    # (xor + bit_count) evaluated join-side, so the cross-band
    # dropDuplicates shuffles only VERIFIED pairs (~|result|·bands
    # rows) instead of every candidate — template corpora concentrate
    # thousands of docs on a few band values (measured 2.9M candidate
    # pairs from a 5.8k-doc corpus; distinct-first shuffled them all)
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def _bitstring_hamming(a, b, n_bits: int):
    """Codegen Hamming distance between two '0'/'1' bit-strings of
    fixed width ``n_bits``: 32-bit chunks through conv→xor→bit_count
    (two longs for the 64-bit dHash case) — no UDF, join-side
    evaluable. 32-bit chunks keep ``conv``'s base-10 intermediate
    inside signed-long range at any width."""
    total = None
    for start in range(0, n_bits, 32):
        ln = min(32, n_bits - start)
        ca = F.conv(F.substring(a, start + 1, ln), 2, 10).cast("long")
        cb = F.conv(F.substring(b, start + 1, ln), 2, 10).cast("long")
        piece = F.bit_count(ca.bitwiseXOR(cb))
        total = piece if total is None else total + piece
    return total


def bitstring_near_dup(
    df: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    n_bits: int = 64,
    max_hamming: int = 7,
    bands: int | None = None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """End-to-end near-duplicate pass over a fixed-width bit-string
    fingerprint column (the image analog of the text dedups: compose
    with ``multimodal.image_dhash`` for perceptual image dedup —
    Krawetz 2013 fingerprints, multi-index-hashing pair generation per
    Norouzi et al., CVPR 2012 "Fast Search in Hamming Space with
    Multi-Index Hashing").

    Semantics (the min-id keeper convention of the embedding-radius
    dedup): for every row, ``min_neighbor_id`` = the smallest id among
    all rows within Hamming ≤ ``max_hamming`` of it (itself included),
    and ``keep`` = 1 iff that minimum is the row itself. Returns
    (id_col, hash_col, keep int, min_neighbor_id long).

    RECALL-COMPLETE by pigeonhole: with ``bands`` substring bands
    (default ``max_hamming + 1``), any pair within Hamming ≤ bands−1
    agrees EXACTLY on at least one band — so the banded candidate join
    misses nothing; the chunked xor/bit_count verify then filters to
    the true pairs. Passing fewer bands than ``max_hamming + 1`` makes
    the pass heuristic (documented SimHash-style trade); this function
    defaults to the exact regime.

    Scale shape: exact duplicates are collapsed FIRST (one groupBy on
    the hash — identical fingerprints dominate real image corpora and
    would otherwise explode every band bucket quadratically), and the
    banded join + verify + neighbor-min all run at DISTINCT-hash
    granularity; members rejoin by hash at the end. Per-band bucket
    cardinality is bounded by 2^(n_bits/bands) — 256 for a 64-bit
    hash at 8 bands, so at billion-image scale use a wider fingerprint
    (``image_dhash(hash_size=16)`` → 256 bits, 32-bit bands) or accept
    ``max_band_freq`` capping (opt-in, costs recall-completeness like
    every LSH cap). Neighbor aggregation is one map-side-combinable
    min per hash; no anti join, no window over the corpus.
    """
    if int(n_bits) < 1:
        raise ValueError("n_bits must be ≥ 1")
    if bands is None:
        bands = int(max_hamming) + 1
    bands = max(1, min(int(bands), int(n_bits)))
    band_len = -(-int(n_bits) // bands)

    # Materialize the (id, fingerprint) proxy table once (guide §5/§8):
    # the downstream DAG references it from SIX subtrees (groupBy, both
    # self-join sides, the member rejoin), and Spark re-executes the
    # upstream fingerprint pipeline — for the mm_* entries a full
    # decode of every payload — once per reference (6 MapInPandas
    # chains in the r15-before plan). The checkpointed table is the
    # tiny proxy (id + n_bits-char hash), never the payloads. Lazy, as
    # in unigram_encode: it is computed by the first action on the
    # result, so building the DataFrame launches no Spark job.
    rows = df.select(
        F.col(id_col).cast("long").alias(id_col), hash_col
    ).localCheckpoint(eager=False)
    g = rows.groupBy(hash_col).agg(F.min(id_col).alias("_g_min"))

    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}|"),
                F.substring(F.col(hash_col), b * band_len + 1, band_len),
            )
            for b in range(bands)
        ]
    )
    banded = _cap_band_freq(
        g.select(hash_col, "_g_min", F.explode(band_keys).alias("band_key")),
        max_band_freq,
    )
    a, b = banded.alias("a"), banded.alias("b")
    ha, hb = F.col(f"a.{hash_col}"), F.col(f"b.{hash_col}")
    # verify BEFORE the cross-band dedup (the simhash_pairs lesson:
    # codegen verify join-side so only TRUE pairs shuffle)
    pairs = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (ha < hb))
        .filter(_bitstring_hamming(ha, hb, int(n_bits)) <= int(max_hamming))
        .select(
            ha.alias("_h_a"),
            F.col("a._g_min").alias("_min_a"),
            hb.alias("_h_b"),
            F.col("b._g_min").alias("_min_b"),
        )
        .dropDuplicates(["_h_a", "_h_b"])
    )
    nbr = (
        pairs.select(F.col("_h_a").alias(hash_col), F.col("_min_b").alias("_nm"))
        .unionByName(
            pairs.select(F.col("_h_b").alias(hash_col), F.col("_min_a").alias("_nm"))
        )
        .groupBy(hash_col)
        .agg(F.min("_nm").alias("_nbr_min"))
    )
    enriched = rows.join(g, hash_col).join(nbr, hash_col, "left")
    min_nb = F.least(
        F.col("_g_min"), F.coalesce(F.col("_nbr_min"), F.col("_g_min"))
    )
    return enriched.select(
        id_col,
        hash_col,
        F.when(min_nb == F.col(id_col), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("keep"),
        min_nb.cast("long").alias("min_neighbor_id"),
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 16,
    n_bits: int = 8,
    exact_pair_limit: int = 0,
    seed: int = 42,
    max_band_freq: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs (id_a < id_b, cosine ≥ τ), LSH-bucketed.

    Candidates come from a random-hyperplane band-key self-join
    (``similarity.lsh_signatures``): only rows sharing a bucket in ≥1
    of ``n_tables`` sign-signature tables ever meet, then the exact
    cosine verifies — the same bucketed shape as minhash/simhash dedup,
    never a cartesian product. At 100 TB the join is keyed by band_key
    with bounded fan-out; the all-pairs scan never exists in the plan.

    Candidate recall is probabilistic: a pair at angle θ collides in
    one table with p = (1-θ/π)^n_bits, so the miss probability is
    (1-p)^n_tables — for τ=0.95 (θ/π ≈ 0.10) the defaults give
    p ≈ 0.43, miss ≈ 0.57^16 ≈ 1e-4; byte-identical duplicates are
    ALWAYS caught (identical signatures in every table). Raise
    ``n_tables`` (or lower ``n_bits``) for looser thresholds.

    ``exact_pair_limit`` > 0 switches to the exact pairwise scan when
    the input has at most that many rows — a guaranteed-recall escape
    hatch for small candidate sets; it is the one path that cross
    -joins, so it is opt-in and bounded (and the one path that runs a
    pre-plan ``count()`` — only when the opt-in is set).

    ``dim``: embedding dimensionality, needed to generate the LSH
    hyperplanes (Spark's array<float> schema does not carry a length).
    Pass it to keep the default path fully plan-only; when omitted, a
    one-row ``first()`` probe reads it (one tiny Spark job before the
    candidate plan).
    """
    if exact_pair_limit and df.count() <= exact_pair_limit:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cos", cosine(F.col("vec_a"), F.col("vec_b")))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
        )
    from vectorsearch_spark.operators.similarity import lsh_signatures

    # max_band_freq is OPT-IN here (unlike the text dedups): this
    # operator's recall contract says byte-identical vectors are ALWAYS
    # caught, and a giant identical group saturates every bucket — a
    # default cap would silently zero its recall. Callers who enable the
    # cap should resolve identical groups first (hash-groupBy on the
    # embedding bytes — dedup_exact's shape) or use duplicate_clusters
    # for cluster-level output; the all-pairs OUTPUT of an f-sized
    # identical group is itself O(f²) regardless of candidate strategy.
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    sig = _cap_band_freq(
        lsh_signatures(
            df, dim, n_tables=n_tables, n_bits=n_bits, id_col=id_col,
            vec_col=vec_col, seed=seed,
        ),
        max_band_freq,
    )
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "band_key"
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "band_key"
    )
    cand = (
        a.join(b, ["band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "vec_a", "vec_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cos", cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list → per-doc cluster
    assignment: (doc_id, cluster_id, cluster_size, is_keeper), where
    cluster_id is the component's minimum doc_id (the conventional
    "keep the first" survivor rule of dedup pipelines) and only docs
    appearing in some pair are emitted (singletons are trivially their
    own keeper).

    Algorithm: iterative min-label propagation with pointer jumping.
    Each round a node's label becomes min(own, labels of neighbors),
    then labels are compressed one hop (l ← l∘l). Neighbor-min alone
    converges in graph-diameter rounds; the pointer jump halves label
    depth each round, giving O(log n) for chains — and near-dup
    components are near-cliques, so 2-3 rounds is typical. Every round
    is two bounded joins keyed by doc id (shuffle O(|E|+|V|), no
    driver-side graph), with ``localCheckpoint`` truncating the
    iterative plan (Catalyst analysis cost must not grow per round).

    Convergence test: labels are per-node MONOTONE NON-INCREASING, so
    Σlabel is strictly decreasing until the fixpoint — comparing the sum
    across rounds is an exact changed-rows test that costs one
    aggregation instead of a self-join per round. Results are
    deterministic regardless of round count; ``max_iters`` only guards
    against adversarial chains.
    """
    from pyspark.sql import Observation

    a = F.col(id_a).cast("long")
    b = F.col(id_b).cast("long")
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
    ).localCheckpoint()
    # the Σlabel convergence metric rides each round's (eager)
    # localCheckpoint job via observe() — one pass per round instead of
    # checkpoint + separate aggregation job (r14; results unchanged,
    # CollectMetrics adds no row transformation)
    obs0 = Observation()
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .observe(obs0, F.sum("label").alias("s"))
    ).localCheckpoint()
    prev_sum = obs0.get["s"]
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.src == labels.doc)
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, "doc", "left")
            .select(
                "doc",
                F.least(
                    "label", F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: label ← label(label)
        l2 = stepped.select(
            F.col("doc").alias("_ldoc"), F.col("label").alias("_llabel")
        )
        obs = Observation()
        jumped = (
            stepped.join(l2, stepped.label == l2._ldoc, "left")
            .select(
                "doc", F.coalesce("_llabel", F.col("label")).alias("label")
            )
            .observe(obs, F.sum("label").alias("s"))
        ).localCheckpoint()
        labels = jumped
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("doc").cast("long").alias("doc_id"),
            F.col("label").cast("long").alias("cluster_id"),
            "cluster_size",
            (F.col("doc") == F.col("label")).alias("is_keeper"),
        )
    )


def benchmark_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination scan: fraction of each corpus doc's
    distinct word n-grams that appear anywhere in the benchmark set —
    the standard pretraining decontamination check (flag or drop corpus
    docs that overlap an eval set).

    Scale shape: the benchmark side is BOUNDED by definition (eval
    suites are ≤ ~10⁶ distinct n-grams), so it broadcasts; the corpus
    side explodes its distinct grams once and LEFT-SEMI broadcast-hash
    -joins the bench set (the hash table is built ONCE per task — a
    per-row array_intersect against a broadcast constant array rebuilds
    the constant's hash set per row per reference: measured 54 s for
    5 750 docs at sf0.1 vs ~1.5 s here), then rolls hit counts up with
    a map-side-combinable groupBy(doc). Shingling goes through
    ``_shingle_df``'s tokenize-once projection barrier (a single-column
    shingle expression re-runs the tokenizer regex per shingle position
    — quadratic). Corpus shuffles: the token barrier (linear, doc-keyed)
    and the one-row-per-doc rollup.
    """
    bench_grams = (
        _shingle_df(bench, id_col, text_col, n)
        .select(F.explode("shingles").alias("g"))
        .where(F.length("g") > 0)
        .distinct()
    )
    base = _shingle_df(corpus, id_col, text_col, n).withColumnRenamed(
        "shingles", "grams"
    )
    # one explode → broadcast LEFT join marks hits → ONE doc-keyed
    # groupBy counts total and hits together (count(_hit) skips nulls);
    # no totals/hits re-join, partial aggregation shrinks the shuffle
    # to one row per (task, doc)
    joined = (
        base.select("doc_id", F.explode("grams").alias("g"))
        .join(F.broadcast(bench_grams.withColumn("_hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("_hit").cast("long").alias("n_overlap"),
        )
    )
    rate = F.when(
        F.col("n_grams") > 0,
        F.round(F.col("n_overlap") / F.col("n_grams"), 4),
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col("doc_id").alias(id_col),
        "n_grams",
        "n_overlap",
        rate.alias("contamination"),
        (rate >= flag_threshold).alias("flagged"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "name",
    max_key_freq: int | None = MAX_BAND_FREQ_DEFAULT,
) -> DataFrame:
    """Record-linkage: all pairs within Levenshtein distance ≤ 1, via
    SYMMETRIC-DELETE blocking (the SymSpell technique): every string
    emits itself plus each single-character deletion as candidate keys;
    two strings within one edit ALWAYS share a key (substitution →
    same-position deletes agree; insert/delete → one side's delete
    equals the other side verbatim), so the self-join is complete — no
    distance computation outside the bucket-local candidates.

    Scale: prefix/length blocking degenerates when keys share long
    prefixes (every "Customer#000…" in one quadratic block); deletion
    keys bucket by actual near-duplicate density instead. The explode
    is ×(len+1) on the SHORT key column only; ``max_key_freq`` caps
    degenerate buckets exactly like the LSH band cap (a bucket of f
    identical strings is an exact-duplicate group — resolve those with
    ``exact_duplicates`` first). Candidates are verified with the
    codegen ``levenshtein`` and deduped on the pair key.

    Returns (key_a, key_b, dist) with key_a < key_b, dist ∈ {0, 1}.
    """
    s = df.select(F.col(id_col).alias("_k"), F.col(text_col).alias("_t"))
    dels = F.transform(
        F.sequence(F.lit(1), F.length("_t")),
        lambda i: F.concat(
            F.col("_t").substr(F.lit(1), i - F.lit(1)),
            F.col("_t").substr(i + F.lit(1), F.length("_t")),
        ),
    )
    keyed = s.select(
        "_k", "_t",
        F.explode(F.array_union(F.array(F.col("_t")), dels)).alias("band_key"),
    )
    keyed = _cap_band_freq(keyed, max_key_freq)
    a = keyed.select(
        F.col("_k").alias("key_a"), F.col("_t").alias("_ta"), "band_key"
    )
    b = keyed.select(
        F.col("_k").alias("key_b"), F.col("_t").alias("_tb"), "band_key"
    )
    return (
        a.join(b, "band_key")
        .filter(F.col("key_a") < F.col("key_b"))
        .dropDuplicates(["key_a", "key_b"])
        .withColumn("dist", F.levenshtein("_ta", "_tb").cast("long"))
        .filter(F.col("dist") <= 1)
        .select("key_a", "key_b", "dist")
    )


# ---------------------------------------------------------------------------
# Streaming dedup ingest: exactly-once corpus maintenance
# ---------------------------------------------------------------------------

def fold_dedup_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_band_freq: int | None = MAX_BAND_FREQ_DEFAULT,
    state_buckets: "int | None" = None,
) -> None:
    """One micro-batch fold of the streaming dedup ingest (the
    foreachBatch body, exposed for crash-injection tests): check the
    batch against everything already ACCEPTED, drop near-duplicates,
    append the survivors — the per-ingest production dedup shape, made
    exactly-once.

    State layout (all three append one ``epoch=<id>/`` dir per applied
    batch — O(batch) writes per fold, never a history rewrite):

    - ``accepted/`` — surviving (id, text) rows, the corpus;
    - ``buckets/`` — their (doc_id, band_key) LSH buckets;
    - ``shingles/`` — their shingle sets (the verify side).

    ``state_buckets=N`` (r12) moves the ``buckets/`` substore to the
    bucketed layout (``EpochBucketedState``, CLUSTERED BY band_key):
    the two per-fold O(state) operations — the hot-band count
    (``_cap_band_freq``'s groupBy over every persisted bucket row) and
    the candidate join on band_key — both consume the bucketed scan
    without exchanging the accumulated state; only the batch's bucket
    rows shuffle. ``shingles/`` stays a plain dir: its only state-side
    join probes with the (small) candidate set, which broadcasts, so
    the shingle state is scanned but never exchanged in either layout.

    Persisted buckets+shingles are what make the per-batch cost
    O(|batch| tokens + matched buckets) INDEPENDENT of corpus size —
    the corpus text is never re-shingled (the contract documented on
    ``incremental_minhash_pairs``). Batch rows are dropped when they
    LSH-match an accepted corpus doc at ≥ threshold, or a SMALLER-id
    doc within the same batch (the min-id keeper convention).

    Exactly-once by the fold protocol in ``operators/incremental.py``; reading only
    earlier epochs also means a batch never collides with itself.
    """
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return  # replayed epoch: already folded in
    batch = source_snapshot(batch_df)

    sh_b = _shingle_df(batch, id_col, text_col, shingle_n).localCheckpoint(
        eager=False
    )
    bk_b = _cap_band_freq(_minhash_buckets(sh_b, num_hashes, bands), max_band_freq)

    def _epochs(sub: str) -> list[str]:
        return epoch_dirs(os.path.join(state_path, sub), below=epoch_id)

    bk_state = None
    if state_buckets:
        bk_state = EpochBucketedState(
            spark, state_path, "buckets",
            "`doc_id` BIGINT, `band_key` STRING", "band_key", state_buckets,
            # the reader feeds _cap_band_freq's per-band row count, so
            # set-path compaction duplicates would silently drop quiet
            # bands past the cap (r13 ADVICE)
            count_consumed=True,
        )

    drop = None
    sdirs = _epochs("shingles")
    bk_c = (
        bk_state.read_before(epoch_id)
        if bk_state is not None
        else (
            spark.read.schema("doc_id long, band_key string").parquet(
                *_epochs("buckets")
            )
            if _epochs("buckets")
            else None
        )
    )
    if bk_c is not None:
        sh_c = spark.read.schema("doc_id long, shingles array<string>").parquet(*sdirs)
        cand = (
            bk_b.select(F.col("doc_id").alias("batch_id"), "band_key")
            .join(
                _cap_band_freq(bk_c, max_band_freq).select(
                    F.col("doc_id").alias("corpus_id"), "band_key"
                ),
                "band_key",
            )
            .select("batch_id", "corpus_id")
            .distinct()
        )
        verified = (
            cand.join(
                sh_b.select(F.col("doc_id").alias("batch_id"), F.col("shingles").alias("sh_a")),
                "batch_id",
            )
            .join(
                sh_c.select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_b")),
                "corpus_id",
            )
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        drop = verified.select(F.col("batch_id").alias(id_col)).distinct()
    # within-batch self dedup: drop the larger id of every verified pair
    self_pairs = minhash_lsh_pairs(
        batch,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_band_freq=max_band_freq,
    )
    self_drop = self_pairs.select(F.col("doc_b").alias(id_col)).distinct()
    drop = self_drop if drop is None else drop.unionByName(self_drop).distinct()

    accepted = batch.join(drop, id_col, "left_anti").localCheckpoint(eager=False)
    sh_a = _shingle_df(accepted, id_col, text_col, shingle_n).localCheckpoint(
        eager=False
    )
    bk_a = _minhash_buckets(sh_a, num_hashes, bands)

    ep = f"epoch={int(epoch_id)}"
    accepted.select(F.col(id_col).cast("long").alias("doc_id"), text_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(state_path, "accepted", ep))
    if bk_state is not None:
        bk_state.write_epoch(
            bk_a.select(F.col("doc_id").cast("long"), "band_key"), epoch_id
        )
    else:
        bk_a.select(F.col("doc_id").cast("long"), "band_key").write.mode(
            "overwrite"
        ).parquet(os.path.join(state_path, "buckets", ep))
    sh_a.select(F.col("doc_id").cast("long"), "shingles").write.mode(
        "overwrite"
    ).parquet(os.path.join(state_path, "shingles", ep))
    commit_epoch(state_path, epoch_id)


def stream_dedup_ingest(
    docs: DataFrame,
    state_path: str,
    checkpoint: str,
    **kwargs,
):
    """Keep a deduplicated corpus current from a document stream (see
    ``fold_dedup_ingest_batch``). Returns the StreamingQuery; the
    accepted corpus is ``spark.read.parquet(f"{state_path}/accepted")``."""
    return start_fold_stream(
        docs,
        checkpoint,
        lambda batch_df, epoch_id: fold_dedup_ingest_batch(
            batch_df, epoch_id, state_path, **kwargs
        ),
    )


def fold_passage_dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    chunk_tokens: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_buckets: "int | None" = None,
) -> None:
    """One micro-batch fold of the streaming PASSAGE-dedup ingest (the
    foreachBatch body, exposed for crash-injection tests): chunk the
    batch's documents, drop every chunk whose text already survived in
    an earlier batch (or earlier in THIS batch — keep-first by
    (doc_id, chunk_idx)), and append the per-doc survivor stats plus
    the surviving chunk texts to the state. The streaming counterpart
    of ``curate.passage_dedup``: with monotonically increasing doc_ids
    across batches the folded state is row-identical to running the
    batch operator on the concatenated corpus (gated in tests).

    State layout (O(batch) writes per fold, never a history rewrite):

    - ``accepted/epoch=<id>/`` — (doc_id, n_chunks, n_kept, kept_hash)
      rows, the passage_dedup output shape;
    - ``chunks/epoch=<id>/``  — the batch's SURVIVING chunk texts (the
      full text, not a hash: a hash collision in dedup state would
      silently drop a unique passage forever — same exactness stance
      as the batch operator's partition-by-text window).

    Per-batch cost is O(|batch| chunks + matched corpus chunks): the
    corpus check is a left-anti join keyed on chunk_text against the
    persisted chunk dirs — corpus TEXT is never re-chunked.

    Exactly-once by the fold protocol in ``operators/incremental.py``.
    """
    from vectorsearch_spark.operators.curate import chunk_documents

    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return  # replayed epoch: already folded in
    batch = source_snapshot(batch_df)

    chunks = chunk_documents(
        batch, chunk_tokens=chunk_tokens, stride=chunk_tokens,
        id_col=id_col, text_col=text_col,
    )
    w = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_idx")
    ch = chunks.withColumn("__rn", F.row_number().over(w))

    # state_buckets (r12): the surviving-chunk state lives in an
    # EpochBucketedState table clustered by chunk_text, so BOTH state
    # joins below (anti + semi on chunk_text) consume the bucketed scan
    # without exchanging the corpus state — per-fold shuffle stays
    # O(batch) as the accumulated corpus grows (incremental.py).
    corpus_ch = None
    if state_buckets:
        corpus_ch = EpochBucketedState(
            spark, state_path, "chunks", "`chunk_text` STRING",
            "chunk_text", state_buckets,
        ).read_before(epoch_id)
    else:
        dirs = epoch_dirs(os.path.join(state_path, "chunks"), below=epoch_id)
        if dirs:
            corpus_ch = spark.read.schema("chunk_text string").parquet(*dirs)
    if corpus_ch is not None:
        ch = ch.join(corpus_ch, "chunk_text", "left_anti").unionByName(
            # corpus-matched chunks stay in the per-doc accounting as
            # non-survivors (n_chunks counts them; n_kept does not)
            ch.join(corpus_ch, "chunk_text", "left_semi").withColumn(
                "__rn", F.lit(0)  # 0 = dropped-against-corpus sentinel
            ),
            allowMissingColumns=False,
        )
    # ch feeds BOTH epoch writes (accepted stats + surviving chunks);
    # the lazy checkpoint materializes the chunk+window pass once
    ch = ch.localCheckpoint(eager=False)
    kept_flag = F.col("__rn") == 1
    out = (
        ch.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(kept_flag.cast("long")).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    kept_flag, F.struct("chunk_idx", "chunk_text")
                                )
                            )
                        ),
                        lambda s: s["chunk_text"],
                    ),
                )
            ).alias("kept_hash"),
        )
        .localCheckpoint(eager=False)
    )
    surviving = ch.filter(kept_flag).select("chunk_text")

    ep = f"epoch={int(epoch_id)}"
    out.write.mode("overwrite").parquet(os.path.join(state_path, "accepted", ep))
    if state_buckets:
        EpochBucketedState(
            spark, state_path, "chunks", "`chunk_text` STRING",
            "chunk_text", state_buckets,
        ).write_epoch(surviving, epoch_id)
    else:
        surviving.write.mode("overwrite").parquet(
            os.path.join(state_path, "chunks", ep)
        )
    commit_epoch(state_path, epoch_id)


def stream_passage_dedup(
    docs: DataFrame,
    state_path: str,
    checkpoint: str,
    **kwargs,
):
    """Keep a passage-deduped corpus current from a document stream
    (see ``fold_passage_dedup_batch``). Returns the StreamingQuery;
    the accepted per-doc stats are
    ``spark.read.parquet(f"{state_path}/accepted")``."""
    return start_fold_stream(
        docs,
        checkpoint,
        lambda batch_df, epoch_id: fold_passage_dedup_batch(
            batch_df, epoch_id, state_path, **kwargs
        ),
    )


def fold_repeated_spans_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    span_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch fold of streaming REPEATED-SPAN dedup (the
    foreachBatch body, exposed for crash-injection tests): slide the
    batch's ``span_tokens`` windows, mark every window whose md5
    already exists in the persisted gram state (an earlier batch) or
    earlier in THIS batch, merge marks into maximal spans, and append
    the per-doc span maps plus the batch's NEW gram hashes. The
    streaming counterpart of ``curate.repeated_spans``: with
    monotonically increasing doc_ids across batches the folded state
    is row-identical to the batch operator on the concatenated corpus
    (gated in tests) — the arbitrary-offset analog of
    ``fold_passage_dedup_batch``.

    State layout (O(batch) writes per fold, never a history rewrite):

    - ``spans/epoch=<id>/`` — (doc_id, n_tokens, dup_spans,
      dup_tokens, dup_ratio), the repeated_spans output shape;
    - ``grams/epoch=<id>/`` — the batch's DISTINCT gram md5s not
      already in state (state growth = new grams only; dups are
      already present). Hashes, not text: the batch operator itself
      keys spans by md5 with documented collision odds, so state
      inherits the same stance — and gram TEXT would be
      span_tokens× the corpus.

    Per-batch cost: O(|batch| tokens) for the slide + one columnar
    scan/shuffle of the persisted gram hashes (32 B each — the hash
    column only, never corpus text) for the membership join.

    Exactly-once by the fold protocol in ``operators/incremental.py``.
    """
    from vectorsearch_spark.operators.curate import (
        _gram_slide,
        _mark_occurrences,
        _merge_intervals,
        _span_report,
        _tokenized_base,
    )

    if span_tokens < 2:
        raise ValueError("span_tokens must be ≥ 2")
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return  # replayed epoch: already folded in
    batch = source_snapshot(batch_df)

    # batch/streaming parity depends on byte-identical tokenization,
    # gram hashing, and interval merging — so this fold compiles from
    # the SAME stage definitions as curate.repeated_spans, inserting
    # only the state-membership join between mark and merge
    base = _tokenized_base(batch, id_col, text_col)
    grams = _gram_slide(base, span_tokens, id_col)

    dirs = epoch_dirs(os.path.join(state_path, "grams"), below=epoch_id)
    marked = _mark_occurrences(grams, id_col)
    if dirs:
        corpus = spark.read.schema("__h string").parquet(*dirs).withColumn(
            "__in_state", F.lit(True)
        )
        marked = marked.join(corpus, "__h", "left")
    else:
        marked = marked.withColumn("__in_state", F.lit(None).cast("boolean"))
    # marked+gram pass feeds BOTH the span map and the new-gram write
    marked = marked.localCheckpoint(eager=False)

    dup = marked.where(
        (F.col("__in_state") == True)  # noqa: E712 — tri-state null
        | ((F.col("__cnt") > 1) & (F.col("__rn") > 1))
    ).select(
        F.col(id_col),
        F.col("pos").cast("long").alias("s"),
        (F.col("pos") + span_tokens).cast("long").alias("e"),
    )
    out = _span_report(base, _merge_intervals(dup, id_col), id_col)
    new_grams = (
        marked.where(F.col("__in_state").isNull()).select("__h").distinct()
    )

    ep = f"epoch={int(epoch_id)}"
    out.write.mode("overwrite").parquet(os.path.join(state_path, "spans", ep))
    new_grams.write.mode("overwrite").parquet(os.path.join(state_path, "grams", ep))
    commit_epoch(state_path, epoch_id)


def stream_repeated_spans(
    docs: DataFrame,
    state_path: str,
    checkpoint: str,
    **kwargs,
):
    """Keep an arbitrary-offset span-dedup map current from a document
    stream (see ``fold_repeated_spans_batch``). Returns the
    StreamingQuery; the per-doc span maps are
    ``spark.read.parquet(f"{state_path}/spans")``."""
    return start_fold_stream(
        docs,
        checkpoint,
        lambda batch_df, epoch_id: fold_repeated_spans_batch(
            batch_df, epoch_id, state_path, **kwargs
        ),
    )


def fold_line_dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_buckets: "int | None" = None,
) -> None:
    """One micro-batch fold of streaming LINE-level boilerplate dedup
    (the foreachBatch body, exposed for crash-injection tests) —
    incremental view maintenance of ``curate.line_dedup`` with
    RETROACTIVE REVISION: unlike the keep-first streaming folds above,
    line dedup's predicate is global ("this line occurs in ≥ min_docs
    distinct docs"), so a batch can flip a line's status for documents
    that already streamed through. The fold therefore emits, per
    epoch, the line_dedup rows for the batch's docs PLUS revised rows
    for every earlier doc containing a key that crossed the threshold
    in this epoch; the folded view (latest row per doc —
    ``read_line_dedup_state``) is row-identical to the batch operator
    on the concatenated corpus (gated in tests).

    State layout (all epoch-dir appends, never a history rewrite):

    - ``lines/epoch=<id>/``     — the batch's (doc_id, pos, line, key)
      occurrences, TEXT included: a revised doc's kept_hash needs its
      raw lines back, and a hash in state could false-drop a unique
      line forever (the passage-fold exactness stance);
    - ``keycounts/epoch=<id>/`` — per-key DISTINCT-doc counts within
      the batch. Docs never span batches, so prior counts SUM across
      epochs — the threshold check scans only this narrow key table,
      not the line text;
    - ``spans/epoch=<id>/``     — the line_dedup output rows (batch
      docs + revised earlier docs).

    Per-batch cost: O(|batch| lines) + one narrow keycounts scan + a
    key-keyed semi-join that touches ONLY the earlier docs being
    revised (no crossings ⇒ no prior text is read beyond the
    semi-join probe).

    Exactly-once by the fold protocol in ``operators/incremental.py``.
    """
    from vectorsearch_spark.operators.curate import _line_doc_counts, _line_report, _line_rows

    if min_docs < 2:
        raise ValueError("min_docs must be ≥ 2")
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return  # replayed epoch: already folded in
    batch = source_snapshot(batch_df)

    bl = _line_rows(batch, id_col, text_col).localCheckpoint(eager=False)
    batch_counts = _line_doc_counts(bl, id_col).withColumnRenamed("__nd", "__nd_b")

    def _dirs(sub: str) -> "list[str]":
        return epoch_dirs(os.path.join(state_path, sub), below=epoch_id)

    # state_buckets (r12): keycounts is THE per-fold O(state) exchange
    # of this fold — a groupBy-sum over every key ever seen. Clustered
    # by __key (EpochBucketedState) the bucketed scan already satisfies
    # the aggregation's distribution requirement, so prior counts
    # aggregate in place with no exchange; only the batch's keys
    # shuffle (incremental.py).
    kc_state = None
    if state_buckets:
        kc_state = _keycounts_state(spark, state_path, state_buckets)
    prior_rows = (
        kc_state.read_before(epoch_id)
        if kc_state is not None
        else (
            spark.read.schema("__key string, __nd_b long").parquet(
                *_dirs("keycounts")
            )
            if _dirs("keycounts")
            else None
        )
    )
    if prior_rows is not None:
        prior = prior_rows.groupBy("__key").agg(
            F.sum("__nd_b").alias("__nd_p")
        )
    else:
        prior = spark.createDataFrame([], "__key string, __nd_p long")
    totals = (
        batch_counts.join(prior, "__key", "full_outer")
        .select(
            "__key",
            F.coalesce("__nd_b", F.lit(0)).alias("__nd_b"),
            F.coalesce("__nd_p", F.lit(0)).alias("__nd_p"),
        )
        .withColumn("__nd", F.col("__nd_b") + F.col("__nd_p"))
        .localCheckpoint(eager=False)  # feeds boiler set AND crossings
    )
    boiler = totals.where(F.col("__nd") >= int(min_docs)).select(
        "__key", F.lit(True).alias("__boiler")
    )
    # keys whose status flipped IN THIS EPOCH and that earlier docs saw
    crossed = totals.where(
        (F.col("__nd_p") > 0)
        & (F.col("__nd_p") < int(min_docs))
        & (F.col("__nd") >= int(min_docs))
    ).select("__key")

    rows_for = bl.select(id_col, "pos", "line", "__key")
    ln_dirs = _dirs("lines")
    if ln_dirs:
        prior_lines = spark.read.schema(
            f"{id_col} long, pos int, line string, __key string"
        ).parquet(*ln_dirs)
        affected = (
            prior_lines.join(crossed, "__key", "left_semi")
            .select(id_col)
            .distinct()
        )
        revised = prior_lines.join(affected, id_col, "left_semi")
        rows_for = rows_for.unionByName(revised)
    out = _line_report(rows_for.join(boiler, "__key", "left"), id_col)

    ep = f"epoch={int(epoch_id)}"
    bl.select(id_col, "pos", "line", "__key").write.mode("overwrite").parquet(
        os.path.join(state_path, "lines", ep)
    )
    if kc_state is not None:
        kc_state.write_epoch(batch_counts, epoch_id)
    else:
        batch_counts.write.mode("overwrite").parquet(
            os.path.join(state_path, "keycounts", ep)
        )
    out.write.mode("overwrite").parquet(os.path.join(state_path, "spans", ep))
    commit_epoch(state_path, epoch_id)


def read_line_dedup_state(spark, state_path: str, id_col: str = "doc_id") -> DataFrame:
    """The folded line-dedup view: the LATEST span row per doc across
    COMMITTED epochs (later epochs carry retroactive revisions — see
    ``fold_line_dedup_batch``). Only epoch dirs at or below the
    committed marker are read: a crashed fold's
    partially-written dir stays invisible to external readers until the
    replay overwrites it (the exactly-once contract)."""
    committed = committed_epoch(state_path, "read_line_dedup_state")
    root = os.path.join(state_path, "spans")
    dirs = epoch_dirs(root, at_most=committed)
    spans = spark.read.option("basePath", root).parquet(*dirs)
    w = Window.partitionBy(id_col).orderBy(F.col("epoch").desc())
    return (
        spans.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "epoch")
    )


def _keycounts_state(spark, state_path: str, state_buckets: int):
    """The line fold's keycounts substore: ADDITIVE state (folds SUM
    ``__nd_b`` across epochs), declared via ``sum_cols`` so compaction
    takes the staged-swap path — the append-only set merge would
    double-count (incremental.py compact_epochs)."""
    return EpochBucketedState(
        spark, state_path, "keycounts",
        "`__key` STRING, `__nd_b` BIGINT", "__key", state_buckets,
        sum_cols=["__nd_b"],
    )


def compact_line_keycounts(
    spark, state_path: str, state_buckets: int, upto_epoch: int
) -> None:
    """Merge the line fold's keycounts epoch partitions ≤ ``upto_epoch``
    into one summed partition (additive compaction — per-group totals
    replace per-epoch increments, so every subsequent fold's
    prior-count aggregation reads one partition instead of the whole
    epoch history). Run BETWEEN folds; crash-safe via the marker-gated
    staged swap in ``EpochBucketedState.compact_epochs``."""
    _keycounts_state(spark, state_path, state_buckets).compact_epochs(upto_epoch)


def stream_line_dedup(
    docs: DataFrame,
    state_path: str,
    checkpoint: str,
    compact_every: "int | None" = None,
    **kwargs,
):
    """Keep a line-deduped corpus view current from a document stream
    (see ``fold_line_dedup_batch``). Returns the StreamingQuery; the
    folded per-doc rows are ``read_line_dedup_state(spark, state_path)``.

    ``compact_every=N`` (requires ``state_buckets``): after every Nth
    applied epoch the keycounts partitions merge into one summed
    partition (``compact_line_keycounts`` — the additive staged-swap
    path), bounding the fold's state-partition count on a long-lived
    stream."""
    if compact_every and not kwargs.get("state_buckets"):
        raise ValueError(
            "compact_every requires state_buckets (compaction operates "
            "on the bucketed keycounts layout)"
        )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        fold_line_dedup_batch(batch_df, epoch_id, state_path, **kwargs)
        sb = kwargs.get("state_buckets")
        if sb and compact_every and (int(epoch_id) + 1) % int(compact_every) == 0:
            compact_line_keycounts(
                batch_df.sparkSession, state_path, sb, int(epoch_id)
            )

    return start_fold_stream(docs, checkpoint, _apply)
