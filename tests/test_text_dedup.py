"""Unit tests for text/dedup primitives against pure-Python oracles:
tokenization, shingling, simhash fingerprints, hamming distance, and the
dedup operators on a tiny hand-built corpus."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from tests.jobs import jobs_launched
from vectorsearch_spark.functions.text import TOKEN_RE, tokens, word_shingles
from vectorsearch_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from vectorsearch_spark.operators.text import (
    doc_stats,
    hamming64,
    language_id,
    simhash_fingerprints,
)

CORPUS = [
    (1, "The quick brown fox jumps over the lazy dog. The quick brown fox!"),
    (2, "the quick   brown fox jumps over the lazy dog. The quick brown fox!"),
    (3, "A completely different document about Spark SQL engines and scale."),
    (4, "The quick brown fox jumps over the lazy dog. The quick brown cat!"),
    (5, ""),
    (6, "der die das und ist nicht ein eine mit von der die das"),
]


def py_tokens(text: str) -> list[str]:
    return re.findall(TOKEN_RE, text.lower())


def py_simhash(text: str, bits: int = 60) -> int | None:
    toks = sorted(set(py_tokens(text)))
    if not toks:
        return None
    hashes = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    fp = 0
    for j in range(bits):
        ones = sum(1 for h in hashes if h & (1 << j))
        if 2 * ones >= len(hashes):
            fp |= 1 << j
    return fp


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_tokens_match_python(spark, docs):
    got = {
        r["doc_id"]: r["toks"]
        for r in docs.select("doc_id", tokens("text").alias("toks")).collect()
    }
    for doc_id, text in CORPUS:
        assert got[doc_id] == py_tokens(text), doc_id


def test_word_shingles_match_python(spark, docs):
    got = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", word_shingles("text", 3).alias("sh")).collect()
    }
    for doc_id, text in CORPUS:
        toks = py_tokens(text)
        expect = list(
            dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 3, 0) + 1)
            )
        )
        assert got[doc_id] == expect, doc_id


def test_simhash_fingerprints_match_python(spark, docs):
    got = {
        r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()
    }
    for doc_id, text in CORPUS:
        expect = py_simhash(text)
        if expect is None:
            assert doc_id not in got
        else:
            assert got[doc_id] == expect, doc_id


def test_hamming64(spark):
    df = spark.createDataFrame([(0b1011, 0b0010), (7, 7), (0, (1 << 60) - 1)], "a long, b long")
    got = [r[0] for r in df.select(hamming64(F.col("a"), F.col("b"))).collect()]
    assert got == [2, 0, 60]


def test_exact_duplicates_groups(spark, docs):
    rows = exact_duplicates(docs).collect()
    # docs 1 and 2 are identical after lowercase + whitespace normalization
    assert len(rows) == 1
    assert rows[0]["n_copies"] == 2 and rows[0]["keeper_id"] == 1


def test_jaccard_pairs_finds_near_dups(spark, docs):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 4) in got and 0.5 <= got[(1, 4)] < 1.0
    assert all(3 not in pair and 5 not in pair for pair in got)


def test_minhash_lsh_finds_identical_pair(spark, docs):
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got


def test_simhash_pairs_verified_by_hamming(spark, docs):
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=8).collect()}
    assert got.get((1, 2)) == 0
    fp1, fp4 = py_simhash(CORPUS[0][1]), py_simhash(CORPUS[3][1])
    expect_14 = bin(fp1 ^ fp4).count("1")
    if expect_14 <= 8:
        assert got.get((1, 4)) == expect_14


def py_winnow(text: str, k: int = 5, window: int = 4, bits: int = 20, base: int = 31):
    toks = py_tokens(text)
    if len(toks) < k:
        return set()
    th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % (1 << bits) for t in toks]
    kh = []
    for i in range(len(th) - k + 1):
        acc = 0
        for j in range(k):
            acc = acc * base + th[i + j]
        kh.append(acc)
    n_w = max(len(kh) - window + 1, 1)
    return {min(kh[s : s + window]) for s in range(n_w)}


def test_winnow_fingerprints_match_python(spark, docs):
    from vectorsearch_spark.operators.text import winnow_fingerprints

    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for doc_id, text in CORPUS:
        expect = py_winnow(text)
        assert got.get(doc_id, set()) == expect, doc_id


def test_doc_stats_empty_text(spark, docs):
    r = {x["doc_id"]: x for x in doc_stats(docs).collect()}
    assert r[5]["n_chars"] == 0 and r[5]["n_tokens"] == 0
    assert r[5]["quality_score"] is not None
    assert r[1]["n_tokens"] == len(py_tokens(CORPUS[0][1]))


def test_language_id_german_vs_english(spark, docs):
    r = {x["doc_id"]: x["pred_lang"] for x in language_id(docs).collect()}
    assert r[6] == "de"
    assert r[3] == "en"
    assert r[5] == "und"


def test_duplicate_clusters_components(spark):
    """Connected components: chain {0..5} (pointer-jump depth > 1),
    pair {10,11}, and min-id keeper selection."""
    from vectorsearch_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)],
        "doc_a long, doc_b long",
    )
    rows = {r["doc_id"]: r for r in duplicate_clusters(pairs).collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5, 10, 11}
    for d in range(6):
        assert rows[d]["cluster_id"] == 0
        assert rows[d]["cluster_size"] == 6
        assert rows[d]["is_keeper"] == (d == 0)
    for d in (10, 11):
        assert rows[d]["cluster_id"] == 10
        assert rows[d]["cluster_size"] == 2
        assert rows[d]["is_keeper"] == (d == 10)


def test_duplicate_clusters_order_invariant(spark):
    """Same components regardless of pair orientation/order."""
    from vectorsearch_spark.operators.dedup import duplicate_clusters

    a = spark.createDataFrame([(3, 7), (7, 9), (1, 2)], "doc_a long, doc_b long")
    b = spark.createDataFrame([(9, 7), (2, 1), (7, 3)], "doc_a long, doc_b long")
    ra = sorted(map(tuple, duplicate_clusters(a).collect()))
    rb = sorted(map(tuple, duplicate_clusters(b).collect()))
    assert ra == rb
    assert {t[1] for t in ra} == {1, 3}  # two clusters rooted at min ids


def test_token_counts_known_values(spark):
    from vectorsearch_spark.operators.text import token_counts

    df = spark.createDataFrame(
        [
            (1, "it's a test"),
            (2, "hello worldly 12345!"),
            (3, ""),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_counts(df).collect()}
    # "it's a test": ws [it's, a, test]; pieces [it, 's, a, test]
    assert rows[1]["n_ws_tokens"] == 3
    assert rows[1]["n_pieces"] == 4
    assert rows[1]["n_subword_est"] == 4
    # "hello worldly 12345!": pieces [hello, worldly, 123, 45, !];
    # hello(5)->2, worldly(7)->2, digits/punct -> 1 each
    assert rows[2]["n_ws_tokens"] == 3
    assert rows[2]["n_pieces"] == 5
    assert rows[2]["n_subword_est"] == 7
    assert tuple(rows[3])[1:] == (0, 0, 0)
    assert tuple(rows[4])[1:] == (0, 0, 0)


def test_minhash_band_freq_cap_drops_hot_buckets(spark):
    """A duplicate group larger than max_band_freq lands every copy in
    the same band buckets, which the cap drops (quadratic-pair guard);
    exact_duplicates still resolves the group linearly, and small
    near-dup groups survive the cap."""
    from vectorsearch_spark.operators.dedup import exact_duplicates, minhash_lsh_pairs

    big = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(20)]
    small = [
        (100, "completely different text about spark catalyst optimizers"),
        (101, "completely different text about spark catalyst optimizers"),
    ]
    df = spark.createDataFrame(big + small, "doc_id long, text string")
    capped = minhash_lsh_pairs(df, max_band_freq=10).collect()
    ids = {r["doc_a"] for r in capped} | {r["doc_b"] for r in capped}
    assert ids == {100, 101}  # the 20-copy group was dropped by the cap
    uncapped = minhash_lsh_pairs(df, max_band_freq=None).collect()
    assert len(uncapped) == 20 * 19 // 2 + 1  # full quadratic without cap
    # and the linear path still reports the big group
    ex = exact_duplicates(df).collect()
    assert {(r["n_copies"], r["keeper_id"]) for r in ex} == {(20, 0), (2, 100)}


def test_duplicate_clusters_empty_pairs(spark):
    from vectorsearch_spark.operators.dedup import duplicate_clusters

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert duplicate_clusters(empty).collect() == []


def test_embedding_near_dup_plan_only_with_dim(spark):
    """With `dim` supplied and the exact opt-in off, building the
    candidate plan runs ZERO Spark jobs (no count(), no first() probe)
    — the contract that keeps the operator cheap inside loops."""
    from vectorsearch_spark.operators.dedup import embedding_near_dup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(30)]
        + [(100, [3.0, 1.0, 0.0, 0.5]), (101, [3.0, 1.0, 0.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    # plan only — no action yet
    out, jobs = jobs_launched(spark, lambda: embedding_near_dup(df, dim=4))
    assert jobs == 0, "planning ran Spark jobs"
    # passed-dim results ≡ probed-dim results
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    probed = {
        (r["id_a"], r["id_b"]) for r in embedding_near_dup(df, threshold=0.95).collect()
    }
    assert got == probed
    assert (100, 101) in got  # identical pair always caught


def test_edit_distance_pairs_complete_for_all_edit_kinds(spark):
    """Symmetric-delete blocking must catch every edit kind within
    distance 1 — substitution, insertion, deletion, identical — and
    nothing at distance ≥ 2."""
    from vectorsearch_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "spark"),
        (2, "spork"),    # substitution        → dist 1
        (3, "sparks"),   # insertion           → dist 1
        (4, "park"),     # deletion vs spark   → dist 1 (vs spork: 2)
        (5, "spark"),    # identical           → dist 0
        (6, "flink"),    # unrelated
        (7, "sp"),       # far
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["key_a"], r["key_b"]): r["dist"]
        for r in edit_distance_pairs(df, id_col="id", text_col="name").collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 1
    assert got[(1, 4)] == 1
    assert got[(1, 5)] == 0
    assert got[(2, 5)] == 1 and got[(3, 5)] == 1 and got[(4, 5)] == 1
    assert (2, 4) not in got        # spork↔park is distance 2
    assert all(6 not in p and 7 not in p for p in got)


def test_edit_distance_pairs_hot_bucket_cap(spark):
    """max_key_freq drops degenerate buckets (a giant identical-string
    group) exactly like the LSH band cap — the linear exact_duplicates
    path owns those groups."""
    from vectorsearch_spark.operators.dedup import edit_distance_pairs

    rows = [(i, "clone") for i in range(30)] + [(100, "alpha"), (101, "alphas")]
    df = spark.createDataFrame(rows, "id long, name string")
    capped = edit_distance_pairs(df, id_col="id", text_col="name", max_key_freq=10)
    ids = {r["key_a"] for r in capped.collect()} | {r["key_b"] for r in capped.collect()}
    assert ids == {100, 101}  # the 30-clone group was dropped by the cap
    full = edit_distance_pairs(df, id_col="id", text_col="name", max_key_freq=None)
    assert full.count() == 30 * 29 // 2 + 1


def test_text_operators_null_and_empty_text(spark):
    """NULL / empty / whitespace-only text must not crash any text
    operator; NULL text yields NULL token-derived stats (Spark
    size(NULL)=NULL under default conf, mirroring DuckDB len(NULL)),
    empty text yields zeros."""
    from vectorsearch_spark.operators.text import doc_stats, language_id, token_counts
    from vectorsearch_spark.operators.textsearch import bm25_topk

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "the quick fox")],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in doc_stats(docs).collect()}
    assert stats[1]["n_tokens"] is None and stats[1]["n_chars"] is None
    assert stats[2]["n_tokens"] == 0 and stats[2]["n_chars"] == 0
    assert stats[3]["n_tokens"] == 0
    assert stats[4]["n_tokens"] == 3

    tc = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert tc[2]["n_pieces"] == 0 and tc[4]["n_pieces"] == 3
    assert tc[1]["n_pieces"] is None

    lid = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert lid[2] == "und" and lid[4] == "en"

    # NULL-text docs simply never match a query (score NULL -> filtered)
    hits = {r["doc_id"] for r in bm25_topk(docs, "quick fox").collect()}
    assert hits == {4}


def test_incremental_minhash_matches_selfjoin_cross_pairs(spark, docs):
    """The incremental (batch-vs-corpus) dedup must find exactly the
    self-join's cross-side pairs: identical signature machinery means a
    batch/corpus pair collides iff it collides in the union self-join."""
    from vectorsearch_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    corpus = docs
    batch = docs.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    got = {
        (r["batch_id"], r["corpus_id"], r["jaccard"])
        for r in incremental_minhash_pairs(
            batch, corpus, num_hashes=16, bands=8, threshold=0.3
        ).collect()
    }
    # every doc is its own duplicate across the sides
    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    assert all((i + 100, i, 1.0) in got for i in doc_ids)
    # cross pairs of the union self-join (a<b guarantees batch ids, +100,
    # always land on the a-or-b side consistently -> normalize)
    union = docs.unionByName(batch)
    self_pairs = minhash_lsh_pairs(union, num_hashes=16, bands=8, threshold=0.3)
    cross = {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"]), r["jaccard"])
        for r in self_pairs.collect()
        if (r["doc_a"] >= 100) != (r["doc_b"] >= 100)
    }
    assert got == cross


def test_lm_perplexity_known_values(spark):
    """Hand-computed Laplace unigram model on a 2-doc corpus."""
    import math

    from vectorsearch_spark.operators.text import lm_perplexity

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in lm_perplexity(docs).collect()}
    # counts: a=3, b=1, c=1; N=5, V=3, alpha=0.5 -> denom 5 + 0.5*4 = 7
    p = {"a": 3.5 / 7, "b": 1.5 / 7, "c": 1.5 / 7}
    nll1 = -(2 * math.log(p["a"]) + math.log(p["b"])) / 3
    nll2 = -(math.log(p["a"]) + math.log(p["c"])) / 2
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert abs(out[1]["nll"] - round(nll1, 6)) < 1e-9
    assert abs(out[2]["nll"] - round(nll2, 6)) < 1e-9
    assert abs(out[2]["ppl"] - round(math.exp(nll2), 4)) < 1e-9
    # the all-common-token doc scores lower (better) than the rarer mix
    assert out[1]["nll"] < out[2]["nll"]


def test_bitstring_near_dup_brute_parity(spark):
    """bitstring_near_dup ≡ all-pairs Hamming brute force: banding is
    recall-complete for max_hamming ≤ bands−1 (pigeonhole), the verify
    is exact, identical hashes collapse to one group."""
    import numpy as np

    from vectorsearch_spark.operators.dedup import bitstring_near_dup

    rng = np.random.default_rng(11)
    base = rng.integers(0, 2, size=(20, 64))
    rows = []
    rid = 0
    for i in range(20):
        for _ in range(int(rng.integers(1, 4))):  # exact-dup groups
            rows.append((rid, "".join(map(str, base[i]))))
            rid += 1
        flip = base[i].copy()  # a near-dup at a random radius 1..9
        for j in rng.choice(64, size=int(rng.integers(1, 10)), replace=False):
            flip[j] ^= 1
        rows.append((rid, "".join(map(str, flip))))
        rid += 1

    t = 7
    got = {
        r["media_id"]: (r["keep"], r["min_neighbor_id"])
        for r in bitstring_near_dup(
            spark.createDataFrame(rows, "media_id long, dhash string"),
            max_hamming=t,
        ).collect()
    }
    bits = {i: np.array([int(c) for c in h]) for i, h in rows}
    for i, _ in rows:
        mn = min(
            j for j, _ in rows if int(np.sum(bits[i] != bits[j])) <= t
        )
        assert got[i] == (1 if mn == i else 0, mn), (i, got[i], mn)
    assert len(got) == len(rows)


def test_bitstring_near_dup_boundary_and_width(spark):
    from vectorsearch_spark.operators.dedup import bitstring_near_dup

    # Hamming exactly t matches; t+1 does not — and a non-multiple-of-32
    # width exercises the short final conv chunk
    h0 = "0" * 40
    h1 = "1" * 3 + "0" * 37   # d(h0,h1)=3
    h2 = "1" * 4 + "0" * 36   # d(h0,h2)=4, d(h1,h2)=1
    df = spark.createDataFrame(
        [(1, h0), (2, h1), (3, h2)], "media_id long, dhash string"
    )
    got = {
        r["media_id"]: (r["keep"], r["min_neighbor_id"])
        for r in bitstring_near_dup(df, n_bits=40, max_hamming=3).collect()
    }
    # 1 keeps itself; 2 is within 3 of 1; 3 is within 1 of 2 but NOT of 1
    assert got == {1: (1, 1), 2: (0, 1), 3: (0, 2)}
    got1 = {
        r["media_id"]: r["keep"]
        for r in bitstring_near_dup(df, n_bits=40, max_hamming=2).collect()
    }
    assert got1 == {1: 1, 2: 1, 3: 0}


def test_bitstring_near_dup_builds_without_spark_jobs(spark):
    """The (id, fingerprint) proxy is checkpointed lazily, so building
    the near-dup DataFrame launches no Spark job; the first action on
    the result computes it."""
    from vectorsearch_spark.operators.dedup import bitstring_near_dup

    df = spark.createDataFrame(
        [(1, "0" * 40), (2, "1" * 3 + "0" * 37), (3, "1" * 40)],
        "media_id long, dhash string",
    )
    out, jobs = jobs_launched(
        spark, lambda: bitstring_near_dup(df, n_bits=40, max_hamming=3)
    )
    assert jobs == 0
    assert {r["media_id"]: r["keep"] for r in out.collect()} == {1: 1, 2: 0, 3: 1}


def test_bitstring_near_dup_band_cap_prunes_hot_band_keeps_quiet_pairs(spark):
    """max_band_freq on bitstring_near_dup — the production lever for
    hot-band-bucket growth (correlated fingerprints share whole bands,
    so within-bucket candidate pairs grow quadratically; the r12 256-bit
    probe measured 74x pair growth at 10x data on the synthetic corpus).
    The cap prunes band buckets above the threshold, which costs
    recall-completeness ONLY for pairs whose every agreeing band is hot:
    a pair that also agrees on a quiet band is still found (multi-index
    property)."""
    from vectorsearch_spark.operators.dedup import bitstring_near_dup

    # 16 bits, 2 bands of 8. Hot band 0: every row shares '00000000'.
    # Rows 0/1 ALSO share band 1 (quiet: only they collide there), so
    # their Hamming-0... make them Hamming-1 apart in band 0? No —
    # keep them identical in band 1, differing by 1 bit in band 0.
    rows = [
        (0, "00000000" + "10101010"),
        (1, "00000001" + "10101010"),  # d=1 vs row 0; band 1 matches row 0
    ] + [
        # 30 fillers: hot band 0 shared, band 1 unique per row and far
        # from everything (distinct high nibbles)
        (10 + i, "00000000" + format(i + 3, "04b") + format(15 - (i % 8), "04b")[::-1])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "media_id long, dhash string")
    capped = {
        r["media_id"]: (r["keep"], r["min_neighbor_id"])
        for r in bitstring_near_dup(
            df, n_bits=16, max_hamming=1, bands=2, max_band_freq=5
        ).collect()
    }
    # band 0 bucket has 10 members > cap 5 -> pruned; rows 0/1 still
    # pair through their QUIET band-1 bucket
    assert capped[0] == (1, 0)
    assert capped[1] == (0, 0)
    # fillers survive as their own keepers (nothing within Hamming 1)
    for i in range(8):
        assert capped[10 + i][0] == 1
