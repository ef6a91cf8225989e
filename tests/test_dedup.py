"""Dedup family: exact, MinHash-LSH vs exact Jaccard, SimHash blocking."""

import pytest
from pyspark.sql import functions as F

from walk_spark.operators import dedup_text as DT


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river edge"),  # near dup of 0
        (3, "completely different content about spark dataframes and shuffles"),
        (4, "completely different content about spark dataframes and shuffles"),  # exact dup of 3
        (5, "unrelated text mentioning nothing similar to other documents here"),
        (6, "THE Quick  Brown fox jumps over the lazy dog near the river bank"),  # case/ws variant of 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    groups = {r["fp"]: r for r in DT.exact_duplicates(docs).collect()}
    sets = sorted(tuple(r["doc_ids"]) for r in groups.values())
    # normalization (lower + whitespace collapse) folds 6 into 0/1's group
    assert sets == [(0, 1, 6), (3, 4)]
    for r in groups.values():
        assert r["keep_id"] == min(r["doc_ids"])


def test_jaccard_exact_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DT.jaccard_word_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(3, 4)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert (0, 5) not in pairs


def test_minhash_matches_exact_jaccard(docs):
    """MinHash-LSH at a high threshold finds the same pairs as exact
    jaccard (signatures of identical sets are identical; near-dups at
    jaccard ~0.85 survive 32 bands of 4 rows with near-certainty)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in DT.jaccard_word_pairs(docs, threshold=0.8).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in DT.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert exact <= mh  # no false negatives at this scale
    # estimates for exact dups are exactly 1.0
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in DT.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert est[(0, 1)] == 1.0 and est[(3, 4)] == 1.0


def test_minhash_estimate_accuracy(docs):
    """k=128 estimate within ~0.15 of exact jaccard for the near-dup pair."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DT.jaccard_word_pairs(docs, threshold=0.3).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in DT.minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    for pair in est:
        if pair in exact:
            assert abs(est[pair] - exact[pair]) < 0.2, (pair, est[pair], exact[pair])


def test_simhash_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DT.simhash_pairs(docs, max_hamming=6).collect()
    }
    # identical token streams -> identical simhash -> hamming 0
    assert pairs[(0, 1)] == 0
    assert pairs[(3, 4)] == 0
    assert pairs[(0, 6)] == 0
    # one-word-changed doc is within a few bits
    assert (0, 2) in pairs
    # unrelated docs are far apart
    assert (0, 5) not in pairs


def test_simhash_blocking_is_complete(spark):
    """Pigeonhole property: every pair with hamming ≤ 3 shares a 16-bit
    band, so blocking finds it. Construct signatures by perturbing texts."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [(i, base + f" tail{i % 2}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = DT.simhash_pairs(df, max_hamming=3)
    sigs = {r["doc_id"]: r["simhash"] for r in
            DT.simhash_signatures(df).collect()}
    expect = {
        (a, b)
        for a in sigs for b in sigs
        if a < b and bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert {(r["id_a"], r["id_b"]) for r in got.collect()} == expect


def test_simhash_block_keys_complete(spark):
    """Property check on the 2-block combination scheme: any pair of 64-bit
    values at hamming distance exactly d shares at least one (band, key) —
    the exact-recall guarantee simhash_pairs relies on, for every d the
    scheme generates (d+2 blocks, C(d+2,2) tables; d=0 is the single
    full-width table)."""
    import random

    from walk_spark.operators.dedup_text import _simhash_block_keys

    rng = random.Random(7)

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    for d in (0, 1, 2, 3, 6):
        rows = []
        for _ in range(25):
            a = rng.getrandbits(64)
            b = a
            for bit in rng.sample(range(64), d):
                b ^= 1 << bit
            rows.append((to_i64(a), to_i64(b)))
        df = spark.createDataFrame(rows, "a long, b long")
        ka = F.array(*_simhash_block_keys(F.col("a"), d))
        kb = F.array(*_simhash_block_keys(F.col("b"), d))
        shared = df.select(
            F.size(
                F.filter(F.zip_with(ka, kb, lambda x, y: x == y),
                         lambda m: m)
            ).alias("s")
        ).collect()
        assert all(r["s"] >= 1 for r in shared), d


def test_minhash_dropped_bucket_report(spark):
    """No silent caps: oversized buckets are counted in the report."""
    from walk_spark.operators.dedup_text import minhash_lsh_pairs
    # 40 identical docs -> every band bucket holds all 40 rows
    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated everywhere").alias("text"),
    )
    report: dict = {}
    pairs = minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=10,
                              report=report)
    assert pairs.count() == 0            # every bucket was over the cap
    assert report["dropped_buckets"] > 0
    assert report["dropped_rows"] >= 40


def test_simhash_dropped_bucket_report(spark):
    from walk_spark.operators.dedup_text import simhash_pairs
    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated everywhere").alias("text"),
    )
    report: dict = {}
    pairs = simhash_pairs(docs, max_hamming=3, max_bucket_size=10,
                          report=report)
    assert pairs.count() == 0
    # max_hamming=3 blocks into C(5,2)=10 band tables, all over the cap
    assert report["dropped_buckets"] == 10
    assert report["dropped_rows"] == 400


def test_exact_wrappers_raise_instead_of_silent_drop(spark):
    """The *_exact/_verified wrappers claim exact output, so an over-cap
    band bucket must raise in strict mode (report=None), not vanish."""
    import pytest
    from walk_spark.operators.dedup_text import (
        lsh_near_dup_verified, simhash_exact_dups,
    )
    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated everywhere").alias("text"),
    )
    with pytest.raises(ValueError, match="silently miss"):
        simhash_exact_dups(docs, max_bucket_size=10)
    with pytest.raises(ValueError, match="silently miss"):
        lsh_near_dup_verified(docs, threshold=0.9, max_bucket_size=10)
    # opting in via report={} keeps the documented-drop behaviour
    rep: dict = {}
    assert simhash_exact_dups(docs, max_bucket_size=10,
                              report=rep).count() == 0
    # hamming-0 blocking uses ONE full-64-bit band table
    assert rep["dropped_buckets"] == 1
    # and a cap that fits loses nothing: all 40 are mutual duplicates
    n = simhash_exact_dups(docs, max_bucket_size=100).count()
    assert n == 40 * 39 // 2


def test_exact_duplicates_capped_group(spark):
    """A million-member duplicate group completes with a bounded doc_ids
    array: the cap is applied before aggregation (windowed row_number), so
    no task ever buffers the full group."""
    docs = spark.range(0, 1_000_000).select(
        F.col("id").alias("doc_id"),
        F.lit("exact same boilerplate page text").alias("text"),
    )
    rows = DT.exact_duplicates(docs, max_group_ids=100).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 1_000_000
    assert r["keep_id"] == 0
    assert list(r["doc_ids"]) == list(range(100))  # smallest ids kept
    assert r["n_overflow"] == 1_000_000 - 100


def test_minhash_rejects_bands_not_dividing_k(docs):
    """k % bands != 0 fails up front with a clear error — not inside the
    signature UDF when the band hash reshapes (docs, k) into equal bands."""
    with pytest.raises(ValueError, match="equal bands"):
        DT.minhash_lsh_pairs(docs, k=128, bands=30)
    with pytest.raises(ValueError, match="equal bands"):
        DT.minhash_signatures(docs, k=100, emit_bands=32)
    with pytest.raises(ValueError, match="equal bands"):
        DT.lsh_near_dup_verified(docs, k=128, bands=0)
