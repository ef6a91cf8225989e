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
        DT.minhash_signatures(docs, k=100, bands=32)
    with pytest.raises(ValueError, match="equal bands"):
        DT.lsh_near_dup_verified(docs, k=128, bands=0)


def test_jaccard_shingle_pairs(spark, docs):
    """1-gram shingles are the word set, so n=1 reproduces word-set
    Jaccard exactly; 3-gram shingles see word order, word sets do not."""
    def rows(df):
        return sorted((r["id_a"], r["id_b"], r["jaccard"])
                      for r in df.collect())

    assert rows(DT.jaccard_shingle_pairs(docs, threshold=0.0, n=1)) == \
        rows(DT.jaccard_word_pairs(docs, threshold=0.0))
    swapped = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta zeta epsilon")], ["doc_id", "text"])
    assert rows(DT.jaccard_word_pairs(swapped, threshold=0.0)) == \
        [(0, 1, 1.0)]
    # 3-grams: {abg, bgd} shared, {gde, dez} vs {gdz, dze} not -> 2/6
    assert rows(DT.jaccard_shingle_pairs(swapped, threshold=0.0)) == \
        [(0, 1, 0.3333)]


#: signatures pinned from the per-batch kernels; any change to token
#: hashing, shingling, segment batching, the min-reduce, the band hash or
#: the bit vote shows up here
_GOLDEN_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The QUICK  brown fox"), (2, "lorem"), (3, ""), (4, None),
]
_GOLDEN_MINHASH = {  # k=8, shingle_n=2, bands=4: doc -> (sig, bands)
    0: ([208049385566028262, 30703740884574350, 141791099539629413,
         415060062039362358, 64733601406712121, 361916759738240701,
         278431095951458367, 220561035611729332],
        [1974628936401051280, -3723638574901568566, -8280375732635203257,
         7025138332328210169]),
    1: ([208049385566028262, 30703740884574350, 141791099539629413,
         415060062039362358, 64733601406712121, 361916759738240701,
         601895579537965347, 252192528057408356],
        [1974628936401051280, -3723638574901568566, -8280375732635203257,
         -5198809736637811120]),
    2: ([937076073670536563, 391854285813779657, 1344207220952244846,
         1987784989710141620, 1076157956058514180, 1397963196910073724,
         1910870662530817155, 1025254075967714461],
        [8730273460928207305, 1778636912438121838, -175378938755070820,
         1070380429334927745]),
    # no tokens: all-zero signature
    3: ([0] * 8, [2504793391118441261] * 4),
    4: ([0] * 8, [2504793391118441261] * 4),
}
_GOLDEN_SIMHASH = {0: 3979588399098220570, 1: 3835468261877862402,
                   2: 1106118699359275439, 3: 0, 4: 0}


def test_sketch_signatures_golden(spark):
    df = spark.createDataFrame(_GOLDEN_DOCS, "doc_id long, text string")
    mh = {r["doc_id"]: (list(r["sig"]), list(r["bands"])) for r in
          DT.minhash_signatures(df, k=8, shingle_n=2, bands=4).collect()}
    assert mh == _GOLDEN_MINHASH
    sh = {r["doc_id"]: r["simhash"]
          for r in DT.simhash_signatures(df).collect()}
    assert sh == _GOLDEN_SIMHASH


def test_sketch_signatures_golden_across_segments(spark):
    """400 docs of 400 words: each of the 4 partitions holds ~40k
    shingles, more than one (k, 32768) MinHash chunk, so documents span
    several reduceat segments; digests of the default-parameter
    signatures."""
    import hashlib
    import random

    rng = random.Random(11)
    df = spark.createDataFrame(
        [(i, " ".join(f"w{rng.randrange(2000)}" for _ in range(400)))
         for i in range(400)], "doc_id long, text string")

    def digest(rows):
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    mh = [(r["doc_id"], list(r["sig"]), list(r["bands"])) for r in
          DT.minhash_signatures(df).orderBy("doc_id").collect()]
    assert digest(mh) == (
        "da30b2a84664ec4838bac8bf0892299c91bbfa82b437044715b8d619ed777adb")
    sh = [(r["doc_id"], r["simhash"]) for r in
          DT.simhash_signatures(df).orderBy("doc_id").collect()]
    assert digest(sh) == (
        "3cd898e54f3fbc5e3e773c30e29470483331cd698a589449d42562b520544dbf")


def _families(spark):
    """12 families of five 20-word docs (a base and variants with 1-4
    words changed, so pairwise SimHash distances spread over 2-8 bits),
    then 60 unrelated docs."""
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for _ in range(12):
        base = [rng.choice(vocab) for _ in range(20)]
        for v in range(5):
            w = list(base)
            for p in rng.sample(range(20), v):
                w[p] = rng.choice(vocab)
            rows.append((len(rows), " ".join(w)))
    for _ in range(60):
        rows.append((len(rows), " ".join(rng.choice(vocab) for _ in range(20))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_capped_keeps_pairs_of_kept_buckets(spark):
    """A pair whose bucket is over the cap in one band is still reported
    from a band whose bucket is kept; only (5, 8), whose every shared
    bucket holds more than 3 docs, is lost. Pairs and report computed
    with the earlier explode-dedup-orderBy plan."""
    report: dict = {}
    got = [tuple(r) for r in DT.simhash_pairs(
        _families(spark), max_hamming=8, max_bucket_size=3,
        report=report).collect()]
    assert got == [
        (0, 1, 8), (5, 6, 2), (5, 7, 7), (6, 7, 7), (6, 8, 8), (10, 11, 6),
        (15, 16, 2), (15, 18, 7), (16, 18, 7), (20, 21, 3), (20, 22, 7),
        (20, 24, 6), (25, 26, 7), (27, 28, 8), (30, 31, 2), (30, 32, 5),
        (30, 33, 6), (31, 32, 5), (31, 33, 8), (32, 33, 7), (35, 36, 7),
        (40, 42, 4), (45, 47, 6), (46, 47, 6), (50, 51, 6), (50, 52, 6),
        (50, 53, 7), (50, 54, 8), (55, 56, 7),
    ]
    assert report == {"dropped_buckets": 17, "dropped_rows": 70}


def _pair_job_inputs(spark):
    """210 docs (200 random, then exact copies of the first 10) and 160
    float32 dim-16 vectors (150 random, then copies of the first 10),
    each pinned with one partition per core so no job adds a spread
    exchange."""
    import random

    import numpy as np

    n = spark.sparkContext.defaultParallelism
    rng = random.Random(9)
    texts = [" ".join(f"t{rng.randrange(500)}" for _ in range(30))
             for _ in range(200)]
    docs = spark.createDataFrame(
        list(enumerate(texts + texts[:10])), "doc_id long, text string")
    V = np.random.RandomState(9).normal(size=(150, 16)).astype(np.float32)
    V = np.vstack([V, V[:10]])
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id long, embedding array<float>")
    return (docs.repartition(n).localCheckpoint(),
            vecs.repartition(n).localCheckpoint())


def _pair_jobs(docs, vecs):
    from walk_spark.operators import similarity as SIM
    return {
        "minhash": DT.minhash_lsh_pairs(docs, threshold=0.8),
        "simhash": DT.simhash_pairs(docs, max_hamming=3),
        "embdup": SIM.embedding_dup_pairs(vecs, threshold=0.99, dim=16),
    }


def test_pair_jobs_plan_two_exchanges(spark):
    """Each pair job's plan above its input (or the signature pin) has
    exactly two exchanges, the bucket build and the output ordering's
    range exchange, which also removes the cross-band repeats; no pandas
    group call, no join-back, and at most one signature UDF evaluation."""
    import re

    for name, df in _pair_jobs(*_pair_job_inputs(spark)).items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bExchange\b", plan)) == 2, (name, plan)
        assert "rangepartitioning(id_a" in plan, (name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
        assert not re.search(r"Join\b", plan), (name, plan)
        assert plan.count("ArrowEvalPython") <= 1, (name, plan)


def test_warm_pair_job_set_compiles_nothing(spark):
    """The three pair jobs' generated classes fit Spark's default codegen
    cache: a second, identical job set compiles no class."""
    docs, vecs = _pair_job_inputs(spark)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    first = {n: df.collect() for n, df in _pair_jobs(docs, vecs).items()}
    assert all(first.values()), first
    before = compiles.getCount()
    again = {n: df.collect() for n, df in _pair_jobs(docs, vecs).items()}
    assert compiles.getCount() - before == 0
    assert again == first


def test_scored_pairs_blocks_stay_within_budget():
    """_scored_pairs under a small budget: the pairs of buckets of many
    sizes, one far over the budget, come out in several blocks, none over
    budget // width pairs, and together they are exactly the brute-force
    pairs inside each bucket."""
    import numpy as np

    rng = np.random.RandomState(4)
    sizes = [2, 3, 3, 7, 40, 5, 2, 90]
    offs = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64)
    X = rng.randint(0, 3, size=(offs[-1], 4)).astype(np.int64)
    budget = 1024

    def score(A, B):
        return np.count_nonzero(A[:, :, None] == B[:, None], axis=3)

    blocks = list(DT._scored_pairs(X, offs, score, lambda s: s >= 2, budget))
    assert len(blocks) > 10
    assert max(len(i) for i, _, _ in blocks) <= budget // X.shape[1]
    got = sorted((int(a), int(b), int(s)) for i, j, v in blocks
                 for a, b, s in zip(i, j, v))
    want = sorted(
        (a, b, int(np.count_nonzero(X[a] == X[b])))
        for lo, hi in zip(offs[:-1], offs[1:])
        for a in range(lo, hi) for b in range(a + 1, hi)
        if np.count_nonzero(X[a] == X[b]) >= 2)
    assert got == want
