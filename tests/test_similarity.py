"""Similarity search: brute-force cosine, LSH buckets, ANN recall."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from walk_spark.operators import similarity as SIM


def _vecs(n=100, dim=16, seed=7):
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n, dim)).astype(np.float32)


@pytest.fixture(scope="module")
def emb(spark):
    V = _vecs()
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), V


def test_cosine_topk_matches_numpy(emb):
    df, V = emb
    q = V[0]
    got = [(r["vec_id"], r["cosine"])
           for r in SIM.cosine_topk(df, [float(x) for x in q], k=5).collect()]
    cos = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
    order = np.argsort(-np.round(cos, 4), kind="stable")[:5]
    assert [g[0] for g in got] == [int(i) for i in order]
    for vid, c in got:
        assert math.isclose(c, round(float(cos[vid]), 4), abs_tol=2e-4)


def test_self_is_top1(emb):
    df, V = emb
    got = SIM.cosine_topk(df, [float(x) for x in V[3]], k=1).first()
    assert got["vec_id"] == 3 and got["cosine"] == 1.0


def test_lsh_bucket_determinism(emb):
    df, V = emb
    b1 = {r["vec_id"]: r["bucket"]
          for r in SIM.rp_lsh_buckets(df, dim=16, bits=8).collect()}
    b2 = {r["vec_id"]: r["bucket"]
          for r in SIM.rp_lsh_buckets(df, dim=16, bits=8).collect()}
    assert b1 == b2
    # query_bucket agrees with the UDF path for an indexed vector
    qb = SIM.query_bucket([float(x) for x in V[5]], bits=8)[0]
    assert b1[5] == qb


def test_ann_recall_on_clustered_data(spark):
    """Clustered vectors: ANN with multi-probe finds the true top-k."""
    rng = np.random.RandomState(3)
    centers = rng.normal(size=(4, 16)).astype(np.float32) * 5
    rows = []
    V = []
    for i in range(200):
        v = centers[i % 4] + rng.normal(size=16).astype(np.float32) * 0.3
        rows.append((i, [float(x) for x in v]))
        V.append(v)
    V = np.stack(V)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(x) for x in V[8]]
    exact = {r["vec_id"] for r in SIM.cosine_topk(df, q, k=10).collect()}
    ann = {r["vec_id"]
           for r in SIM.ann_topk_lsh(df, q, k=10, bits=8,
                                     n_probe_flips=4).collect()}
    recall = len(exact & ann) / 10
    assert recall >= 0.8, (recall, exact, ann)


def test_embedding_dup_pairs_finds_injected_dups(emb):
    df, V = emb
    dup = df.withColumn("vec_id", F.col("vec_id") + 1000)
    pairs = SIM.embedding_dup_pairs(
        df.unionByName(dup), threshold=0.99, dim=16, bits=6
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expect = {(i, i + 1000) for i in range(100)}
    assert expect <= got
    # random non-dup vectors at 16 dims rarely hit 0.99 — allow none
    assert got - expect == set()


def test_embedding_dup_report_and_cap(spark):
    """No silent caps: identical vectors exceeding max_bucket_size are
    dropped with counted evidence in the report."""
    rows = [(i, [1.0] * 8) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    report: dict = {}
    pairs = SIM.embedding_dup_pairs(
        df, threshold=0.99, dim=8, bits=4, bands=4,
        max_bucket_size=10, report=report,
    )
    assert pairs.count() == 0
    assert report["dropped_buckets"] == 4
    assert report["dropped_rows"] == 120


def test_lsh_index_persisted_path_prunes_partitions(spark, tmp_path):
    """write_lsh_index / ann_topk_lsh(index_path=...): identical results to
    the inline path, and ONLY the probed buckets' partition directories are
    scanned (runtime pruning evidence via input_file_name)."""
    rng = np.random.RandomState(11)
    V = rng.normal(size=(300, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "lsh_index")
    SIM.write_lsh_index(df, path, dim=16, bits=6, seed=9)

    q = [float(x) for x in V[42]]
    inline = [(r["vec_id"], r["cosine"]) for r in SIM.ann_topk_lsh(
        df, q, k=5, bits=6, n_probe_flips=3, seed=9).collect()]
    served = [(r["vec_id"], r["cosine"]) for r in SIM.ann_topk_lsh(
        None, q, k=5, index_path=path, n_probe_flips=3,
        spark=spark).collect()]
    assert served == inline and served[0][0] == 42

    # pruning: every file actually read lives under a probed bucket dir
    probes = set(SIM.query_bucket(q, bits=6, seed=9, n_probe_flips=3))
    idx = SIM.read_lsh_index(spark, path)
    cand = idx.filter(F.col("bucket").isin([int(b) for b in probes]))
    files = {r["f"] for r in cand.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert files, "probed buckets unexpectedly empty"
    for f in files:
        assert any(f"bucket={b}/" in f for b in probes), f
    # and the probed set is a strict subset of all bucket dirs
    all_files = {r["f"] for r in idx.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert len(files) < len(all_files)
    # mismatched query dim is rejected
    with pytest.raises(ValueError, match="dim"):
        SIM.ann_topk_lsh(None, [0.0] * 8, index_path=path, spark=spark)


def _jvm_fold_pairs(df, threshold):
    """{(id_a, id_b): round(cosine, 4)} of every pair at or above
    ``threshold``, by the brute-force JVM fold (products in the element
    type, summed in double in dimension order) over a self-join."""
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    dot = F.aggregate(F.zip_with("v_a", "v_b", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = F.round(dot / (SIM._norm(F.col("v_a")) * SIM._norm(F.col("v_b"))), 4)
    return {(r["id_a"], r["id_b"]): r["cosine"] for r in
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold).collect()}


@pytest.mark.parametrize("dtype", ["float", "double"])
def test_embedding_dup_cosine_equals_jvm_fold(spark, dtype):
    """Every cosine embedding_dup_pairs reports equals the brute-force
    JVM fold over a self-join, for float and double vectors; at
    threshold 0.3 hundreds of varied values are compared."""
    rng = np.random.RandomState(5)
    V = rng.normal(size=(160, 16))
    if dtype == "float":
        V = V.astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        f"vec_id long, embedding array<{dtype}>")
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           SIM.embedding_dup_pairs(df, threshold=0.3, dim=16, bits=2,
                                   bands=8).collect()}
    brute = _jvm_fold_pairs(df, 0.3)
    assert len(got) >= 300
    assert set(got) <= set(brute)
    assert len(set(got.values())) >= 200
    assert all(got[p] == brute[p] for p in got)


def test_embedding_dup_blocked_verify_matches_jvm_fold(spark, monkeypatch):
    """A bucket of 60 identical vectors among 100 random ones, verified
    under a 2,048-element pair budget: the big buckets are scored a few
    rows at a time and folded in blocks of at most 128 pairs. The output
    equals the one-block output at the default budget, and every cosine
    equals the JVM fold."""
    from walk_spark.operators import dedup_text as DT

    V = _vecs(100, 16, seed=11)
    V = np.vstack([V, np.repeat(V[:1], 60, axis=0)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<float>")

    def run():
        report: dict = {}
        rows = SIM.embedding_dup_pairs(df, threshold=0.3, dim=16, bits=2,
                                       bands=8, max_bucket_size=200,
                                       report=report).collect()
        assert report == {"dropped_buckets": 0, "dropped_rows": 0}
        return rows

    whole = run()
    monkeypatch.setattr(DT, "_PAIR_BUDGET", 2048)
    blocked = run()
    assert blocked == whole
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in blocked}
    brute = _jvm_fold_pairs(df, 0.3)
    copies = [0] + list(range(100, 160))
    assert all((a, b) in got for a in copies for b in copies if a < b)
    assert set(got) <= set(brute)
    assert all(got[p] == brute[p] for p in got)
