"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      — brute-force top-k against one query vector: the
  dot product is a JVM-side ``aggregate(zip_with(...))`` (no Python), the
  top-k a ``orderBy(...).limit(k)`` which Spark executes as TakeOrdered
  (per-partition heaps + driver merge of k·P rows — no global sort).
- ``rp_lsh_buckets``   — random-hyperplane LSH signatures for the scale
  path: at 10^10 rows, brute force scans everything; bucketing first means
  each query touches ~corpus/2^bits rows.
- ``ann_topk_lsh``     — bucketed ANN: probe the query's bucket (plus
  optional multi-probe neighbors), brute-force only inside.
- ``embedding_dup_pairs`` — near-duplicate pairs by cosine ≥ threshold:
  LSH band buckets, a batched numpy verify inside buckets, the output
  sort's range exchange as the cross-band dedup (the embedding-space
  analog of MinHash dedup).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from walk_spark.operators.dedup_text import (
    _bucket_pairs, _range_dedup, _rows, _scored_pairs, _spread,
)


def _dot_with_lit(vec_col, qvec: list[float]):
    # NOTE(r6): an unrolled GetArrayItem sum was A/B'd against this fold
    # and lost ~3× on every cosine path (brute 0.92 vs 0.30 s, served LSH
    # 1.32 vs 0.70 s, served IVF 0.85 vs 0.27 s warm at sf1.0) — the
    # ~260-node expression tree costs more in planning/eval than the
    # aggregate saves. Measured, reverted (guide §1.1).
    q = F.array(*[F.lit(float(x)) for x in qvec])
    return F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec_col):
    return F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Top-k rows by cosine similarity to ``query_vec`` (excluding exact
    self if present is the caller's choice). Rounded for cross-engine
    comparability; ties broken by id."""
    qn = math.sqrt(sum(float(x) * x for x in query_vec)) or 1.0
    cos = _dot_with_lit(F.col(vec_col), query_vec) / (
        _norm(F.col(vec_col)) * F.lit(qn)
    )
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim)).astype(np.float32)


def rp_lsh_buckets(embeddings: DataFrame, dim: int, bits: int = 12,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 42) -> DataFrame:
    """(vec_id, embedding, bucket long): sign-of-projection LSH. One Arrow
    UDF pass, numpy matmul per batch."""
    H = _hyperplanes(dim, bits, seed)
    pows = (1 << np.arange(bits, dtype=np.uint64)).astype(np.uint64)

    def _bucket(vecs: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(v, dtype=np.float32) for v in vecs])
        signs = (M @ H.T) > 0
        return pd.Series((signs.astype(np.uint64) @ pows).astype(np.int64))

    udf = F.pandas_udf(_bucket, returnType=LongType())
    return _spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        udf(F.col(vec_col)).alias("bucket"),
    )


def _hadoop_path(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def _write_sidecar(spark, path: str, data: bytes) -> None:
    """Write a small metadata file through the JVM Hadoop FileSystem — the
    same filesystem abstraction the parquet writer used, so the sidecar
    lands next to the table on ANY supported scheme (local, hdfs://,
    s3a://), not just the driver's local disk."""
    fs, p = _hadoop_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _read_sidecar(spark, path: str) -> bytes:
    fs, p = _hadoop_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()


def write_lsh_index(embeddings: DataFrame, path: str, dim: int,
                    bits: int = 12, id_col: str = "vec_id",
                    vec_col: str = "embedding", seed: int = 42) -> None:
    """Persist the RP-LSH index: ``rp_lsh_buckets`` output written
    partitioned by bucket (parquet ``partitionBy`` — one directory per
    bucket, so a probe of B buckets scans B/2^bits of the corpus via
    partition pruning, never the full table). The LSH parameters are
    stored alongside (_lsh_meta.json, written through the Hadoop FS so any
    warehouse scheme works) so reads derive query probes from the SAME
    hyperplanes; serving many queries against a written index amortizes
    the signature UDF to zero."""
    import json as _json
    bucketed = rp_lsh_buckets(embeddings, dim, bits, id_col, vec_col, seed)
    # cluster by the partition column before the write: one file per bucket
    # directory instead of (tasks × buckets) small files (guide §6 small
    # files; keeps the probed-bucket read path to a handful of file opens)
    bucketed.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)
    _write_sidecar(
        embeddings.sparkSession, path.rstrip("/") + "/_lsh_meta.json",
        _json.dumps({"dim": dim, "bits": bits, "seed": seed}).encode(),
    )


def read_lsh_index(spark, path: str,
                   with_meta: bool = False):
    """Read a ``write_lsh_index`` table. Returns the DataFrame (vec_id,
    embedding, bucket) — bucket is the partition column, so filters on it
    prune directories — or (df, meta) with ``with_meta``."""
    import json as _json
    df = spark.read.parquet(path)
    if not with_meta:
        return df
    meta = _json.loads(
        _read_sidecar(spark, path.rstrip("/") + "/_lsh_meta.json").decode()
    )
    return df, meta


def query_bucket(query_vec: list[float], bits: int = 12, seed: int = 42,
                 n_probe_flips: int = 0) -> list[int]:
    """Bucket id(s) for a query vector; with multi-probe, also the buckets
    at hamming distance 1 on the lowest-margin bits."""
    H = _hyperplanes(len(query_vec), bits, seed)
    proj = H @ np.asarray(query_vec, dtype=np.float32)
    signs = proj > 0
    pows = (1 << np.arange(bits, dtype=np.uint64)).astype(np.uint64)
    base = int((signs.astype(np.uint64) @ pows))
    buckets = [base]
    if n_probe_flips:
        order = np.argsort(np.abs(proj))[:n_probe_flips]
        for b in order:
            buckets.append(base ^ (1 << int(b)))
    return buckets


def ann_topk_lsh(embeddings: DataFrame | None, query_vec: list[float],
                 k: int = 10, bits: int = 12, n_probe_flips: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 seed: int = 42, index_path: str | None = None,
                 spark=None) -> DataFrame:
    """Approximate top-k: brute-force cosine only inside the query's LSH
    bucket(s).

    Two modes:
    - ad-hoc (``embeddings`` given): buckets computed inline — one
      signature-UDF pass per call; right for one-off queries.
    - served (``index_path`` given): reads a ``write_lsh_index`` table and
      filters on the bucket PARTITION column, so only the probed buckets'
      directories are scanned (partition pruning — verified in
      tests/test_similarity.py by input_file_name). bits/seed come from
      the index metadata; this is the path that survives high query
      volume at 10^10 rows."""
    if index_path is not None:
        sp = spark or (embeddings.sparkSession if embeddings is not None
                       else None)
        if sp is None:
            from pyspark.sql import SparkSession
            sp = SparkSession.getActiveSession()
        bucketed, meta = read_lsh_index(sp, index_path, with_meta=True)
        bits, seed = meta["bits"], meta["seed"]
        if meta["dim"] != len(query_vec):
            raise ValueError(
                f"index dim {meta['dim']} != query dim {len(query_vec)}"
            )
    else:
        dim = len(query_vec)
        bucketed = rp_lsh_buckets(
            embeddings, dim, bits, id_col, vec_col, seed
        )
    probes = query_bucket(query_vec, bits, seed, n_probe_flips)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, "vec_id", "embedding")


def rp_lsh_banded(embeddings: DataFrame, dim: int, bits: int = 4,
                  bands: int = 8, id_col: str = "vec_id",
                  vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """(vec_id, embedding, band, bucket): ``bands`` independent sign-LSH
    tables of ``bits`` bits each (OR-amplification — a pair is a candidate
    if it collides in ANY band). One Arrow UDF pass computes all
    bands×bits projections in a single numpy matmul, then a posexplode."""
    H = _hyperplanes(dim, bands * bits, seed)
    pows = (1 << np.arange(bits, dtype=np.uint64)).astype(np.uint64)

    def _buckets(vecs: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(v, dtype=np.float32) for v in vecs])
        signs = ((M @ H.T) > 0).astype(np.uint64)  # (n, bands*bits)
        per_band = signs.reshape(len(M), bands, bits) @ pows  # (n, bands)
        return pd.Series(list(per_band.astype(np.int64)))

    udf = F.pandas_udf(_buckets, returnType=ArrayType(LongType()))
    return _spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.posexplode(udf(F.col(vec_col))).alias("band", "bucket"),
    )


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                        dim: int = 64, bits: int = 4, bands: int = 8,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        max_bucket_size: int = 5000,
                        seed: int = 42,
                        report: dict | None = None) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, cosine) with cosine ≥ threshold,
    ordered by (id_a, id_b): the pair-job shape of ``dedup_text`` over
    ``(vec_id, embedding)`` members of the ``rp_lsh_banded`` buckets; the
    kernel computes the exact cosine, the JVM applies ``round(cosine, 4)
    ≥ threshold``.

    Banding bounds both miss rate and bucket size: with p = 1 - θ/π per bit,
    P(miss) = (1 - p^bits)^bands — at cosine 0.95 and the 4×8 default,
    ~2·10⁻⁴; identical vectors collide with probability 1. Buckets larger
    than ``max_bucket_size`` are dropped (pass ``report={}`` for
    ``dropped_buckets``/``dropped_rows`` — the no-silent-caps contract)."""
    b = rp_lsh_banded(embeddings, dim, bits, bands, id_col, vec_col, seed)
    # Candidates come from a float64 GEMM over each bucket's normalized
    # rows (guide §4.2: hand the bucket to BLAS), kept at ``threshold -
    # margin``. The margin (2e-4) covers the GEMM vs exact-fold summation
    # divergence (<1e-5) and the half-ulp of the final round(·, 4), so no
    # pair the exact verify accepts is lost. A zero vector has no cosine
    # (the JVM fold divides by its zero norm): it is never reported.
    tpre = threshold - 2e-4

    def cosine(pay, offs, budget):
        V = _rows(pay)  # the input dtype: float32 or float64
        M = V.astype(np.float64)
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0] = 1.0
        M /= nrm[:, None]
        # the exact value is the JVM fold of the brute-force path,
        # aggregate(zip_with(a, b, a * b), 0.0, acc + x): products in the
        # input dtype, summed in float64 in dimension order (cumsum is a
        # sequential accumulate), so the values are bit-identical to it.
        # A block holds at most budget // dim pairs, so the per-pair
        # product rows stay within the budget.
        sq = np.cumsum(V * V, axis=1, dtype=np.float64)[:, -1]
        for i, j, _ in _scored_pairs(
            M, offs, lambda A, B: A @ B.transpose(0, 2, 1),
            lambda c: c >= tpre, budget,
        ):
            dot = np.cumsum(V[i] * V[j], axis=1, dtype=np.float64)[:, -1]
            ok = (sq[i] > 0) & (sq[j] > 0)
            i, j, dot = i[ok], j[ok], dot[ok]
            yield i, j, dot / (np.sqrt(sq[i]) * np.sqrt(sq[j]))

    pairs = _bucket_pairs(b, ["band", "bucket"], "vec_id", "embedding",
                          cosine, "double", max_bucket_size, report)
    cos = F.round(F.col("v"), 4).alias("cosine")
    return _range_dedup(
        pairs.select("id_a", "id_b", cos).filter(F.col("cosine") >= threshold)
    )
