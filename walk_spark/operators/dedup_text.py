"""Document deduplication for training-data pipelines at 100 TB scale.

Four escalating strategies, each returning DataFrames (never driver-side):

- exact_duplicates      — hash-groupBy on a normalized fingerprint. One
  shuffle, map-side partial agg; the cheapest pass, run first.
- jaccard_word_pairs    — exact word-set Jaccard via explode + self-join on
  shared tokens. Quadratic in the worst case; used as the small-scale oracle
  for the sketch methods and SQL-verifiable in DuckDB.
- minhash_lsh_pairs     — MinHash signatures (numpy, one Arrow UDF pass) +
  banded LSH bucketing: candidates only ever meet inside a band bucket, so
  the join is linear in corpus size; bucket-join → estimate → threshold.
- simhash_pairs         — 64-bit SimHash + pigeonhole band blocking for
  hamming-distance ≤ k pairs.

Scale notes: all joins are equi-joins on hash keys (AQE-skew-splittable);
signatures are fixed-width arrays (no text shuffled after the UDF pass);
band buckets with pathological sizes (boilerplate pages) should be capped
with a per-bucket limit before pairing — exposed as ``max_bucket_size``.
"""

from __future__ import annotations

import hashlib
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from walk_spark.functions.text import fingerprint_md5, shingles, words


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    the input has fewer partitions — a single small parquet file otherwise
    pins the whole signature UDF pass to ONE task/core (guide §2/§4: the
    scan task count, not the data volume, bounds Python-boundary
    parallelism). No-op (no shuffle) for inputs that already have enough
    partitions, so cluster-scale tables are untouched."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)

# -- exact ------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_group_ids: int = 10_000,
                     fp_col: str | None = None) -> DataFrame:
    """Duplicate groups by normalized-text fingerprint: one row per group
    with >1 member: (fp, n_docs, keep_id=min id, doc_ids sorted — capped,
    n_overflow = members beyond the cap).

    ``doc_ids`` keeps at most ``max_group_ids`` (smallest ids); the rest
    are counted in ``n_overflow``, never materialized. The cap is applied
    BEFORE aggregation (row_number over the fp window feeds a conditional
    collect_list), so the agg buffer itself is bounded — at 100 TB a
    boilerplate/empty-page fingerprint with 10^8 members would otherwise
    build one multi-GB array cell in a single task. The window and the
    groupBy share the hash-partitioning on fp: one shuffle total.

    ``fp_col`` names an already-computed fingerprint column, letting a
    caller that derives several rows from one document (e.g. an injected
    duplicate) pay the tokenize+md5 pass once instead of per derived row.
    """
    from pyspark.sql import Window
    w = Window.partitionBy("fp").orderBy("doc_id")
    fp = (F.col(fp_col) if fp_col is not None
          else fingerprint_md5(F.col(text_col)))
    ranked = docs.select(
        F.col(id_col).alias("doc_id"), fp.alias("fp"),
    ).withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= max_group_ids, F.col("doc_id"))
                )
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
        .withColumn(
            "n_overflow",
            F.greatest(F.col("n_docs") - F.lit(max_group_ids), F.lit(0)),
        )
    )


# -- exact jaccard (oracle path) ---------------------------------------------

def jaccard_word_pairs(docs: DataFrame, threshold: float = 0.5,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact word-set Jaccard over all pairs sharing ≥1 token.


    tokens -> self-join on token -> |A∩B| -> sizes -> jaccard ≥ threshold.
    The shared-token join explodes on ubiquitous tokens — fine at oracle
    scale, replaced by MinHash-LSH at corpus scale.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("tok"),
    )
    # three consumers (both join legs + sizes) would each re-tokenize the
    # corpus — pin the exploded token table once
    toks = toks.localCheckpoint(eager=False)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def jaccard_shingle_pairs(docs: DataFrame, threshold: float = 0.5,
                          n: int = 3, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Exact word-N-GRAM (shingle) Jaccard over all pairs sharing ≥1
    shingle — order-sensitive near-dup detection (word-set jaccard is blind
    to reordering; 3-gram jaccard is the standard web-dedup metric). Same
    oracle-path shape as ``jaccard_word_pairs``: explode → self-join →
    |A∩B| → sizes → threshold. Shingling is JVM-side
    (functions.text.shingles)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), n)).alias("tok"),
    )
    # same three-consumer shape as jaccard_word_pairs: pin once
    toks = toks.localCheckpoint(eager=False)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


# -- minhash + LSH ------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(k: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=k, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=k, dtype=np.int64).astype(np.uint64)
    return a, b


def _check_bands(k: int, bands: int) -> None:
    """LSH banding splits the k signature rows into equal bands: reject a
    split that does not divide k before anything is planned (the band
    hash's reshape would otherwise fail inside the UDF)."""
    if bands < 1 or k % bands:
        raise ValueError(
            f"k={k} signature rows cannot split into {bands} equal bands "
            "(need bands >= 1 and k % bands == 0)"
        )


def _band_hash_u64(sigs: "np.ndarray", bands: int) -> "np.ndarray":
    """(docs, k) int64 signature matrix -> (docs, bands) int64 band keys.

    Deterministic 64-bit polynomial mix + avalanche over each band's rows,
    fully vectorized. ANY consistent hash yields the same candidate pairs:
    equal band slices always collide (that is what LSH banding relies on),
    and unequal slices colliding (~2^-64) only adds candidates that the
    estimate/exact filters drop — so the pair OUTPUT is hash-agnostic.
    Computed here instead of as a JVM expression because the unrolled
    bands×rows GetArrayItem/xxhash64 tree (128 nodes at 32×4) was a
    measurable per-query codegen cost."""
    docs, k = sigs.shape
    rows = k // bands
    m = sigs.reshape(docs, bands, rows).astype(np.uint64)
    h = np.full((docs, bands), np.uint64(0x9E3779B97F4A7C15))
    mul = np.uint64(0xC2B2AE3D27D4EB4F)
    for j in range(rows):
        h = (h ^ m[:, :, j]) * mul
    h ^= h >> np.uint64(29)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def minhash_signatures(docs: DataFrame, k: int = 128, shingle_n: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       seed: int = 42,
                       emit_bands: int = 0) -> DataFrame:
    """(doc_id, sig array<long>[k]) — one Arrow UDF pass.

    Shingle hashing uses a splitmix-style 64-bit mix of Python's stable
    md5-based digest per shingle, then k universal-hash rows min-reduced in
    one numpy matmul-shaped op. ~O(shingles·k) vectorized per batch.

    ``emit_bands`` > 0 additionally returns a ``bands`` array<long> column
    of that many per-band keys (``_band_hash_u64``), so the LSH banding
    needs no JVM-side hash expression over the signature array; it must
    divide ``k`` (ValueError otherwise).
    """
    if emit_bands:
        _check_bands(k, emit_bands)
    a, b = _minhash_params(k, seed)

    def _sig_arrays(texts: pd.Series) -> list:
        # per-token digests memoized across the batch (web-text vocab repeats
        # heavily); shingle hashes = vectorized polynomial combination of
        # consecutive token hashes — no per-shingle string building/hashing.
        # The k×shingles universal-hash min-reduction (the dominant cost) is
        # batched across documents: per-doc shingle sets are concatenated and
        # one (k, chunk) multiply-add-mod feeds np.minimum.reduceat, with the
        # chunk bounded so the temporary stays ~30 MB per task. Elementwise
        # ops and reduction segments are identical to the per-doc loop, so
        # signatures are bit-identical.
        tok_cache: dict[str, int] = {}
        A = np.uint64(0x9E3779B97F4A7C15)

        def tok_hash(w: str) -> int:
            h = tok_cache.get(w)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest(),
                    "little",
                )
                tok_cache[w] = h
            return h

        n = len(texts)
        out = [None] * n
        hv_parts: list[np.ndarray] = []
        hv_docs: list[int] = []
        for i, t in enumerate(texts):
            toks = [w for w in (t or "").lower().split() if w]
            if not toks:
                out[i] = np.zeros(k, dtype=np.int64)
                continue
            th = np.fromiter(
                (tok_hash(w) for w in toks), dtype=np.uint64, count=len(toks)
            )
            n_sh = max(len(th) - shingle_n + 1, 1)
            hv = np.zeros(n_sh, dtype=np.uint64)
            for j in range(min(shingle_n, len(th))):
                hv = hv * A + th[j:j + n_sh]
            hv_parts.append(np.unique(hv))  # shingles are a SET
            hv_docs.append(i)

        chunk_budget = 32768  # shingles per (k, chunk) temp: k*32768*8 ≈ 32 MB
        pos = 0
        while pos < len(hv_parts):
            end = pos
            tot = 0
            while end < len(hv_parts) and (
                end == pos or tot + len(hv_parts[end]) <= chunk_budget
            ):
                tot += len(hv_parts[end])
                end += 1
            seg = np.concatenate(hv_parts[pos:end])
            lens = np.fromiter(
                (len(p) for p in hv_parts[pos:end]), dtype=np.int64,
                count=end - pos,
            )
            starts = np.zeros(end - pos, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            m = np.multiply(seg[None, :], a[:, None])
            m += b[:, None]
            m %= np.uint64(_MERSENNE)
            mins = np.minimum.reduceat(m, starts, axis=1)  # (k, docs)
            sigs = mins.T.astype(np.int64)
            for j in range(end - pos):
                out[hv_docs[pos + j]] = sigs[j]
            pos = end
        return out

    if emit_bands:
        def _sig_bands(texts: pd.Series) -> pd.DataFrame:
            out = _sig_arrays(texts)
            mat = (np.stack(out) if out
                   else np.zeros((0, k), dtype=np.int64))
            keys = _band_hash_u64(mat, emit_bands)
            return pd.DataFrame({"sig": out, "bands": list(keys)})

        schema = StructType([
            StructField("sig", ArrayType(LongType())),
            StructField("bands", ArrayType(LongType())),
        ])
        udf = F.pandas_udf(_sig_bands, returnType=schema)
        return _spread(docs).select(
            F.col(id_col).alias("doc_id"),
            udf(F.col(text_col)).alias("_sb"),
        ).select(
            "doc_id",
            F.col("_sb.sig").alias("sig"),
            F.col("_sb.bands").alias("bands"),
        )

    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series(_sig_arrays(texts))

    sig_udf = F.pandas_udf(_sig, returnType=ArrayType(LongType()))
    return _spread(docs).select(
        F.col(id_col).alias("doc_id"), sig_udf(F.col(text_col)).alias("sig")
    )


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5, k: int = 128,
                      bands: int = 32, shingle_n: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_bucket_size: int = 5000,
                      seed: int = 42,
                      report: dict | None = None) -> DataFrame:
    """Near-duplicate candidate pairs with estimated jaccard ≥ threshold.

    sig -> split into ``bands`` bands of k/bands rows -> hash each band ->
    explode to (band, bucket) keys -> self-join within buckets -> estimate
    jaccard as matching-minhash fraction -> threshold.

    No silent caps: buckets larger than ``max_bucket_size`` (boilerplate
    pages — quadratic inside the bucket) are dropped, and passing
    ``report={}`` fills ``dropped_buckets``/``dropped_rows`` with the drop
    counts (costs one extra aggregation job; the signature pass is pinned so
    the UDF doesn't run twice). ``bands`` must divide ``k`` (ValueError
    otherwise).
    """
    _check_bands(k, bands)
    sigs = minhash_signatures(docs, k=k, shingle_n=shingle_n,
                              id_col=id_col, text_col=text_col, seed=seed,
                              emit_bands=bands)
    # the signature pass is the expensive Python stage and is now consumed
    # twice (band keys + the estimate attach below): pin it so the UDF runs
    # exactly once regardless of plan shape
    sigs = sigs.localCheckpoint(eager=False)
    # band keys only — the k-long signature array (~1 KB/row) stays OUT of
    # the banded explode and the (band, bucket) self-join shuffles (guide
    # §2.3 "project before the exchange"); signatures are re-attached to the
    # few surviving candidate pairs instead of riding every bucket row.
    # The keys come precomputed from the signature UDF (emit_bands): equal
    # band slices collide under any consistent hash, so the candidate
    # semantics are unchanged (see _band_hash_u64), and the bands×rows
    # unrolled JVM hash tree this replaces was a per-query codegen cost.
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.col("bands")).alias("band", "bucket"),
    )
    # ONE exchange builds the buckets: window count + conditional
    # collect_list (buffer bounded at max_bucket_size — same pattern as
    # exact_duplicates) share the (band, bucket) hash partitioning, and the
    # within-bucket pairs are exploded IN-STAGE. The old shape paid a
    # bucket-size aggregate exchange, a cap join (sort-merge over
    # mostly-singleton buckets — measured 2.9 s of the 5.8 s at sf1.0) and
    # a self-join; all three are gone (guide §2.4 remove shuffles).
    from pyspark.sql import Window
    w = Window.partitionBy("band", "bucket").orderBy("doc_id")
    grouped = (
        banded.withColumn("_rn", F.row_number().over(w))
        .groupBy("band", "bucket")
        .agg(
            F.count("*").alias("bsz"),
            F.collect_list(
                F.when(F.col("_rn") <= max_bucket_size, F.col("doc_id"))
            ).alias("ids"),
        )
    )
    if report is not None:
        grouped = grouped.localCheckpoint(eager=False)
        drop = grouped.filter(F.col("bsz") > max_bucket_size).agg(
            F.count("*").alias("nb"),
            F.coalesce(F.sum("bsz"), F.lit(0)).alias("nr"),
        ).first()
        report["dropped_buckets"] = int(drop["nb"])
        report["dropped_rows"] = int(drop["nr"])
    cand = (
        grouped.filter(F.col("bsz") <= max_bucket_size)
        .select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(k),
        4,
    )
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def lsh_near_dup_verified(docs: DataFrame, threshold: float = 0.9,
                          k: int = 128, bands: int = 32, shingle_n: int = 1,
                          id_col: str = "doc_id", text_col: str = "text",
                          candidate_margin: float = 0.2,
                          max_bucket_size: int = 5000,
                          seed: int = 42,
                          report: dict | None = None) -> DataFrame:
    """Near-duplicate pairs with EXACT word-set jaccard ≥ threshold, found
    via MinHash-LSH candidate generation — the production dedup pattern:
    the sketch prunes the pair space to bucket collisions, an exact verify
    (JVM array_intersect, no Python) confirms survivors, so the output is
    the exact answer while the work stays linear in corpus size.

    ``shingle_n`` defaults to 1 (word-SET minhash): the sketch must
    estimate the same jaccard the verify computes — n-gram shingles
    understate word-set similarity (one changed word kills n shingles), so
    a word-j 0.93 pair could fall below the candidate cut under 3-grams.
    Candidates are taken at ``threshold - candidate_margin`` so estimate
    noise cannot drop a true pair: at j ≥ 0.9 with the 32×4 default bands,
    P(miss) ≈ (1-j⁴)³² + P(Binom est < 0.7) < 10⁻¹³ — deterministic in
    practice, which is what lets a DuckDB exact-jaccard oracle verify this
    operator end-to-end."""
    # Exactness claim => cap drops cannot be silent: with report=None an
    # internal report is used and an over-cap bucket raises instead of
    # quietly losing true pairs (duplicate-heavy corpora put >cap docs in
    # one band bucket — exactly the pairs this operator exists to find).
    strict = report is None
    if strict:
        report = {}
    cand = minhash_lsh_pairs(
        docs, threshold=max(threshold - candidate_margin, 0.0), k=k,
        bands=bands, shingle_n=shingle_n, id_col=id_col, text_col=text_col,
        max_bucket_size=max_bucket_size, seed=seed, report=report,
    )
    if strict and report["dropped_buckets"]:
        raise ValueError(
            f"lsh_near_dup_verified: {report['dropped_buckets']} band "
            f"buckets over max_bucket_size={max_bucket_size} "
            f"({report['dropped_rows']} rows) dropped — output would "
            "silently miss true pairs; raise max_bucket_size or pass "
            "report={} to accept documented drops"
        )
    t = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(words(F.col(text_col))).alias("_toks"),
    )
    a = t.select(F.col("_id").alias("id_a"), F.col("_toks").alias("_ta"))
    b = t.select(F.col("_id").alias("id_b"), F.col("_toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    jac = F.round(
        inter / (F.size("_ta") + F.size("_tb") - inter), 4
    )
    return (
        cand.select("id_a", "id_b")
        .join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


# -- simhash -------------------------------------------------------------------

def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long): 64-bit SimHash over word tokens (numpy)."""

    def _sim(texts: pd.Series) -> pd.Series:
        # batched: token hashes for the whole batch are concatenated, the
        # 64-bit vote matrix is built once per chunk (int8 bit matrix,
        # chunked to bound the temporary), and per-doc votes come from
        # np.add.reduceat. sign(votes) is decided on integers (2*ones >
        # n_tokens ⟺ sum(±1) > 0), so signatures are bit-identical to the
        # per-document loop.
        tok_cache: dict[str, int] = {}

        def tok_hash(w: str) -> int:
            h = tok_cache.get(w)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest(),
                    "little",
                )
                tok_cache[w] = h
            return h

        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        parts: list[np.ndarray] = []
        part_docs: list[int] = []
        for i, t in enumerate(texts):
            toks = [w for w in (t or "").lower().split() if w]
            if not toks:
                continue
            parts.append(np.fromiter(
                (tok_hash(w) for w in toks), dtype=np.uint64, count=len(toks)
            ))
            part_docs.append(i)

        sh = np.arange(64, dtype=np.uint64)[None, :]
        pows = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        chunk_budget = 1 << 19  # tokens per chunk: 512k×64 int8 ≈ 32 MB
        pos = 0
        while pos < len(parts):
            end = pos
            tot = 0
            while end < len(parts) and (
                end == pos or tot + len(parts[end]) <= chunk_budget
            ):
                tot += len(parts[end])
                end += 1
            seg = np.concatenate(parts[pos:end])
            lens = np.fromiter(
                (len(p) for p in parts[pos:end]), dtype=np.int64,
                count=end - pos,
            )
            starts = np.zeros(end - pos, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            bits = ((seg[:, None] >> sh) & np.uint64(1)).astype(np.int8)
            ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
            signs = (2 * ones) > lens[:, None]  # ⟺ (2*bits-1).sum > 0
            packed = (signs.astype(np.uint64) * pows[None, :]).sum(axis=1)
            out[np.asarray(part_docs[pos:end])] = packed.view(np.int64)
            pos = end
        return pd.Series(out)

    udf = F.pandas_udf(_sim, returnType=LongType())
    return _spread(docs).select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("simhash")
    )


def _simhash_block_keys(col: Column, max_hamming: int) -> list[Column]:
    """Exact pigeonhole blocking keys for hamming ≤ d over a 64-bit hash.

    d = 0: one key — the signature itself (identical hashes required).
    d ≥ 1: split the 64 bits into B = d+2 blocks; a pair within distance d
    corrupts at most d blocks, leaving ≥ 2 intact, so keying every 2-block
    combination (C(B,2) tables) finds every true pair. Compared to the
    single-block scheme (d+1 tables of 64/(d+1) bits), 2-block keys are
    twice as wide — at d=3 that is 10 tables of ~26-bit keys instead of 4
    tables of 16-bit keys, shrinking random band collisions (the quadratic
    bucket cost) by ~2^10 while recall stays exact (guide §2.5: the
    candidate join is the skew/volume driver, so make buckets selective)."""
    if max_hamming <= 0:
        return [col]
    nblocks = max_hamming + 2
    base, rem = divmod(64, nblocks)
    widths = [base + 1 if i < rem else base for i in range(nblocks)]
    offs = [sum(widths[:i]) for i in range(nblocks)]
    blocks = [
        F.shiftrightunsigned(col, offs[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(nblocks)
    ]
    return [
        F.shiftleft(blocks[i], widths[j]).bitwiseOR(blocks[j])
        for i, j in combinations(range(nblocks), 2)
    ]


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_bucket_size: int = 5000,
                  report: dict | None = None) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via pigeonhole blocking
    (``_simhash_block_keys``: 2-block combination keys — complete for any
    ``max_hamming``, with ~2×-wider band keys than the classic 1-block
    split so random bucket collisions stay tiny). Join per band, verify
    with bit_count BEFORE the pair-dedup exchange, so only true near-pairs
    are ever shuffled (hamming is a pure function of the two signatures, so
    filter-then-dedup ≡ dedup-then-filter).

    Band buckets larger than ``max_bucket_size`` (a boilerplate band value
    shared by millions of pages goes quadratic) are dropped; pass
    ``report={}`` to receive ``dropped_buckets``/``dropped_rows``."""
    sigs = simhash_signatures(docs, id_col=id_col, text_col=text_col)
    # three consumers below (bucket sizes, both self-join legs) would each
    # re-run the signature UDF — 16 bytes/row, pin it once
    sigs = sigs.localCheckpoint(eager=False)
    banded = sigs.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*_simhash_block_keys(F.col("simhash"), max_hamming))
        ).alias("band", "key"),
    )
    # ONE exchange builds the buckets (window count + bounded collect_list
    # sharing the (band, key) partitioning — see minhash_lsh_pairs), pairs
    # explode in-stage, and the bit_count verify runs BEFORE the pair-dedup
    # exchange, so only true near-pairs are ever shuffled.
    from pyspark.sql import Window
    w = Window.partitionBy("band", "key").orderBy("doc_id")
    grouped = (
        banded.withColumn("_rn", F.row_number().over(w))
        .groupBy("band", "key")
        .agg(
            F.count("*").alias("bsz"),
            F.collect_list(
                F.when(F.col("_rn") <= max_bucket_size,
                       F.struct("doc_id", "simhash"))
            ).alias("members"),
        )
    )
    if report is not None:
        grouped = grouped.localCheckpoint(eager=False)
        drop = grouped.filter(F.col("bsz") > max_bucket_size).agg(
            F.count("*").alias("nb"),
            F.coalesce(F.sum("bsz"), F.lit(0)).alias("nr"),
        ).first()
        report["dropped_buckets"] = int(drop["nb"])
        report["dropped_rows"] = int(drop["nr"])
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        grouped.filter(F.col("bsz") <= max_bucket_size)
        .select(F.explode("members").alias("a"), F.col("members"))
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def simhash_exact_dups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_bucket_size: int = 5000,
                       report: dict | None = None) -> DataFrame:
    """Exact-duplicate pairs found via SimHash blocking + fingerprint
    verify: identical token streams have identical simhash (hamming 0, so
    they collide in every band), and the md5-fingerprint equality check
    discards hamming-0 hash collisions between different texts. The output
    is therefore exactly the fingerprint-equality pair set — SQL-verifiable
    — while the join never leaves the simhash band buckets."""
    # Same no-silent-drop contract as lsh_near_dup_verified: report=None
    # means strict — over-cap band buckets raise rather than lose pairs.
    strict = report is None
    if strict:
        report = {}
    pairs = simhash_pairs(docs, max_hamming=0, id_col=id_col,
                          text_col=text_col, max_bucket_size=max_bucket_size,
                          report=report)
    if strict and report["dropped_buckets"]:
        raise ValueError(
            f"simhash_exact_dups: {report['dropped_buckets']} band buckets "
            f"over max_bucket_size={max_bucket_size} "
            f"({report['dropped_rows']} rows) dropped — output would "
            "silently miss true duplicate pairs; raise max_bucket_size or "
            "pass report={} to accept documented drops"
        )
    fp = docs.select(
        F.col(id_col).alias("_id"),
        fingerprint_md5(F.col(text_col)).alias("_fp"),
    )
    a = fp.select(F.col("_id").alias("id_a"), F.col("_fp").alias("_fa"))
    b = fp.select(F.col("_id").alias("id_b"), F.col("_fp").alias("_fb"))
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a").join(b, "id_b")
        .filter(F.col("_fa") == F.col("_fb"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )
