"""Document deduplication for training-data pipelines at 100 TB scale.

Four escalating strategies, each returning DataFrames (never driver-side):

- exact_duplicates      — hash-groupBy on a normalized fingerprint. One
  shuffle, map-side partial agg; the cheapest pass, run first.
- jaccard_word_pairs    — exact word-set Jaccard via explode + self-join on
  shared tokens. Quadratic in the worst case; used as the small-scale oracle
  for the sketch methods and SQL-verifiable in DuckDB.
- minhash_lsh_pairs     — MinHash signatures (numpy, one Arrow UDF pass) +
  banded LSH bucketing: candidates only ever meet inside a band bucket, so
  the work is linear in corpus size.
- simhash_pairs         — 64-bit SimHash + pigeonhole band blocking for
  hamming-distance ≤ k pairs.

The near-duplicate pair jobs (the two above and
``similarity.embedding_dup_pairs``) share one shape, with two exchanges:

1. bucket — each (band, key) bucket collects its members with their
   payload (signature, simhash or vector) over one exchange, capped at
   ``max_bucket_size`` (``_bounded_buckets``);
2. verify — buckets with two or more members go to one ``mapInArrow``
   numpy kernel that verifies many buckets per Arrow batch and emits only
   the verified pairs, a bounded block at a time (``_bucket_pairs``,
   ``_scored_pairs``);
3. threshold — a JVM projection applies the exact ``round(·, 4)`` and
   threshold;
4. range-dedup — the output ordering's range exchange also removes the
   pairs found in several bands (``_range_dedup``).

Scale notes: the bucket exchange is on hash keys (AQE-skew-splittable);
signatures are fixed-width arrays (no text shuffled after the UDF pass);
band buckets with pathological sizes (boilerplate pages) are dropped, and
counted on request, above ``max_bucket_size``.
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

def _jaccard_pairs(docs: DataFrame, tokens: Column, threshold: float,
                   id_col: str) -> DataFrame:
    """Exact Jaccard over the distinct ``tokens`` array of each document,
    for all pairs sharing ≥1 token: explode -> self-join on token -> |A∩B|
    -> sizes -> jaccard ≥ threshold. The shared-token join explodes on
    ubiquitous tokens — fine at oracle scale, replaced by MinHash-LSH at
    corpus scale."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens).alias("tok"),
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


def jaccard_word_pairs(docs: DataFrame, threshold: float = 0.5,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact word-set Jaccard over all pairs sharing ≥1 word."""
    return _jaccard_pairs(docs, F.array_distinct(words(F.col(text_col))),
                          threshold, id_col)


def jaccard_shingle_pairs(docs: DataFrame, threshold: float = 0.5,
                          n: int = 3, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Exact word-N-GRAM (shingle) Jaccard over all pairs sharing ≥1
    shingle — order-sensitive near-dup detection (word-set jaccard is blind
    to reordering; 3-gram jaccard is the standard web-dedup metric).
    Shingling is JVM-side (functions.text.shingles)."""
    return _jaccard_pairs(docs, shingles(F.col(text_col), n),
                          threshold, id_col)


# -- shared sketch kernels ---------------------------------------------------
# The signature UDFs follow the batched-Arrow pattern: one pass tokenizes
# and hashes a whole Arrow batch, and the per-document reductions run over
# concatenated segments in a few numpy calls. Elementwise ops and reduction
# segments are identical to a per-document loop, so signatures are
# bit-identical to it.

def _token_hashes(texts: pd.Series):
    """Yield (batch position, uint64 token hashes) for each document with
    at least one lowercased whitespace token. Token digests (blake2b, 8
    bytes) are memoized across the batch: web-text vocabulary repeats
    heavily."""
    cache: dict[str, int] = {}

    def tok_hash(w: str) -> int:
        h = cache.get(w)
        if h is None:
            h = int.from_bytes(
                hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest(),
                "little",
            )
            cache[w] = h
        return h

    for i, t in enumerate(texts):
        toks = (t or "").lower().split()
        if toks:
            yield i, np.fromiter(
                (tok_hash(w) for w in toks), dtype=np.uint64, count=len(toks)
            )


def _segments(parts: list, budget: int):
    """Yield (seg, starts, lens, docs) over runs of consecutive
    ``(doc position, array)`` parts: ``seg`` concatenates a run's arrays,
    ``starts``/``lens`` delimit each document's segment (reduceat offsets)
    and ``docs`` holds their positions. A run holds at most ``budget``
    elements unless a single part is larger, which bounds the reduction's
    temporaries per task."""
    i = 0
    while i < len(parts):
        j, tot = i + 1, len(parts[i][1])
        while j < len(parts) and tot + len(parts[j][1]) <= budget:
            tot += len(parts[j][1])
            j += 1
        run = parts[i:j]
        lens = np.fromiter((len(p) for _, p in run), dtype=np.int64,
                           count=len(run))
        starts = np.zeros(len(run), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        docs = np.fromiter((d for d, _ in run), dtype=np.int64,
                           count=len(run))
        yield np.concatenate([p for _, p in run]), starts, lens, docs
        i = j


def _report_drops(over: DataFrame, report: dict) -> None:
    """Fill ``report`` with ``dropped_buckets``/``dropped_rows`` from
    ``over``: one row per bucket above the cap, with its size ``bsz``."""
    drop = over.agg(
        F.count("*").alias("nb"),
        F.coalesce(F.sum("bsz"), F.lit(0)).alias("nr"),
    ).first()
    report["dropped_buckets"] = int(drop["nb"])
    report["dropped_rows"] = int(drop["nr"])


def _bounded_buckets(banded: DataFrame, keys: list[str], id_col: str,
                     payload: str, max_bucket_size: int,
                     report: dict | None) -> DataFrame:
    """(keys..., bsz, members) for the band buckets of ``banded`` that
    hold at most ``max_bucket_size`` rows; ``members`` collects
    ``(id_col, payload)`` structs.

    ONE exchange builds the buckets: the row_number window and the
    conditional collect_list (buffer bounded at the cap — same pattern as
    exact_duplicates) share the key hash partitioning. An older shape paid
    a bucket-size aggregate exchange, a cap join (sort-merge over
    mostly-singleton buckets — measured 2.9 s of the 5.8 s at sf1.0) and a
    self-join.

    No silent caps: larger buckets (boilerplate pages — quadratic inside
    the bucket) are dropped, and a ``report`` dict receives the drop counts
    (one extra aggregation job over the pinned buckets)."""
    from pyspark.sql import Window
    w = Window.partitionBy(*keys).orderBy(id_col)
    grouped = (
        banded.withColumn("_rn", F.row_number().over(w))
        .groupBy(*keys)
        .agg(
            F.count("*").alias("bsz"),
            F.collect_list(
                F.when(F.col("_rn") <= max_bucket_size,
                       F.struct(id_col, payload))
            ).alias("members"),
        )
    )
    if report is not None:
        grouped = grouped.localCheckpoint(eager=False)
        _report_drops(grouped.filter(F.col("bsz") > max_bucket_size), report)
    return grouped.filter(F.col("bsz") <= max_bucket_size)


#: elements of one pairwise temporary in the verify kernels (~4 M)
_PAIR_BUDGET = 1 << 22


def _scored_pairs(X: np.ndarray, offs: np.ndarray, score, hit,
                  budget: int):
    """Yield blocks (i, j, s) over the rows of ``X``, which hold the
    members of consecutive buckets (bucket b is rows ``offs[b]:offs[b+1]``):
    every pair i < j inside one bucket whose pairwise score ``s`` passes
    ``hit(s)``, each pair in one block.

    ``score(A, B)`` maps row blocks A (nb, R, ...) and B (nb, C, ...) to
    (nb, R, C) scores. Buckets of one size are stacked so that thousands
    of small buckets cost a few numpy calls; a bucket too large for the
    budget is scored in blocks of rows. Each row is scored only against
    the rows after it. Every temporary stays within ``budget`` elements,
    and a block holds at most ``budget // width`` pairs (``width`` =
    elements per row), so a caller that builds per-pair rows of ``X``'s
    width stays within the budget too; the exception is one bucket whose
    rows exceed the budget, where the bounds are that bucket's size."""
    sizes = np.diff(offs)
    width = int(np.prod(X.shape[1:], dtype=np.int64))
    for m in np.unique(sizes).tolist():
        starts = offs[:-1][sizes == m]
        cells = m * m * width
        if cells <= budget:
            nb, rows = budget // cells, m - 1
        else:
            nb, rows = 1, max(1, budget // (m * width))
        for b0 in range(0, len(starts), nb):
            st = starts[b0:b0 + nb]
            Xb = X[st[:, None] + np.arange(m)]
            for r0 in range(0, m - 1, rows):
                s = score(Xb[:, r0:r0 + rows], Xb[:, r0 + 1:])
                # local column c is row r0 + 1 + c: keep it after row r0 + r
                b, r, c = np.nonzero(np.triu(hit(s)))
                if len(b):
                    yield st[b] + r0 + r, st[b] + r0 + 1 + c, s[b, r, c]


def _rows(arr) -> np.ndarray:
    """An Arrow list array of equal-length lists as an (n, width) array."""
    vals = arr.flatten().to_numpy(zero_copy_only=False)
    return vals.reshape(len(arr), -1)


def _bucket_pairs(banded: DataFrame, keys: list[str], id_col: str,
                  payload: str, kernel, value_type: str,
                  max_bucket_size: int, report: dict | None) -> DataFrame:
    """(id_a < id_b, v): the verified pairs of every bounded band bucket
    of ``banded`` (see ``_bounded_buckets``), once per bucket that holds
    both members — ``_range_dedup`` removes the cross-band repeats.

    Buckets with two or more members go to ONE ``mapInArrow`` kernel that
    verifies many buckets per Arrow batch: ``kernel(payload, offs,
    budget)`` gets the batch's flattened member payloads (an Arrow array)
    and the bucket offsets, and yields blocks of member positions (i, j)
    and pair values ``v`` (a numpy array of the Spark type
    ``value_type``), passing ``budget`` on to ``_scored_pairs``. Each block becomes one output Arrow batch, so the
    output, like the kernel's temporaries, is bounded by ``_PAIR_BUDGET``
    rather than by the pair count of a whole batch.

    Measured and rejected (do not re-try without a new measurement):
    - emitting a pair only from the first band in which both members
      collide, which would remove the cross-band dedup: it is inexact. A
      pair whose first colliding bucket is over the cap and dropped, while
      a later band's bucket is kept, would be lost; this shape reports it.
    - exploding the pairs of each bucket into JVM rows carrying both
      signatures, and verifying with a JVM expression: it took the
      duplicate-heavy ``minhash_lsh_dedup`` oracle from 28 s (exploding
      ids, then joining the signatures back) to 94 s on a 4-vCPU box.
    """
    import pyarrow as pa

    id_type = banded.schema[id_col].dataType.simpleString()
    budget = _PAIR_BUDGET  # read here, so the closure carries it to workers

    def verify(batches):
        for rb in batches:
            members = rb.column(0)
            offs = members.offsets.to_numpy().astype(np.int64)
            ids, pay = members.flatten().flatten()
            ids = ids.to_numpy(zero_copy_only=False)
            for i, j, v in kernel(pay, offs - offs[0], budget):
                a, b = ids[i], ids[j]
                keep = a != b  # an id listed twice is no pair (id_a < id_b)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.minimum(a, b)[keep]),
                     pa.array(np.maximum(a, b)[keep]), pa.array(v[keep])],
                    names=["id_a", "id_b", "v"],
                )

    return (
        _bounded_buckets(banded, keys, id_col, payload, max_bucket_size,
                         report)
        .filter(F.col("bsz") >= 2)
        .select("members")
        .mapInArrow(verify, f"id_a {id_type}, id_b {id_type}, "
                            f"v {value_type}")
    )


def _range_dedup(pairs: DataFrame) -> DataFrame:
    """``pairs`` without repeated (id_a, id_b), ordered by them. The
    range exchange of the output ordering also serves the dedup: range
    partitioning on (id_a, id_b) satisfies the dedup's clustering, so no
    hash exchange is added, and sorting each partition completes the
    order (the same rows and order as ``dropDuplicates().orderBy()``).

    The range exchange's sampling job re-runs its whole input stage, the
    verify kernel included. Measured and not taken: ``dropDuplicates``
    then ``orderBy`` moves the kernel out of that stage (MinHash 5.6 →
    4.3 CPU-s per job at 5,000 docs on a 4-vCPU box), but its extra
    aggregate classes overflow Spark's default codegen cache: the second
    of two identical job sets recompiled 16 classes."""
    return (
        pairs.repartitionByRange("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .sortWithinPartitions("id_a", "id_b")
    )


def _no_silent_drop(op: str, max_bucket_size: int, report: dict | None,
                    pairs):
    """``pairs(report)`` for an operator that claims exact output: with
    ``report=None`` an internal report is used and an over-cap bucket
    raises instead of quietly losing true pairs (duplicate-heavy corpora
    put >cap docs in one band bucket — exactly the pairs the operator
    exists to find); a caller's ``report`` dict accepts documented
    drops."""
    rep = {} if report is None else report
    out = pairs(rep)
    if report is None and rep["dropped_buckets"]:
        raise ValueError(
            f"{op}: {rep['dropped_buckets']} band buckets over "
            f"max_bucket_size={max_bucket_size} ({rep['dropped_rows']} "
            "rows) dropped — output would silently miss true pairs; raise "
            "max_bucket_size or pass report={} to accept documented drops"
        )
    return out


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
                       bands: int = 32) -> DataFrame:
    """(doc_id, sig array<long>[k], bands array<long>[bands]) — one Arrow
    UDF pass.

    Shingle hashes are a polynomial combination of consecutive token
    hashes (no per-shingle string building); the k universal-hash rows are
    min-reduced over each document's shingle SET, batched across
    documents in (k, ≤32768) chunks so the temporary stays ~32 MB per task.
    Documents without tokens get an all-zero signature.

    ``bands`` per-band keys (``_band_hash_u64``) come out of the same pass,
    so LSH banding needs no JVM-side hash expression over the signature
    array; ``bands`` must divide ``k`` (ValueError otherwise).
    """
    _check_bands(k, bands)
    a, b = _minhash_params(k, seed)
    mul = np.uint64(0x9E3779B97F4A7C15)

    def _sig_bands(texts: pd.Series) -> pd.DataFrame:
        sets = []
        for i, th in _token_hashes(texts):
            n_sh = max(len(th) - shingle_n + 1, 1)
            hv = np.zeros(n_sh, dtype=np.uint64)
            for j in range(min(shingle_n, len(th))):
                hv = hv * mul + th[j:j + n_sh]
            sets.append((i, np.unique(hv)))  # shingles are a SET
        sigs = np.zeros((len(texts), k), dtype=np.int64)
        for seg, starts, _, pos in _segments(sets, 32768):
            m = np.multiply(seg[None, :], a[:, None])
            m += b[:, None]
            m %= np.uint64(_MERSENNE)
            sigs[pos] = np.minimum.reduceat(m, starts, axis=1).T
        return pd.DataFrame({"sig": list(sigs),
                             "bands": list(_band_hash_u64(sigs, bands))})

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


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5, k: int = 128,
                      bands: int = 32, shingle_n: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_bucket_size: int = 5000,
                      seed: int = 42,
                      report: dict | None = None) -> DataFrame:
    """Near-duplicate candidate pairs (id_a, id_b, est_jaccard) with
    estimated jaccard ≥ threshold, ordered by (id_a, id_b).

    The pair-job shape (module docstring) over ``(doc_id, sig)`` members
    of the ``bands`` band buckets: the kernel keeps pairs with ``eq ≥
    (threshold − 1e-4)·k`` equal signature positions, the JVM applies
    ``round(eq / k, 4) ≥ threshold`` (4-digit HALF_UP rounding raises a
    value by less than 5e-5, so the margin loses no pair).

    Buckets larger than ``max_bucket_size`` are dropped; pass ``report={}``
    for ``dropped_buckets``/``dropped_rows`` (see ``_bounded_buckets``).
    ``bands`` must divide ``k`` (ValueError otherwise).
    """
    sigs = minhash_signatures(docs, k=k, shingle_n=shingle_n,
                              id_col=id_col, text_col=text_col, seed=seed,
                              bands=bands)
    # pin the signature pass: the optimizer infers a non-empty filter on
    # the exploded ``bands`` column and pushes it below the projection,
    # into a second evaluation of the signature UDF
    sigs = sigs.localCheckpoint(eager=False)
    banded = sigs.select(
        "doc_id", "sig",
        F.posexplode(F.col("bands")).alias("band", "bucket"),
    )
    min_eq = (threshold - 1e-4) * k

    def equal_positions(pay, offs, budget):
        for i, j, eq in _scored_pairs(
            _rows(pay), offs,
            lambda A, B: np.count_nonzero(A[:, :, None] == B[:, None],
                                          axis=3),
            lambda eq: eq >= min_eq, budget,
        ):
            yield i, j, eq.astype(np.int32)

    # Measured and not taken: buckets of ids with the signatures joined
    # back to the kept buckets' members. At 5,000 docs it cut the bucket
    # shuffle from 49.5 to 3.6 MB and the job from 4.5 to 3.6 CPU-s, but
    # with it a warm job set recompiled 12 MinHash classes (default
    # codegen cache; 0 with the signature on every band row).
    pairs = _bucket_pairs(banded, ["band", "bucket"], "doc_id", "sig",
                          equal_positions, "int", max_bucket_size, report)
    est = F.round(F.col("v") / F.lit(k), 4).alias("est_jaccard")
    return _range_dedup(
        pairs.select("id_a", "id_b", est)
        .filter(F.col("est_jaccard") >= threshold)
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
    operator end-to-end. ``report=None`` is strict (``_no_silent_drop``)."""
    cand = _no_silent_drop(
        "lsh_near_dup_verified", max_bucket_size, report,
        lambda rep: minhash_lsh_pairs(
            docs, threshold=max(threshold - candidate_margin, 0.0), k=k,
            bands=bands, shingle_n=shingle_n, id_col=id_col,
            text_col=text_col, max_bucket_size=max_bucket_size, seed=seed,
            report=rep,
        ),
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
    """(doc_id, simhash long): 64-bit SimHash over word tokens (numpy).

    The 64-bit vote is an int8 bit matrix per chunk of ≤512k tokens
    (~32 MB), reduced per document with np.add.reduceat; sign(votes) is
    decided on integers (2*ones > n_tokens ⟺ sum(±1) > 0). Documents
    without tokens get 0."""
    sh = np.arange(64, dtype=np.uint64)[None, :]
    pows = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    def _sim(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for seg, starts, lens, pos in _segments(list(_token_hashes(texts)),
                                                1 << 19):
            bits = ((seg[:, None] >> sh) & np.uint64(1)).astype(np.int8)
            ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
            signs = (2 * ones) > lens[:, None]
            packed = (signs.astype(np.uint64) * pows[None, :]).sum(axis=1)
            out[pos] = packed.view(np.int64)
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


def _popcount(x: np.ndarray) -> np.ndarray:
    """Set bits of each 64-bit value (SWAR popcount)."""
    x = x.view(np.uint64)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = ((x & np.uint64(0x3333333333333333))
         + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333)))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_bucket_size: int = 5000,
                  report: dict | None = None) -> DataFrame:
    """Pairs (id_a, id_b, hamming) with hamming(simhash) ≤ max_hamming,
    ordered by (id_a, id_b), via pigeonhole blocking
    (``_simhash_block_keys``: 2-block combination keys — complete for any
    ``max_hamming``, with ~2×-wider band keys than the classic 1-block
    split so random bucket collisions stay tiny). The pair-job shape
    (module docstring) over ``(doc_id, simhash)`` members: the kernel
    keeps pairs whose XOR has at most ``max_hamming`` set bits.

    Band buckets larger than ``max_bucket_size`` are dropped; pass
    ``report={}`` to receive ``dropped_buckets``/``dropped_rows``."""
    sigs = simhash_signatures(docs, id_col=id_col, text_col=text_col)
    banded = sigs.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*_simhash_block_keys(F.col("simhash"), max_hamming))
        ).alias("band", "key"),
    )

    def near(pay, offs, budget):
        for i, j, ham in _scored_pairs(
            pay.to_numpy(zero_copy_only=False), offs,
            lambda A, B: _popcount(A[:, :, None] ^ B[:, None]),
            lambda ham: ham <= max_hamming, budget,
        ):
            yield i, j, ham.astype(np.int32)

    pairs = _bucket_pairs(banded, ["band", "key"], "doc_id", "simhash",
                          near, "int", max_bucket_size, report)
    return _range_dedup(
        pairs.select("id_a", "id_b", F.col("v").alias("hamming"))
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
    — while the join never leaves the simhash band buckets.
    ``report=None`` is strict (``_no_silent_drop``)."""
    pairs = _no_silent_drop(
        "simhash_exact_dups", max_bucket_size, report,
        lambda rep: simhash_pairs(
            docs, max_hamming=0, id_col=id_col, text_col=text_col,
            max_bucket_size=max_bucket_size, report=rep,
        ),
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
