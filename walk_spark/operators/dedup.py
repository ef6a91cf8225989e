"""URL-seen deduplication — the heart of the engine (SURVEY.md §2.3).

The reference performs one badger point-lookup per candidate URL
(lib/coordinator.go:301-309). The set-oriented re-expression is:

  1. within-batch dedup (D1): ``groupBy(url)`` keeping the deterministic
     first discovery (min (parent_depth, parent_seq, ordinal)),
  2. seen anti-join (D2): ``candidates LEFT ANTI JOIN frontier ON url``,
     optionally prefiltered by per-partition filters so that only
     candidates that *might* be seen reach the exact anti-join; filter
     false-positives are corrected by the exact join, so results are
     identical with the prefilter on or off.

Partitioning: both sides carry ``part_id`` (salted canonical-host hash) so
the anti-join is an equi-join on (part_id, url) — partition-prunable on an
Iceberg seen table, and co-partitioned when the frontier is bucketed.

Prefilter note: Spark's ``bloom_filter_agg``/``might_contain`` expressions
are internal-only (used by runtime join filters, not registered as public
SQL functions in Spark 4), so the per-partition filters are numpy bitsets
(or cuckoo tables, operators.cuckoo) built with ``applyInPandas`` over the
seen rows. Their owner keeps them as a driver-side {part_id: bytes} map:
new seen rows are built into filters on the executors, collected, and
merged into the map (``merge_filters``). The probe is one plan — the map
is broadcast to a vectorized pandas UDF, no candidate shuffle — and a map
larger than ``BLOOM_BROADCAST_MAX_BYTES`` (config-derived) is rejected up
front.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def dedup_within_batch(candidates: DataFrame,
                       group_cols: tuple = ("url",)) -> DataFrame:
    """D1: one row per url, keeping the deterministic first discovery.

    ``candidates`` columns: url, host, parent_depth, parent_seq, ordinal
    (position of the link within its parent page). The reference's Go-map
    iteration made this nondeterministic (lib/coordinator.go:279-298); we
    define the canonical winner as min (parent_depth, parent_seq, ordinal).
    Map-side partial aggregation makes this a cheap shuffle.

    ``group_cols``: pass ("part_id", "url") when part_id is already
    attached — part_id is a pure function of url, so the groups are
    identical, but the aggregate's output then carries
    HashPartitioning(part_id, url), which the downstream seen anti-join
    (same keys) REUSES: one shuffle of the candidate stream instead of
    two. This is the 10^10-frontier shape — dedup and anti-join share one
    exchange.
    """
    return (
        candidates.groupBy(*group_cols)
        .agg(
            F.min(
                F.struct("parent_depth", "parent_seq", "ordinal", "host")
            ).alias("_w")
        )
        .select(
            *group_cols,
            F.col("_w.host").alias("host"),
            F.col("_w.parent_depth").alias("parent_depth"),
            F.col("_w.parent_seq").alias("parent_seq"),
            F.col("_w.ordinal").alias("ordinal"),
        )
    )


# -- bloom kernels -------------------------------------------------------------

_N_HASHES = 7


#: 16-byte siphash keys for the two independent url hashes (pandas
#: hash_array requires exactly 16 bytes). Stable constants — filters are
#: built and probed within one run (resume rebuilds from the frontier), so
#: cross-version siphash drift cannot corrupt a filter.
_HASH_KEY_1 = "walkspark-seen-1"
_HASH_KEY_2 = "walkspark-seen-2"


def _url_hashes(urls, num_bits: int) -> np.ndarray:
    """(n, _N_HASHES) bit positions via double hashing. One call hashes a
    whole Arrow batch through pandas' cython siphash (hash_array) —
    ~2x the throughput of the earlier per-row hashlib loop on
    million-url batches, and no Python-level loop."""
    arr = np.asarray(urls, dtype=object)
    if len(arr) and any(u is None for u in arr):
        arr = np.array([u or "" for u in arr], dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_HASH_KEY_1, categorize=False)
    h2 = pd.util.hash_array(arr, hash_key=_HASH_KEY_2, categorize=False) \
        | np.uint64(1)
    ks = np.arange(_N_HASHES, dtype=np.uint64)
    return (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(num_bits)


def _aligned_bits(num_bits: int) -> int:
    """Byte-aligned filter size: build allocates nb//8 bytes and the probe
    recomputes nb as len(bytes)*8 — rounding up front keeps both moduli
    identical (a misaligned nb would shift probe positions → false
    negatives → seen urls re-enqueued)."""
    nb = max(int(num_bits), 1024)
    return (nb + 7) // 8 * 8


def _probe_bits(bits: np.ndarray, urls) -> np.ndarray:
    """Vectorized membership test of a url batch against one bitset."""
    nb = len(bits) * 8
    pos = _url_hashes(urls, nb)  # (n, k)
    hit = bits[pos >> np.uint64(3)] & (
        np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    )
    return (hit != 0).all(axis=1)


def build_bloom_partitions(
    seen: DataFrame,
    expected_items: int,  # noqa: ARG001 — signature parity with cuckoo
    num_bits: int,
) -> DataFrame:
    """One bloom bitset per seen-set partition: (part_id, bf binary),
    built on the executors. ``num_bits`` alone sizes each bitset;
    ``expected_items`` does not change the filter.

    The per-partition split keeps each filter's fpp low (items/partition =
    total/P). The crawl builds over each superstep's NEW seen rows only and
    ORs the collected bitsets into its driver-owned map
    (``merge_filters``), so maintenance costs ∝ new urls, not total seen.
    """
    nb = _aligned_bits(num_bits)

    def _build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(nb // 8, dtype=np.uint8)
        pos = _url_hashes(pdf["url"], nb).ravel()
        np.bitwise_or.at(bits, pos >> np.uint64(3),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        return pd.DataFrame(
            {"part_id": [int(key[0])], "bf": [bits.tobytes()]}
        )

    return (
        seen.select("part_id", "url")
        .groupBy("part_id")
        .applyInPandas(_build, schema="part_id int, bf binary")
    )


def collect_filters(filters: DataFrame) -> dict[int, bytes]:
    """A (part_id, bf) filter table as a driver-side {part_id: bytes} map."""
    return {int(r["part_id"]): bytes(r["bf"]) for r in filters.collect()}


def merge_filters(standing: dict, added: dict,
                  filter_kind: str = "bloom") -> dict:
    """Union of two {part_id: bytes} filter maps, as a NEW map (neither
    input is modified, so a caller can merge superstep-local additions
    into a copy while keeping the standing map). Bloom bitsets OR
    bytewise; cuckoo tables re-place ``added``'s fingerprints
    (``merge_cuckoo_bytes``). A partition present in one map only is taken
    as is. Every url inserted into either input probes maybe-seen in the
    result — the no-false-negative contract of both kinds."""
    out = dict(standing)
    for part, buf in added.items():
        old = out.get(part)
        if old is None:
            out[part] = buf
        elif filter_kind == "cuckoo":
            from walk_spark.operators.cuckoo import merge_cuckoo_bytes
            out[part] = merge_cuckoo_bytes(old, buf)
        else:
            out[part] = (np.frombuffer(old, dtype=np.uint8)
                         | np.frombuffer(buf, dtype=np.uint8)).tobytes()
    return out


#: budget for one filter map (seen_partitions × num_bits/8). Filters live
#: on the driver and reach the probe as ONE broadcast, so a config above
#: this fails up front (``check_filters_bytes``) instead of mid-crawl. The
#: size is CONFIG-derived — no data dependence — so the check gives the
#: same answer on every cluster.
BLOOM_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def filter_map_bytes(partitions: int, num_bits: int) -> int:
    """Config-derived size of a filter map: one byte-aligned ``num_bits``
    filter per seen-set partition (a cuckoo table fits the same budget)."""
    return partitions * (_aligned_bits(num_bits) // 8)


def check_filters_bytes(n: int) -> None:
    """Raise ValueError when a filter map of ``n`` bytes exceeds the
    broadcast budget."""
    if n > BLOOM_BROADCAST_MAX_BYTES:
        raise ValueError(
            f"URL-seen filters of {n} bytes exceed the "
            f"{BLOOM_BROADCAST_MAX_BYTES}-byte broadcast budget; lower "
            f"bloom_num_bits or seen_partitions"
        )


#: broadcasts created by anti_join_seen from a filter table, pending
#: release. A broadcast must outlive the (lazy) probe plan that captures
#: it, so anti_join_seen can't destroy it itself — callers invoke
#: release_bloom_broadcasts() once the consuming action has run (the
#: crawler does this after each superstep's frontier pin). Without this,
#: long crawls / repeated Crawler construction accumulate driver memory.
#: This module-global list is the DEFAULT registry for direct callers;
#: owners that may run concurrently (each Crawler) pass their OWN
#: ``registry`` list so one owner's release cannot destroy a broadcast
#: another owner's still-lazy probe plan holds.
_PENDING_BROADCASTS: list = []


def release_bloom_broadcasts(registry: list | None = None) -> int:
    """Destroy the bloom broadcasts in ``registry`` (default: the module
    list) whose consuming plans have been materialized. Returns how many
    were released."""
    reg = _PENDING_BROADCASTS if registry is None else registry
    n = len(reg)
    for bc in reg:
        try:
            bc.destroy()
        except Exception:
            pass  # already destroyed / context gone
    reg.clear()
    return n


def _probe_filter_bytes(buf: bytes, urls, filter_kind: str) -> np.ndarray:
    """Dispatch a serialized per-partition filter probe by kind: "bloom"
    (raw bitset, this module) or "cuckoo" (operators.cuckoo — the north
    rule's second filter kind). Both return a maybe-seen bool mask with no
    false negatives, so ``anti_join_seen``'s output is kind-invariant."""
    if filter_kind == "cuckoo":
        from walk_spark.operators.cuckoo import probe_cuckoo_bytes
        return probe_cuckoo_bytes(buf, urls)
    return _probe_bits(np.frombuffer(buf, dtype=np.uint8), urls)


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    blooms: DataFrame | None = None,
    filters_bytes: int | None = None,
    prepared_bc=None,
    registry: list | None = None,
    filter_kind: str = "bloom",
) -> DataFrame:
    """D2: candidates not present in the seen set (exact url-string match).

    Optional prefilter, either ``blooms`` — a (part_id, bf) table, collected
    and broadcast here (the broadcast joins ``registry``, default the
    module list, for later release) — or ``prepared_bc``, a broadcast
    {part_id: bytes} map the caller owns. Candidates whose partition
    filter says "definitely new" skip the exact anti-join; "maybe seen"
    ones are confirmed by the (part_id, url) anti-join. Filter false
    positives are corrected by the exact join, so the output is identical
    with the prefilter on or off, for either ``filter_kind``.

    One probe plan: a vectorized pandas UDF looks each candidate's
    partition up in the broadcast map (no candidate shuffle); an absent
    part_id means that partition has no seen urls → definitely new.
    ``filters_bytes`` (config-derived, ``filter_map_bytes``) above
    BLOOM_BROADCAST_MAX_BYTES raises ValueError before anything runs.
    """
    if filters_bytes is not None:
        check_filters_bytes(filters_bytes)
    if blooms is None and prepared_bc is None:
        return candidates.join(
            seen.select("part_id", "url"), ["part_id", "url"], "left_anti"
        )
    cols = list(candidates.columns)
    bc = prepared_bc
    if bc is None:
        bc = blooms.sparkSession.sparkContext.broadcast(
            collect_filters(blooms))
        (_PENDING_BROADCASTS if registry is None else registry).append(bc)

    def _probe_bc(urls: pd.Series, parts: pd.Series) -> pd.Series:
        out = np.zeros(len(urls), dtype=bool)
        m = bc.value
        pv = parts.to_numpy()
        for p in np.unique(pv):
            bf = m.get(int(p))
            if bf is None:
                continue
            idx = np.nonzero(pv == p)[0]
            out[idx] = _probe_filter_bytes(bf, urls.iloc[idx], filter_kind)
        return pd.Series(out)

    from pyspark.sql.types import BooleanType
    mc = F.pandas_udf(_probe_bc, returnType=BooleanType())
    c = candidates.withColumn("_maybe", mc(F.col("url"), F.col("part_id")))
    # `c` feeds TWO branches of the union below. A lazy localCheckpoint
    # makes the probed stream compute once and be read twice within the
    # consumer's job — without it, only the shuffle below the dedup
    # aggregate is reused (ReusedExchange) and the aggregate + probe UDF
    # run once per branch.
    c = c.localCheckpoint(eager=False)
    definitely_new = c.filter(~F.col("_maybe")).drop("_maybe")
    confirmed_new = (
        c.filter(F.col("_maybe")).drop("_maybe")
        .join(seen.select("part_id", "url"), ["part_id", "url"], "left_anti")
    )
    return definitely_new.unionByName(confirmed_new).select(*cols)
