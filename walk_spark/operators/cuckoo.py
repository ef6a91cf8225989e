"""Cuckoo-filter URL-seen prefilter — the north rule's second filter kind.

The north rule names "bloom/cuckoo URL-seen"; ``operators.dedup`` ships the
bloom bitsets. This module is the cuckoo alternative (Fan et al., "Cuckoo
Filter: Practically Better Than Bloom", CoNEXT 2014) with the SAME
per-partition ``(part_id, bf binary)`` table shape, the same
no-false-negative contract (a url that was inserted ALWAYS probes true —
false negatives would re-enqueue seen urls, corrupting the crawl), and one
capability bloom cannot offer: **deletion** (``delete_cuckoo_bytes``), the
operational lever for retracting urls from the seen prefilter without a
full rebuild (e.g. forced re-fetch of a host after a config change).

Layout (partial-key cuckoo hashing):
  - ``m`` buckets (power of two) x 4 slots of 16-bit fingerprints; 0 marks
    an empty slot, so fingerprints are drawn from [1, 0xFFFF].
  - an item with fingerprint ``fp`` lives in bucket ``i1 = H(url) & (m-1)``
    or ``i2 = i1 ^ (H'(fp) & (m-1))`` — the xor makes the alternate mapping
    an involution, so any resident (bucket, fp) pair recovers its other
    candidate without the url. That property is what makes ``merge`` and
    ``delete`` possible on the filter alone.
  - serialized: ``b"CKF1" | uint32 m | uint32 stash_n | table bytes |
    stash buckets (uint32) | stash fps (uint16)``.

Insertion is **bulk and fully vectorized** (numpy, no per-item Python
loop): one placement round into every item's first-choice bucket, one into
the second choice, repeated while placements still happen; items that
still don't fit go to the **stash**, which the probe checks exactly. The
stash (rather than the textbook random-walk eviction loop) keeps the build
a bounded number of vectorized passes — the right trade inside an
``applyInPandas`` task — and preserves the no-false-negative contract at
ANY load factor; at the sizing the crawl uses (≤ ~0.7 load) the stash
stays a vanishing fraction (see tests/test_cuckoo.py's load-factor test).

Space: 16 bits x 4 slots / bucket ⇒ ~19 bits/item at 0.85 load for fpp
≈ 2^-13, vs the bloom path's 8 bits/item at fpp ~1%. The crawl sizes both
from ``CrawlConfig.bloom_num_bits`` (a BYTE budget shared by either kind,
so the filter-map budget check, ``dedup.check_filters_bytes``, is
filter-kind-agnostic). The crawl keeps the filters as a driver-side
{part_id: bytes} map: per-superstep deltas merge into it with
``merge_cuckoo_bytes`` and ``Crawler.forget_urls`` deletes from it with
``delete_cuckoo_bytes``.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_MAGIC = b"CKF1"
_SLOTS = 4
_HDR = struct.Struct("<4sII")

#: siphash keys (16 bytes — pd.util.hash_array requirement) for the
#: bucket hash and the fingerprint hash; independent of the bloom keys.
_KEY_BUCKET = "walkspark-cuck-b"
_KEY_FP = "walkspark-cuck-f"

#: odd multiplier for the fp -> alternate-bucket offset hash (Murmur
#: finalizer constant); any odd constant works — it only needs to spread
#: fingerprints across bucket offsets.
_FP_MIX = np.uint64(0x5BD1E995)


def _num_buckets(num_bits: int) -> int:
    """Largest power-of-two bucket count fitting the byte budget
    (num_bits/8, matching the bloom path's allocation)."""
    nbytes = max(int(num_bits), 1024) // 8
    m = 1 << max(int(nbytes // (2 * _SLOTS)).bit_length() - 1, 3)
    return m


def _fp_buckets(urls, m: int):
    """(fp uint16 in [1,0xFFFF], i1, i2) for a url batch — one vectorized
    siphash pass per hash, no Python loop."""
    arr = np.asarray(urls, dtype=object)
    if len(arr) and any(u is None for u in arr):
        arr = np.array([u or "" for u in arr], dtype=object)
    fp = (
        pd.util.hash_array(arr, hash_key=_KEY_FP, categorize=False)
        % np.uint64(0xFFFF) + np.uint64(1)
    ).astype(np.uint16)
    mask = np.uint64(m - 1)
    i1 = (pd.util.hash_array(arr, hash_key=_KEY_BUCKET, categorize=False)
          & mask).astype(np.uint32)
    i2 = _alt_bucket(i1, fp, m)
    return fp, i1, i2


def _alt_bucket(b: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    return (b.astype(np.uint64)
            ^ (fp.astype(np.uint64) * _FP_MIX & np.uint64(m - 1))
            ).astype(np.uint32)


def _place_round(table: np.ndarray, occ: np.ndarray,
                 fps: np.ndarray, buckets: np.ndarray) -> np.ndarray:
    """Place as many (fp, bucket) pairs as the buckets' free slots allow;
    returns the placed mask. Vectorized: sort by bucket, rank within the
    bucket, keep ranks below the bucket's free-slot count."""
    n = len(fps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(buckets, kind="stable")
    sb = buckets[order]
    uniq, starts, counts = np.unique(sb, return_index=True,
                                     return_counts=True)
    ranks = np.arange(n) - np.repeat(starts, counts)
    # Target ACTUAL zero slots, never occ + rank: delete_cuckoo_bytes zeroes
    # arbitrary slots, so a bucket's occupied slots need not be contiguous —
    # occ + rank would overwrite resident fingerprints after a delete,
    # creating false negatives (the contract violation).
    zmask = table[uniq] == 0                      # (u, _SLOTS)
    zc = zmask.cumsum(axis=1)                     # 1-based ordinal of zeros
    pos = np.full((len(uniq), _SLOTS), _SLOTS, dtype=np.int64)
    zr, zcol = np.nonzero(zmask)
    pos[zr, zc[zr, zcol] - 1] = zcol              # pos[u, k] = k-th free slot
    bidx = np.repeat(np.arange(len(uniq)), counts)
    slots = pos[bidx, np.minimum(ranks, _SLOTS - 1)]
    ok = (ranks < _SLOTS) & (slots < _SLOTS)      # sentinel = bucket full
    table[sb[ok], slots[ok]] = fps[order][ok]
    np.add.at(occ, uniq, np.minimum(counts, zmask.sum(axis=1)))
    placed = np.zeros(n, dtype=bool)
    placed[order[ok]] = True
    return placed


_MAX_KICKS = 500


def _evict_insert_one(table: np.ndarray, occ: np.ndarray,
                      fp: int, b: int, m: int):
    """Textbook cuckoo random-walk insertion for ONE item whose both
    buckets are full — evict a resident, move it to ITS alternate, repeat.
    The victim slot is chosen deterministically ((fp + kick) mod slots) so
    filter bytes are reproducible for identical input order.

    Returns None on success. On failure returns the HOMELESS (bucket, fp)
    — the final displaced victim, NOT the original item (which was seated
    by the first kick): every fingerprint in the chain except the last
    still resides in one of its own candidate buckets, so stashing the
    last victim is exactly what preserves the no-false-negative contract.
    The returned bucket is one of the victim's two candidates."""
    cur_fp, cur_b = int(fp), int(b)
    mix, mask = int(_FP_MIX), m - 1
    for kick in range(_MAX_KICKS):
        s = (cur_fp + kick) % _SLOTS
        victim = int(table[cur_b, s])
        table[cur_b, s] = cur_fp
        cur_fp = victim
        # scalar alt-bucket: fp*mix < 2^47, no uint64 wrap — identical to
        # the vectorized _alt_bucket
        cur_b = cur_b ^ ((cur_fp * mix) & mask)
        row = table[cur_b]
        for si in range(_SLOTS):
            if row[si] == 0:
                row[si] = cur_fp
                occ[cur_b] += 1
                return None
    return cur_b, cur_fp


def _bulk_insert(table: np.ndarray, occ: np.ndarray, fps: np.ndarray,
                 b1: np.ndarray, b2: np.ndarray):
    """Vectorized alternating-bucket placement until a fixed point, then a
    per-item eviction pass over the (small) greedy residue; returns the
    leftover (buckets, fps) destined for the stash. The Python loop runs
    only on items the vectorized rounds could not place — a ~2% fraction
    at 0.7 load, near zero after eviction below saturation."""
    pending = np.ones(len(fps), dtype=bool)
    use_first = True
    while pending.any():
        idx = np.nonzero(pending)[0]
        tgt = (b1 if use_first else b2)[idx]
        placed = _place_round(table, occ, fps[idx], tgt)
        pending[idx[placed]] = False
        if not placed.any() and not use_first:
            break  # fixed point: neither choice has room for the rest
        use_first = not use_first
    m = table.shape[0]
    left = np.nonzero(pending)[0]
    # saturation guards: a table without free slots (or one where eviction
    # chains keep failing) cannot seat more items — stash directly instead
    # of paying a _MAX_KICKS random walk per doomed insert. An OVERLOADED
    # filter (items > capacity, e.g. a skew-hot partition) thus degrades
    # to an exact-membership stash at O(1) insert cost, not a kick storm.
    homeless: list = []
    free_slots = int(m * _SLOTS - (table != 0).sum())
    consecutive_fails = 0
    for j, i in enumerate(left):
        if free_slots <= 0 or consecutive_fails >= 8:
            homeless.extend((int(b1[i2]), int(fps[i2])) for i2 in left[j:])
            break
        h = _evict_insert_one(table, occ, int(fps[i]), int(b1[i]), m)
        if h is None:
            free_slots -= 1
            consecutive_fails = 0
        else:
            homeless.append(h)
            consecutive_fails += 1
    sb = np.array([h[0] for h in homeless], dtype=np.uint32)
    sf = np.array([h[1] for h in homeless], dtype=np.uint16)
    return sb, sf


def _encode(table: np.ndarray, stash_b: np.ndarray,
            stash_f: np.ndarray) -> bytes:
    return (_HDR.pack(_MAGIC, table.shape[0], len(stash_b))
            + table.tobytes()
            + stash_b.astype(np.uint32).tobytes()
            + stash_f.astype(np.uint16).tobytes())


def _decode(buf: bytes):
    magic, m, stash_n = _HDR.unpack_from(buf, 0)
    if magic != _MAGIC:
        raise ValueError("not a cuckoo filter buffer")
    off = _HDR.size
    tbytes = m * _SLOTS * 2
    table = np.frombuffer(buf, dtype=np.uint16, count=m * _SLOTS,
                          offset=off).reshape(m, _SLOTS)
    off += tbytes
    stash_b = np.frombuffer(buf, dtype=np.uint32, count=stash_n, offset=off)
    off += stash_n * 4
    stash_f = np.frombuffer(buf, dtype=np.uint16, count=stash_n, offset=off)
    return table, stash_b, stash_f


def _stash_keys(stash_b: np.ndarray, stash_f: np.ndarray) -> np.ndarray:
    """Stash entries as (bucket << 16 | fp) keys — a stash entry under
    EITHER of its candidate buckets matches (entries are stored under the
    first choice; merge may re-stash under the alternate)."""
    return (stash_b.astype(np.uint64) << np.uint64(16)) | stash_f.astype(
        np.uint64)


def build_cuckoo_bytes(urls, num_bits: int) -> bytes:
    """One serialized cuckoo filter over a url batch."""
    m = _num_buckets(num_bits)
    table = np.zeros((m, _SLOTS), dtype=np.uint16)
    occ = np.zeros(m, dtype=np.int64)
    fp, b1, b2 = _fp_buckets(urls, m)
    sb, sf = _bulk_insert(table, occ, fp, b1, b2)
    return _encode(table, sb, sf)


def probe_cuckoo_bytes(buf: bytes, urls) -> np.ndarray:
    """Vectorized membership test: True = maybe seen, False = definitely
    new. No false negatives for inserted (and not deleted) urls."""
    table, stash_b, stash_f = _decode(buf)
    m = table.shape[0]
    fp, b1, b2 = _fp_buckets(urls, m)
    hit = ((table[b1] == fp[:, None]).any(axis=1)
           | (table[b2] == fp[:, None]).any(axis=1))
    if len(stash_b):
        keys = _stash_keys(stash_b, stash_f)
        k1 = (b1.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
        k2 = (b2.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
        hit |= np.isin(k1, keys) | np.isin(k2, keys)
    return hit


def merge_cuckoo_bytes(a: bytes, b: bytes) -> bytes:
    """Union of two same-sized filters: re-insert ``b``'s resident
    (bucket, fp) entries — candidates recovered via the xor involution,
    no urls needed — plus its stash into a copy of ``a``."""
    table, stash_b, stash_f = _decode(a)
    tb, tsb, tsf = _decode(b)
    m = table.shape[0]
    if tb.shape[0] != m:
        raise ValueError("cannot merge cuckoo filters of different sizes")
    table = table.copy()
    occ = (table != 0).sum(axis=1).astype(np.int64)
    res_b, res_s = np.nonzero(tb)
    fps = np.concatenate([tb[res_b, res_s], tsf.astype(np.uint16)])
    b1 = np.concatenate([res_b.astype(np.uint32), tsb.astype(np.uint32)])
    b2 = _alt_bucket(b1, fps, m)
    nb, nf = _bulk_insert(table, occ, fps, b1, b2)
    return _encode(table, np.concatenate([stash_b, nb]),
                   np.concatenate([stash_f, nf]))


def delete_cuckoo_bytes(buf: bytes, urls) -> bytes:
    """Remove ONE resident copy of each url's fingerprint (cuckoo-filter
    deletion semantics: only valid for urls that were inserted). The
    capability bloom bitsets cannot offer — bits are shared, fingerprint
    slots are not."""
    table, stash_b, stash_f = _decode(buf)
    table = table.copy()
    sb = stash_b.copy()
    sf = stash_f.copy()
    keep = np.ones(len(sb), dtype=bool)
    m = table.shape[0]
    fp, b1, b2 = _fp_buckets(urls, m)
    for i in range(len(fp)):
        done = False
        for b in (b1[i], b2[i]):
            s = np.nonzero(table[b] == fp[i])[0]
            if len(s):
                table[b, s[0]] = 0
                done = True
                break
        if not done:
            hit = np.nonzero(keep & (sf == fp[i])
                             & ((sb == b1[i]) | (sb == b2[i])))[0]
            if len(hit):
                keep[hit[0]] = False
    return _encode(table, sb[keep], sf[keep])


def filter_load(buf: bytes) -> tuple[float, int]:
    """(table load factor, stash size) — observability for sizing."""
    table, stash_b, _ = _decode(buf)
    return float((table != 0).mean()), int(len(stash_b))


# -- per-partition build (the bloom table shape) -------------------------------

def build_cuckoo_partitions(
    seen: DataFrame,
    expected_items: int,  # noqa: ARG001 — signature parity with bloom
    num_bits: int,
) -> DataFrame:
    """One cuckoo filter per seen-set partition: (part_id, bf binary),
    built on the executors — the same table shape as the bloom kind, so
    ``dedup.collect_filters`` / ``merge_filters`` / ``anti_join_seen``
    apply unchanged. Merge and delete then run on the collected bytes
    (``merge_cuckoo_bytes``, ``delete_cuckoo_bytes``)."""

    def _build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "part_id": [int(key[0])],
            "bf": [build_cuckoo_bytes(pdf["url"], num_bits)],
        })

    return (
        seen.select("part_id", "url")
        .groupBy("part_id")
        .applyInPandas(_build, schema="part_id int, bf binary")
    )
