"""URL-seen dedup, cuckoo-filter variant (SURVEY.md §2 O4).

The north rule names the URL-seen structure as "bloom/cuckoo"
(BASELINE.json north_rule; north_star: "partitioned Bloom/cuckoo-filter
URL-seen set"). ``operators/dedup.py`` ships the Bloom default; this module
is the cuckoo twin behind ``cfg.seen_filter = "cuckoo"`` — same sharding
(shard = url_hash & (S-1)), same pre-filter contract (no false negatives;
"maybe seen" rows take the exact confirm join), same state-table shape
(shard, bits, n_inserted [, overflowed]).

Partial-key cuckoo hashing (Fan et al., "Cuckoo Filter: Practically Better
Than Bloom", CoNLL 2014 — public algorithm): each key stores a 16-bit
nonzero fingerprint in one of two candidate buckets, ``b1 = H(h) & (B-1)``
and ``b2 = b1 ^ (H'(fp) & (B-1))`` — an involution, so a stored slot's
alternate is recoverable from (bucket, fp) alone, which is what makes
eviction and table MERGE possible without the original keys. 4 slots per
bucket → ~95% fill capacity; ``spec.cuckoo_buckets_for`` sizes to ≤80%
load.

Two properties the Bloom twin gets for free need explicit care here:

* **Determinism** — a cuckoo table's layout depends on insertion order, so
  insertion is the order-free ``_insert_bulk``: two vectorized scatter
  phases whose placement depends only on the (bucket, fp) multiset
  (stable lexsorts), plus a sequential eviction loop — victim a pure
  function of the kick count — for the few-percent residue. The persisted
  filter bytes are a function of the key SET, byte-identical at every
  parallelism level (the same guarantee the Bloom OR gives structurally),
  and the per-shard build is numpy-vectorized rather than a 10^5-iteration
  Python loop.
* **No false negatives under overflow** — a full table would drop a
  fingerprint, and a dropped key would skip the exact confirm and corrupt
  the crawl. Overflow therefore sets a per-shard ``overflowed`` flag that
  forces every probe in that shard to "maybe seen" (the shard degrades to
  the exact join, output unchanged). Proper sizing makes this unreachable;
  the flag makes it safe anyway.

Merge is a deterministic REBUILD: occupied (bucket, fp) slots from all
input tables are re-inserted in sorted order. Unlike the Bloom OR it is not
slot-stable across different merge histories, but the engine's state
evolution (bootstrap build + one delta merge per epoch) is a fixed sequence,
so resumed and fresh runs see identical bytes.

Why ship both: the Bloom filter is smaller per element at the ~0.1% FP
target and merges by a trivial OR; the cuckoo filter supports DELETION
(drop a fingerprint when a URL's TTL expires — the recrawl/eviction story a
long-lived frontier needs) and keeps lookups at exactly two cache lines.
``delete_hashes`` implements that eviction path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, IntegerType, LongType, StructField, StructType,
)

from monocator_spark import spec
from monocator_spark.operators.dedup import shard_col

CUCKOO_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("bits", BinaryType()),  # uint16[buckets*4] slot array
        StructField("n_inserted", LongType()),
        StructField("overflowed", BooleanType()),
    ]
)

SLOTS_PER_BUCKET = 4
MAX_KICKS = 500


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """uint16 nonzero fingerprints — a second, independent mix of url_hash
    (the primary bucket uses the raw low bits, so fp must not be them)."""
    h = hashes.astype(np.uint64)
    h = (h ^ (h >> np.uint64(29))) * np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(32)
    return (h % np.uint64(65535) + np.uint64(1)).astype(np.uint16)


def _bucket1(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    h = hashes.astype(np.uint64)
    h = (h * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(13)
    return (h & np.uint64(n_buckets - 1)).astype(np.int64)


def _alt_bucket(bucket: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """b ^ (H'(fp) & (B-1)) — self-inverse, so alt(alt(b)) == b."""
    hf = fp.astype(np.uint64) * np.uint64(0x5BD1E995)
    hf ^= hf >> np.uint64(7)
    return (bucket.astype(np.uint64) ^ (hf & np.uint64(n_buckets - 1))).astype(
        np.int64
    )


def _alt_one(bucket: int, fp: int, n_buckets: int) -> int:
    """Scalar twin of _alt_bucket (fp < 2^16 so fp*K < 2^48: no 64-bit
    wrap to emulate). Kept in lockstep with the vectorized version —
    tests/test_cuckoo.py pins the involution on both."""
    hf = fp * 0x5BD1E995
    hf ^= hf >> 7
    return bucket ^ (hf & (n_buckets - 1))


def _insert_pairs(
    tbl: np.ndarray, buckets: np.ndarray, fps: np.ndarray
) -> bool:
    """Insert (bucket, fp) pairs into tbl[(B, 4)] in the given order.
    Returns True iff any insertion overflowed (its fp was dropped).

    Scalar Python by design: this is the EVICTION path, inherently
    sequential (each kick depends on the previous victim); the bulk of any
    build goes through the vectorized ``_insert_bulk`` phases and only a
    few percent of keys land here."""
    n_buckets = tbl.shape[0]
    view = tbl.tolist()  # list-of-lists: ~10x faster scalar access
    overflow = False
    for j in range(len(fps)):
        fp = int(fps[j])
        b = int(buckets[j])
        placed = False
        for cand in (b, _alt_one(b, fp, n_buckets)):
            row = view[cand]
            for s in range(SLOTS_PER_BUCKET):
                if row[s] == 0:
                    row[s] = fp
                    placed = True
                    break
            if placed:
                break
        if placed:
            continue
        # eviction loop: kick a victim (slot chosen by kick count — pure
        # function of the loop, no RNG) and move it to ITS alternate
        cur_b, cur_fp = b, fp
        for kick in range(MAX_KICKS):
            slot = kick % SLOTS_PER_BUCKET
            row = view[cur_b]
            victim = row[slot]
            row[slot] = cur_fp
            cur_fp = victim
            cur_b = _alt_one(cur_b, cur_fp, n_buckets)
            row = view[cur_b]
            for s in range(SLOTS_PER_BUCKET):
                if row[s] == 0:
                    row[s] = cur_fp
                    placed = True
                    break
            if placed:
                break
        if not placed:
            overflow = True  # cur_fp dropped — the shard flag covers it
    tbl[:] = np.asarray(view, dtype=np.uint16)
    return overflow


def _insert_bulk(tbl: np.ndarray, buckets: np.ndarray, fps: np.ndarray) -> bool:
    """Bulk insertion into a FRESH table: two vectorized scatter phases,
    then the sequential eviction loop for the residue only.

    A per-key Python loop over a 10^5-key shard is the slow path this
    module otherwise avoids; at ≤80% load a Poisson argument puts ~90% of
    keys in their primary bucket's first four slots and most of the rest
    in the alternate, so phases A and B are single numpy scatters and the
    kick loop sees only a few percent. Placement depends only on the
    (bucket, fp) MULTISET — stable lexsorts, never input order — so the
    table bytes stay a pure function of the key set (the determinism
    contract ``merge_shards`` and resume rely on). Returns the overflow
    flag. Caller contract: ``tbl`` is all-zeros (build/rebuild paths —
    both callers construct fresh tables; holes from deletion never reach
    this function)."""
    if len(fps) == 0:
        return False
    n_buckets = tbl.shape[0]

    def _ranks(b: np.ndarray) -> np.ndarray:
        # rank of each element within its (already sorted) bucket group
        first = np.r_[True, b[1:] != b[:-1]]
        starts = np.flatnonzero(first)
        lens = np.diff(np.r_[starts, len(b)])
        return np.arange(len(b)) - np.repeat(starts, lens)

    # phase A: primary buckets
    order = np.lexsort((fps, buckets))
    b, f = buckets[order], fps[order]
    rank = _ranks(b)
    hit = rank < SLOTS_PER_BUCKET
    tbl[b[hit], rank[hit]] = f[hit]
    if hit.all():
        return False
    # phase B: alternates, filling above phase A's (contiguous) occupancy
    used = (tbl != 0).sum(axis=1)
    lb, lf = b[~hit], f[~hit]
    ab = _alt_bucket(lb, lf, n_buckets)
    order2 = np.lexsort((lf, ab))
    b2, f2, ob = ab[order2], lf[order2], lb[order2]
    rank2 = _ranks(b2)
    slot2 = used[b2] + rank2
    hit2 = slot2 < SLOTS_PER_BUCKET
    tbl[b2[hit2], slot2[hit2]] = f2[hit2]
    if hit2.all():
        return False
    # phase C: eviction loop for the residue (primary bucket as the entry
    # point, exactly like single insertion) — deterministic order by
    # construction of the lexsorts above
    return _insert_pairs(tbl, ob[~hit2], f2[~hit2])


def build_shards(new_hashes: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    """new_hashes(url_hash) → (shard, bits, n_inserted, overflowed)."""
    n_buckets = cfg.cuckoo_buckets_per_shard

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64)
        tbl = np.zeros((n_buckets, SLOTS_PER_BUCKET), dtype=np.uint16)
        # _insert_bulk is order-free (internal lexsorts), no pre-sort needed
        overflow = _insert_bulk(tbl, _bucket1(h, n_buckets), _fingerprints(h))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [tbl.tobytes()],
                "n_inserted": [len(h)],
                "overflowed": [overflow],
            }
        )

    return (
        new_hashes.withColumn("shard", shard_col("url_hash", cfg))
        .groupBy("shard")
        .applyInPandas(build, CUCKOO_SCHEMA)
    )


def _occupied(tbl: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(bucket, fp) of every occupied slot — order-free content view."""
    bk, _slot = np.nonzero(tbl)
    return bk.astype(np.int64), tbl[tbl != 0]


def merge_shards(
    existing: DataFrame | None, delta: DataFrame, cfg: spec.CrawlConfig
) -> DataFrame:
    """Per-shard deterministic rebuild from all inputs' occupied slots.

    A slot's candidate-bucket pair is recoverable from (bucket, fp) — the
    partial-key property — so re-insertion needs no original keys. Slots
    are re-inserted sorted by (bucket, fp): merge output is a pure function
    of the input tables' CONTENT, independent of row arrival order."""
    both = delta if existing is None else existing.unionByName(delta)
    n_buckets = cfg.cuckoo_buckets_per_shard

    def orm(pdf: pd.DataFrame) -> pd.DataFrame:
        bks, fps = [], []
        overflow = bool(pdf["overflowed"].any())
        for b in pdf["bits"]:
            t = np.frombuffer(b, dtype=np.uint16).reshape(
                n_buckets, SLOTS_PER_BUCKET
            )
            bk, fp = _occupied(t)
            bks.append(bk)
            fps.append(fp)
        bk = np.concatenate(bks) if bks else np.empty(0, dtype=np.int64)
        fp = np.concatenate(fps) if fps else np.empty(0, dtype=np.uint16)
        tbl = np.zeros((n_buckets, SLOTS_PER_BUCKET), dtype=np.uint16)
        overflow |= _insert_bulk(tbl, bk, fp)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [tbl.tobytes()],
                "n_inserted": [int(pdf["n_inserted"].sum())],
                "overflowed": [overflow],
            }
        )

    return both.groupBy("shard").applyInPandas(orm, CUCKOO_SCHEMA)


def probe_hashes(
    hashes: np.ndarray, bits: bytes, overflowed: bool, cfg: spec.CrawlConfig
) -> np.ndarray:
    """→ bool[n]: True = maybe seen. An overflowed shard answers all-True
    (no false negatives, the shard degrades to the exact confirm join)."""
    if overflowed:
        return np.ones(len(hashes), dtype=bool)
    n_buckets = cfg.cuckoo_buckets_per_shard
    tbl = np.frombuffer(bits, dtype=np.uint16).reshape(n_buckets, SLOTS_PER_BUCKET)
    fp = _fingerprints(hashes)
    b1 = _bucket1(hashes, n_buckets)
    b2 = _alt_bucket(b1, fp, n_buckets)
    return ((tbl[b1] == fp[:, None]) | (tbl[b2] == fp[:, None])).any(axis=1)


def delete_hashes(filt: DataFrame, gone: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    """Remove fingerprints for ``gone(url_hash)`` rows — the eviction path
    Bloom structurally cannot offer (TTL expiry / forced-recrawl forget).

    Contract (standard cuckoo-filter deletion): only delete keys that WERE
    inserted, one deletion per insertion — deleting a never-inserted key
    may evict another key's colliding fingerprint. One slot is cleared per
    (bucket, fp) occurrence, slots scanned in fixed order → deterministic."""
    n_buckets = cfg.cuckoo_buckets_per_shard
    gone = gone.withColumn("shard", shard_col("url_hash", cfg))

    def drop(filt_pdf: pd.DataFrame, gone_pdf: pd.DataFrame) -> pd.DataFrame:
        if filt_pdf.empty:
            return filt_pdf
        out = filt_pdf.iloc[:1].copy()
        if gone_pdf.empty:
            return out
        tbl = np.frombuffer(out["bits"].iloc[0], dtype=np.uint16).reshape(
            n_buckets, SLOTS_PER_BUCKET
        ).copy()
        h = np.sort(gone_pdf["url_hash"].to_numpy(dtype=np.int64))
        fps = _fingerprints(h)
        b1s = _bucket1(h, n_buckets)
        b2s = _alt_bucket(b1s, fps, n_buckets)
        removed = 0
        for fp, b1, b2 in zip(fps, b1s, b2s):
            for cand in (int(b1), int(b2)):
                hit = np.nonzero(tbl[cand] == fp)[0]
                if hit.size:
                    tbl[cand, hit[0]] = 0
                    removed += 1
                    break
        out["bits"] = [tbl.tobytes()]
        out["n_inserted"] = [max(0, int(out["n_inserted"].iloc[0]) - removed)]
        return out

    return (
        filt.groupBy("shard")
        .cogroup(gone.groupBy("shard"))
        .applyInPandas(drop, CUCKOO_SCHEMA)
    )


def _broadcast_probe(
    cands: DataFrame, shards: list, cfg: spec.CrawlConfig
) -> DataFrame:
    """Probe via a scalar pandas UDF over the (shard, bucket, slot) tensor
    captured in the closure — vectorized, no shuffle (the small-filter
    fast path, mirroring dedup._broadcast_probe)."""
    n_buckets, n_shards = cfg.cuckoo_buckets_per_shard, spec.BLOOM_SHARDS
    mat = np.zeros((n_shards, n_buckets, SLOTS_PER_BUCKET), dtype=np.uint16)
    over = np.zeros(n_shards, dtype=bool)
    for r in shards:
        mat[int(r["shard"])] = np.frombuffer(r["bits"], dtype=np.uint16).reshape(
            n_buckets, SLOTS_PER_BUCKET
        )
        over[int(r["shard"])] = bool(r["overflowed"])

    def probe(url_hash: pd.Series) -> pd.Series:
        h = url_hash.to_numpy(dtype=np.int64)
        shard = (h & (n_shards - 1)).astype(np.int64)
        fp = _fingerprints(h)
        b1 = _bucket1(h, n_buckets)
        b2 = _alt_bucket(b1, fp, n_buckets)
        got = (
            (mat[shard, b1] == fp[:, None]) | (mat[shard, b2] == fp[:, None])
        ).any(axis=1)
        return pd.Series(got | over[shard])

    return cands.withColumn(
        "maybe_seen", F.pandas_udf(probe, BooleanType())("url_hash")
    )


def prefilter(
    cands: DataFrame, filt: DataFrame | None, cfg: spec.CrawlConfig
) -> DataFrame:
    """Tag candidates with maybe_seen — the cuckoo mirror of
    dedup.bloom_prefilter, same broadcast-vs-cogroup size switch."""
    from monocator_spark.operators.dedup import BROADCAST_PROBE_MAX_BYTES

    if filt is None:
        return cands.withColumn("maybe_seen", F.lit(True))

    total = spec.BLOOM_SHARDS * cfg.cuckoo_buckets_per_shard * SLOTS_PER_BUCKET * 2
    if total <= BROADCAST_PROBE_MAX_BYTES:
        return _broadcast_probe(cands, filt.collect(), cfg)

    out_schema = StructType(
        list(cands.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    cand_cols = list(cands.columns)

    def probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        h = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        if filt_pdf.empty:
            maybe = np.zeros(len(h), dtype=bool)
        else:
            maybe = probe_hashes(
                h, filt_pdf["bits"].iloc[0], bool(filt_pdf["overflowed"].iloc[0]), cfg
            )
        out = cand_pdf[cand_cols].copy()
        out["maybe_seen"] = maybe
        return out

    return (
        cands.withColumn("shard", shard_col("url_hash", cfg))
        .groupBy("shard")
        .cogroup(filt.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )
