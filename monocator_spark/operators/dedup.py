"""URL-seen dedup (SURVEY.md §2 O4): sharded Bloom pre-filter + exact confirm.

Reference analogue: the IP-level `FullScanCache.find(ip)` dedup
(/root/reference/src/TODO.MD:41); URL-level is Mercator canon.

Design for 10^10 URLs:
  * Bloom shards are persistent crawl state (shard = url_hash & (S-1)),
    OR-merged once per epoch — associative/commutative, never
    read-modify-write inside an epoch (SURVEY.md §7 hard-parts).
  * Dedup is one left-anti join of every candidate against the exact
    `seen` table, hash-partitioned on url_hash, so the crawl order stays
    *exactly* equal to the reference simulator's (a raw Bloom would drop
    false-positive URLs and diverge). The Bloom answer (``maybe_seen``)
    rides in that join's condition. It is not a fast path: every
    candidate, "definitely new" or not, enters the join, and since the
    filter has no false negatives the answer never turns away a true
    match — it changes no row count and saves no join work, while its
    build, merge and probe run every epoch.
  * Probe/build/merge are grouped-map pandas UDFs over numpy bit ops —
    one Arrow batch per shard, zero per-row Python.

Bit positions use double hashing g_i(h) = h1 + i·h2 (mod m), the standard
Kirsch–Mitzenmacher construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType,
)

from monocator_spark import spec

BLOOM_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("bits", BinaryType()),
        StructField("n_inserted", LongType()),
    ]
)


def shard_col(url_hash_col: str, cfg: spec.CrawlConfig) -> F.Column:
    # two's-complement & mask == pmod for power-of-two shard counts, and
    # matches Python's  h & (S-1)  on signed ints.
    return F.expr(f"cast(({url_hash_col} & {spec.BLOOM_SHARDS - 1}) as int)")


def _positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; identical everywhere."""
    h = hashes.astype(np.uint64)
    h1 = h ^ (h >> np.uint64(33))
    h2 = (h * np.uint64(0xFF51AFD7ED558CCD)) >> np.uint64(17) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


def bits_from_hashes(hashes: np.ndarray, cfg: spec.CrawlConfig) -> bytes:
    m, k = cfg.bloom_bits_per_shard, spec.BLOOM_NUM_HASHES
    bits = np.zeros(m // 8, dtype=np.uint8)
    if hashes.size:
        pos = _positions(hashes, m, k).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def probe_hashes(hashes: np.ndarray, bits: bytes, cfg: spec.CrawlConfig) -> np.ndarray:
    """→ bool[n]: True = maybe seen (all k bits set)."""
    m, k = cfg.bloom_bits_per_shard, spec.BLOOM_NUM_HASHES
    arr = np.frombuffer(bits, dtype=np.uint8)
    pos = _positions(hashes, m, k)
    got = (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return got.all(axis=1)


def build_shards(new_hashes: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    """new_hashes(url_hash) → (shard, bits, n_inserted) for touched shards."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [bits_from_hashes(h, cfg)],
                "n_inserted": [len(h)],
            }
        )

    return (
        new_hashes.withColumn("shard", shard_col("url_hash", cfg))
        .groupBy("shard")
        .applyInPandas(build, BLOOM_SCHEMA)
    )


def merge_shards(existing: DataFrame | None, delta: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    """OR-merge per shard (associative + commutative → epoch-safe)."""
    both = delta if existing is None else existing.unionByName(delta)

    def orm(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(cfg.bloom_bits_per_shard // 8, dtype=np.uint8)
        for b in pdf["bits"]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [acc.tobytes()],
                "n_inserted": [int(pdf["n_inserted"].sum())],
            }
        )

    return both.groupBy("shard").applyInPandas(orm, BLOOM_SCHEMA)


# Above this total filter size the bits stay sharded on executors (cogroup
# probe); below it they ride a task broadcast into a scalar pandas UDF —
# zero extra shuffles. 10^10-URL blooms (~GBs) take the cogroup path; the
# threshold is generous because the closure ships once per executor.
BROADCAST_PROBE_MAX_BYTES = 64 << 20


def _broadcast_probe(cands: DataFrame, shards: list, cfg: spec.CrawlConfig) -> DataFrame:
    """Probe via a scalar pandas UDF over a (shard, bytes) matrix captured in
    the closure — vectorized 2D numpy indexing, no shuffle, no join."""
    from pyspark.sql.types import BooleanType

    m, k, n_shards = cfg.bloom_bits_per_shard, spec.BLOOM_NUM_HASHES, spec.BLOOM_SHARDS
    mat = np.zeros((n_shards, m // 8), dtype=np.uint8)
    for r in shards:
        mat[int(r["shard"])] = np.frombuffer(r["bits"], dtype=np.uint8)

    def probe(url_hash: pd.Series) -> pd.Series:
        h = url_hash.to_numpy(dtype=np.int64)
        shard = (h & (n_shards - 1)).astype(np.int64)
        pos = _positions(h, m, k)
        got = (mat[shard[:, None], pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return pd.Series(got.all(axis=1))

    return cands.withColumn(
        "maybe_seen", F.pandas_udf(probe, BooleanType())("url_hash")
    )


def bloom_prefilter(cands: DataFrame, bloom: DataFrame | None, cfg: spec.CrawlConfig) -> DataFrame:
    """Tag candidates with maybe_seen.

    Small filters (≤ BROADCAST_PROBE_MAX_BYTES total) are probed via a
    broadcast scalar UDF; larger ones via the cogrouped per-shard path.
    """
    if bloom is None:
        return cands.withColumn("maybe_seen", F.lit(True))

    if spec.BLOOM_SHARDS * (cfg.bloom_bits_per_shard // 8) <= BROADCAST_PROBE_MAX_BYTES:
        return _broadcast_probe(cands, bloom.collect(), cfg)

    from pyspark.sql.types import BooleanType

    # the full candidate row rides through the cogroup — no join back to
    # `cands` afterwards, which at scale would recompute the candidate
    # lineage (canonicalizer UDF included) a second time per epoch
    out_schema = StructType(
        list(cands.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    cand_cols = list(cands.columns)

    def probe(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        h = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        if bloom_pdf.empty:
            maybe = np.zeros(len(h), dtype=bool)
        else:
            maybe = probe_hashes(h, bloom_pdf["bits"].iloc[0], cfg)
        out = cand_pdf[cand_cols].copy()
        out["maybe_seen"] = maybe
        return out

    return (
        cands.withColumn("shard", shard_col("url_hash", cfg))
        .groupBy("shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )


# -- seen-filter dispatch (north rule: "bloom/cuckoo") ------------------------
# The engine calls these three; cfg.seen_filter picks the structure. Both
# share the sharding, the state-table slot, and the no-false-negative
# pre-filter contract, so the crawl output is identical either way.


def build_filter(new_hashes: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    if cfg.seen_filter == "cuckoo":
        from monocator_spark.operators import cuckoo

        return cuckoo.build_shards(new_hashes, cfg)
    return build_shards(new_hashes, cfg)


def merge_filter(
    existing: DataFrame | None, delta: DataFrame, cfg: spec.CrawlConfig
) -> DataFrame:
    if cfg.seen_filter == "cuckoo":
        from monocator_spark.operators import cuckoo

        return cuckoo.merge_shards(existing, delta, cfg)
    return merge_shards(existing, delta, cfg)


def evict_filter(
    filt: DataFrame | None,
    gone: DataFrame,
    remaining: DataFrame,
    cfg: spec.CrawlConfig,
) -> DataFrame | None:
    """Drop ``gone(url_hash)`` keys from the pre-filter state (TTL / refresh
    eviction — the engine's ``evict_seen``).

    The two structures diverge exactly here: the cuckoo twin supports TRUE
    deletion (one fingerprint removed per insertion,
    ``cuckoo.delete_hashes``), while Bloom bits cannot be unset, so Bloom
    mode REBUILDS the affected shards from ``remaining`` — the post-evict
    exact seen rows — and keeps the untouched shards' bytes verbatim. The
    shard fan-out keeps the rebuild O(seen-in-affected-shards), not
    O(seen): evicting a handful of URLs re-hashes only their shards.

    Either way the no-false-negative contract is preserved: every key
    still in ``remaining`` is still maybe-seen afterwards. (Cuckoo may keep
    a residual false positive for an evicted key — a colliding fingerprint
    — which only costs that key the exact-confirm join, where it is now
    absent, so it correctly re-enters as new.)
    """
    if filt is None:
        return None
    if cfg.seen_filter == "cuckoo":
        from monocator_spark.operators import cuckoo

        return cuckoo.delete_hashes(filt, gone.select("url_hash"), cfg)
    affected = [
        r["shard"]
        for r in gone.select(shard_col("url_hash", cfg).alias("shard"))
        .distinct()
        .collect()  # O(shards) — bookkeeping, bounded by spec.BLOOM_SHARDS
    ]
    if not affected:
        return filt
    kept = filt.where(~F.col("shard").isin(affected))
    rebuilt = build_shards(
        remaining.where(shard_col("url_hash", cfg).isin(affected)).select(
            "url_hash"
        ),
        cfg,
    )
    return kept.unionByName(rebuilt)


def filter_new(
    cands: DataFrame,
    seen: DataFrame | None,
    bloom: DataFrame | None,
    cfg: spec.CrawlConfig,
) -> DataFrame:
    """Exact dedup: one left-anti join of the tagged candidates to `seen`.

    ``maybe_seen`` sits in the join condition, and every candidate enters
    the join. A definitely-new row could never match a seen row anyway (no
    false negatives), so the answer changes no row count: the result, the
    truly-new candidates, is the plain anti-join's. The probe runs once per
    candidate, never over `seen` (a ``where(maybe_seen)`` before the join
    would let Catalyst infer the probe onto `seen` through ``url_hash``).
    ``bloom`` is the state of whichever structure cfg.seen_filter selects.
    """
    if seen is None:
        return cands
    if cfg.seen_filter == "cuckoo":
        from monocator_spark.operators import cuckoo

        tagged = cuckoo.prefilter(cands, bloom, cfg)
    else:
        tagged = bloom_prefilter(cands, bloom, cfg)
    return tagged.join(
        seen.select(F.col("url_hash").alias("seen_hash")),
        (F.col("url_hash") == F.col("seen_hash")) & F.col("maybe_seen"),
        "left_anti",
    ).drop("maybe_seen")
