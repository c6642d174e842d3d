"""Cuckoo-filter URL-seen twin (operators/cuckoo.py; north rule
"bloom/cuckoo URL-seen set").

Layers pinned here:
  * numpy core — no false negatives, bounded false positives, content
    determinism regardless of insertion order, merge preserves membership,
    the overflow flag's all-maybe degradation, deletion;
  * Spark build/merge/prefilter — both probe paths (broadcast tensor and
    cogrouped per-shard) agree with a brute-force membership check;
  * the engine — a crawl with seen_filter="cuckoo" is byte-identical to the
    Bloom default (the pre-filter choice can never change crawl output).
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.operators import cuckoo
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.sources.store import SnapshotStore

CFG = spec.CrawlConfig(n_images=100, n_hosts=8, cuckoo_buckets_per_shard=1 << 10)


def _build_bits(hashes: np.ndarray, cfg=CFG) -> tuple[bytes, bool]:
    h = hashes.astype(np.int64)
    tbl = np.zeros(
        (cfg.cuckoo_buckets_per_shard, cuckoo.SLOTS_PER_BUCKET), dtype=np.uint16
    )
    overflow = cuckoo._insert_bulk(
        tbl, cuckoo._bucket1(h, cfg.cuckoo_buckets_per_shard), cuckoo._fingerprints(h)
    )
    return tbl.tobytes(), overflow


def test_alt_bucket_is_involution():
    rng = np.random.RandomState(7)
    fp = cuckoo._fingerprints(rng.randint(-(2**62), 2**62, size=1000, dtype=np.int64))
    b = rng.randint(0, 1 << 10, size=1000).astype(np.int64)
    b2 = cuckoo._alt_bucket(b, fp, 1 << 10)
    assert (cuckoo._alt_bucket(b2, fp, 1 << 10) == b).all()


def test_alt_one_matches_vectorized():
    rng = np.random.RandomState(9)
    fp = cuckoo._fingerprints(rng.randint(-(2**62), 2**62, size=500, dtype=np.int64))
    b = rng.randint(0, 1 << 13, size=500).astype(np.int64)
    vec = cuckoo._alt_bucket(b, fp, 1 << 13)
    for i in range(500):
        assert cuckoo._alt_one(int(b[i]), int(fp[i]), 1 << 13) == int(vec[i])


def test_no_false_negatives_and_bounded_fp():
    rng = np.random.RandomState(42)
    members = rng.randint(-(2**62), 2**62, size=3000, dtype=np.int64)
    bits, overflow = _build_bits(members)  # 3000 into 4096 slots = 73% load
    assert not overflow
    assert cuckoo.probe_hashes(members, bits, overflow, CFG).all()
    others = rng.randint(-(2**62), 2**62, size=20000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    fp_rate = cuckoo.probe_hashes(others, bits, False, CFG).mean()
    # 16-bit fingerprints, 2 buckets x 4 slots: theoretical ~2*4/65535
    assert fp_rate < 0.01


def test_content_determinism_across_input_order():
    rng = np.random.RandomState(1)
    members = rng.randint(-(2**62), 2**62, size=2000, dtype=np.int64)
    a, _ = _build_bits(members)
    b, _ = _build_bits(members[rng.permutation(len(members))])
    assert a == b  # build sorts: bytes are a function of the key SET


def test_bulk_insert_matches_sequential_membership():
    """_insert_bulk (two vectorized scatters + eviction residue) stores the
    same MULTISET of fingerprints as key-at-a-time insertion — byte layout
    may differ (slot order), membership may not."""
    rng = np.random.RandomState(11)
    members = rng.randint(-(2**62), 2**62, size=3000, dtype=np.int64)
    n_b = CFG.cuckoo_buckets_per_shard
    h = np.sort(members)
    b1, fp = cuckoo._bucket1(h, n_b), cuckoo._fingerprints(h)
    seq = np.zeros((n_b, cuckoo.SLOTS_PER_BUCKET), dtype=np.uint16)
    assert not cuckoo._insert_pairs(seq, b1, fp)
    blk = np.zeros((n_b, cuckoo.SLOTS_PER_BUCKET), dtype=np.uint16)
    assert not cuckoo._insert_bulk(blk, b1, fp)

    def content(t):
        bk, f = cuckoo._occupied(t)
        return sorted(zip(bk.tolist(), f.tolist()))

    # every key findable in both; the stored (bucket, fp) multisets may
    # differ only by which legal bucket of the pair holds an evicted fp
    assert cuckoo.probe_hashes(members, blk.tobytes(), False, CFG).all()
    assert len(content(seq)) == len(content(blk)) == len(h)


def test_overflow_degrades_to_all_maybe():
    cfg = dataclasses.replace(CFG, cuckoo_buckets_per_shard=8)  # 32 slots
    rng = np.random.RandomState(3)
    members = rng.randint(-(2**62), 2**62, size=200, dtype=np.int64)
    h = np.sort(members)
    tbl = np.zeros((8, cuckoo.SLOTS_PER_BUCKET), dtype=np.uint16)
    overflow = cuckoo._insert_pairs(
        tbl, cuckoo._bucket1(h, 8), cuckoo._fingerprints(h)
    )
    assert overflow
    # the flag guarantees no false negatives even for dropped fingerprints
    assert cuckoo.probe_hashes(members, tbl.tobytes(), overflow, cfg).all()


def test_delete_then_probe(spark):
    rng = np.random.RandomState(9)
    members = rng.randint(-(2**62), 2**62, size=1000, dtype=np.int64)
    filt = cuckoo.build_shards(
        spark.createDataFrame([(int(h),) for h in members], "url_hash long"), CFG
    )
    gone, kept = members[:100], members[100:]
    after = cuckoo.delete_hashes(
        filt,
        spark.createDataFrame([(int(h),) for h in gone], "url_hash long"),
        CFG,
    ).collect()
    by_shard = {r["shard"]: r for r in after}
    n_shards = spec.BLOOM_SHARDS

    def probe_all(hs: np.ndarray) -> np.ndarray:
        out = np.zeros(len(hs), dtype=bool)
        for i, h in enumerate(hs):
            r = by_shard[int(h) & (n_shards - 1)]
            out[i] = cuckoo.probe_hashes(
                np.array([h]), r["bits"], r["overflowed"], CFG
            )[0]
        return out

    assert probe_all(kept).all()  # deletions never evict other members
    # most deleted keys stop matching (a few may collide with kept fps)
    assert probe_all(gone).mean() < 0.2


def test_spark_build_merge_and_both_probe_paths(spark, monkeypatch):
    rng = np.random.RandomState(5)
    members = rng.randint(-(2**62), 2**62, size=4000, dtype=np.int64)
    half_a, half_b = members[:2000], members[2000:]
    df = lambda hs: spark.createDataFrame(  # noqa: E731
        [(int(h),) for h in hs], "url_hash long"
    )
    merged = cuckoo.merge_shards(
        cuckoo.build_shards(df(half_a), CFG), cuckoo.build_shards(df(half_b), CFG), CFG
    )
    assert not any(r["overflowed"] for r in merged.collect())
    from pyspark.sql import functions as F

    cands = df(members).withColumn("tag", F.col("url_hash") % 2)

    got_bc = {
        r["url_hash"]: r["maybe_seen"]
        for r in cuckoo.prefilter(cands, merged, CFG).collect()
    }
    assert all(got_bc[int(h)] for h in members)  # merge kept every member

    from monocator_spark.operators import dedup

    monkeypatch.setattr(dedup, "BROADCAST_PROBE_MAX_BYTES", 0)
    got_cg = {
        r["url_hash"]: r["maybe_seen"]
        for r in cuckoo.prefilter(cands, merged, CFG).collect()
    }
    assert got_bc == got_cg  # plan-only switch


# -- engine parity: the pre-filter structure cannot change crawl output -------

N_IMAGES, N_HOSTS, N_SEEDS = 150, 8, 25
BASE = spec.CrawlConfig(n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=30)


@pytest.fixture(scope="module")
def world(spark, tmp_root):
    d = f"{tmp_root}/world-cuckoo"
    dg.write_world(spark, d, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS)
    return d


def _crawl(spark, tmp_root, world, tag: str, cfg: spec.CrawlConfig):
    store = SnapshotStore(f"{tmp_root}/state-cuckoo-{tag}")
    eng = CrawlEngine(spark, store, world, cfg)
    eng.run()
    order = [
        (r.epoch, r.wave_pos, r.url_norm, r.url_hash)
        for r in eng.order_df().orderBy("epoch", "wave_pos").collect()
    ]
    seen = {(r.url_hash, r.url_norm) for r in eng.seen_df().collect()}
    fetched = sorted(
        (r.fetch_epoch, r.wave_pos, r.image_id, r.phash, r.status)
        for r in eng.fetched_df().collect()
    )
    return order, seen, fetched


def test_cuckoo_crawl_identical_to_bloom(spark, tmp_root, world):
    bloom_out = _crawl(spark, tmp_root, world, "bloom", BASE)
    cuckoo_out = _crawl(
        spark, tmp_root, world, "ck",
        dataclasses.replace(BASE, seen_filter="cuckoo"),
    )
    assert bloom_out == cuckoo_out


# --- property-based: model check vs a Python set (hypothesis) -----------------
def test_property_insert_delete_model():
    """Random key multisets + random delete subsets vs a set model. The
    invariants the crawl relies on, under arbitrary data:
      * no false negative for any still-present key (deletes included);
      * build bytes are a function of the key SET (order-free);
      * deleting keys never flips a present key to negative (the standard
        cuckoo-deletion contract: delete only inserted keys, once)."""
    from hypothesis import given, settings, strategies as st

    n_b = 1 << 9  # 512 buckets x 4 slots; cap load under capacity
    cfg = dataclasses.replace(CFG, cuckoo_buckets_per_shard=n_b)

    keys = st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=1200,
        unique=True,
    )

    @settings(max_examples=40, deadline=None)
    @given(data=st.data(), members=keys)
    def run(data, members):
        h = np.array(members, dtype=np.int64)
        tbl = np.zeros((n_b, cuckoo.SLOTS_PER_BUCKET), dtype=np.uint16)
        overflow = cuckoo._insert_bulk(
            tbl, cuckoo._bucket1(np.sort(h), n_b), cuckoo._fingerprints(np.sort(h))
        )
        # order-free bytes: a shuffled rebuild is byte-identical
        perm = data.draw(st.permutations(members))
        tbl2 = np.zeros_like(tbl)
        hp = np.sort(np.array(perm, dtype=np.int64))
        cuckoo._insert_bulk(tbl2, cuckoo._bucket1(hp, n_b), cuckoo._fingerprints(hp))
        assert tbl.tobytes() == tbl2.tobytes()
        # no false negatives (overflow only forces all-maybe, never negative)
        assert cuckoo.probe_hashes(h, tbl.tobytes(), overflow, cfg).all()
        if overflow:
            return  # deletion contract is defined for non-overflowed tables
        # delete a random subset once each; survivors must still probe true
        n_del = data.draw(st.integers(min_value=0, max_value=len(members)))
        gone = np.sort(h)[:n_del]
        kept = np.sort(h)[n_del:]
        fps = cuckoo._fingerprints(gone)
        b1s = cuckoo._bucket1(gone, n_b)
        b2s = cuckoo._alt_bucket(b1s, fps, n_b)
        for fp, b1, b2 in zip(fps, b1s, b2s):
            for cand in (int(b1), int(b2)):
                hit = np.nonzero(tbl[cand] == fp)[0]
                if hit.size:
                    tbl[cand, hit[0]] = 0
                    break
        if kept.size:
            assert cuckoo.probe_hashes(kept, tbl.tobytes(), False, cfg).all()

    run()
