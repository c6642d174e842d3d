"""The bytes-bearing ``fetched`` table holds each fetch's corpus payload.

The flusher writes ``fetched`` straight from the epoch's cached validate
output, so no other test looks at the stored bytes themselves. This pins
them: on a crawl with change detection on (so the narrow ``phash_hist``
state path runs too), every OK row's ``bytes`` equal the corpus ``bytes``
of its ``image_id`` byte for byte, and every non-OK row (corrupt →
INVALID, oversize → OVERSIZE) stores NULL bytes.
"""

from __future__ import annotations

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.sim.simulator import OK
from monocator_spark.sources.store import SnapshotStore

N_IMAGES, N_HOSTS, N_SEEDS = 150, 8, 25
CORRUPT = frozenset(range(0, N_IMAGES, 13))
OVERSIZE = frozenset(range(5, N_IMAGES, 17))
CFG = spec.CrawlConfig(
    n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=30, change_detection=True,
)


def test_fetched_bytes_equal_corpus_bytes(spark, tmp_root):
    world = f"{tmp_root}/world-payload"
    dg.write_world(
        spark, world, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS,
        corrupt_ids=CORRUPT, oversize_ids=OVERSIZE,
    )
    store = SnapshotStore(f"{tmp_root}/state-payload")
    CrawlEngine(spark, store, world, CFG).run()
    corpus = {
        r.image_id: bytes(r.bytes)
        for r in spark.read.parquet(f"{world}/corpus").collect()
    }
    rows = store.load(spark, "fetched").select("image_id", "status", "bytes").collect()
    ok = [r for r in rows if r.status == OK]
    bad = [r for r in rows if r.status != OK]
    assert ok and bad  # both branches of the payload write ran
    for r in ok:
        assert bytes(r.bytes) == corpus[r.image_id], r.image_id
    assert all(r.bytes is None for r in bad)
