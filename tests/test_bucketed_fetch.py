"""Bucketed corpus fetch ≡ reference simulator ≡ plain corpus fetch.

The bench worlds ship a bucketed+sorted corpus table (the 100 TB layout);
unit worlds may have only the plain parquet corpus. The engine runs the one
fetch (``fetch.fetch_wave_bucketed``) over either layout. Two seeds point
past the corpus, as in ``test_e2e_crawl.py``, so 404 rows share Arrow
batches with valid images in the validate UDF. The bucketed run must equal
the reference simulator row for row (order, seen, fetched, failed), and
the plain-layout run must equal the bucketed one.

The bucketed run reads its world through a ``file://`` URI: the engine
probes for the bucketed layout through the Hadoop FileSystem, so the URI
must still select it.
"""

from __future__ import annotations

import pytest

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.datagen.distributed import write_world_distributed
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.sim.simulator import MISSING, ReferenceSimulator
from monocator_spark.sources.store import SnapshotStore

N_IMAGES, N_HOSTS, N_SEEDS = 400, 11, 160
CFG = spec.CrawlConfig(
    n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=60, per_host_quota=4
)
EPOCHS = 6
# missing-page fixture: two seeds point past the corpus (404 + retry path)
SEEDS = dg.build_seeds(N_SEEDS, N_IMAGES, N_HOSTS)["url"].tolist() + [
    f"http://h1.example/img{N_IMAGES + 5:010d}",
    f"http://h2.example/img{N_IMAGES + 6:010d}",
]


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bucketed") / "world")
    write_world_distributed(
        spark, d, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS,
        partitions=4, bucket_corpus=True,
    )
    spark.createDataFrame([(u,) for u in SEEDS], "url string").write.mode(
        "overwrite"
    ).parquet(f"{d}/seeds")
    return d


def _rows(eng):
    order = [
        (r.epoch, r.wave_pos, r.url_hash)
        for r in eng.order_df().orderBy("epoch", "wave_pos").collect()
    ]
    seen = sorted(r.url_hash for r in eng.seen_df().collect())
    fetched = sorted(
        (r.url_hash, r.image_id, r.caption, r.phash, r.fetch_epoch, r.wave_pos)
        for r in eng.fetched_df().collect()
    )
    failed = sorted(
        (r.url_hash, r.status, r.epoch)
        for r in eng.failed_df().collect()
    )
    return order, seen, fetched, failed


@pytest.fixture(scope="module")
def bucketed(spark, world, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("s_bucketed"))
    eng = CrawlEngine(spark, SnapshotStore(store), f"file://{world}", CFG)
    eng.run(max_epochs=EPOCHS)
    return eng, _rows(eng)


def test_bucketed_matches_simulator(bucketed):
    eng, (order, seen, fetched, failed) = bucketed
    # the file:// world still selected the bucketed layout
    assert all("/corpus_bucketed/" in f for f in eng.corpus.inputFiles())
    sres = ReferenceSimulator(
        dg.build_corpus(N_IMAGES).to_dict("records"),
        dg.build_host_state(N_HOSTS, N_IMAGES).to_dict("records"),
        CFG,
    ).run(SEEDS, max_epochs=EPOCHS)
    assert order == [(d["epoch"], d["wave_pos"], d["url_hash"]) for d in sres.order]
    assert seen == sorted(sres.seen)
    assert fetched == sorted(
        (d["url_hash"], d["image_id"], d["caption"], d["phash"],
         d["fetch_epoch"], d["wave_pos"])
        for d in sres.fetched
    )
    assert failed == sorted(
        (d["url_hash"], d["status"], d["epoch"]) for d in sres.failed
    )
    # the missing seeds really exercised 404
    assert MISSING in {s for _, s, _ in failed}


def test_bucketed_equals_broadcast(spark, world, bucketed, tmp_path):
    """The plain parquet corpus (broadcast when small) gives the same rows."""
    eng = CrawlEngine(spark, SnapshotStore(str(tmp_path / "s_plain")), world, CFG)
    eng.corpus = spark.read.parquet(f"{world}/corpus")
    eng.run(max_epochs=EPOCHS)
    got, want = _rows(eng), bucketed[1]
    assert got[0] == want[0] and len(got[0]) > 0
    assert got[1:] == want[1:]
