"""Broadcast vs shuffle wave-key joins — identical crawl output.

The epoch pipeline's wave-bounded join sides (next-frontier anti-join,
scan-cache probe, change-detection history prune)
broadcast only below ``hints.WAVE_BROADCAST_MAX``; a 10^8-row wave at full
scale takes the shuffle-join path instead (operators/hints.wave_side).
This pins that the switch is PLAN-ONLY: the same world crawled with the
ceiling at its default (everything broadcasts) and forced to 0 (nothing
broadcasts) produces byte-identical order / seen / fetched / tls / dns /
smtp tables — the last three cover the shared scan-cache kernel
(``scan.cached_probe``) for every module.
"""

from __future__ import annotations

import pytest

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.operators import hints
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.sources.store import SnapshotStore

N_IMAGES, N_HOSTS, N_SEEDS = 150, 8, 25
BASE = spec.CrawlConfig(
    n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=30,
    tls_scan=True, dns_scan=True, smtp_scan=True,
)


@pytest.fixture(scope="module")
def world(spark, tmp_root):
    d = f"{tmp_root}/world-wavebc"
    dg.write_world(spark, d, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS)
    return d


def _crawl(spark, tmp_root, world, tag: str):
    store = SnapshotStore(f"{tmp_root}/state-wavebc-{tag}")
    eng = CrawlEngine(spark, store, world, BASE)
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
    tls = sorted(
        (r.epoch, r.host, r.ip, r.connect_ok, r.cache_hit)
        for r in eng.tls_df().collect()
    )
    dns = sorted(
        (r.epoch, r.host, r.n_records, str(r.records), r.cache_hit)
        for r in eng.dns_df().collect()
    )
    smtp = sorted(
        (r.epoch, r.host, r.ip, r.port, r.connect_ok, r.banner or "", r.cache_hit)
        for r in eng.smtp_df().collect()
    )
    return order, seen, fetched, tls, dns, smtp


def test_broadcast_and_shuffle_paths_identical(spark, tmp_root, world, monkeypatch):
    bc = _crawl(spark, tmp_root, world, "bc")
    # ceiling 0: every wave-side join falls back to shuffle
    monkeypatch.setattr(hints, "WAVE_BROADCAST_MAX", 0)
    sh = _crawl(spark, tmp_root, world, "sh")
    assert bc[0] == sh[0] and len(bc[0]) > 0   # crawl order
    assert bc[1] == sh[1]                      # seen set
    assert bc[2] == sh[2] and len(bc[2]) > 0   # fetched rows
    assert bc[3] == sh[3] and len(bc[3]) > 0   # tls rows (scan-cache probe)
    assert bc[4] == sh[4] and len(bc[4]) > 0   # dns rows (host-keyed cache)
    assert bc[5] == sh[5] and len(bc[5]) > 0   # smtp rows (ip-keyed cache)
    # the cached side of the probe is exercised, not only fresh probes
    assert all(any(r[-1] for r in rows) for rows in bc[3:])
