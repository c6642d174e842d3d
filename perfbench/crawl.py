"""Crawl workloads: the cached world, the per-seed seed list, one measured
``CrawlEngine.run`` and the checks on its output.

Run as a script, this module generates one world (``python crawl.py DIR
META_JSON``); ``ensure_world`` does so in a child process so that the
measured process's first Spark session still starts a cold JVM.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

# the ROADMAP small pinned world (gen_world.py --images 200000 --hosts 20000
# --seeds 300000 --bucket --tiny) and a 0.1x world of the same shape that
# crawl_wide runs on. On 4 slots an epoch's wall time is
# bound by its 64-task stages, not by the world's size, so the smaller world
# keeps an epoch's cost and shortens only the bootstrap and the checks.
ROADMAP_WORLD = {
    "n_images": 200_000, "n_hosts": 20_000, "n_seeds": 300_000,
    "dup_frac": 0.2, "bucket_corpus": True, "tiny_images": True,
}
BENCH_WORLD = dict(ROADMAP_WORLD, n_images=20_000, n_hosts=2_000, n_seeds=30_000)


@dataclass(frozen=True)
class CrawlShape:
    world: dict
    keep: float  # share of the world's seed URLs kept, by hash(seed, URL)
    wave_size: int
    epochs: int


SHAPES = {
    # dense seeds: nearly every outlink is already seen; the wave takes the
    # distributed rank path (wave_size >= DISTRIBUTED_RANK_MIN_WAVE)
    "crawl_wide": CrawlShape(BENCH_WORLD, keep=0.9, wave_size=20_000, epochs=1),
    # ROADMAP's pinned run, full seed list: reproduces its checksums
    "crawl_wide_roadmap": CrawlShape(ROADMAP_WORLD, keep=1.0, wave_size=40_000, epochs=3),
}


def _world_id(meta: dict) -> str:
    return hashlib.sha256(json.dumps(meta, sort_keys=True).encode()).hexdigest()[:12]


def _read_meta(d: Path) -> dict | None:
    p = d / "_WORLD_META.json"
    return json.loads(p.read_text()) if p.is_file() else None


def ensure_world(work: Path, meta: dict) -> Path:
    """The world for ``meta``, generated once per checkout and reused by its
    meta. Generation writes a temp dir and renames it into place, so a
    killed generation leaves nothing that looks reusable."""
    out = work / "worlds" / f"world-{_world_id(meta)}"
    if _read_meta(out) is not None:
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.parent.mkdir(parents=True, exist_ok=True)
    subprocess.run(
        [sys.executable, __file__, str(tmp), json.dumps(meta)], check=True,
        stdout=subprocess.DEVNULL,
    )
    tmp.rename(out)
    return out


def _keep(url: str, seed: int, keep: float) -> bool:
    h = hashlib.blake2b(f"{seed}|{url}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "little") % 1_000_000 < keep * 1_000_000


def seeded_world(work: Path, base: Path, keep: float, seed: int) -> Path:
    """A world dir owned by the benchmark: the base world's seed URLs kept by
    hash(seed, URL), with corpus, corpus_bucketed and host_state linked to
    the cached base world."""
    if keep >= 1.0:
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = base.with_name(f"{base.name}-keep{keep}-seed{seed}")
    if _read_meta(out) is not None:
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "seeds").mkdir(parents=True)
    n_kept = 0
    # one output file per base file, so the seed scan keeps its partitioning
    for part in sorted((base / "seeds").glob("*.parquet")):
        urls = pq.read_table(part, columns=["url"]).column("url").to_pylist()
        kept = [u for u in urls if _keep(u, seed, keep)]
        n_kept += len(kept)
        pq.write_table(pa.table({"url": pa.array(kept, pa.string())}), tmp / "seeds" / part.name)
    for name in ("corpus", "corpus_bucketed", "host_state"):
        (tmp / name).symlink_to(base / name, target_is_directory=True)
    meta = dict(_read_meta(base), base_world=base.name, seed_keep=keep,
                workload_seed=seed, seeds_kept=n_kept)
    (tmp / "_WORLD_META.json").write_text(json.dumps(meta))
    tmp.rename(out)
    return out


def preread(world: Path) -> None:
    """Pull the world's files into the page cache (untimed)."""
    buf = bytearray(1 << 22)
    for p in sorted(world.resolve().rglob("*")):
        if p.is_file():
            with open(p, "rb", buffering=0) as fh:
                while fh.readinto(buf):
                    pass
    for name in ("corpus", "corpus_bucketed", "host_state"):
        if (world / name).is_symlink():
            preread((world / name).resolve())


def crawl_config(shape: CrawlShape, meta: dict):
    """The CrawlConfig of scripts/bench_crawl.py's defaults at this shape."""
    from monocator_spark import spec

    return spec.CrawlConfig(
        n_images=meta["n_images"],
        n_hosts=meta["n_hosts"],
        wave_size=shape.wave_size,
        per_host_quota=8,
        salt_per_host=16,
        bloom_bits_per_shard=spec.bloom_bits_for(meta["n_images"]),
        seen_filter="bloom",
        cuckoo_buckets_per_shard=spec.cuckoo_buckets_for(meta["n_images"]),
    )


def make_engine(spark, store_dir: Path, world: Path, cfg):
    from monocator_spark.plans.epoch import CrawlEngine
    from monocator_spark.sources.store import SnapshotStore

    shutil.rmtree(store_dir, ignore_errors=True)
    return CrawlEngine(spark, SnapshotStore(str(store_dir)), str(world), cfg)


def commit_times(store_dir: Path) -> dict[int, float]:
    """crawl_epoch -> manifest mtime (epoch time) for every committed manifest."""
    out = {}
    for p in (store_dir / "_manifests").glob("epoch-*.json"):
        out[json.loads(p.read_text())["meta"]["crawl_epoch"]] = p.stat().st_mtime
    return out


def measure(engine, store_dir: Path, shape: CrawlShape) -> dict:
    """One ``CrawlEngine.run`` with its wall time and commit timeline."""
    t_call = time.time()
    t0 = time.monotonic()
    stats = engine.run(max_epochs=shape.epochs)
    wall = time.monotonic() - t0
    commits = commit_times(store_dir)
    epochs = sorted(e for e in commits if e >= 0)
    # one epoch's period: from the previous commit, the bootstrap's for epoch 0
    periods = [commits[e] - commits[e - 1] for e in epochs if e - 1 in commits]
    return {
        "wall_s": wall,
        "epochs": stats.epochs,
        "scheduled": stats.scheduled,
        "fetched": stats.fetched,
        "failed": stats.failed,
        "urls_per_s": (stats.scheduled + stats.fetched) / wall,
        "first_commit_s": commits[epochs[0]] - t_call if epochs else None,
        "epoch_periods_s": periods,
        "per_epoch": stats.per_epoch,
    }


def outputs(engine) -> dict:
    """Checksums (scripts/bench_crawl.py's definitions) and invariants of the
    crawl order and URL-seen set."""
    from pyspark.sql import functions as F

    order, seen = engine.order_df(), engine.seen_df()
    o = order.select(
        F.expr("bit_xor(xxhash64(epoch, wave_pos, url_hash))").alias("c"),
        F.count("*").alias("n"),
        F.countDistinct("url_hash").alias("n_urls"),
    ).collect()[0]
    s = seen.select(
        F.expr("bit_xor(xxhash64(url_hash))").alias("c"), F.count("*").alias("n"),
        F.countDistinct("url_hash").alias("n_urls"),
    ).collect()[0]
    waves = order.groupBy("epoch").agg(
        F.count("*").alias("n"), F.min("wave_pos").alias("lo"),
        F.max("wave_pos").alias("hi"), F.countDistinct("wave_pos").alias("d"),
    ).collect()
    unseen = order.join(seen, "url_hash", "left_anti").count()
    lin = engine.store.load(engine.spark, "lineage")
    emitted = hits = 0
    if lin is not None:
        r = lin.select(F.sum("urls_emitted").alias("e"), F.sum("dedup_hits").alias("h")).collect()[0]
        emitted, hits = int(r["e"] or 0), int(r["h"] or 0)
    return {
        "order_checksum": int(o["c"]),
        "seen_checksum": int(s["c"]),
        "seen_count": int(s["n"]),
        "order_rows": int(o["n"]),
        "order_distinct_urls": int(o["n_urls"]),
        "seen_distinct_urls": int(s["n_urls"]),
        "waves_dense": all(w["lo"] == 0 and w["hi"] == w["n"] - 1 == w["d"] - 1 for w in waves),
        "order_not_in_seen": int(unseen),
        "outlinks_emitted": emitted,
        "outlinks_new": emitted - hits,
    }


PINNED_KEYS = ("order_checksum", "seen_checksum", "seen_count", "scheduled", "fetched", "failed")


def check(run: dict, out: dict, pinned: dict | None) -> list[str]:
    """Mismatches against the pinned outcome of this (workload, seed), plus
    the invariants every crawl must satisfy."""
    bad = []
    got = {**{k: run[k] for k in ("scheduled", "fetched", "failed")}, **out}
    if pinned is not None:
        bad += [f"{k}: {got[k]} != pinned {pinned[k]}" for k in PINNED_KEYS
                if pinned.get(k) is not None and got[k] != pinned[k]]
    if out["order_rows"] != run["scheduled"]:
        bad.append(f"order rows {out['order_rows']} != scheduled {run['scheduled']}")
    if out["order_distinct_urls"] != out["order_rows"]:
        bad.append("a URL was scheduled twice")
    if out["seen_distinct_urls"] != out["seen_count"]:
        bad.append("the seen set holds a URL twice")
    if not out["waves_dense"]:
        bad.append("wave positions are not 0..n-1 in every epoch")
    if out["order_not_in_seen"]:
        bad.append(f"{out['order_not_in_seen']} scheduled URLs missing from seen")
    if run["fetched"] + run["failed"] > run["scheduled"]:
        bad.append("fetched + failed exceeds scheduled")
    return bad


def store_footprint(store_dir: Path) -> dict:
    files = size = 0
    for p in store_dir.rglob("*"):
        if p.is_file():
            files += 1
            size += p.stat().st_size
    manifests = sorted((store_dir / "_manifests").glob("epoch-*.json"))
    return {
        "written_mb": size / 1e6,
        "files": files,
        "manifest_kb": manifests[-1].stat().st_size / 1e3 if manifests else 0.0,
    }


def _generate(out: str, meta: dict) -> None:
    from environment import stop_jvm
    from monocator_spark.datagen.distributed import write_world_distributed
    from monocator_spark.session import get_spark

    spark = get_spark("perfbench-world", cores=4, extra_conf=json.loads(os.environ["PERFBENCH_SPARK_CONF"]))
    t0 = time.monotonic()
    write_world_distributed(
        spark, out, n_images=meta["n_images"], n_hosts=meta["n_hosts"],
        n_seeds=meta["n_seeds"], dup_frac=meta["dup_frac"],
        bucket_corpus=meta["bucket_corpus"], tiny_images=meta["tiny_images"],
    )
    spark.stop()
    stop_jvm()
    meta = dict(meta, gen_sec=round(time.monotonic() - t0, 1), gen_cores=4)
    Path(out, "_WORLD_META.json").write_text(json.dumps(meta))


if __name__ == "__main__":
    _generate(sys.argv[1], json.loads(sys.argv[2]))
