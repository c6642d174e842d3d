#!/usr/bin/env python
"""Run the crawl engine on a pre-generated world and report throughput.

The north-rule metric: URLs scheduled+fetched/sec on a synthetic frontier
(seed-list replay), BASELINE.json:2. One invocation = one parallelism level;
``scripts/run_scaling.py`` invokes this twice (fresh JVM each) and checks
byte-identical outputs + scaling efficiency.

Determinism evidence emitted per run: order_checksum — an order-insensitive
sum of xxhash64(epoch, wave_pos, url_hash) over the full crawl-order table,
so it pins every URL to its exact global wave position — and seen_checksum
over the URL-seen set. Identical checksums across parallelism levels ⇒
identical crawl order and seen set.

Also usable under spark-submit for cluster packaging (north_rule:
"spark-submit --py-files"); the submitted master and ``--conf`` are kept,
``--cores`` then sets only the shuffle partitions, and without it the
partitions and the reported ``cores`` are the cluster's defaultParallelism:
    spark-submit --py-files dist/monocator_spark.zip \
        scripts/bench_crawl.py --world ... --out ...
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--world", required=True)
    ap.add_argument(
        "--cores", type=int, default=None,
        help="local[N] cores (default: get_spark's); under spark-submit the"
        " submitted master is kept and this sets only the shuffle partitions."
        " Reported as `cores`; without it, the session's defaultParallelism",
    )
    ap.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="shuffle partitions (default: --cores — 1 task/core — else"
        " get_spark's; a real cluster wants 2-4x total cores so stragglers"
        " don't idle slots)",
    )
    ap.add_argument(
        "--seen-filter", choices=["bloom", "cuckoo"], default="bloom",
        help="URL-seen pre-filter structure (north rule: bloom/cuckoo);"
        " either way the crawl output is byte-identical — the checksums"
        " prove it at world scale",
    )
    ap.add_argument("--wave-size", type=int, default=150_000)
    ap.add_argument("--epochs", type=int, default=3)
    ap.add_argument("--per-host-quota", type=int, default=8)
    ap.add_argument("--salt", type=int, default=16)
    ap.add_argument("--store", default=None, help="store dir (default: tmp)")
    ap.add_argument("--warmup", action="store_true", help="untimed warmup epoch first")
    ap.add_argument("--keep-store", action="store_true", help="keep the crawl store on disk after the run")
    ap.add_argument("--out", default=None, help="write JSON here as well as stdout")
    # O8/O12/O13 + O14 cost measurement: neither flag alters the schedule,
    # so the order/seen checksums must equal the lean run's — the delta is
    # the features' pure cost. --time-politeness is different: it SPREADS
    # the schedule across more epochs, so its runs are only comparable to
    # other --time-politeness runs.
    ap.add_argument("--tls", action="store_true", help="enable the TLS scan module")
    ap.add_argument(
        "--change-detection", action="store_true",
        help="enable cross-epoch lag(phash) change detection",
    )
    ap.add_argument(
        "--time-politeness", action="store_true",
        help="enable crawl-delay politeness (its OWN regime: the schedule"
        " spreads across more epochs, so checksums are not comparable to"
        " the lean run's — compare only against other --time-politeness runs)",
    )
    args = ap.parse_args()

    with open(os.path.join(args.world, "_WORLD_META.json")) as f:
        meta = json.load(f)

    from pyspark.sql import functions as F

    from monocator_spark import spec
    from monocator_spark.plans.epoch import CrawlEngine
    from monocator_spark.session import get_spark
    from monocator_spark.sources.store import SnapshotStore

    spark = get_spark(
        "bench-crawl",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions or args.cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = args.cores or spark.sparkContext.defaultParallelism

    store_dir = args.store or f"/tmp/mono_bench_store_c{cores}"
    shutil.rmtree(store_dir, ignore_errors=True)

    cfg = spec.CrawlConfig(
        n_images=meta["n_images"],
        n_hosts=meta["n_hosts"],
        wave_size=args.wave_size,
        per_host_quota=args.per_host_quota,
        salt_per_host=args.salt,
        # the URL universe is one URL per image: size the Bloom for it
        bloom_bits_per_shard=spec.bloom_bits_for(meta["n_images"]),
        seen_filter=args.seen_filter,
        cuckoo_buckets_per_shard=spec.cuckoo_buckets_for(meta["n_images"]),
        tls_scan=args.tls,
        change_detection=args.change_detection,
        time_politeness=args.time_politeness,
    )
    engine = CrawlEngine(spark, SnapshotStore(store_dir), args.world, cfg)

    if args.warmup:
        # untimed IO pre-warm: pull the world's parquet into the page cache
        # so the measured run is insensitive to what the PREVIOUS run's
        # writes evicted (the corpus re-read from disk otherwise skews
        # alternate runs by tens of seconds)
        import pathlib

        buf = bytearray(1 << 22)
        for p in pathlib.Path(args.world).rglob("*"):
            if p.is_file():
                with open(p, "rb", buffering=0) as fh:
                    while fh.readinto(buf):
                        pass
        # untimed warmup: same world, same code paths (canonicalize/validate
        # UDFs, distributed rank, bloom probe, parquet writes) into a
        # throwaway store — excludes JVM/codegen/Python-worker startup from
        # the measured steady-state throughput at BOTH parallelism levels.
        wstore = store_dir + "_warmup"
        shutil.rmtree(wstore, ignore_errors=True)
        wcfg = spec.CrawlConfig(
            n_images=meta["n_images"],
            n_hosts=meta["n_hosts"],
            wave_size=max(20_000, args.wave_size // 8),
            per_host_quota=args.per_host_quota,
            salt_per_host=args.salt,
            bloom_bits_per_shard=spec.bloom_bits_for(meta["n_images"]),
        )
        CrawlEngine(spark, SnapshotStore(wstore), args.world, wcfg).run(max_epochs=1)
        shutil.rmtree(wstore, ignore_errors=True)

    t0 = time.monotonic()
    stats = engine.run(max_epochs=args.epochs)
    elapsed = time.monotonic() - t0

    order = engine.order_df()
    order_checksum = order.select(
        F.expr("bit_xor(xxhash64(epoch, wave_pos, url_hash))").alias("c")
    ).collect()[0]["c"]
    seen = engine.seen_df()
    seen_row = seen.select(
        F.expr("bit_xor(xxhash64(url_hash))").alias("c"), F.count("*").alias("n")
    ).collect()[0]

    work = stats.scheduled + stats.fetched
    result = {
        "cores": cores,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "epochs": stats.epochs,
        "scheduled": stats.scheduled,
        "fetched": stats.fetched,
        "failed": stats.failed,
        "elapsed_sec": round(elapsed, 2),
        "urls_per_sec": round(work / elapsed, 1),
        "order_checksum": int(order_checksum),
        "seen_checksum": int(seen_row["c"]),
        "seen_count": int(seen_row["n"]),
        "wave_size": args.wave_size,
        "per_host_quota": args.per_host_quota,
        "salt_per_host": args.salt,
        "seen_filter": args.seen_filter,
        "world": meta,
        "per_epoch": stats.per_epoch,
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()
    if not args.keep_store:
        shutil.rmtree(store_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
