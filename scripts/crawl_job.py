#!/usr/bin/env python
"""Production crawl job — the spark-submit entry point.

Runs (or exactly resumes) a crawl over a world directory: if the store
already holds committed epochs, the run continues from the last manifest
(the SnapshotStore checkpoint semantics — north_rule: "resumable from
checkpoint"). Kill it at any point; rerunning with the same arguments
completes the crawl with byte-identical outputs.

Cluster (``monocator_spark.session.DRIVER_MEMORY`` and
``DRIVER_JAVA_OPTIONS`` go on the submit line; ``get_spark`` keeps the
submitted master and ``--conf`` and adds the session settings they lack):
    spark-submit --py-files dist/monocator_spark.zip \
        --driver-memory <DRIVER_MEMORY> \
        --conf spark.driver.defaultJavaOptions=<DRIVER_JAVA_OPTIONS> \
        scripts/crawl_job.py --world <path> --store <path> [--max-epochs K]
Local:
    python scripts/crawl_job.py --world <path> --store <path> --cores 16
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--world", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--max-epochs", type=int, default=1000)
    ap.add_argument("--wave-size", type=int, default=None)
    ap.add_argument("--per-host-quota", type=int, default=None)
    ap.add_argument(
        "--cores", type=int, default=None,
        help="local[N] cores; under spark-submit the submitted master is"
        " kept and this sets only the shuffle partitions",
    )
    ap.add_argument(
        "--reenqueue", default=None, metavar="FILE",
        help="ops hook: file of URLs (one per line) to force-refetch before"
        " running — seen set untouched (O14 forced recrawl)",
    )
    ap.add_argument(
        "--evict-seen", default=None, metavar="FILE",
        help="ops hook: file of URLs (one per line) to FORGET from the"
        " URL-seen state before running — TTL/refresh eviction; discovery"
        " re-admits them (cuckoo: fingerprint deletion; bloom:"
        " affected-shard rebuild)",
    )
    args = ap.parse_args()

    from monocator_spark import spec
    from monocator_spark.plans.epoch import CrawlEngine
    from monocator_spark.session import get_spark
    from monocator_spark.sources.store import SnapshotStore

    spark = get_spark("crawl-job", cores=args.cores, shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    with open(os.path.join(args.world, "_WORLD_META.json")) as f:
        meta = json.load(f)
    overrides = {}
    if args.wave_size:
        overrides["wave_size"] = args.wave_size
    if args.per_host_quota:
        overrides["per_host_quota"] = args.per_host_quota
    cfg = spec.CrawlConfig(
        n_images=meta["n_images"], n_hosts=meta["n_hosts"], **overrides
    )
    engine = CrawlEngine(spark, SnapshotStore(args.store), args.world, cfg)
    for path, op in ((args.evict_seen, "evict"), (args.reenqueue, "reenqueue")):
        if not path:
            continue
        with open(path) as f:
            urls = [ln.strip() for ln in f if ln.strip()]
        if not urls:
            continue
        if op == "evict":
            print(json.dumps({"evicted": engine.evict_seen(urls)}))
        else:
            engine.reenqueue(urls)
            print(json.dumps({"reenqueued": len(urls)}))
    stats = engine.run(max_epochs=args.max_epochs)
    print(
        json.dumps(
            {
                "epochs": stats.epochs,
                "scheduled": stats.scheduled,
                "fetched": stats.fetched,
                "failed": stats.failed,
                "elapsed_sec": round(stats.elapsed_sec, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
