#!/usr/bin/env python
"""Generate (or reuse) a synthetic crawl world for the scaling bench.

Distributed datagen (``write_world_distributed``) — the world is a pure
function of (n_images, n_hosts, n_seeds, dup_frac), so an existing dir with
a matching ``_WORLD_META.json`` is reused as-is. The SAME world directory
must back both parallelism levels of the scaling run ("identical job,
identical input", BASELINE.md evidence protocol).

The corpus is always also written as the bucketed ``corpus_bucketed``
table: it is the layout that keeps the fetch join from shuffling the
corpus, so a plain-only corpus is left to the small unit-test worlds
(``datagen.corpus.write_world``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def world_meta(args: argparse.Namespace) -> dict:
    return {
        "n_images": args.images,
        "n_hosts": args.hosts,
        "n_seeds": args.seeds,
        "dup_frac": args.dup_frac,
        "bucket_corpus": True,
        "tiny_images": bool(args.tiny),
    }


def ensure_world(out_dir: str, meta: dict, cores: int = 32) -> dict:
    mpath = os.path.join(out_dir, "_WORLD_META.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            existing = json.load(f)
        # absent boolean keys mean False (older metas predate tiny_images):
        # a spurious mismatch here would silently REGENERATE a 16 GB world
        if {k: bool(existing.get(k, False)) if isinstance(v, bool) else existing.get(k)
                for k, v in meta.items()} == meta:
            return existing
    from monocator_spark.datagen.distributed import write_world_distributed
    from monocator_spark.session import get_spark

    # image-bearing gen needs a real heap; the default 8g OOMs on the
    # 32-way mixed-size-image write (SPARK_DRIVER_MEM still wins if set)
    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
    spark = get_spark("gen-world", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    write_world_distributed(
        spark,
        out_dir,
        n_images=meta["n_images"],
        n_hosts=meta["n_hosts"],
        n_seeds=meta["n_seeds"],
        dup_frac=meta["dup_frac"],
        bucket_corpus=True,
        tiny_images=meta.get("tiny_images", False),
    )
    meta = dict(meta, gen_sec=round(time.monotonic() - t0, 1), gen_cores=cores)
    with open(mpath, "w") as f:
        json.dump(meta, f)
    spark.stop()
    return meta


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--images", type=int, default=1_000_000)
    ap.add_argument("--hosts", type=int, default=50_000)
    ap.add_argument("--seeds", type=int, default=1_500_000)
    ap.add_argument("--dup-frac", type=float, default=0.2)
    ap.add_argument("--cores", type=int, default=32)
    # accepted so older command lines still parse; the bucketed table is
    # always written (module docstring)
    ap.add_argument("--bucket", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--tiny", action="store_true", help="32x32 images only (scheduler-bound regime)")
    args = ap.parse_args()
    meta = ensure_world(args.out, world_meta(args), cores=args.cores)
    print(json.dumps(meta))


if __name__ == "__main__":
    main()
