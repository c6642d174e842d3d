"""Fetch + payload validation (SURVEY.md §2 O9, O11, O16).

Reference analogues: `PageFetcher` max-body enforcement
(/root/reference/src/mock-servers.MD:1-4), VAT format/checksum validation
(/root/reference/src/mock-servers.MD:16-20), erroring page → recorded not
fatal (/root/reference/src/mock-servers.MD:22).

"Fetch" is seed-list replay against the corpus table (BASELINE.json:2): an
equi-join of the wave on image_id. The wave is bounded (≤ wave_size rows)
while the corpus is the 100 TB side, so the wave is broadcast — the corpus
is never shuffled and its `bytes` column is only read for joined rows
(parquet row-group pruning via the broadcast hash join's dynamic filter at
scale; never project `bytes` before the wave cut, SURVEY.md §7).

Validation (status 200/404/413/422) runs as ONE grouped Arrow-batched
pandas UDF over (bytes, dims, caption, phash) — per-row numpy decode inside
a batch, zero row-at-a-time Python at the Spark level.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.functions.imaging import decode, phash64, pixels_for, psnr_db
from monocator_spark.sim.simulator import INVALID, MISSING, OK, OVERSIZE


def make_validate_udf(cfg: spec.CrawlConfig):
    max_body, psnr_min = cfg.max_body_bytes, cfg.psnr_min_db

    def validate(
        image_id: pd.Series,
        data: pd.Series,
        w: pd.Series,
        h: pd.Series,
        caption: pd.Series,
        phash: pd.Series,
    ) -> pd.Series:
        out = np.empty(len(data), dtype=np.int32)
        for i in range(len(data)):
            b = data.iloc[i]
            if b is None:
                out[i] = MISSING
                continue
            if len(b) > max_body:
                out[i] = OVERSIZE
                continue
            try:
                px, fmt = decode(bytes(b))
            except ValueError:
                out[i] = INVALID
                continue
            iid = image_id.iloc[i]
            ref = pixels_for(iid, int(w.iloc[i]), int(h.iloc[i]))
            if fmt == "png":
                ok = np.array_equal(px, ref)
            else:
                ok = psnr_db(ref, px) >= psnr_min
            if not ok or caption.iloc[i] != dg.caption_of_image(iid) or phash64(px) != int(phash.iloc[i]):
                out[i] = INVALID
                continue
            out[i] = OK
        return pd.Series(out)

    return F.pandas_udf(validate, IntegerType())


def fetch_wave(
    wave: DataFrame, corpus: DataFrame, cfg: spec.CrawlConfig
) -> DataFrame:
    """wave ⟕ corpus on image_id + validation status column.

    An outer join can't broadcast its preserved side, so the left join is
    decomposed around two corpus reads that are each as cheap as possible:

    * hits — INNER join with the bounded wave broadcast; the 100 TB corpus
      is never shuffled, and this payload-bearing scan is consumed exactly
      once (by the caller's persist of the validated result), so the
      ``bytes`` column never sits in an extra cache tier.
    * misses (404s) — LEFT ANTI join of the wave against the hit keys.
      Column pruning cuts the hit-key subplan to the corpus key column only
      (parquet reads ~0.1% of the table; never the payload), and the
      resulting broadcast is ≤ wave_size rows — nothing scales with the
      corpus. (Deliberately NOT persisted: caching the hit rows would
      force a full-width 'bytes' materialization that defeats pruning.)

    Validation (the decode/PSNR/caption pandas UDF) runs only on hit rows;
    misses are MISSING by construction and never cross the Arrow boundary.

    Both wave-bounded join sides (the wave itself and the hit-key set) are
    broadcast only below hints.WAVE_BROADCAST_MAX; above it the joins fall
    back to shuffle joins (the bucketed layout, ``fetch_wave_bucketed``, is
    the intended at-scale path — this fallback keeps the generic path
    correct rather than OOMing the driver on a 10^8-row wave).
    """
    from monocator_spark.operators.hints import wave_side

    keyed = wave.withColumn("image_id", F.substring_index("url_norm", "/", -1))
    bkeyed = wave_side(keyed, cfg)
    hit = corpus.join(bkeyed, "image_id", "inner")
    miss = keyed.join(
        wave_side(hit.select("image_id"), cfg), "image_id", "left_anti"
    ).select(
        "image_id",
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(None).cast("long").alias("phash"),
        *[c for c in keyed.columns if c != "image_id"],
    )
    validate_udf = make_validate_udf(cfg)
    validated_hit = hit.withColumn(
        "status",
        validate_udf("image_id", "bytes", "w", "h", "caption", "phash"),
    )
    return validated_hit.unionByName(
        miss.withColumn("status", F.lit(MISSING).cast("int"))
    )


def fetch_wave_bucketed(
    wave: DataFrame, corpus_tbl: DataFrame, cfg: spec.CrawlConfig
) -> DataFrame:
    """Fetch against a bucketed+sorted corpus table — the at-scale layout.

    One LEFT OUTER sort-merge join: the corpus side needs neither shuffle
    nor sort (bucketed + sortBy(image_id) at write), only the bounded wave
    is shuffled into the corpus's bucketing. No driver-side broadcast build
    at all — every byte of epoch-critical-path work is executor-parallel.
    Misses surface as null corpus columns; the validation UDF maps a null
    payload to MISSING, so hit/miss needs no second join.

    The join keeps the corpus's bucket count (64 in the bench worlds) as
    its partition count; the joined rows are coalesced (no shuffle) to the
    cluster's slot count before the validate UDF. Each Python task pays a
    fixed start-up charge whatever its row count — about 0.2 CPU-s on a
    4-vCPU host, mostly pyspark's per-task ``importlib.invalidate_caches()``
    re-reading the zipped package — so validating a 64-bucket join in 64
    small tasks on 4 slots spent most of its Python time on that charge.
    Every reader of the cached result (retry / perm-failed, outlink
    expansion with its canonicalizer, the next frontier, the output
    flushes) inherits the coalesced partitioning. Where slots ≥ buckets
    the coalesce is a no-op.
    """
    keyed = wave.withColumn("image_id", F.substring_index("url_norm", "/", -1))
    slots = wave.sparkSession.sparkContext.defaultParallelism
    joined = keyed.join(corpus_tbl, "image_id", "left").coalesce(slots)
    validate_udf = make_validate_udf(cfg)
    return joined.withColumn(
        "status",
        validate_udf("image_id", "bytes", "w", "h", "caption", "phash"),
    )
