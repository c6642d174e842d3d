"""Fetch + payload validation (SURVEY.md §2 O9, O11, O16).

Reference analogues: `PageFetcher` max-body enforcement
(/root/reference/src/mock-servers.MD:1-4), VAT format/checksum validation
(/root/reference/src/mock-servers.MD:16-20), erroring page → recorded not
fatal (/root/reference/src/mock-servers.MD:22).

"Fetch" is seed-list replay against the corpus table (BASELINE.json:2): one
LEFT join of the wave to the corpus on image_id, whatever the corpus
layout. What keeps the 100 TB corpus from being shuffled is the bucketed
layout (``datagen.distributed.register_bucketed_corpus``): the corpus is
bucketed and sorted on image_id at ingest, so only the bounded wave moves.
``scripts/gen_world.py`` always writes that table; a plain-parquet corpus
is left to the small unit-test worlds, where Spark broadcasts it. A plain
corpus too big to broadcast would be shuffled, payloads included, by a
sort-merge join every epoch: write large corpora bucketed. Never project
`bytes` before the wave cut (SURVEY.md §7).

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
    max_body, psnr_min = spec.MAX_BODY_BYTES, spec.PSNR_MIN_DB

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


def fetch_wave_bucketed(
    wave: DataFrame, corpus_tbl: DataFrame, cfg: spec.CrawlConfig
) -> DataFrame:
    """wave ⟕ corpus on image_id + validation status column.

    The one fetch, for either corpus layout. Against the bucketed+sorted
    corpus table (the at-scale layout) it is one sort-merge join whose
    corpus side needs neither shuffle nor sort: only the bounded wave is
    shuffled into the corpus's bucketing, with no driver-side broadcast
    build. Misses surface as null corpus columns; the validation UDF maps a
    null payload to MISSING, so hit/miss needs no second join.

    The validate UDF sees ``phash`` coalesced to 0. A miss row's null
    ``phash`` would otherwise turn that column of its whole Arrow batch
    into pandas float64, which cannot hold a 64-bit hash exactly, and the
    batch's valid images would fail the phash check (422). A miss is still
    MISSING: its null ``bytes`` is checked first. The ``phash`` column
    itself stays null for misses.

    The join keeps the corpus's bucket count (64 in the bench worlds) as
    its partition count; the joined rows are coalesced (no shuffle) to the
    cluster's slot count before the validate UDF. Each Python task pays a
    fixed charge whatever its row count: about 15 ms of worker CPU for an
    RDD task and 35 ms for a ``mapInPandas`` task on a 4-vCPU host, with the
    worker launcher of ``session.py`` (about 0.2 CPU-s without it, see the
    ROADMAP's "Python task cost"). Validating a 64-bucket join in 64 small
    tasks on 4 slots would pay it 16 times per slot instead of once.
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
        validate_udf(
            "image_id", "bytes", "w", "h", "caption",
            F.coalesce("phash", F.lit(0).cast("long")),
        ),
    )
