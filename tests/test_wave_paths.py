"""Single-partition reference rank vs distributed global rank — identical waves.

``select_wave`` ranks every wave with ``_ranked_distributed`` (a bucket
window over analytic priority ranges). This pins that it produces exactly
the (url, wave_pos) set of the plain single-partition rank
(``orderBy().limit()`` plus a global ``row_number``), restated inline here
as the reference, on the same schedulable input and at capped, uncapped
and in-between wave sizes, so the rank can never change crawl order (the
BENCH determinism gate).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.operators import enqueue, politeness


@pytest.fixture(scope="module")
def schedulable(spark):
    seeds = spark.createDataFrame(
        dg.build_seeds(4000, 3000, 20)
    ).withColumn("depth", F.lit(0))
    cands = enqueue.dedup_within_batch(enqueue.prepare_candidates(seeds))
    # synthetic quota column like the politeness gate would attach
    return cands.withColumn(
        "quota", (F.pmod(F.xxhash64("host"), F.lit(3)) + 2).cast("int")
    ).cache()


@pytest.mark.parametrize("wave_size", [100, 1500, 10**6])
def test_paths_identical(schedulable, wave_size):
    cfg = spec.CrawlConfig(n_images=3000, n_hosts=20, wave_size=wave_size)
    order = [F.col("priority").desc(), F.col("url_hash").asc()]

    # reference: the single-partition rank
    w2 = politeness.Window.partitionBy("host").orderBy(*order)
    salted = schedulable.withColumn(
        "salt", F.pmod(F.col("url_hash"), F.lit(cfg.salt_per_host)).cast("int")
    )
    w1 = politeness.Window.partitionBy("host", "salt").orderBy(*order)
    quota_rows = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= F.col("quota"))
        .drop("rn1", "salt")
        .withColumn("rn2", F.row_number().over(w2))
        .where(F.col("rn2") <= F.col("quota"))
        .drop("rn2", "quota")
    )
    legacy = (
        quota_rows.orderBy(*order)
        .limit(wave_size)
        .withColumn(
            "wave_pos",
            F.row_number().over(politeness.Window.orderBy(*order)) - 1,
        )
    )
    dist = politeness._ranked_distributed(quota_rows, wave_size)

    a = sorted((r.url_hash, r.wave_pos) for r in legacy.collect())
    b = sorted((r.url_hash, r.wave_pos) for r in dist.collect())
    assert a == b
    assert len(a) > 0
