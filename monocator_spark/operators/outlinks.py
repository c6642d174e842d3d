"""Outlink expansion (SURVEY.md §2 O10) — multi-page visit analogue.

Reference analogue: following links up to `web.max_pages`
(/root/reference/src/TODO.MD:61), VAT found "on second page"
(/root/reference/src/mock-servers.MD:17).

The link graph is a pure hash function of the page URL (datagen F4), so the
engine regenerates outlinks *entirely with Catalyst expressions* —
xxhash64/pmod/concat/lpad/explode, zero Python — and must agree bit-for-bit
with ``datagen.corpus.outlinks_of`` (property-tested). The emitted raw URLs
include deliberately non-canonical variants, which then flow through the
shared enqueue path (canonicalizer UDF) like real extracted links.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from monocator_spark import spec
from monocator_spark.datagen.corpus import MEGA_HOST_SHARE

_UNIT = "(CAST(xxhash64(concat('hostpick|', t_image_id)) AS DOUBLE) / CAST(18446744073709551616 AS DOUBLE)) + 0.5"


def expand_outlinks(fetched_ok: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    """fetched_ok(url_norm, depth) → raw candidate links (url, depth).

    Only pages with depth < spec.MAX_DEPTH expand; k ∈ {0..3} links per page.
    """
    base = fetched_ok.where(F.col("depth") < spec.MAX_DEPTH).select("url_norm", "depth")
    k = F.pmod(F.xxhash64(F.concat(F.lit(spec.OUTLINK_PREFIX), F.col("url_norm"))), F.lit(4))
    df = (
        base.withColumn("k", k)
        .where(F.col("k") > 0)
        .withColumn("t", F.explode(F.sequence(F.lit(0), F.lit(2))))
        .where(F.col("t") < F.col("k"))
    )
    tgt = F.pmod(
        F.xxhash64(F.concat(F.format_string("oT%d|", "t"), F.col("url_norm"))),
        F.lit(cfg.n_images),
    )
    var = F.pmod(
        F.xxhash64(F.concat(F.format_string("oV%d|", "t"), F.col("url_norm"))),
        F.lit(4),
    )
    df = (
        df.withColumn("t_image_id", F.concat(F.lit("img"), F.lpad(tgt.cast("string"), 10, "0")))
        .withColumn("v", var)
    )
    # host assignment — identical formula to datagen.host_of_image
    if cfg.n_hosts == 1:
        t_host = F.lit("h0.example")
    else:
        idx = 1 + F.pmod(
            F.xxhash64(F.concat(F.lit("hostidx|"), F.col("t_image_id"))),
            F.lit(cfg.n_hosts - 1),
        )
        t_host = F.when(F.expr(_UNIT) < MEGA_HOST_SHARE, F.lit("h0.example")).otherwise(
            F.concat(F.lit("h"), idx.cast("string"), F.lit(".example"))
        )
    df = df.withColumn("t_host", t_host)
    # non-canonical variants (datagen.apply_variant): all normalize back
    url = (
        F.when(F.col("v") == 1,
               F.concat(F.lit("http://"), F.upper("t_host"), F.lit("/"), F.col("t_image_id")))
        .when(F.col("v") == 2,
              F.concat(F.lit("http://"), F.col("t_host"), F.lit(":80/"), F.col("t_image_id"), F.lit("#frag")))
        .when(F.col("v") == 3,
              F.concat(F.lit("http://"), F.col("t_host"), F.lit("/./"), F.col("t_image_id")))
        .otherwise(F.concat(F.lit("http://"), F.col("t_host"), F.lit("/"), F.col("t_image_id")))
    )
    return df.select(url.alias("url"), (F.col("depth") + 1).alias("depth"))
