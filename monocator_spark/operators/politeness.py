"""Politeness gate + wave selection (SURVEY.md §2 O1, O5, O6, O7).

Reference analogues: `BlacklistEntry`/`BlackListRepository`
(/root/reference/src/TODO.MD:11-13), per-module gating + `web.max_pages`
budget (/root/reference/src/TODO.MD:57-76), Mercator per-host politeness
[canon].

All JVM-side: the robots longest-prefix match is a Catalyst higher-order
function over the per-host rules array (no UDF), the blacklist is a
broadcast filter, and the per-host quota is a *salted two-phase* window
rank so a mega-host owning 30% of the frontier cannot pin a single shuffle
partition (north_star: "salted window-ranked DataFrame batches to defeat
host-key skew").
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Window, functions as F

from monocator_spark import spec

# longest-prefix-wins, allow-wins-ties (RFC 9309): struct ordering on
# (prefix_len, allow) makes array_max pick exactly that rule.
_ROBOTS_ALLOWED = (
    "coalesce(array_max(transform("
    "  filter(robots_rules, r -> startswith(parse_url(url_norm, 'PATH'), r.path_prefix)),"
    "  r -> struct(length(r.path_prefix) AS l, r.allow AS a)"
    ")).a, true)"
)


def gate(pending: DataFrame, host_state: DataFrame, cfg: spec.CrawlConfig) -> tuple[DataFrame, DataFrame]:
    """→ (schedulable-with-quota, denied).

    Robots / blacklist / budget verdicts are STATIC per URL, so the engine
    applies this gate ONCE per URL lifetime — at enqueue (bootstrap seeds,
    then each epoch's freshly-discovered outlinks) — never over the whole
    frontier per epoch. The join strategy is left to Spark: small host
    tables broadcast automatically; at 10^8-host scale it becomes a
    shuffle join on `host`, where the robots higher-order function stays
    vectorized JVM-side (skewed mega-hosts cost one cheap straggler task,
    or AQE skew-split when enabled).
    """
    hs = host_state.select("host", "robots_rules", "budget_per_epoch", "blacklisted")
    joined = pending.join(hs, "host", "left").withColumn(
        "quota",
        F.least(F.lit(cfg.per_host_quota), F.coalesce("budget_per_epoch", F.lit(cfg.per_host_quota))),
    )
    denied = joined.where(
        F.coalesce("blacklisted", F.lit(False)) | ~F.expr(_ROBOTS_ALLOWED)
    ).select(
        "url_hash",
        "url_norm",
        F.when(F.coalesce("blacklisted", F.lit(False)), "blacklist")
        .otherwise("robots")
        .alias("reason"),
    )
    schedulable = joined.where(
        ~F.coalesce("blacklisted", F.lit(False)) & F.expr(_ROBOTS_ALLOWED)
    ).drop("robots_rules", "budget_per_epoch", "blacklisted")
    return schedulable, denied


def select_wave(
    schedulable: DataFrame, cfg: spec.CrawlConfig, persisted: list | None = None
) -> DataFrame:
    """Per-host top-quota, then global (priority DESC, url_hash ASC) cap.

    Phase 1 ranks within (host, salt) — any row in a host's true top-q is in
    the top-q of its salt bucket, so the pre-filter is lossless while
    splitting a hot host across ``salt_per_host`` partitions. Phase 2 ranks
    the ≤ salt_per_host×quota survivors per host exactly. The global cap and
    ``wave_pos`` come from ``_ranked_distributed`` at every wave size: one
    JVM-side window rank, no single-partition sort and no Python pass.
    """
    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    salted = schedulable.withColumn(
        "salt", F.pmod(F.col("url_hash"), F.lit(cfg.salt_per_host)).cast("int")
    )
    w1 = Window.partitionBy("host", "salt").orderBy(*order)
    pre = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= F.col("quota"))
        .drop("rn1", "salt")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    quota_rows = (
        pre.withColumn("rn2", F.row_number().over(w2))
        .where(F.col("rn2") <= F.col("quota"))
        .drop("rn2")  # quota is kept: it is frontier state (re-enqueued on retry)
    )
    return _ranked_distributed(quota_rows, cfg.wave_size, persisted)


def _ranked_distributed(
    quota_rows: DataFrame, wave_size: int, persisted: list | None = None
) -> DataFrame:
    """Global rank + cap without a single-partition sort or a sampling pass.

    ``orderBy().limit(n)`` for a large n falls back to a total sort whose
    global-limit (and a wave_pos window after it) funnels every row
    through one partition; ``repartitionByRange`` would fix that but pays a
    sampling job that re-executes the upstream quota windows. Neither is
    needed: priority is uniform in [0,1) BY CONSTRUCTION (spec.PRIORITY_SQL
    maps xxhash64 onto the unit interval), so range boundaries are
    analytic — bucket k holds priorities in ((1-(k+1)/B), (1-k/B)], i.e.
    descending priority = ascending bucket. Rows are hash-repartitioned on
    the bucket and sorted within partitions by (bucket, priority DESC,
    url_hash); bucket offsets come from one tiny count job over that
    (cached) shuffle. Then ``wave_pos = bucket_offset + index-within-bucket``
    is a ``row_number`` window partitioned by the bucket, with the offset
    looked up in a literal array: the window reads ``part`` as it is
    partitioned and sorted (no further Exchange or Sort) and stays in the
    JVM. Exact, total, and independent of partition count → byte-identical
    waves at every parallelism level (BENCH gate).
    """
    spark = quota_rows.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_buckets = parts * 4  # a few buckets per partition smooths hash placement
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.floor((F.lit(1.0) - F.col("priority")) * n_buckets),
    ).cast("int")
    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    part = quota_rows.withColumn("_bkt", bucket).repartition(
        parts, F.col("_bkt")
    ).sortWithinPartitions(F.col("_bkt").asc(), *order)
    if persisted is not None:
        # cache only when the caller owns the lifecycle (the epoch pipeline):
        # an unconditional cache would leak one DataFrame per ad-hoc call.
        # Without the cache the counts job and the rank each recompute
        # `part` — deterministic, so the output is identical.
        part = part.cache()
        persisted.append(part)
    sizes = dict(part.groupBy("_bkt").count().collect())
    offsets = [0, *accumulate(sizes.get(b, 0) for b in range(n_buckets - 1))]
    offset = F.element_at(
        F.lit(offsets).cast("array<bigint>"), F.col("_bkt") + 1
    )
    rank = F.row_number().over(Window.partitionBy("_bkt").orderBy(*order))
    return (
        part.withColumn("wave_pos", (offset + rank - 1).cast("long"))
        .drop("_bkt")
        .where(F.col("wave_pos") < wave_size)
    )
