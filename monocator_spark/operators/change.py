"""O14 — screenshot policy + cross-epoch change detection.

Reference: the per-visit screenshot policy enum ``always |
if_single_page_app | if_html_changed | if_developed | if_suspicious``
(/root/reference/src/TODO.MD:62-67). "if_html_changed" is the cross-epoch
comparison: the freshly fetched image's phash against the previous fetch of
the same image — the ``lag(phash) OVER (PARTITION BY image_id ORDER BY
fetch_epoch)`` analytic (SURVEY.md §2.2), evaluated only over the bounded
current wave's images (history is semi-join-pruned before the window, so
the window never sees the full fetched table).

All predicates are pure Catalyst, bit-matching ``spec.screenshot_decision``
(the simulator's implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from monocator_spark import spec
from monocator_spark.sim.simulator import OK


def policy_col(host_col: str = "host") -> F.Column:
    """Per-host policy assignment (VisitRequest ``screenshot`` field)."""
    idx = F.pmod(
        F.xxhash64(F.concat(F.lit(spec.SCREENSHOT_PREFIX), F.col(host_col))),
        F.lit(len(spec.SCREENSHOT_POLICIES)),
    )
    return F.element_at(
        F.array(*[F.lit(p) for p in spec.SCREENSHOT_POLICIES]),
        (idx + 1).cast("int"),
    )


def decision_col() -> F.Column:
    """The policy CASE WHEN over (policy, url_norm, prior_phash, phash,
    caption) columns — ``spec.screenshot_decision`` in Catalyst."""
    n_out = F.pmod(
        F.xxhash64(F.concat(F.lit(spec.OUTLINK_PREFIX), F.col("url_norm"))),
        F.lit(4),
    )
    p = F.col("policy")
    return (
        F.when(p == "always", F.lit(True))
        .when(p == "if_single_page_app", n_out == 0)
        .when(
            p == "if_html_changed",
            F.col("prior_phash").isNull()
            | (F.col("prior_phash") != F.col("phash")),
        )
        .when(p == "if_developed", F.size(F.split("caption", " ")) >= 8)
        .otherwise(F.pmod(F.col("phash"), F.lit(16)) == 0)
    )


def with_screenshot(
    fetched: DataFrame, hist: DataFrame | None, epoch: int, cfg: spec.CrawlConfig
) -> DataFrame:
    """fetched(one epoch's fetch rows, every status) → + (prior_phash, policy,
    screenshot) columns, null on the non-OK rows — the ``fetched`` table.

    Only OK rows enter the prior lookup. ``hist`` is the OK-row phash
    history as of the previous epoch — the narrow ``phash_hist`` state
    table: (image_id, fetch_epoch, wave_pos, phash), already OK-filtered at
    write time (None on the first epoch or when change detection is
    disabled — every row then counts as a first fetch, prior_phash null).
    It is deliberately NOT the bytes-bearing ``fetched`` table: consuming
    that as state would drag the payload write onto the inter-epoch
    critical path.

    Tie + identity discipline (matching the simulator's sequential
    ``last_phash`` update by wave position): the lag window is totally
    ordered by (fetch_epoch, wave_pos) — never fetch_epoch alone, whose
    ties would break nondeterministically — and the looked-up prior is
    joined back on ``url_hash``, unique per wave row, so two same-epoch
    fetches of one image each get exactly one prior (the second one's prior
    is the first one's phash), not a cross-product on image_id.

    The history prune and prior join build from wave-bounded sides —
    broadcast below hints.WAVE_BROADCAST_MAX, shuffle join above it (a
    10^8-row wave cannot be a driver broadcast; that join then shuffles
    the wave rows, payload included).
    """
    from monocator_spark.operators.hints import wave_side

    is_ok = F.col("status") == OK
    if hist is None and not cfg.change_detection:
        # detection off: every fetch is a first fetch by definition
        out = fetched.withColumn("prior_phash", F.lit(None).cast("long"))
    else:
        ok = fetched.where(is_ok)
        cur = ok.select(
            "image_id", F.lit(epoch).alias("fetch_epoch"), "wave_pos",
            "phash", "url_hash",
        )
        if hist is None:
            # detecting but no history yet (epoch 0): the window still runs
            # over the wave alone — a SAME-epoch duplicate image's second
            # fetch must see the first's phash (simulator's sequential
            # last_phash update by wave position)
            hist_w = cur
        else:
            cur_keys = ok.select("image_id").distinct()
            # prune history to the wave's images BEFORE the window: the lag
            # runs over O(wave) rows, never the whole fetched table
            hist_w = (
                hist.select("image_id", "fetch_epoch", "wave_pos", "phash")
                .join(wave_side(cur_keys, cfg), "image_id", "left_semi")
                .withColumn("url_hash", F.lit(None).cast("long"))
                .unionByName(cur)
            )
        w = Window.partitionBy("image_id").orderBy("fetch_epoch", "wave_pos")
        prior = (
            hist_w.withColumn("prior_phash", F.lag("phash").over(w))
            .where(F.col("fetch_epoch") == epoch)
            .select("url_hash", "prior_phash")
        )
        # prior holds OK rows only: a non-OK row's prior_phash stays null
        out = fetched.join(wave_side(prior, cfg), "url_hash", "left")
    return out.withColumn("policy", F.when(is_ok, policy_col())).withColumn(
        "screenshot", F.when(is_ok, decision_col())
    )
