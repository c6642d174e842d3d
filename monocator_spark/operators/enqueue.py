"""Frontier enqueue: canonicalize → hash → priority → intra-batch dedup →
URL-seen test → politeness gate → filter update.

SURVEY.md §2 O2 (canonicalization) + O3 (xxhash64 builtin — JVM-side, zero
Python) + the order-free intra-batch dedup rule (same canonical URL
discovered twice in one epoch → min depth wins), mirroring
``ReferenceSimulator.enqueue_batch``; ``admit`` then applies O4 (the
URL-seen test) and the enqueue-time politeness gate. Every source of URLs
— bootstrap seeds, each epoch's outlinks, ``StreamingEnqueue`` feed
batches and ``CrawlEngine.reenqueue`` recrawls — goes through ``admit``,
the way Mercator applies its URL-seen test to every discovered URL.

Python-boundary budget: exactly ONE Python evaluation per candidate batch
— a single ``mapInPandas`` pass that canonicalizes AND drops unparseable
URLs (already-canonical inputs short-circuit through a single
compiled-regex gate, see ``functions.urlnorm._canonicalize_row``; the
rest pay a per-row canonicalizer that skips its O(len) passes when
"%" / "/." are absent). The NULL drop runs in Python, not as a
``where(url_norm IS NOT NULL)`` over a pandas-UDF column: Catalyst pushes
that filter below the projection by inlining the UDF call into the
predicate, and the physical plan then evaluates the canonicalizer twice
(two ``ArrowEvalPython`` nodes, one under the Filter and one under the
Project). ``tests/test_python_evals.py`` pins the one-node plan.
Splitting fast/slow at the PLAN level (filter-pair + union) was measured
3x slower end-to-end: every downstream consumer of the candidates
duplicates the two-branch subtree and per-epoch plan compilation dwarfs
the saved Python. Host extraction is pure Catalyst: for a canonical URL
the authority is the text between the FIRST '://' and the next '/'
(instr, not substring_index(-1): a path may itself contain '://').
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from monocator_spark import spec
from monocator_spark.functions.urlnorm import canonicalize_series
from monocator_spark.operators import dedup, politeness

FRONTIER_COLS = ["url_norm", "url_hash", "host", "priority", "depth", "retries"]
# frontier rows carry their (static) per-host quota from enqueue-time gating
FRONTIER_COLS_Q = [*FRONTIER_COLS, "quota"]


def _canonicalize_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        norm = canonicalize_series(pdf["url"])
        keep = norm.notna()
        yield pd.DataFrame({"url_norm": norm[keep], "depth": pdf["depth"][keep]})


def prepare_candidates(raw: DataFrame) -> DataFrame:
    """raw(url string, depth int) → frontier-shaped candidate rows.

    The canonicalizer is the only Python in this path (Arrow batches,
    vectorized fast path inside); hash, host and priority are Catalyst
    expressions, so the whole stage after the Python pass is
    whole-stage-codegen eligible.
    """
    depth_type = raw.schema["depth"].dataType.simpleString()
    return (
        raw.select("url", "depth")
        .mapInPandas(_canonicalize_batches, f"url_norm string, depth {depth_type}")
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn(
            "host",
            F.expr(
                "substring_index(substr(url_norm,"
                " instr(url_norm, '://') + 3), '/', 1)"
            ),
        )
        .withColumn("priority", F.expr(spec.priority_sql("url_norm")))
        .withColumn("retries", F.lit(0))
        .select(*FRONTIER_COLS)
    )


def dedup_within_batch(cands: DataFrame) -> DataFrame:
    """Same canonical URL twice in one discovery batch → keep min depth.

    All other columns are pure functions of url_norm, so grouping on the
    hash+norm keeps them intact without nondeterministic ``first()``.
    """
    return cands.groupBy("url_hash", "url_norm", "host", "priority").agg(
        F.min("depth").alias("depth"), F.min("retries").alias("retries")
    ).select(*FRONTIER_COLS)


def candidates(raw: DataFrame) -> DataFrame:
    """raw(url, depth) → candidate rows, one per canonical URL."""
    return dedup_within_batch(prepare_candidates(raw))


class Admission(NamedTuple):
    cands: DataFrame  # the batch's candidates, one row per URL (cached)
    new: DataFrame  # candidates not yet seen (cached; is cands if seen is None)
    admitted: DataFrame  # new rows the politeness gate admits, FRONTIER_COLS_Q
    denied: DataFrame  # new rows it denies: url_hash, url_norm, reason
    filt: DataFrame  # the seen pre-filter with ``new`` merged in (lazy)


def admit(
    raw: DataFrame,
    seen: DataFrame | None,
    filt: DataFrame | None,
    host_state: DataFrame,
    cfg: spec.CrawlConfig,
) -> Admission:
    """The one enqueue rule: candidates → seen pre-filter + exact confirm →
    politeness gate → filter update.

    ``seen=None, filt=None`` (bootstrap, recrawl) admits every candidate
    as new and builds the filter from scratch. ``cands`` and ``new`` are
    cached — the caller unpersists them — so the canonicalizer and the
    seen anti-join run once however many writes read them; ``filt`` is
    left lazy, for the caller to cache if it reads it more than once.
    """
    cands = candidates(raw).cache()
    new = cands if seen is None else dedup.filter_new(cands, seen, filt, cfg).cache()
    admitted, denied = politeness.gate(new, host_state, cfg)
    nxt = dedup.merge_filter(
        filt, dedup.build_filter(new.select("url_hash"), cfg), cfg
    )
    return Admission(cands, new, admitted.select(*FRONTIER_COLS_Q), denied, nxt)
