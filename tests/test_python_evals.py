"""At most one Python evaluation per row and per slot.

Each Python task pays a fixed start-up charge whatever its row count, so
the crawl's Arrow passes are bounded: the canonicalizer runs
once per candidate row (one Python node in the ``prepare_candidates``
plan, and still one in the outlink step's ``enqueue.admit`` plan), the
Bloom probe runs once per candidate and never over the ``seen`` table, and
the bucketed fetch + validate pass runs one task per slot, not one per
corpus bucket. The wave rank runs no Python at all. Output equality of
the bucketed fetch is guarded by ``tests/test_bucketed_fetch.py``.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

from pyspark.sql import functions as F

from monocator_spark import spec
from monocator_spark.datagen.distributed import (
    CORPUS_BUCKETS, register_bucketed_corpus,
)
from monocator_spark.functions.urlnorm import canonicalize_udf
from monocator_spark.operators import dedup, enqueue, fetch, politeness
from test_bucketed_fetch import N_HOSTS, N_IMAGES, world  # noqa: F401

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from audit_plans import audit, formatted_plan, python_eval_nodes  # noqa: E402

URLS = [
    ("http://H1.example:80/a/./b", 0),
    ("http://h1.example/c", 1),
    ("not-a-url", 0),
    (None, 2),
]


def test_prepare_candidates_runs_one_python_eval(spark):
    raw = spark.createDataFrame(URLS, "url string, depth int")
    cands = enqueue.prepare_candidates(raw)
    plan = formatted_plan(cands)
    assert len(python_eval_nodes(plan)) == 1, plan
    assert audit("prepare_candidates", plan) == []
    # the unparseable and NULL urls are dropped by that one pass
    assert sorted((r.url_norm, r.depth) for r in cands.collect()) == [
        ("http://h1.example/a/b", 0),
        ("http://h1.example/c", 1),
    ]


def _admit(spark, seen):
    """``enqueue.admit`` of URLS against ``seen(url_hash, url_norm)`` and
    its Bloom filter, as the outlink step calls it."""
    raw = spark.createDataFrame(URLS, "url string, depth int")
    cfg = spec.CrawlConfig(n_images=10, n_hosts=1)
    filt = dedup.merge_filter(
        None, dedup.build_filter(seen.select("url_hash"), cfg), cfg
    )
    host_state = spark.createDataFrame(
        [("h1.example", [], 8, False)],
        "host string, robots_rules array<struct<path_prefix:string,"
        "allow:boolean>>, budget_per_epoch int, blacklisted boolean",
    )
    return enqueue.admit(raw, seen, filt, host_state, cfg)


def _seen(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url_norm string").select(
        F.xxhash64("url_norm").alias("url_hash"), "url_norm"
    )


def _subtree(plan: str, node_id: str) -> list[str]:
    """The lines below node ``(node_id)`` in a formatted plan's tree."""
    tree = plan.split("\n\n")[0].splitlines()
    indent = lambda line: len(line) - len(line.lstrip(" :+-"))  # noqa: E731
    for i, line in enumerate(tree):
        if line.endswith(f"({node_id})"):
            below = []
            for nxt in tree[i + 1:]:
                if indent(nxt) <= indent(line):
                    break
                below.append(nxt)
            return below
    raise AssertionError(f"node ({node_id}) not in the plan tree")


def test_admit_outlink_plan_runs_the_canonicalizer_once(spark):
    """The outlink step's enqueue: ``admit`` against a seen set and its
    Bloom filter. The admitted rows read the cached candidates through the
    pre-filter, the exact confirm and the politeness gate, and the plan
    still holds one canonicalizer node."""
    adm = _admit(spark, _seen(spark, ["http://h1.example/c"]))
    try:
        plan = formatted_plan(adm.admitted)
        assert plan.count("_canonicalize_batches(") == 1, plan
        assert audit("admit", plan) == []
        # the seen URL is confirmed and dropped; the other is admitted
        assert [(r.url_norm, r.quota) for r in adm.admitted.collect()] == [
            ("http://h1.example/a/b", 8)
        ]
    finally:
        adm.cands.unpersist()
        adm.new.unpersist()


def test_filter_new_probes_each_candidate_once_and_never_seen(spark, tmp_root):
    """The Bloom probe runs in one Python node, over the candidates: none
    over the `seen` table's scan. Its rows are the plain anti-join."""
    path = f"{tmp_root}/python_evals_seen"
    _seen(spark, ["http://h1.example/c", "http://h2.example/x"]).write.mode(
        "overwrite"
    ).parquet(path)
    seen = spark.read.parquet(path)
    adm = _admit(spark, seen)
    try:
        plan = formatted_plan(adm.new)
        probes = re.findall(
            r"^\((\d+)\) ArrowEvalPython\nInput .*\nArguments: \[probe\(",
            plan, re.M,
        )
        assert len(probes) == 1, plan
        assert plan.split("\n\n")[0].count("Scan parquet") == 1, plan
        assert not any("Scan parquet" in ln for ln in _subtree(plan, probes[0])), plan
        want = adm.cands.join(seen, "url_hash", "left_anti").select(*adm.new.columns)
        assert sorted(adm.new.collect()) == sorted(want.collect())
        assert [r.url_norm for r in adm.new.collect()] == ["http://h1.example/a/b"]
    finally:
        adm.cands.unpersist()
        adm.new.unpersist()


def test_audit_flags_a_pushed_down_udf_filter(spark):
    """A pandas-UDF column filtered on IS NOT NULL is planned twice:
    Catalyst inlines the UDF into the pushed-down predicate."""
    raw = spark.createDataFrame(URLS, "url string, depth int")
    twice = raw.withColumn("url_norm", canonicalize_udf("url")).where(
        F.col("url_norm").isNotNull()
    )
    plan = formatted_plan(twice)
    assert python_eval_nodes(plan) == ["ArrowEvalPython", "ArrowEvalPython"]
    assert "duplicated Python UDF" in audit("twice", plan)


def test_select_wave_ranks_without_python(spark):
    """The global wave rank is a JVM window at every wave size: no Python
    node in ``select_wave``'s plan over a Python-free input, at a wave size
    that caps nothing."""
    schedulable = spark.range(210).select(
        F.format_string("http://h%d.example/img%d", F.col("id") % 7, "id")
        .alias("url_norm")
    ).select(
        "url_norm",
        F.xxhash64("url_norm").alias("url_hash"),
        F.expr("parse_url(url_norm, 'HOST')").alias("host"),
        F.expr(spec.priority_sql("url_norm")).alias("priority"),
        F.lit(4).alias("quota"),
    )
    cfg = spec.CrawlConfig(n_images=210, n_hosts=7, wave_size=20_000)
    wave = politeness.select_wave(schedulable, cfg)
    plan = formatted_plan(wave)
    assert python_eval_nodes(plan) == [], plan
    # quota 4 on each of the 7 hosts, numbered 0.. without gaps
    assert sorted(r.wave_pos for r in wave.collect()) == list(range(28))


def test_bucketed_fetch_runs_one_task_per_slot(spark, world):  # noqa: F811
    slots = spark.sparkContext.defaultParallelism
    assert CORPUS_BUCKETS > slots
    corpus = spark.table(register_bucketed_corpus(spark, world))
    seeds = spark.read.parquet(f"{world}/seeds").withColumn("depth", F.lit(0))
    wave = (
        enqueue.dedup_within_batch(enqueue.prepare_candidates(seeds))
        .withColumn("quota", F.lit(4))
        .withColumn("wave_pos", F.monotonically_increasing_id())
    )
    cfg = spec.CrawlConfig(n_images=N_IMAGES, n_hosts=N_HOSTS)
    # the at-scale shape: a corpus too large to broadcast, so the fetch is
    # the bucketed sort-merge join with one partition per corpus bucket
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        fetched = fetch.fetch_wave_bucketed(wave, corpus, cfg)
        assert "SortMergeJoin" in formatted_plan(fetched)
        assert fetched.rdd.getNumPartitions() <= slots
        assert fetched.count() == wave.count()
    finally:
        spark.conf.set(key, prev)
