"""Driver-surface query registry.

Each entry maps a SURVEY.md §2 operator (or training-data-pipeline op) to a
(spark_fn, oracle_sql) pair. spark_fn(spark, sf_dir) → DataFrame; oracle_sql
is DuckDB dialect over the same parquet views. Column names and types are
aligned pairwise — the driver hash-compares values after sorting columns by
name.

Iteration order is LEAST-RECENTLY-VERIFIED-FIRST, then cheapest-first: a
time-boxed (or row-capped) correctness harness then covers the queries with
the weakest verification history before re-testing ones already covered, so
the union of per-round hard-signal files converges to full-registry coverage
in the fewest rounds. Tiers (computed from CORRECTNESS_r01-r04 coverage):
  1. queries with no driver-verified row in any prior round (incl. new ops),
  2. queries last verified in r03,
  3. everything else, ascending measured cost (sf0.01, scripts/
     check_oracles.py) — fail-fast cheapest-first under any time budget.
Both lists are validated against the registry at import time: a rename or
typo raises instead of silently demoting a query to the tail.
"""

from monocator_spark.queries.crawlops import CRAWLOPS
from monocator_spark.queries.imaging import IMAGING
from monocator_spark.queries.relational import RELATIONAL
from monocator_spark.queries.similarity import SIMILARITY
from monocator_spark.queries.streamingops import STREAMING
from monocator_spark.queries.textops import TEXTOPS

# measured per-query Spark seconds at sf0.01 (local[8]), round 4;
# wave_select_rank's raw first-slot sample included session warmup, so it
# is placed at its steady-state (bench-measured ~0.3 s) position. The three
# round-5 ops sit where a full scripts/check_oracles.py run at sf0.01 on a
# 4-vCPU host put them: after every listed query measured faster
# (phash_incremental_newbatch 1.9 s, dedup_incremental_newbatch 2.5 s,
# bpe_tokenize_docs 5.8 s).
_CHEAPEST_FIRST = [
    "caption_image_filter", "fingerprint_doc", "image_aspect_bucket",
    "split_assign", "audio_window_energy", "binary_payload_stats",
    "domain_cap_sample", "exact_dedup_docs", "frame_sample_stub",
    "html_text_extract", "image_quality_gate", "image_resize_thumb",
    "langid_markers", "multimodal_decode_stub", "phash_dedup_groups",
    "pii_scrub_stats", "quality_score", "smtp_probe", "token_count",
    "cluster_balanced_sample", "mix_weights_epochs", "perplexity_bucket",
    "sequence_pack_chunks", "simhash_dedup_groups", "simhash_docs",
    "token_count_bpe", "topk_global", "urlnorm_grid", "wave_select_rank",
    "ann_lsh_bucketed", "case_when_policy", "cert_chain_arrays",
    "cuckoo_build_stats", "json_extract_agg", "md5_shard",
    "paragraph_dedup_stats", "phash_hamming_pairs", "robots_longest_match",
    "sample_stratified", "session_gap_user", "source_curation_rollup",
    "asof_join_events", "bpe_merge_step", "cache_semi_join",
    "change_detect_lag", "doc_repetition_stats", "embedding_cosine_topk",
    "tfidf_topk", "tumbling_window", "ann_ivf_bucketed",
    "contamination_ngram", "embedding_neardup_pairs", "ngram_topk",
    "rollup_groupsets", "set_except", "vat_scrape_decision", "ann_pq_adc",
    "bm25_topk", "dedup_anti_join", "group_quantiles_exact",
    "kmeans_iter_assign", "lineage_rollup", "minhash_signature",
    "range_join_window", "simhash_hamming_pairs", "substring_dedup_spans",
    "clip_alignment_gate", "dedup_stream_first_seen", "minhash_dedup_groups",
    "semdedup_cluster_prune", "tls_fanout_map", "winsorized_stats_group",
    "broadcast_join_agg", "dedup_keep_best", "minhash_lsh_pairs",
    "phash_incremental_newbatch", "semantic_dedup_twostage",
    "approx_distinct", "politeness_quota", "dedup_incremental_newbatch",
    "bloom_build_stats", "dns_fanout_records", "tumbling_window_stream",
    "shingle_jaccard_pairs", "dedup_connected_components",
    "bpe_vocab_stats", "bpe_tokenize_docs", "dedup_cc_largestar",
    "bpe_train_k",
]

# Tier 1: no driver-verified correctness row in ANY of rounds 1-4 (the 14
# stragglers VERDICT r4 lists), plus ops new in round 5 — these must land
# inside the driver's 50-row window this round. Cheapest-first within the
# tier (seconds measured by the round-5 scripts/check_oracles.py run at
# sf0.01; clip_alignment_gate ran in the session-warmup slot there, so it
# is placed at its steady-state ~0.5 s position — same caveat the original
# measured list carried for wave_select_rank).
_NEVER_DRIVER_TESTED = [
    "clip_alignment_gate", "phash_incremental_newbatch",
    "substring_dedup_spans", "tumbling_window_stream", "ann_pq_adc",
    "dedup_incremental_newbatch", "embedding_neardup_pairs",
    "semdedup_cluster_prune", "dedup_keep_best", "kmeans_iter_assign",
    "dedup_stream_first_seen", "dedup_connected_components", "bm25_topk",
    "dedup_cc_largestar", "bpe_tokenize_docs", "bpe_vocab_stats",
    "bpe_train_k",
]

# Tier 2: last driver-verified in r03 (rotated out of r04's 50-row window).
_LAST_VERIFIED_R03 = [
    "contamination_ngram", "ngram_topk", "rollup_groupsets", "set_except",
    "vat_scrape_decision", "dedup_anti_join", "group_quantiles_exact",
    "lineage_rollup", "minhash_signature", "range_join_window",
    "simhash_hamming_pairs", "tls_fanout_map", "winsorized_stats_group",
    "broadcast_join_agg", "minhash_lsh_pairs", "approx_distinct",
    "politeness_quota", "bloom_build_stats", "dns_fanout_records",
    "shingle_jaccard_pairs",
]

_ALL: dict[str, tuple] = {}
for part in (RELATIONAL, TEXTOPS, SIMILARITY, IMAGING, STREAMING, CRAWLOPS):
    _ALL.update(part)

# Fail fast on a rename/typo: every priority-list name must exist in the
# registry, and the measured-cost list must cover the registry exactly.
_prioritized = set(_NEVER_DRIVER_TESTED) | set(_LAST_VERIFIED_R03)
assert _prioritized <= set(_ALL), sorted(_prioritized - set(_ALL))
assert set(_CHEAPEST_FIRST) == set(_ALL), sorted(
    set(_CHEAPEST_FIRST).symmetric_difference(_ALL)
)

_rank: dict[str, tuple] = {}
for i, n in enumerate(_CHEAPEST_FIRST):
    _rank[n] = (2, i)
for i, n in enumerate(_LAST_VERIFIED_R03):
    _rank[n] = (1, i)
for i, n in enumerate(_NEVER_DRIVER_TESTED):
    _rank[n] = (0, i)
REGISTRY: dict[str, tuple] = {
    name: _ALL[name] for name in sorted(_ALL, key=lambda n: _rank[n])
}


def queries():
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql():
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
