"""Training-data-pipeline text operators over `documents` (brief: dedup,
text analysis, fingerprinting — first-class alongside SURVEY.md §2).

Cross-engine parity rules used throughout:
  * token counts via pure length arithmetic (identical in any engine),
  * hashes via md5 → 15-hex-digit bigint (Spark conv() ≡ DuckDB hex cast,
    verified bit-identical),
  * doubles only from identical-operand divisions, rounded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from monocator_spark.operators.band_index import (
    BIT_KEYS,
    band_groups,
    band_index,
    band_pairs,
    bit_bands,
    dedup_against_index,
)
from monocator_spark.queries.relational import T

# token count without split(): (len - len(without-spaces)) + 1
_NTOK = "(length(text) - length(replace(text, ' ', ''))) + 1"
# occurrences of a padded word in ' '||text||' '
def _hits(word: str) -> str:
    pad = f" {word} "
    return (
        f"cast((length(' '||text||' ') - "
        f"length(replace(' '||text||' ', '{pad}', ''))) / {len(pad)} as bigint)"
    )


# md5 → bigint, shared with DuckDB (15 hex digits = 60 bits, always positive)
def _md5long(expr: str) -> str:
    return f"cast(conv(substr(md5({expr}),1,15),16,10) as bigint)"


def _md5long_duck(expr: str) -> str:
    return f"CAST(('0x'||substr(md5({expr}),1,15)) AS BIGINT)"


# word 5-gram shingles, distinct per doc. Word n-grams (not char n-grams)
# are the standard for training-data near-dup: a specific 5-word sequence is
# rare unless genuinely copied, so the shingle index has low fan-out and the
# pair joins stay near-linear.
_SHINGLE_SPARK = (
    "explode(array_distinct(transform("
    "sequence(1, greatest(size(split(text, ' ')) - 4, 1)),"
    " i -> array_join(slice(split(text, ' '), i, 5), ' '))))"
)
_SHINGLE_DUCK = """
  SELECT DISTINCT doc_id, source, array_to_string(toks[i:i+4], ' ') AS sh
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks,
               unnest(range(1, greatest(len(string_split(text, ' '))-4,1)+1)) AS i
        FROM documents) t
"""


# -- per-language top-k n-grams (corpus vocabulary stats) -----------------------
def q_ngram_topk(spark, sf_dir, n: int = 2, k: int = 5):
    """Top-k bigrams per language — the corpus-analysis rollup every
    training-data pipeline runs before filtering. Shape at 100 TB: one
    partial-aggregated count shuffle on (lang, gram) — map-side combine
    collapses the explosion before it moves — then a per-lang window top-k
    over the tiny aggregate. Ties broken lexically so the result is total.
    """
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    grams = d.select(
        "lang",
        F.expr(
            "explode(transform(sequence(1, greatest(size(split(text, ' ')) - 1, 1)),"
            " i -> array_join(slice(split(text, ' '), i, 2), ' ')))"
        ).alias("gram"),
    )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("lang", "gram", "n", "rk")
    )


def q_tfidf_topk(spark, sf_dir, k: int = 5, min_len: int = 3):
    """Top-k TF-IDF terms per document — the feature-extraction pass behind
    classic quality filters and nearest-neighbor text search.

    Uses the LINEAR idf variant (score = tf · N/df, no log): with integer
    operands ≤ 2^53 the IEEE double division is exactly specified, so the
    score is bit-identical in every engine — the file's parity rule
    ("doubles only from identical-operand divisions") — where ln() could
    differ in the last ulp and flip a rank. Shape at 100 TB: the term
    explosion collapses in map-side partial aggregation before it shuffles
    once on (doc_id, term); document frequency is a second, far smaller
    shuffle on term; N is one broadcast scalar. The tf ⋈ df join keys on
    term, which is Zipf-skewed — at scale broadcast the df side (it is
    O(vocabulary), tiny next to tf) so no skewed shuffle exists.

    N (the corpus size) is folded in as a broadcast 1-row aggregate
    cross-joined onto the scored plan — NOT a separate ``d.count()`` driver
    action, which at 100 TB would re-scan the whole documents table once
    per invocation just to fetch one scalar (the same pattern
    ``sample_stratified`` uses for its rate table).
    """
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))  # 1-row plan, broadcast
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).where(F.length("term") >= min_len)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(n_docs)
    ).withColumn(
        "score",
        F.round((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


def q_vat_scrape_decision(spark, sf_dir):
    """The reference VatScraperTest decision table as a relational op
    (/root/reference/src/mock-servers.MD:9-21): per site, scan pages in
    order and keep the FIRST VAT number that passes BOTH the format check
    and the checksum — `wrongFormat => ok(rejected)`, `wrongCheckSum =>
    ok(rejected)`, `noVatOnFirstPage`/`vatFoundOnSecondPage` => later pages
    win only when earlier ones have nothing valid.

    The synthetic corpus has no digits, so the candidate column is DERIVED
    deterministically from doc_id with all four branches present (valid /
    bad-checksum / bad-format / absent); the op's substance is the
    validation arithmetic (Belgian mod-97: last two digits == 97 − (first
    eight digits mod 97)), the regexp format gate, and the first-valid-
    page-per-site window — integer-exact in every engine. Shape at 100 TB:
    a scan-local projection + filter, then a min-per-site aggregate join —
    no skew, page text never shuffles.
    """
    d = T(spark, sf_dir, "documents")
    base = "cast((doc_id * 131) % 10000000 as bigint)"  # 7-digit payload
    first8 = f"'0' || lpad(cast({base} as string), 7, '0')"
    check = f"lpad(cast(97 - (cast({first8} as bigint) % 97) as string), 2, '0')"
    cand = (
        f"CASE cast(doc_id % 4 as int) "
        f"WHEN 0 THEN 'BE' || {first8} || {check} "
        f"WHEN 1 THEN 'BE' || {first8} || "
        f"  lpad(cast((97 - (cast({first8} as bigint) % 97) + 1) % 100 as string), 2, '0') "
        f"WHEN 2 THEN 'BEX' || {first8} "
        f"ELSE NULL END"
    )
    pages = d.select("source", "doc_id", F.expr(cand).alias("vat_raw"))
    valid = pages.where(
        F.col("vat_raw").rlike("^BE[0-9]{10}$")
        & (
            F.expr("cast(substr(vat_raw, 11, 2) as bigint)")
            == 97 - F.expr("cast(substr(vat_raw, 3, 8) as bigint)") % 97
        )
    )
    first = valid.groupBy("source").agg(F.min("doc_id").alias("doc_id"))
    return first.join(valid, ["source", "doc_id"]).select(
        "source", "doc_id", F.col("vat_raw").alias("vat")
    )


SQL_VAT_SCRAPE = """
WITH pages AS (
  SELECT source, doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'BE' || first8 || lpad(CAST(97 - (CAST(first8 AS BIGINT) % 97) AS VARCHAR), 2, '0')
           WHEN 1 THEN 'BE' || first8 || lpad(CAST((97 - (CAST(first8 AS BIGINT) % 97) + 1) % 100 AS VARCHAR), 2, '0')
           WHEN 2 THEN 'BEX' || first8
           ELSE NULL END AS vat_raw
  FROM (SELECT source, doc_id,
               '0' || lpad(CAST(CAST((doc_id * 131) % 10000000 AS BIGINT) AS VARCHAR), 7, '0') AS first8
        FROM documents) t
),
valid AS (
  SELECT source, doc_id, vat_raw FROM pages
  WHERE regexp_matches(vat_raw, '^BE[0-9]{10}$')
    AND CAST(substr(vat_raw, 11, 2) AS BIGINT)
        = 97 - (CAST(substr(vat_raw, 3, 8) AS BIGINT) % 97)
),
first AS (SELECT source, MIN(doc_id) AS doc_id FROM valid GROUP BY source)
SELECT valid.source, valid.doc_id, valid.vat_raw AS vat
FROM first JOIN valid ON first.source = valid.source AND first.doc_id = valid.doc_id
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic hash-stratified downsampling to a balanced corpus —
    the split/balance step every training-data pipeline runs before
    training (language balancing here; the same shape does train/held-out
    splits). Keep probability per language = min_lang_count / lang_count,
    applied as a pure function of doc_id (`md5‰ < rate`), so the sample is
    reproducible row-for-row on any cluster size, needs no global sort or
    sampling pass, and a rerun over 100 TB keeps exactly the same rows.
    Shape: one tiny per-lang count aggregate broadcast back over the
    corpus scan — the corpus itself is filtered in place, never shuffled.
    """
    d = T(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    min_n = counts.agg(F.min("n_lang").alias("m"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        # permille via INTEGER division (`div` / `//`) — no double ever
        # exists, so every engine floors identically
        F.expr("m * 1000 div n_lang").cast("long").alias("keep_pm"),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .where(
            F.expr(_md5long("cast(doc_id as string)")) % 1000 < F.col("keep_pm")
        )
        .select("doc_id", "lang", "keep_pm")
    )


SQL_SAMPLE_STRATIFIED = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
m AS (SELECT MIN(n_lang) AS m FROM counts),
rates AS (SELECT lang, CAST((m.m * 1000) // n_lang AS BIGINT) AS keep_pm
          FROM counts, m)
SELECT d.doc_id, d.lang, rates.keep_pm
FROM documents d JOIN rates ON d.lang = rates.lang
WHERE {_md5long_duck('CAST(d.doc_id AS VARCHAR)')} % 1000 < rates.keep_pm
"""


SQL_TFIDF_TOPK = """
WITH terms AS (
  SELECT doc_id, term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        FROM documents) t
  WHERE length(term) >= 3
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, score, rk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROUND(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df, 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY ROUND(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df, 6) DESC,
                    tf.term) AS rk
  FROM tf, dfreq, n WHERE tf.term = dfreq.term) q
WHERE rk <= 5
"""


SQL_NGRAM_TOPK = """
WITH grams AS (
  SELECT lang, array_to_string(toks[i:i+1], ' ') AS gram
  FROM (SELECT lang, string_split(text, ' ') AS toks,
               unnest(range(1, greatest(len(string_split(text, ' '))-1,1)+1)) AS i
        FROM documents) t
),
counts AS (SELECT lang, gram, COUNT(*) AS n FROM grams GROUP BY lang, gram)
SELECT lang, gram, n, rk FROM (
  SELECT lang, gram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rk
  FROM counts) q
WHERE rk <= 5
"""


# -- token counting ------------------------------------------------------------
def q_token_count(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    d = d.withColumn("n_tokens", F.expr(_NTOK).cast("long"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.sum("n_tokens") / F.count(F.lit(1)), 6).alias("avg_tokens"),
    )


SQL_TOKENS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
FROM (SELECT lang,
             CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT) AS n_tokens
      FROM documents) t
GROUP BY lang
"""


# -- BPE-ish tokenization (regex) -------------------------------------------------
# A GPT-2-style pre-tokenizer simplification: runs of letters, runs of
# digits, or a single other non-space symbol each count as one token. The
# pattern uses only class/quantifier syntax that Java regex (Spark) and
# RE2-ish DuckDB evaluate identically.
_BPE_PAT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def q_token_count_bpe(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    d = d.withColumn(
        "n_bpe", F.expr(f"size(regexp_extract_all(text, '{_BPE_PAT}', 0))").cast("long")
    ).withColumn("n_ws", F.expr(_NTOK).cast("long"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("sum_bpe_tokens"),
        F.round(F.sum("n_bpe") / F.sum("n_ws"), 6).alias("bpe_per_ws_token"),
    )


SQL_TOKENS_BPE = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS bpe_per_ws_token
FROM (SELECT source,
             CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe,
             CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT) AS n_ws
      FROM documents) t
GROUP BY source
"""


# -- exact dedup (hash-groupBy) --------------------------------------------------
def q_exact_dedup_docs(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_md5, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


# -- quality scoring -------------------------------------------------------------
def q_quality_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    d = (
        d.withColumn("n_tokens", F.expr(_NTOK).cast("long"))
        .withColumn("n_nospace", F.length(F.regexp_replace("text", " ", "")).cast("long"))
        .withColumn("stop_hits", F.expr(_hits("the")) + F.expr(_hits("a")))
    )
    return d.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_nospace") / F.col("n_tokens"), 6).alias("avg_word_len"),
        F.round(F.col("stop_hits") / F.col("n_tokens"), 6).alias("stop_ratio"),
    )


SQL_QUALITY = """
SELECT doc_id, n_tokens,
       ROUND(CAST(n_nospace AS DOUBLE) / n_tokens, 6) AS avg_word_len,
       ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stop_ratio
FROM (
  SELECT doc_id,
    CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT) AS n_tokens,
    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nospace,
    CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5 AS BIGINT)
    + CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3 AS BIGINT)
      AS stop_hits
  FROM documents) t
"""


# -- language-ID heuristic --------------------------------------------------------
def q_langid_markers(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    d = d.withColumn("c_the", F.expr(_hits("the"))).withColumn(
        "pred_en", F.col("c_the") > 0
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("pred_en").cast("long")).alias("n_pred_en"),
    )


SQL_LANGID = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN
         (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) > 0
         THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
FROM documents GROUP BY lang
"""


# -- document fingerprinting -------------------------------------------------------
def q_fingerprint_doc(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.md5("text"), 1, 16).alias("fp"),
        F.expr(_md5long("text")).alias("fp_long"),
    )


SQL_FINGERPRINT = f"""
SELECT doc_id, substr(md5(text),1,16) AS fp,
       {_md5long_duck('text')} AS fp_long
FROM documents
"""


# -- n-gram Jaccard near-dup pairs ---------------------------------------------------
# One-slot cache registry: q_shingle_jaccard_pairs returns a LAZY plan over a
# persisted doc×shingle table, so the cache can't be released inside the call
# (the caller hasn't consumed the plan yet). Each new invocation unpersists
# the previous call's table instead — a session holds at most ONE cached
# shingle DataFrame, never one per call.
_SHINGLE_PERSISTED: list = []


def _persist_one_slot(df, slot: list = _SHINGLE_PERSISTED):
    while slot:
        prev = slot.pop()
        try:
            prev.unpersist()
        except Exception as exc:
            # The slot is module-global, so a DataFrame cached under a
            # SparkSession that has since been stopped may still occupy it;
            # its cache died with the session, so THAT failure is moot —
            # swallow silently only when the owning context is gone.
            # Anything else (a live-session failure) is surfaced in the log
            # rather than silently discarded.
            try:
                ctx_stopped = prev.sparkSession.sparkContext._jsc is None
            except Exception:
                ctx_stopped = True
            if not ctx_stopped:
                import logging

                logging.getLogger(__name__).warning(
                    "unpersist of previous cached shingle table failed on a "
                    "live session: %s",
                    exc,
                )
    df = df.persist()
    slot.append(df)
    return df


def q_shingle_jaccard_pairs(spark, sf_dir, threshold: float = 0.8):
    """Exact Jaccard-≥t pairs via *prefix filtering* (PPJoin-style).

    The naive plan — self-join the doc×shingle table on shingle — is
    quadratic in every hot shingle's document frequency and melts at scale.
    At t=0.8 (the standard near-dup threshold) the prefix is only the
    rarest ~20% of each doc's shingles, so the candidate join fan-out
    collapses; at low thresholds prefix filtering degenerates to the naive
    join (p → |d|), which is why the threshold is part of the spec.
    Prefix filtering is output-identical but joins only each document's
    p = |d| - ceil(t·|d|) + 1 globally-rarest shingles (any pair with
    Jaccard ≥ t must share one of them), then verifies candidates with an
    exact intersection count. The DuckDB oracle keeps the naive plan, which
    is the point: same semantics, scalable physical strategy.
    """
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    sh = d.select("doc_id", "source", F.expr(_SHINGLE_SPARK).alias("sh")).distinct()
    sh = _persist_one_slot(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = sh.groupBy("source", "sh").agg(F.count(F.lit(1)).alias("gf"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("gf"), F.asc("sh"))
    prefix = (
        sh.join(freq, ["source", "sh"])
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("doc_id", "source", "sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    sh1 = sh.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    sh2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = (
        cand.join(sh1, "doc1")
        .join(sh2, (F.col("doc2") == F.col("d2")) & (F.col("sh1") == F.col("sh2")))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("sz").alias("sz2"))
    out = (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc1", "doc2", "jaccard")


SQL_JACCARD = f"""
WITH sh AS ({_SHINGLE_DUCK}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
  FROM sh a JOIN sh b
    ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc1, doc2,
       ROUND(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) AS jaccard
FROM inter JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.8
"""


# -- MinHash signatures ----------------------------------------------------------------
def _minhash_signature(docs):
    """(doc_id, text) → (doc_id, seed, minhash): 8 md5 seeds over each
    doc's distinct shingles."""
    sh = docs.select("doc_id", F.expr(_SHINGLE_SPARK).alias("sh")).distinct()
    seeded = sh.withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(7))))
    hashed = seeded.withColumn(
        "hv", F.expr(_md5long("concat(sh, '|', cast(seed as string))"))
    )
    return hashed.groupBy("doc_id", "seed").agg(F.min("hv").alias("minhash"))


def q_minhash_signature(spark, sf_dir):
    return _minhash_signature(T(spark, sf_dir, "documents"))


SQL_MINHASH = f"""
WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_SHINGLE_DUCK}) q),
seeded AS (
  SELECT doc_id, sh, unnest(range(0, 8)) AS seed FROM sh)
SELECT doc_id, CAST(seed AS INT) AS seed,
       MIN({_md5long_duck("concat(sh, '|', CAST(seed AS VARCHAR))")}) AS minhash
FROM seeded GROUP BY doc_id, seed
"""


# -- MinHash LSH banding → candidate pairs ------------------------------------------------
MINHASH_KEYS = ("band", "h0", "h1")


def minhash_bands_of(docs):
    """(doc_id, text) → (doc_id, band, h0, h1): the 8 signature seeds banded
    4×2 — the one banding every MinHash site (pairs, groups, the persisted
    index and the batch probe) shares."""
    return (
        _minhash_signature(docs)
        .groupBy("doc_id", F.floor(F.col("seed") / 2).cast("long").alias("band"))
        .agg(
            F.min(F.when(F.col("seed") % 2 == 0, F.col("minhash"))).alias("h0"),
            F.min(F.when(F.col("seed") % 2 == 1, F.col("minhash"))).alias("h1"),
        )
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    bands = minhash_bands_of(T(spark, sf_dir, "documents"))
    return band_pairs(bands, MINHASH_KEYS, ("doc1", "doc2"))


SQL_LSH = f"""
WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_SHINGLE_DUCK}) q),
seeded AS (SELECT doc_id, sh, unnest(range(0, 8)) AS seed FROM sh),
sig AS (
  SELECT doc_id, seed,
         MIN({_md5long_duck("concat(sh, '|', CAST(seed AS VARCHAR))")}) AS minhash
  FROM seeded GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band,
         MIN(CASE WHEN seed % 2 = 0 THEN minhash END) AS h0,
         MIN(CASE WHEN seed % 2 = 1 THEN minhash END) AS h1
  FROM sig GROUP BY 1, 2)
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
FROM bands a JOIN bands b
  ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
"""


# -- MinHash dedup groups (linear output — the 100 TB shape) --------------------------------
def q_minhash_dedup_groups(spark, sf_dir):
    """Near-dup dedup the way a training-data pipeline actually consumes it:
    each doc mapped to a cluster representative (min doc_id sharing any LSH
    band), not the quadratic all-pairs list. Output size is O(docs) no
    matter how dense the duplicate clusters are."""
    return band_groups(minhash_bands_of(T(spark, sf_dir, "documents")), MINHASH_KEYS)


SQL_DEDUP_GROUPS = f"""
WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_SHINGLE_DUCK}) q),
seeded AS (SELECT doc_id, sh, unnest(range(0, 8)) AS seed FROM sh),
sig AS (
  SELECT doc_id, seed,
         MIN({_md5long_duck("concat(sh, '|', CAST(seed AS VARCHAR))")}) AS minhash
  FROM seeded GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band,
         MIN(CASE WHEN seed % 2 = 0 THEN minhash END) AS h0,
         MIN(CASE WHEN seed % 2 = 1 THEN minhash END) AS h1
  FROM sig GROUP BY 1, 2),
grp AS (SELECT band, h0, h1, MIN(doc_id) AS grp_rep FROM bands GROUP BY 1, 2, 3)
SELECT b.doc_id, MIN(g.grp_rep) AS rep_id,
       (b.doc_id > MIN(g.grp_rep)) AS is_dup
FROM bands b JOIN grp g ON b.band = g.band AND b.h0 = g.h0 AND b.h1 = g.h1
GROUP BY b.doc_id
"""


# -- Incremental dedup: new batch vs persisted MinHash band index ------------------
# The production dedup SHAPE the one-shot ops above lack: "dedupe this
# month's crawl against the existing 100 TB corpus". The existing corpus is
# represented ONLY by its persisted band index — (band, h0, h1) bucket →
# representative doc — the same state-table discipline as the crawl's
# url_seen shards (operators/dedup.py:78), whose reference analogue is the
# IP-keyed FullScanCache consulted before every new scan
# (/root/reference/src/TODO.MD:41): state written by earlier work gates
# later work without re-reading it. The index is built once, the old
# corpus text is never re-shingled, and each incoming batch touches the old
# side at band-BUCKET granularity (an equi-join on the band key), never at
# document granularity.
#
# Shape at 100 TB: the new batch (≪ corpus) computes its own signatures
# scan-locally; the only joins are (a) new-bands ⋈ index on the uniform
# 60-bit band key — AQE picks broadcast when the batch is small — and
# (b) a window-min among the batch's own bands for new-vs-new dedup. Output
# is O(batch): each new doc → verdict ('dup_existing' | 'dup_batch' |
# 'new') + its representative. The old corpus contributes O(buckets) index
# rows and nothing else.


def q_dedup_incremental_newbatch(spark, sf_dir):
    """Deterministic 80/20 corpus split (md5 of doc_id): the 80% is the
    'existing corpus' whose band index is the persisted state, the 20% is
    the incoming batch deduped against that index + itself."""
    d = T(spark, sf_dir, "documents")
    is_new = F.expr(_md5long("concat('incr|', cast(doc_id as string))")) % 5 == 0
    index = band_index(minhash_bands_of(d.where(~is_new)), MINHASH_KEYS)
    return dedup_against_index(minhash_bands_of(d.where(is_new)), index, MINHASH_KEYS)


SQL_DEDUP_INCREMENTAL = f"""
WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_SHINGLE_DUCK}) q),
seeded AS (SELECT doc_id, sh, unnest(range(0, 8)) AS seed FROM sh),
sig AS (
  SELECT doc_id, seed,
         MIN({_md5long_duck("concat(sh, '|', CAST(seed AS VARCHAR))")}) AS minhash
  FROM seeded GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band,
         MIN(CASE WHEN seed % 2 = 0 THEN minhash END) AS h0,
         MIN(CASE WHEN seed % 2 = 1 THEN minhash END) AS h1
  FROM sig GROUP BY 1, 2),
split AS (
  SELECT doc_id,
         ({_md5long_duck("'incr|'||CAST(doc_id AS VARCHAR)")} % 5 = 0) AS is_new
  FROM documents),
old_index AS (
  SELECT band, h0, h1, MIN(b.doc_id) AS rep_id
  FROM bands b JOIN split s USING (doc_id) WHERE NOT s.is_new
  GROUP BY 1, 2, 3),
newb AS (
  SELECT b.* FROM bands b JOIN split s USING (doc_id) WHERE s.is_new),
ex AS (
  SELECT n.doc_id, MIN(i.rep_id) AS ex_rep
  FROM newb n JOIN old_index i
    ON n.band = i.band AND n.h0 = i.h0 AND n.h1 = i.h1
  GROUP BY 1),
batch_grp AS (
  SELECT band, h0, h1, MIN(doc_id) AS brep FROM newb GROUP BY 1, 2, 3),
batch AS (
  SELECT n.doc_id, MIN(g.brep) AS batch_rep
  FROM newb n JOIN batch_grp g
    ON n.band = g.band AND n.h0 = g.h0 AND n.h1 = g.h1
  GROUP BY 1)
SELECT b.doc_id,
       CASE WHEN e.ex_rep IS NOT NULL THEN 'dup_existing'
            WHEN b.batch_rep < b.doc_id THEN 'dup_batch'
            ELSE 'new' END AS verdict,
       COALESCE(e.ex_rep, b.batch_rep, b.doc_id) AS rep_id
FROM batch b LEFT JOIN ex e ON e.doc_id = b.doc_id
"""


# -- SimHash (32-bit, token-vote) -----------------------------------------------------------
def q_simhash_docs(spark, sf_dir):
    """Packed-vote single pass: the 32 bit-votes accumulate in an array
    column via one `aggregate` HOF over the doc's (distinct) token hashes —
    zero explodes, zero shuffles, per-row whole-stage-codegen. The earlier
    plan exploded every token into 32 bit-rows and shuffled twice; output
    is identical (same per-(doc, bit) vote sums)."""
    d = T(spark, sf_dir, "documents")
    votes = (
        "aggregate("
        f"  transform(filter(array_distinct(split(text, ' ')), t -> t <> ''),"
        f"            t -> {_md5long('t')}),"
        "  array_repeat(cast(0 as bigint), 32),"
        "  (acc, th) -> zip_with(acc, sequence(0, 31),"
        "               (a, b) -> a + 2 * cast(shiftright(th, b) & 1 as bigint) - 1))"
    )
    simhash = (
        "aggregate("
        "  zip_with(votes, sequence(0, 31),"
        "           (v, b) -> if(v > 0, shiftleft(cast(1 as bigint), b),"
        "                        cast(0 as bigint))),"
        "  cast(0 as bigint), (s, x) -> s + x)"
    )
    return (
        d.select("doc_id", F.expr(votes).alias("votes"))
        .select("doc_id", F.expr(simhash).alias("simhash"))
    )


SQL_SIMHASH = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
  WHERE tok <> ''),
hashed AS (SELECT doc_id, {_md5long_duck('tok')} AS th FROM tok),
bits AS (SELECT doc_id, th, unnest(range(0, 32)) AS b FROM hashed),
votes AS (
  SELECT doc_id, b, SUM(2 * CAST((th >> CAST(b AS INT)) & 1 AS BIGINT) - 1) AS vote
  FROM bits GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# -- SimHash near-dup pairs / dedup groups (bit-sampling LSH over the 32-bit hash) ------------
# 4 bands x 8 bits: Hamming <= 3 differing bits can dirty at most 3 of the 4
# bands, so every true pair shares >= 1 intact band (pigeonhole) — candidate
# recall is EXACT, and the popcount verify makes precision exact too. The
# self-join keys on (band_id, band_val): O(docs x 4) rows shuffled once,
# never the quadratic all-pairs — the same 100 TB shape as the phash ops.
_SH_BANDS = 4
_SH_BAND_BITS = 8
_SH_THRESHOLD = 3  # < _SH_BANDS, the pigeonhole condition


def _simhash_bands(spark, sf_dir):
    return bit_bands(q_simhash_docs(spark, sf_dir), "simhash", _SH_BANDS, _SH_BAND_BITS)


def q_simhash_hamming_pairs(spark, sf_dir):
    """Text near-dup pairs at simhash Hamming <= 3: banded-LSH candidates
    (band-equality join) verified by exact popcount. Output ≡ the naive
    quadratic oracle; the engine never materializes all-pairs."""
    pairs = band_pairs(
        _simhash_bands(spark, sf_dir),
        BIT_KEYS,
        carry={"sa": "a.simhash", "sb": "b.simhash"},
        verify=f"bit_count(a.simhash ^ b.simhash) <= {_SH_THRESHOLD}",
    )
    return pairs.select(
        "doc_a", "doc_b", F.expr("bit_count(sa ^ sb)").cast("int").alias("hamming")
    )


SQL_SIMHASH_PAIRS = f"""
WITH sh AS (SELECT * FROM ({SQL_SIMHASH}) s),
bands AS (
  SELECT doc_id, simhash, band_id,
         (simhash >> CAST(band_id * {_SH_BAND_BITS} AS INT))
           & {(1 << _SH_BAND_BITS) - 1} AS band_val
  FROM sh, (SELECT unnest(range(0, {_SH_BANDS})) AS band_id) b)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_THRESHOLD}
"""


def q_simhash_dedup_groups(spark, sf_dir):
    """SimHash dedup as a pipeline consumes it: every doc mapped to a
    cluster representative (min doc_id sharing any hash band) — O(docs)
    output regardless of cluster density."""
    return band_groups(_simhash_bands(spark, sf_dir), BIT_KEYS)


SQL_SIMHASH_GROUPS = f"""
WITH sh AS (SELECT * FROM ({SQL_SIMHASH}) s),
bands AS (
  SELECT doc_id, band_id,
         (simhash >> CAST(band_id * {_SH_BAND_BITS} AS INT))
           & {(1 << _SH_BAND_BITS) - 1} AS band_val
  FROM sh, (SELECT unnest(range(0, {_SH_BANDS})) AS band_id) b),
grp AS (SELECT band_id, band_val, MIN(doc_id) AS grp_rep
        FROM bands GROUP BY 1, 2)
SELECT b.doc_id, MIN(g.grp_rep) AS rep_id,
       (b.doc_id > MIN(g.grp_rep)) AS is_dup
FROM bands b JOIN grp g ON b.band_id = g.band_id AND b.band_val = g.band_val
GROUP BY b.doc_id
"""


# -- multimodal plumbing: binary payload stats ------------------------------------------------
def q_binary_payload_stats(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    d = d.withColumn("payload", F.encode("text", "UTF-8"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("payload").cast("long")).alias("sum_bytes"),
        F.max(F.octet_length("payload").cast("long")).alias("max_bytes"),
    )


SQL_BINSTATS = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
       CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents GROUP BY source
"""


# -- Bloom build over grouped-map pandas UDF (O4's applyInPandas surface) ---------------------
def q_bloom_build_stats(spark, sf_dir):
    from monocator_spark import spec
    from monocator_spark.operators.dedup import build_shards

    cfg = spec.CrawlConfig(n_images=1, n_hosts=1)
    d = T(spark, sf_dir, "documents")
    hashes = d.select(F.expr(_md5long("text")).alias("url_hash"))
    return build_shards(hashes, cfg).select("shard", "n_inserted")


SQL_BLOOM = f"""
SELECT CAST(({_md5long_duck('text')} & 31) AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_inserted
FROM documents GROUP BY 1
"""


def q_cuckoo_build_stats(spark, sf_dir):
    """The cuckoo twin of ``bloom_build_stats`` (north rule: "bloom/cuckoo
    URL-seen"): drives ``operators/cuckoo.build_shards`` — sorted
    deterministic insertion, per-shard overflow flag — over the documents
    hashes. The oracle pins per-shard cardinality plus overflowed=false
    (the sizing invariant; an overflow here would mean the sizing rule
    broke)."""
    from monocator_spark import spec
    from monocator_spark.operators.cuckoo import build_shards as ck_build

    cfg = spec.CrawlConfig(n_images=1, n_hosts=1)
    d = T(spark, sf_dir, "documents")
    hashes = d.select(F.expr(_md5long("text")).alias("url_hash"))
    return ck_build(hashes, cfg).select("shard", "n_inserted", "overflowed")


SQL_CUCKOO = f"""
SELECT CAST(({_md5long_duck('text')} & 31) AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_inserted,
       FALSE AS overflowed
FROM documents GROUP BY 1
"""


# -- multimodal decode stub via mapInPandas (real plumbing, stubbed codec) --------------------
def q_multimodal_decode_stub(spark, sf_dir):
    """Image/audio decode stub: payload is an opaque binary column; the
    'decode' extracts deterministic metadata (real libs absent — brief says
    stub the codec, keep schema/partitioning/batch shape real)."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def decode_batches(it):
        for pdf in it:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["payload"].map(len).astype(np.int64),
                    "first_byte": pdf["payload"].map(lambda b: int(b[0])).astype(np.int64),
                }
            )
            yield out

    return d.mapInPandas(decode_batches, "doc_id long, byte_len long, first_byte long")


SQL_DECODE_STUB = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
FROM documents
"""


# -- Gopher-style repetition stats ---------------------------------------------
# The repetition leg of the Gopher/RefinedWeb quality rules (the one
# quality_score doesn't cover): distinct-word ratio, most-frequent-word
# fraction, duplicated-bigram fraction, and the resulting keep/flag bit.
# Physical shape: word stats ride ONE partial-aggregated shuffle keyed
# (doc_id, token) — doc_id in the key means no skew regardless of corpus
# vocabulary — then collapse to per-doc; bigram stats never shuffle at all
# (per-row array_distinct over the slice-built bigram list). The join
# aligning the two halves is doc_id-to-doc_id on co-partitioned children.
# Thresholds sit at ~p90-p95 of the testdata distribution so the flag
# branch genuinely fires.
_REP_MIN_DISTINCT = 0.32   # distinct_ratio below → flagged (~p5)
_REP_TOP_FRAC = 0.14       # top-word fraction above → flagged (~p90)
_REP_DUP_BG = 0.065        # duplicated-bigram fraction above → flagged (~p90)
_WS = "filter(split(text, ' '), t -> t <> '')"


def q_doc_repetition_stats(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(_WS)).alias("tok"))
    words = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_word_n"),
        )
    )
    bigrams = d.select(
        "doc_id",
        F.expr(
            f"case when size({_WS}) < 2 then array()"
            f" else transform(sequence(1, size({_WS}) - 1),"
            f"                i -> array_join(slice({_WS}, i, 2), ' ')) end"
        ).alias("bgs"),
    ).select(
        "doc_id",
        F.size("bgs").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("bgs")).cast("long").alias("n_distinct_bg"),
    )
    out = (
        words.join(bigrams, "doc_id")
        .withColumn(
            "distinct_ratio", F.round(F.col("n_distinct") / F.col("n_words"), 6)
        )
        .withColumn(
            "top_word_frac", F.round(F.col("top_word_n") / F.col("n_words"), 6)
        )
        .withColumn(
            "dup_bigram_frac",
            F.when(
                F.col("n_bigrams") > 0,
                F.round(1 - F.col("n_distinct_bg") / F.col("n_bigrams"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out.select(
        "doc_id", "n_words", "n_distinct", "top_word_n", "n_bigrams",
        "distinct_ratio", "top_word_frac", "dup_bigram_frac",
        (
            (F.col("distinct_ratio") < _REP_MIN_DISTINCT)
            | (F.col("top_word_frac") > _REP_TOP_FRAC)
            | (F.col("dup_bigram_frac") > _REP_DUP_BG)
        ).alias("flagged"),
    )


SQL_REPETITION = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
  FROM documents
),
toks AS (SELECT doc_id, unnest(ws) AS tok FROM w),
wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
words AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS top_word_n
  FROM wc GROUP BY 1
),
bg AS (
  SELECT doc_id,
         CASE WHEN len(ws) < 2 THEN []
              ELSE list_transform(range(1, len(ws)),
                     i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])
              END AS bgs
  FROM w
),
bgn AS (
  SELECT doc_id, CAST(len(bgs) AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct(bgs)) AS BIGINT) AS n_distinct_bg
  FROM bg
),
m AS (
  SELECT words.doc_id, n_words, n_distinct, top_word_n, n_bigrams,
         ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_ratio,
         ROUND(CAST(top_word_n AS DOUBLE) / n_words, 6) AS top_word_frac,
         CASE WHEN n_bigrams > 0
              THEN ROUND(1 - CAST(n_distinct_bg AS DOUBLE) / n_bigrams, 6)
              ELSE 0.0 END AS dup_bigram_frac
  FROM words JOIN bgn ON words.doc_id = bgn.doc_id
)
SELECT doc_id, n_words, n_distinct, top_word_n, n_bigrams,
       distinct_ratio, top_word_frac, dup_bigram_frac,
       (distinct_ratio < {_REP_MIN_DISTINCT}
        OR top_word_frac > {_REP_TOP_FRAC}
        OR dup_bigram_frac > {_REP_DUP_BG}) AS flagged
FROM m
"""


# -- PII scrubbing -------------------------------------------------------------
# The redaction pass every published-corpus pipeline runs (C4/RefinedWeb
# style): count + replace emails, phone numbers, and IPv4 literals. The
# testdata text carries no '@' or digits (verified), so the PII is planted
# deterministically from doc_id on BOTH engines — the counts are exactly
# determined, but the matching itself is each engine's real regex machinery
# (Java regex in Catalyst, RE2 in DuckDB), so the oracle pins that the two
# dialects agree span-for-span, including the two-emails-per-doc multi-match
# rows. Scan-local regexp_count/regexp_replace, zero shuffles; at 100 TB
# this is one codegen'd projection over the corpus scan.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"
_PII_IP = r"10\.[0-9]+\.[0-9]+\.[0-9]+"

_PII_TEXT_SPARK = (
    "concat(text,"
    " case when doc_id % 3 = 0 then concat(' contact user',"
    "   cast(doc_id as string), '@ex', cast(doc_id % 7 as string), '.com')"
    "   else '' end,"
    " case when doc_id % 6 = 0 then concat(' cc admin',"
    "   cast(doc_id as string), '@mail.org') else '' end,"
    " case when doc_id % 5 = 0 then concat(' call +1-555-',"
    "   cast(1000 + doc_id % 9000 as string)) else '' end,"
    " case when doc_id % 7 = 0 then concat(' host 10.',"
    "   cast(doc_id % 256 as string), '.0.', cast(doc_id % 100 as string))"
    "   else '' end)"
)
_PII_TEXT_DUCK = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    "      || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN ' cc admin' || CAST(doc_id AS VARCHAR)"
    "      || '@mail.org' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-'"
    "      || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)"
    "      || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
)


def q_pii_scrub_stats(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PII_TEXT_SPARK).alias("t2")
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t2"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE),
            F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP),
        F.lit("<IP>"),
    )
    return d.select(
        "doc_id",
        F.regexp_count("t2", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("t2", F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count("t2", F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.length("t2").cast("long").alias("orig_len"),
        F.length(scrubbed).cast("long").alias("scrub_len"),
        (
            F.regexp_count("t2", F.lit(_PII_EMAIL))
            + F.regexp_count("t2", F.lit(_PII_PHONE))
            + F.regexp_count("t2", F.lit(_PII_IP))
            > 0
        ).alias("has_pii"),
    )


SQL_PII_SCRUB = f"""
WITH t AS (SELECT doc_id, {_PII_TEXT_DUCK} AS t2 FROM documents),
m AS (
  SELECT doc_id, t2,
         CAST(len(regexp_extract_all(t2, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
         CAST(len(regexp_extract_all(t2, '{_PII_IP}')) AS BIGINT) AS n_ips,
         regexp_replace(
           regexp_replace(
             regexp_replace(t2, '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g') AS scrubbed
  FROM t
)
SELECT doc_id, n_emails, n_phones, n_ips,
       CAST(length(t2) AS BIGINT) AS orig_len,
       CAST(length(scrubbed) AS BIGINT) AS scrub_len,
       (n_emails + n_phones + n_ips > 0) AS has_pii
FROM m
"""


# -- source/domain-level curation rollup ----------------------------------------
# Domain-level filtering is the other half of corpus curation (per-doc rules
# remove bad documents; per-SOURCE rules remove bad *sites* — link farms,
# template mills, boilerplate mirrors). Roll every doc-level signal up to its
# source and emit a keep / sample / drop decision per source. Shape at
# 100 TB: one map-side-combined aggregate keyed (source, lang) plus one exact
# text-hash distinct keyed (source, h) — both shrink to O(sources) rows
# before any join, and the final joins are broadcasts of tiny aggregates; the
# corpus itself is scanned once and never shuffled at full width.
_CUR_DROP_DUP = 0.20  # >20% duplicated text → mirror/template mill
_CUR_DROP_SHORT = 0.15  # >15% near-empty docs → scraper junk
_CUR_SAMPLE_CHARS = 290.0  # thin average doc → downsample
_CUR_SAMPLE_EN = 0.35  # low share of the pipeline's target lang → downsample


def q_source_curation_rollup(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    base = d.select(
        "source", "lang", "n_chars", F.expr(_md5long("text")).alias("h")
    )
    per_sl = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias("short"),
    )
    src = per_sl.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.sum("chars").alias("sum_chars"),
        F.sum("short").alias("n_short"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
            "n_en"
        ),
        # majority language, ties broken by lang desc — max over (cnt, lang)
        F.max(F.struct("cnt", "lang"))["lang"].alias("major_lang"),
    )
    uniq = base.groupBy("source").agg(F.countDistinct("h").alias("n_unique"))
    m = (
        src.join(uniq, "source")
        .withColumn(
            "dup_frac", F.round(1 - F.col("n_unique") / F.col("n_docs"), 6)
        )
        .withColumn(
            "short_frac", F.round(F.col("n_short") / F.col("n_docs"), 6)
        )
        .withColumn(
            "mean_chars", F.round(F.col("sum_chars") / F.col("n_docs"), 6)
        )
        .withColumn("en_frac", F.round(F.col("n_en") / F.col("n_docs"), 6))
    )
    decision = (
        F.when(
            (F.col("dup_frac") > _CUR_DROP_DUP)
            | (F.col("short_frac") > _CUR_DROP_SHORT),
            F.lit("drop"),
        )
        .when(
            (F.col("mean_chars") < _CUR_SAMPLE_CHARS)
            | (F.col("en_frac") < _CUR_SAMPLE_EN),
            F.lit("sample"),
        )
        .otherwise(F.lit("keep"))
    )
    return m.select(
        "source", "n_docs", "n_unique", "major_lang", "dup_frac",
        "short_frac", "mean_chars", "en_frac", decision.alias("decision"),
    )


SQL_CURATION_ROLLUP = f"""
WITH base AS (
  SELECT source, lang, n_chars, {_md5long_duck('text')} AS h FROM documents
),
per_sl AS (
  SELECT source, lang, COUNT(*) AS cnt, SUM(n_chars) AS chars,
         SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS short
  FROM base GROUP BY 1, 2
),
src AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM(chars) AS BIGINT) AS sum_chars,
         CAST(SUM(short) AS BIGINT) AS n_short,
         CAST(SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS BIGINT) AS n_en,
         (max(struct_pack(cnt := cnt, lang := lang))).lang AS major_lang
  FROM per_sl GROUP BY 1
),
uniq AS (
  SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique
  FROM base GROUP BY 1
),
m AS (
  SELECT src.source, n_docs, n_unique, major_lang,
         ROUND(1 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS dup_frac,
         ROUND(CAST(n_short AS DOUBLE) / n_docs, 6) AS short_frac,
         ROUND(CAST(sum_chars AS DOUBLE) / n_docs, 6) AS mean_chars,
         ROUND(CAST(n_en AS DOUBLE) / n_docs, 6) AS en_frac
  FROM src JOIN uniq ON src.source = uniq.source
)
SELECT source, n_docs, n_unique, major_lang, dup_frac, short_frac,
       mean_chars, en_frac,
       CASE WHEN dup_frac > {_CUR_DROP_DUP} OR short_frac > {_CUR_DROP_SHORT}
            THEN 'drop'
            WHEN mean_chars < {_CUR_SAMPLE_CHARS} OR en_frac < {_CUR_SAMPLE_EN}
            THEN 'sample'
            ELSE 'keep' END AS decision
FROM m
"""


# -- exact per-group quantiles ---------------------------------------------------
# Exact quantiles the way they stay computable at 100 TB: NEVER collect a
# group's raw values (Spark's percentile() buffers every value of a group in
# one aggregator — a 10^10-row group OOMs). Instead aggregate to the VALUE
# DISTRIBUTION — (group, value) → count, a map-side-combined shuffle that
# shrinks to O(distinct values) rows — then a windowed cumulative sum over
# each group's distinct values turns rank lookups into range filters, and
# linear interpolation between the two bracketing ranks reproduces
# quantile_cont exactly. p ∈ {.25,.5,.75} and integer values keep every
# intermediate double exact, so the Spark and DuckDB results are
# bit-identical with no rounding slack.
_QUANTILE_PS = (0.25, 0.5, 0.75)
_QUANTILE_PERSISTED: list = []


def _value_distribution(spark, sf_dir):
    """(lang, value) → count over documents.n_chars, persisted one-slot so
    every downstream branch reads the cache and the corpus scans ONCE."""
    d = T(spark, sf_dir, "documents")
    return _persist_one_slot(
        d.groupBy("lang", F.col("n_chars").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        ),
        _QUANTILE_PERSISTED,
    )


def _group_quantiles(counts, ps):
    """Exact quantiles from a (lang, v, c) distribution: windowed cumsum
    turns rank lookups into range filters on the per-group distinct values,
    linear interpolation between the bracketing ranks ≡ quantile_cont.
    Returns (lang, n, p, q) — every join input is an O(distinct values)
    aggregate, so the joins broadcast."""
    from pyspark.sql import Window

    cum = counts.withColumn(
        "cum", F.sum("c").over(Window.partitionBy("lang").orderBy("v"))
    )
    pts = (
        counts.groupBy("lang")
        .agg(F.sum("c").alias("n"))
        .select(
            "lang",
            "n",
            F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"),
        )
        .withColumn("pos", (F.col("n") - 1) * F.col("p"))
        .withColumn("lo", F.floor("pos"))
        .withColumn("hi", F.ceil("pos"))
        .withColumn("frac", F.col("pos") - F.col("lo"))
    )

    def rank_value(rank_col, alias):
        cc = cum.select(F.col("lang").alias("cl"), "v", "c", "cum")
        return pts.join(
            cc,
            (F.col("lang") == F.col("cl"))
            & (F.col(rank_col) >= F.col("cum") - F.col("c"))
            & (F.col(rank_col) < F.col("cum")),
        ).select("lang", "p", F.col("v").alias(alias))

    return (
        pts.join(rank_value("lo", "v_lo"), ["lang", "p"])
        .join(rank_value("hi", "v_hi"), ["lang", "p"])
        .select(
            "lang",
            "n",
            "p",
            (
                F.col("v_lo") + (F.col("v_hi") - F.col("v_lo")) * F.col("frac")
            ).alias("q"),
        )
    )


def q_group_quantiles_exact(spark, sf_dir):
    counts = _value_distribution(spark, sf_dir)
    q = _group_quantiles(counts, _QUANTILE_PS)
    return q.groupBy("lang", "n").agg(
        *[
            F.max(F.when(F.col("p") == p, F.round(F.col("q"), 6))).alias(
                f"p{int(p * 100)}"
            )
            for p in _QUANTILE_PS
        ]
    )


SQL_GROUP_QUANTILES = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
       ROUND(quantile_cont(n_chars, 0.50), 6) AS p50,
       ROUND(quantile_cont(n_chars, 0.75), 6) AS p75
FROM documents GROUP BY lang
"""


# -- winsorized per-group stats --------------------------------------------------
# Outlier-robust curation statistics: the classic 25%-winsorized mean — clamp
# each group's values to [p25, p75] and report the winsorized mean plus how
# many rows each quartile clipped. Everything downstream of the one
# distribution aggregate is computed ON the distribution — the winsorized sum
# is Σ c·clamp(v) over distinct values, so the corpus is scanned once and
# nothing wide ever shuffles. Exactness: the quartiles are
# quarter-interpolations of integers (exact quarters in binary), clamp keeps
# values exact multiples of 1/4, and the running sums stay far below 2^53, so
# Spark's and DuckDB's different summation orders produce the SAME double.
def q_winsorized_stats_group(spark, sf_dir):
    counts = _value_distribution(spark, sf_dir)
    q = _group_quantiles(counts, (0.25, 0.75))
    fences = q.groupBy("lang", "n").agg(
        F.max(F.when(F.col("p") == 0.25, F.col("q"))).alias("p25"),
        F.max(F.when(F.col("p") == 0.75, F.col("q"))).alias("p75"),
    )
    clamped = counts.join(fences, "lang").withColumn(
        "cv", F.greatest("p25", F.least("p75", F.col("v").cast("double")))
    )
    return clamped.groupBy("lang").agg(
        F.max("n").alias("n"),
        F.round(F.max("p25"), 6).alias("p25"),
        F.round(F.max("p75"), 6).alias("p75"),
        F.round(F.sum(F.col("c") * F.col("cv")) / F.max("n"), 6).alias("w_mean"),
        F.sum(F.when(F.col("v") < F.col("p25"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_clip_lo"),
        F.sum(F.when(F.col("v") > F.col("p75"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_clip_hi"),
    )


SQL_WINSORIZED = """
WITH q AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         quantile_cont(n_chars, 0.25) AS p25,
         quantile_cont(n_chars, 0.75) AS p75
  FROM documents GROUP BY lang
)
SELECT d.lang, MAX(q.n) AS n,
       ROUND(MAX(p25), 6) AS p25,
       ROUND(MAX(p75), 6) AS p75,
       ROUND(SUM(GREATEST(p25, LEAST(p75, CAST(n_chars AS DOUBLE))))
             / MAX(q.n), 6) AS w_mean,
       CAST(SUM(CASE WHEN n_chars < p25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(SUM(CASE WHEN n_chars > p75 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi
FROM documents d JOIN q ON d.lang = q.lang
GROUP BY d.lang
"""


# -- benchmark contamination check ----------------------------------------------
# Decontamination is a mandatory pass before any corpus ships as training
# data (GPT-3 App. C / PaLM / Llama all document it): flag every training
# document that shares a word n-gram with the evaluation/benchmark set. The
# "benchmark" here is synthesized deterministically from the corpus itself
# (docs with doc_id % 97 == 0 play the eval set — no external data per
# brief); the n-gram machinery is the real thing, reusing the 5-word
# shingles the near-dup family is built on.
#
# Shape at 100 TB: the benchmark n-gram set is O(eval suite) — thousands of
# benchmarks × kilobyte-scale items — always broadcastable; the corpus side
# explodes shingles scan-locally and the ONLY shuffle is the per-doc count
# (doc_id in the key — uniform, map-side combined). The corpus text itself
# never shuffles, so this is one linear pass regardless of corpus size.


def q_contamination_ngram(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.expr(_SHINGLE_SPARK).alias("sh"))
    bench = (
        sh.where(F.col("doc_id") % 97 == 0)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    marked = sh.join(F.broadcast(bench), "sh", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_ngrams"), 6).alias("contam_frac"),
            (F.col("doc_id") % 97 == 0).alias("is_eval"),
            ((F.col("n_hit") > 0) & (F.col("doc_id") % 97 != 0)).alias(
                "contaminated"
            ),
        )
    )


SQL_CONTAMINATION = f"""
WITH sh AS ({_SHINGLE_DUCK}),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       ROUND(CAST(SUM(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS contam_frac,
       (sh.doc_id % 97 = 0) AS is_eval,
       (SUM(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) > 0
        AND sh.doc_id % 97 <> 0) AS contaminated
FROM sh LEFT JOIN bench ON sh.sh = bench.sh
GROUP BY sh.doc_id
"""


# -- HTML → text extraction ------------------------------------------------------
# The first transform every web-crawl corpus applies (C4/CCNet/RefinedWeb):
# strip markup, drop script blocks, extract the title, collapse whitespace.
# The testdata text carries no markup, so the HTML wrapper is planted
# deterministically from doc_id on BOTH engines (same trick as the PII op) —
# the extraction itself is each engine's real regex machinery (Java regex vs
# RE2), pinned span-for-span including the non-greedy script-block match.
# Scan-local codegen projection, zero shuffles: at 100 TB this rides the
# corpus scan.
_HTML_SPARK = (
    "concat('<html><head><title>Doc ', cast(doc_id as string),"
    " '</title><script>var x=', cast(doc_id % 13 as string),"
    " ';</script></head><body><nav>home | about | search</nav><p>',"
    " text, '</p>',"
    " case when doc_id % 4 = 0 then concat('<div class=\"ad\">buy now ',"
    "   cast(doc_id % 11 as string), '</div>') else '' end,"
    " '<footer>(c) site ', cast(doc_id % 50 as string),"
    " '</footer></body></html>')"
)
_HTML_DUCK = (
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)"
    " || '</title><script>var x=' || CAST(doc_id % 13 AS VARCHAR)"
    " || ';</script></head><body><nav>home | about | search</nav><p>'"
    " || text || '</p>'"
    " || CASE WHEN doc_id % 4 = 0 THEN '<div class=\"ad\">buy now '"
    "      || CAST(doc_id % 11 AS VARCHAR) || '</div>' ELSE '' END"
    " || '<footer>(c) site ' || CAST(doc_id % 50 AS VARCHAR)"
    " || '</footer></body></html>'"
)
_RE_SCRIPT = r"<script>.*?</script>"
_RE_TAG = r"<[^>]*>"
_RE_TITLE = r"<title>([^<]*)</title>"


def q_html_text_extract(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_HTML_SPARK).alias("html")
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("html"), F.lit(_RE_SCRIPT), F.lit(" ")),
                F.lit(_RE_TAG),
                F.lit(" "),
            ),
            F.lit(" +"),
            F.lit(" "),
        )
    )
    return d.select(
        "doc_id",
        F.regexp_extract("html", _RE_TITLE, 1).alias("title"),
        F.length("html").cast("long").alias("html_len"),
        F.length(clean).cast("long").alias("clean_len"),
        F.regexp_count("html", F.lit(_RE_TAG)).cast("long").alias("n_tags"),
        F.expr(_md5long(
            "trim(regexp_replace(regexp_replace(regexp_replace(html,"
            " '<script>.*?</script>', ' '), '<[^>]*>', ' '), ' +', ' '))"
        )).alias("clean_fp"),
    )


SQL_HTML_EXTRACT = f"""
WITH h AS (SELECT doc_id, {_HTML_DUCK} AS html FROM documents),
c AS (
  SELECT doc_id, html,
         trim(regexp_replace(regexp_replace(regexp_replace(
           html, '<script>.*?</script>', ' ', 'g'),
           '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS clean
  FROM h
)
SELECT doc_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       CAST(length(html) AS BIGINT) AS html_len,
       CAST(length(clean) AS BIGINT) AS clean_len,
       CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
       {_md5long_duck('clean')} AS clean_fp
FROM c
"""


# -- paragraph-level exact dedup --------------------------------------------------
# RefinedWeb/CCNet dedup at sub-document granularity: boilerplate paragraphs
# (nav bars, cookie banners, license blurbs) repeat across millions of pages
# and survive document-level dedup. Split each doc into paragraphs (fixed
# 16-token blocks here — the testdata carries no newlines), hash each, keep
# the corpus-wide FIRST occurrence of every hash, and report per-doc how
# much of the document is someone else's paragraph.
#
# Shape at 100 TB: paragraphs explode scan-locally; the one wide shuffle is
# keyed by the 60-bit content hash — uniform by construction, no skew, and
# the per-hash state is a single min() (map-side combined). The per-doc
# rollup re-keys by doc_id (uniform). Nothing is ever all-pairs and the full
# text never shuffles — only (hash, okey) longs.
_PARA_W = 16  # tokens per paragraph block


def q_paragraph_dedup_stats(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    paras = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size({_WS}) / {_PARA_W}.0)"
                f" as int) - 1),"
                f" j -> array_join(slice({_WS}, j * {_PARA_W} + 1, {_PARA_W}),"
                f" ' '))"
            )
        ).alias("para_idx", "para"),
    ).select(
        "doc_id",
        "para_idx",
        F.expr(_md5long("para")).alias("h"),
        (F.col("doc_id") * 1000 + F.col("para_idx")).alias("okey"),
    )
    w = Window.partitionBy("h")
    flagged = paras.withColumn(
        "is_dup", F.col("okey") > F.min("okey").over(w)
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_paras"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dup_paras",
            F.round(F.col("n_dup_paras") / F.col("n_paras"), 6).alias("dup_frac"),
            (F.col("n_dup_paras") * 2 <= F.col("n_paras")).alias("keep"),
        )
    )


SQL_PARA_DEDUP = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
  FROM documents
),
p AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(len(ws) / {_PARA_W}.0) AS BIGINT))) AS j,
         ws
  FROM w
),
paras AS (
  SELECT doc_id, j AS para_idx,
         array_to_string(ws[CAST(j * {_PARA_W} + 1 AS INT)
                          : CAST(j * {_PARA_W} + {_PARA_W} AS INT)], ' ')
           AS para,
         doc_id * 1000 + j AS okey
  FROM p
),
h AS (
  SELECT doc_id, okey, {_md5long_duck('para')} AS h FROM paras
),
f AS (
  SELECT doc_id, (okey > MIN(okey) OVER (PARTITION BY h)) AS is_dup FROM h
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
       ROUND(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_frac,
       (SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 2 <= COUNT(*)) AS keep
FROM f
GROUP BY doc_id
"""


# -- keep-best dedup: quality-aware representative selection ---------------------
# Production near-dup dedup rarely keeps "lowest id" — it keeps the BEST
# member of each duplicate cluster (longest, highest quality score) and
# drops the rest. Compose the two existing primitives: the minhash LSH
# group mapping (O(docs) output) joined with a per-doc quality signal
# (n_tokens — the same whitespace tokenizer every textop shares), then one
# window over the group key picks argmax(n_tokens, tiebreak lowest doc_id).
# Shape at 100 TB: the group mapping and the quality column are both linear
# scans; the only shuffle is the window over rep_id — duplicate-cluster
# sized partitions, bounded by the LSH clustering, never n².
def q_dedup_keep_best(spark, sf_dir):
    from pyspark.sql import Window

    groups = q_minhash_dedup_groups(spark, sf_dir).select("doc_id", "rep_id")
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_NTOK).cast("long").alias("n_tokens")
    )
    g = groups.join(d, "doc_id")
    w = Window.partitionBy("rep_id").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    return (
        g.withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id", "rep_id", "n_tokens", (F.col("rnk") == 1).alias("keep")
        )
    )


SQL_KEEP_BEST = f"""
SELECT g.doc_id, g.rep_id, q.n_tokens,
       (ROW_NUMBER() OVER (PARTITION BY g.rep_id
          ORDER BY q.n_tokens DESC, g.doc_id) = 1) AS keep
FROM ({SQL_DEDUP_GROUPS}) g
JOIN (SELECT doc_id,
             CAST((length(text) - length(replace(text, ' ', ''))) + 1
                  AS BIGINT) AS n_tokens
      FROM documents) q ON q.doc_id = g.doc_id
"""


# -- CCNet-style perplexity bucketing ---------------------------------------------
# CCNet's curation move: score every document with a language model, then
# split each language's distribution into head / middle / tail terciles and
# train preferentially on the head. No LM exists in this container, so the
# per-token surprisal is a deterministic md5 surrogate (hash(token) % 1000
# — uniform, identical on both engines); the PIPELINE is the real thing:
# one linear scoring pass (aggregate HOF over the doc's tokens, zero
# explodes/shuffles), then NTILE(3) per language ordered by (score,
# doc_id). Shape at 100 TB: scoring is scan-local; the tercile window
# shuffles once on lang — with few languages and many rows a production
# run would swap NTILE for the approx-quantile cut of group_quantiles_exact
# (same output contract, no per-lang total order).
def q_perplexity_bucket(spark, sf_dir):
    # score in exact integer micro-units (floor(mean_surprisal · 10^3)):
    # the sum and the integer division are exact on both engines, so no
    # float rounding mode can ever flip a tercile boundary
    toks = "filter(split(text, ' '), t -> t <> '')"
    score = (
        f"(aggregate({toks}, cast(0 as bigint),"
        f" (acc, t) -> acc + {_md5long('t')} % 1000) * cast(1000 as bigint))"
        f" div cast(size({toks}) as bigint)"
    )
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(score).alias("ppl_proxy")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.asc("ppl_proxy"), F.asc("doc_id"))
    return d.withColumn(
        "bucket",
        F.when(F.ntile(3).over(w) == 1, F.lit("head"))
        .when(F.ntile(3).over(w) == 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


SQL_PPL_BUCKET = f"""
WITH s AS (
  SELECT doc_id, lang,
         CAST(list_sum(list_transform(
                list_filter(string_split(text, ' '), t -> t <> ''),
                t -> {_md5long_duck('t')} % 1000)) * 1000 AS BIGINT)
         // CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                 AS BIGINT) AS ppl_proxy
  FROM documents
)
SELECT doc_id, lang, ppl_proxy,
       CASE NTILE(3) OVER (PARTITION BY lang ORDER BY ppl_proxy, doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM s
"""


# -- Connected components over the LSH edge list -----------------------------------
# True TRANSITIVE duplicate clusters — the step minhash_dedup_groups only
# approximates. The band-bucket window-min mapping is exact within one
# bucket, but a chain A—B (shared band 0) and B—C (shared band 3) leaves C
# pointing at B while B points at A: two "clusters" for one duplicate
# family. Production dedup (RefinedWeb, SlimPajama, BigCode) closes such
# chains with distributed connected components over the LSH candidate
# edges; this is that op.
#
# Algorithm: min-label propagation to the fixpoint. Each round is one
# shuffle join (edges ⋈ labels on dst) + one min-aggregate on node, so a
# component's min id travels one hop per round and the loop ends after
# diameter+1 rounds. LSH duplicate clusters are near-cliques (tiny
# diameter), so rounds ≈ 2–3 in practice; a worst-case long-chain graph
# would call for the O(log n) large-star/small-star alternation (Kiveris
# et al. 2014) — same per-round plan shape, different edge rewrite rule.
#
# Shape at 100 TB: edges are persisted once (the signature pipeline runs
# once, not per round); every round's label table is localCheckpoint-
# materialized — O(nodes-in-any-edge) rows, lineage cut so round k+1's
# plan never re-expands rounds 1..k — and the convergence check is one
# count() on the already-materialized diff (driver actions bounded by the
# round count, never by data size). Output is O(docs): every document
# mapped to its component-min representative, plus the cluster size the
# curation decision actually keys on.
def _connected_components(edges, spark, rounds_out: list | None = None):
    """Min-label propagation: edges (src:long, dst:long, symmetric) →
    labels (node:long, lbl:long = component min). Returns a
    localCheckpoint-materialized DataFrame with no live lineage into
    ``edges``. If ``rounds_out`` is given, the round count is appended to
    it (diagnostics: rounds ≈ component diameter + 1)."""
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    rounds = 0
    while True:
        rounds += 1
        nbr = edges.join(
            labels.select(F.col("node").alias("dst"), "lbl"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        new = (
            nbr.unionByName(labels)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("lbl", "old"), "node")
            .where(F.col("lbl") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    if rounds_out is not None:
        rounds_out.append(rounds)
    return labels


def q_dedup_connected_components(spark, sf_dir):
    from pyspark.sql import Window

    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc1").alias("src"), F.col("doc2").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc2").alias("src"), F.col("doc1").alias("dst"))
    )
    labels = _connected_components(edges, spark)
    d = T(spark, sf_dir, "documents").select("doc_id")
    mapped = d.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("rep_id")
    )
    return mapped.select(
        "doc_id",
        "rep_id",
        (F.col("doc_id") > F.col("rep_id")).alias("is_dup"),
        F.count(F.lit(1)).over(Window.partitionBy("rep_id")).alias("cluster_size"),
    )


SQL_DEDUP_CC = f"""
WITH RECURSIVE
pairs AS ({SQL_LSH}),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION ALL
  SELECT doc2 AS src, doc1 AS dst FROM pairs),
walk (node, reach) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
comp AS (SELECT node, MIN(reach) AS rep FROM walk GROUP BY node),
mapped AS (
  SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
SELECT doc_id, rep_id, (doc_id > rep_id) AS is_dup,
       COUNT(*) OVER (PARTITION BY rep_id) AS cluster_size
FROM mapped
"""


# -- Exact-substring span dedup (sliding windows + island merge) -----------------
# The Lee et al. 2021 "Deduplicating Training Data Makes Language Models
# Better" exact-substring op, at window granularity: hash every W-token
# SLIDING window (stride 1 — unlike paragraph_dedup_stats' non-overlapping
# tiles), mark windows whose text occurs ≥2 times anywhere in the corpus
# (any doc, any offset — within-doc repeats count, matching the
# suffix-array semantics), then merge each doc's run of duplicated window
# starts into MAXIMAL duplicated spans via gaps-and-islands
# (pos − row_number() constant within a run). Output is the actionable
# shape production dedup emits: per-doc token ranges to cut, not a flag.
#
# Shape at 100 TB: windows explode ×~n_tokens but stay scan-local until
# the one count shuffle on the 60-bit window hash (8-byte key, never the
# window string); the dup set is a tiny fraction of windows, so the
# islands window sees only duplicated rows. No all-pairs stage anywhere.
_SPAN_W = 8  # tokens per sliding window


def q_substring_dedup_spans(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    # 1-based window starts; docs shorter than W contribute no windows
    spans = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"case when size({_WS}) < {_SPAN_W} then array()"
                f" else transform(sequence(1, size({_WS}) - {_SPAN_W - 1}),"
                f" i -> array_join(slice({_WS}, i, {_SPAN_W}), ' ')) end"
            )
        ).alias("pos0", "sp"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(_md5long("sp")).alias("h"),
    )
    dup = spans.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).where(F.col("n_occ") >= 2)
    isl = dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(_SPAN_W - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


SQL_SUBSTRING_SPANS = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
  FROM documents
),
s AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         {_md5long_duck(f"array_to_string(ws[CAST(i AS INT):CAST(i + {_SPAN_W} - 1 AS INT)], ' ')")} AS h
  FROM (SELECT doc_id, ws,
               unnest(range(1, greatest(len(ws) - {_SPAN_W - 1}, 0) + 1)) AS i
        FROM w)
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM s)
  WHERE n_occ >= 2
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id, MIN(pos) AS span_start,
       CAST(MAX(pos) + {_SPAN_W - 1} AS INT) AS span_end,
       COUNT(*) AS n_windows
FROM isl GROUP BY doc_id, grp
"""


# -- Per-domain hard cap (corpus balancing) ---------------------------------------
# Web corpora cap pages per domain so no single site dominates training
# (Common Crawl derivatives cap per-domain page counts; Gopher/MassiveWeb
# subsample hot domains). Distinct from sample_stratified (a RATE per
# language): this is a hard per-source COUNT cap with a deterministic,
# seed-free pick — rank each source's docs by md5(doc_id) (a stable
# pseudo-random order any engine reproduces) and keep the first K.
#
# Shape at 100 TB: one shuffle on source. A pathologically hot domain makes
# that window partition skewed; the rank-then-cap form lets AQE skew-split
# handle it, and only (doc_id, source) — never text — is shuffled.
_DOMAIN_CAP = 8


def q_domain_cap_sample(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.expr(_md5long("cast(doc_id as string)")), "doc_id"
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("kept", F.col("rk") <= _DOMAIN_CAP)
    )


SQL_DOMAIN_CAP = f"""
SELECT doc_id, source, rk, (rk <= {_DOMAIN_CAP}) AS kept
FROM (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {_md5long_duck('CAST(doc_id AS VARCHAR)')}, doc_id
         ) AS INT) AS rk
  FROM documents)
"""


# -- Dataset-mixing weight calculator ---------------------------------------------
# Training-corpus assembly ends with a MIXING step: each source gets a
# target share of the token budget (The Pile's per-set weights; DoReMi's
# learned domain weights), and the loader needs the per-source sampling
# multiplier ("epochs") = target_share / natural_share — >1000 milli means
# the source is upsampled (seen more than once per pass), <1000 means
# subsampled. Weights here are a deterministic function of the source name
# (1 + md5(source) % 5, then normalized), so both engines derive the same
# target distribution with zero config plumbing. All arithmetic is integer
# (ppm shares, milli multipliers, floor division) — no float can split the
# engines.
#
# Shape at 100 TB: one map-side-combined agg shuffles only (source,
# partial sums) — the corpus text never moves; the window totals run over
# the ~|sources| aggregate rows (tiny), not the corpus.
def q_mix_weights_epochs(spark, sf_dir):
    from pyspark.sql import Window

    per_src = (
        T(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr(f"size({_WS})")).alias("n_tokens"),
        )
        .withColumn("weight", F.expr(_md5long("source")) % 5 + 1)
    )
    w = Window.partitionBy()  # |sources| rows — tiny by construction
    tot = per_src.select(
        "source", "n_docs", "n_tokens", "weight",
        F.sum("n_tokens").over(w).alias("tot_tokens"),
        F.sum("weight").over(w).alias("tot_weight"),
    )
    return tot.select(
        "source", "n_docs", "n_tokens", "weight",
        F.expr("n_tokens * 1000000 DIV tot_tokens").alias("natural_ppm"),
        F.expr("weight * 1000000 DIV tot_weight").alias("target_ppm"),
        F.expr(
            "(weight * 1000000 DIV tot_weight) * 1000"
            " DIV greatest(n_tokens * 1000000 DIV tot_tokens, 1)"
        ).alias("epochs_milli"),
    )


SQL_MIX_WEIGHTS = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_tokens,
         {_md5long_duck("source")} % 5 + 1 AS weight
  FROM documents GROUP BY source
),
tot AS (
  SELECT *, SUM(n_tokens) OVER () AS tot_tokens,
            SUM(weight) OVER () AS tot_weight
  FROM per_src
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(weight AS BIGINT) AS weight,
       CAST(n_tokens * 1000000 // tot_tokens AS BIGINT) AS natural_ppm,
       CAST(weight * 1000000 // tot_weight AS BIGINT) AS target_ppm,
       CAST((weight * 1000000 // tot_weight) * 1000
         // greatest(n_tokens * 1000000 // tot_tokens, 1) AS BIGINT) AS epochs_milli
FROM tot
"""


# -- Sequence packing into fixed-length training contexts -------------------------
# The last mile of a pre-training pipeline: documents are concatenated in a
# deterministic order and the token stream is cut into fixed CONTEXT-length
# chunks (GPT-style packing — every batch row is exactly C tokens, docs
# spanning chunk boundaries). The op computes, per doc, its byte-exact
# placement in that stream: start offset (running token sum over docs
# before it), first/last chunk id, and how many chunks it spans. Packing
# is per SOURCE here — exactly how production packs per output shard, so
# the running sum never needs a global total order. Integer arithmetic
# throughout.
#
# Shape at 100 TB: token counting is scan-local; one shuffle on source;
# the running-sum window is a single ordered pass per source partition
# (production would sub-shard hot sources first — the per-shard semantics
# are unchanged, which is the point of packing per shard).
_PACK_C = 512  # tokens per packed training context


def q_sequence_pack_chunks(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.expr(f"cast(size({_WS}) as bigint)").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = d.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).where(F.col("n_tokens") > 0)
    return s.select(
        "source", "doc_id", "n_tokens", "start_off",
        F.expr(f"start_off DIV {_PACK_C}").alias("chunk_first"),
        F.expr(f"(start_off + n_tokens - 1) DIV {_PACK_C}").alias("chunk_last"),
        F.expr(
            f"(start_off + n_tokens - 1) DIV {_PACK_C}"
            f" - start_off DIV {_PACK_C} + 1"
        ).alias("n_chunks"),
    )


SQL_PACK_CHUNKS = f"""
WITH d AS (
  SELECT source, doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
  FROM documents
),
s AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM d
)
SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {_PACK_C} AS BIGINT) AS chunk_first,
       CAST((start_off + n_tokens - 1) // {_PACK_C} AS BIGINT) AS chunk_last,
       CAST((start_off + n_tokens - 1) // {_PACK_C}
            - start_off // {_PACK_C} + 1 AS BIGINT) AS n_chunks
FROM s WHERE n_tokens > 0
"""


# -- BM25 retrieval scoring (Okapi, k1=1.2 b=0.75) ----------------------------
# The ranking function behind corpus search / quality-by-query curation,
# next to tfidf_topk's linear-idf features. Parity trick: k1 and b are
# rationals (6/5, 3/4), so the whole score collapses to ONE division of two
# exact integers —
#   score = 22·L·tf·N / ((10·L·tf + 3·L + 9·dl·N) · df)
# where dl = per-doc term count, L = Σ dl, N = corpus size (operands stay
# ≤ 2^53 far past sf0.1) — same "doubles only from identical-operand
# divisions" rule as tfidf_topk, so the double is bit-identical on every
# engine and no rank can flip.
# Shape at 100 TB: the term explode collapses map-side before one
# (doc_id, term) shuffle; dl rides the same aggregate keyed by doc_id; df
# is O(vocabulary) and broadcast (term is Zipf-skewed — never shuffle on
# it); L and N are broadcast 1-row aggregates, not driver actions.
def q_bm25_topk(spark, sf_dir, k: int = 5, min_len: int = 3):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).where(F.length("term") >= min_len)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus_len = dl.agg(F.sum("dl").alias("corpus_l"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(corpus_len))
        .withColumn(
            "score",
            F.round(
                (F.lit(22) * F.col("corpus_l") * F.col("tf") * F.col("n_docs"))
                .cast("double")
                / (
                    (
                        F.lit(10) * F.col("corpus_l") * F.col("tf")
                        + F.lit(3) * F.col("corpus_l")
                        + F.lit(9) * F.col("dl") * F.col("n_docs")
                    )
                    * F.col("df")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "dl", "score", "rk")
    )


SQL_BM25_TOPK = """
WITH terms AS (
  SELECT doc_id, term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        FROM documents) t
  WHERE length(term) >= 3
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
l AS (SELECT CAST(SUM(dl) AS BIGINT) AS corpus_l FROM dl)
SELECT doc_id, term, tf, dl, score, rk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
         ROUND(CAST(22 * l.corpus_l * tf.tf * n.n_docs AS DOUBLE)
               / ((10 * l.corpus_l * tf.tf + 3 * l.corpus_l
                   + 9 * dl.dl * n.n_docs) * dfreq.df), 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY ROUND(CAST(22 * l.corpus_l * tf.tf * n.n_docs AS DOUBLE)
               / ((10 * l.corpus_l * tf.tf + 3 * l.corpus_l
                   + 9 * dl.dl * n.n_docs) * dfreq.df), 6) DESC,
                    tf.term) AS rk
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id, n, l) q
WHERE rk <= 5
"""


# -- deterministic train/val/test split assignment ----------------------------
# The split every pipeline needs before training: hash-based (not random),
# so membership is a pure function of doc_id — stable when the corpus
# grows, reproducible at any cluster size, no sampling pass and no state.
# 900/50/50 permille via the shared md5‰ device (sample_stratified's).
def q_split_assign(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    pm = (F.expr(_md5long("concat('split|', cast(doc_id as string))")) % 1000).alias(
        "permille"
    )
    return d.select("doc_id", pm).select(
        "doc_id",
        "permille",
        F.when(F.col("permille") < 900, "train")
        .when(F.col("permille") < 950, "val")
        .otherwise("test")
        .alias("split"),
    )


SQL_SPLIT_ASSIGN = f"""
SELECT doc_id, permille,
       CASE WHEN permille < 900 THEN 'train'
            WHEN permille < 950 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             {_md5long_duck("'split|'||CAST(doc_id AS VARCHAR)")} % 1000
               AS permille
      FROM documents) t
"""


def q_bpe_merge_step(spark, sf_dir):
    """One BPE merge step — the tokenizer-TRAINING shape (GPT-2/SentencePiece
    lineage): count adjacent character pairs across the corpus, weighted by
    word frequency, and rank the top-20 merge candidates.

    The 100 TB shape is the algorithm's own: the corpus collapses to the
    DISTINCT-word vocabulary first (one map-side-combined (word, count)
    shuffle — Zipf-bounded, ~|vocab| rows), and the character-pair explode
    runs over the *vocabulary*, never the corpus — exactly how production
    BPE trainers iterate (pair counts over the word-frequency table). The
    final pair aggregate is tiny (≤ 26² keys here); ties break
    lexicographically so both engines agree exactly.
    """
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = (
        words.select(
            F.explode(
                F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
            ).alias("pair"),
            "wc",
        )
        .groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
    )
    # Two-phase top-k: an unpartitioned row_number() would pull the whole
    # pair histogram into ONE task (Spark's "No Partition Defined" path) —
    # vocab-bounded here, a straggler at a production 256k-merge vocab.
    # Phase 1 ranks per salted partition (each true top-20 row is top-20 in
    # its salt group, so nothing is lost); phase 2 re-ranks only the
    # ≤ 20·32 survivors with a bounded windowless aggregate: collect the
    # survivors into one array (map-side partial agg), array_sort on
    # (-cnt, pair), slice 20, posexplode into ranks. No WindowExec, and the
    # only single-task stage sees ≤ 640 rows by construction.
    salt = F.pmod(F.xxhash64("pair"), F.lit(32))
    w1 = Window.partitionBy(salt).orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        pairs.withColumn("srn", F.row_number().over(w1))
        .where(F.col("srn") <= 20)
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("cnt")).alias("neg"), "pair", "cnt"
                        )
                    )
                ),
                1,
                20,
            ).alias("top")
        )
        .select(F.posexplode("top").alias("pos", "s"))
        .select(
            (F.col("pos") + 1).cast("long").alias("rn"),
            F.col("s.pair").alias("pair"),
            F.col("s.cnt").alias("cnt"),
        )
    )


SQL_BPE_MERGE = """
WITH words AS (
  SELECT w AS word, COUNT(*) AS wc FROM (
    SELECT UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
    FROM documents) t
  WHERE length(w) >= 2 GROUP BY w),
pairs_raw AS (
  SELECT UNNEST(list_transform(range(1, length(word)),
                               i -> substring(word, i, 2))) AS pair, wc
  FROM words),
pairs AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM pairs_raw GROUP BY pair)
SELECT rn, pair, cnt FROM (
  SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rn
  FROM pairs) t
WHERE rn <= 20
"""


# -- Full BPE trainer loop (K merges) ----------------------------------------------
# bpe_merge_step ranks ONE round's merge candidates; production tokenizer
# training (GPT-2 / SentencePiece BPE) iterates: count pairs → pick the
# best → rewrite the vocabulary with the merged symbol → repeat. This op
# runs K=8 full iterations and returns the trained merge ruleset — the
# actual artifact a tokenizer ships.
#
# Shape at 100 TB: identical to bpe_merge_step's — the corpus collapses to
# the DISTINCT-word (word, count) vocabulary once, and every iteration
# re-plans over that Zipf-bounded table, never the corpus. The only
# driver-side data is ONE (pair, count) row per iteration (the argmax the
# next plan is parameterized with — same bounded-collect discipline as
# kmeans_iter_assign's centroid refresh), and each round's vocabulary is
# localCheckpoint-materialized so round k+1's plan never re-expands rounds
# 1..k. Merge semantics are the standard left-to-right non-overlapping
# rewrite, expressed relationally: mark positions where (sym, next) equals
# the chosen pair, split marks into consecutive runs (gaps-and-islands —
# only same-symbol pairs can produce adjacent marks), keep odd-indexed
# marks in each run ("aaa" merges to [aa, a], not [a, aa]), drop consumed
# positions, renumber. Ties break (count DESC, left ASC, right ASC) so
# both engines pick identical merges.
_BPE_TRAIN_K = 8


def _bpe_vocab(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _bpe_train(spark, sf_dir, k: int = _BPE_TRAIN_K):
    """Run the K-merge trainer loop; returns (merges list, final syms DF)."""
    from pyspark.sql import Window

    syms = _bpe_vocab(spark, sf_dir).select(
        "word",
        "wc",
        F.posexplode(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        ).alias("pos0", "sym"),
    ).select("word", "wc", (F.col("pos0") + 1).alias("pos"), "sym")
    syms = syms.localCheckpoint()

    w_word = Window.partitionBy("word").orderBy("pos")
    merges = []
    for step in range(1, k + 1):
        paired = syms.withColumn("nxt", F.lead("sym").over(w_word))
        best = (
            paired.where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["sym"], best[0]["nxt"], int(best[0]["cnt"])
        merges.append((step, a, b, a + b, cnt))
        marked = paired.where((F.col("sym") == a) & (F.col("nxt") == b)).select(
            "word", "pos"
        )
        isl = marked.withColumn(
            "isl", F.col("pos") - F.row_number().over(w_word)
        )
        keep = (
            isl.withColumn(
                "rn2",
                F.row_number().over(Window.partitionBy("word", "isl").orderBy("pos")),
            )
            .where(F.col("rn2") % 2 == 1)
            .select("word", "pos")
        )
        km = keep.select(F.col("word").alias("kword"), F.col("pos").alias("kpos"))
        consumed = keep.select(
            F.col("word").alias("cword"), (F.col("pos") + 1).alias("cpos")
        )
        syms = (
            syms.join(
                km, (F.col("word") == F.col("kword")) & (F.col("pos") == F.col("kpos")), "left"
            )
            .join(
                consumed,
                (F.col("word") == F.col("cword")) & (F.col("pos") == F.col("cpos")),
                "left_anti",
            )
            .select(
                "word",
                "wc",
                F.col("pos").alias("opos"),
                F.when(F.col("kpos").isNotNull(), F.concat("sym", F.lit(b)))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .withColumn(
                "pos", F.row_number().over(Window.partitionBy("word").orderBy("opos"))
            )
            .select("word", "wc", "pos", "sym")
            .localCheckpoint()
        )
    return merges, syms


def q_bpe_train_k(spark, sf_dir, k: int = _BPE_TRAIN_K):
    merges, _syms = _bpe_train(spark, sf_dir, k)
    return spark.createDataFrame(
        merges, "step bigint, left_sym string, right_sym string, merged string, cnt bigint"
    )


def q_bpe_vocab_stats(spark, sf_dir, k: int = _BPE_TRAIN_K, topn: int = 30):
    """The APPLY side of the trained tokenizer: corpus token-frequency
    stats after the K merges — per final token, its corpus frequency
    (occurrences weighted by word count) and frequency rank, top-30. This
    is the vocabulary histogram a tokenizer build ships next to its merge
    ruleset (coverage/compression diagnostics). Same vocab-not-corpus
    shape as the trainer; the final aggregate is one map-side-combined
    groupBy over the rewritten symbol table."""
    from pyspark.sql import Window

    _merges, syms = _bpe_train(spark, sf_dir, k)
    freq = syms.groupBy(F.col("sym").alias("token")).agg(
        F.sum("wc").alias("freq")
    )
    # Two-phase top-k (see q_bpe_merge_step): salted per-partition rank
    # bounds the input to ≤ topn·32 survivors, then a windowless bounded
    # aggregate (collect → array_sort on (-freq, token) → slice →
    # posexplode) produces the global ranks — no unpartitioned window over
    # the full symbol histogram.
    salt = F.pmod(F.xxhash64("token"), F.lit(32))
    w1 = Window.partitionBy(salt).orderBy(F.desc("freq"), F.asc("token"))
    return (
        freq.withColumn("srk", F.row_number().over(w1))
        .where(F.col("srk") <= topn)
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("freq")).alias("neg"), "token", "freq"
                        )
                    )
                ),
                1,
                topn,
            ).alias("top")
        )
        .select(F.posexplode("top").alias("pos", "s"))
        .select(
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("s.token").alias("token"),
            F.col("s.freq").alias("freq"),
        )
    )


def q_bpe_tokenize_docs(spark, sf_dir, k: int = _BPE_TRAIN_K):
    """Tokenize the CORPUS under the trained ruleset — the actual
    tokenize-the-dataset job that runs after `bpe_train_k` ships its
    merges: every document becomes its token-ID sequence.

    Token ids are deterministic functions of the ruleset: base symbols
    a..z → 1..26, the step-s merge's symbol → 26+s (min step if a string
    is ever produced twice). Per doc the op emits the (length ≥ 2,
    lowercased) word count, total token count, and the md5 fingerprint of
    the comma-joined id sequence — the sequence itself, pinned without
    hash-comparing a giant array column.

    Shape at 100 TB: the merge rewrite is applied once per DISTINCT word
    (the trainer's final symbol table IS the rewrite — vocab-not-corpus,
    `_bpe_train`), collapsed to a word → (ids, n_tok) table that is
    O(vocabulary) and BROADCAST to the corpus scan — the word join key is
    Zipf-skewed, so shuffling on it would melt; broadcasting the vocab
    side means the corpus never shuffles at all except the final
    doc_id-keyed reassembly aggregate (uniform key, map-side combined
    structs). Per-doc ordering rides array_sort over (position, ids) —
    no window, no per-row Python."""
    merges, syms = _bpe_train(spark, sf_dir, k)
    merge_id: dict[str, int] = {}
    for step, _a, _b, merged, _cnt in merges:
        merge_id.setdefault(merged, 26 + step)
    if merge_id:
        id_map = F.create_map(
            *[
                x
                for mstr, tid in sorted(merge_id.items())
                for x in (F.lit(mstr), F.lit(tid))
            ]
        )
        merged_tid = id_map[F.col("sym")]
    else:
        merged_tid = F.lit(None).cast("long")
    word_ids = (
        syms.withColumn(
            "tid",
            F.when(F.length("sym") == 1, F.ascii("sym") - 96)
            .otherwise(merged_tid)
            .cast("long"),
        )
        .groupBy("word")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, tid))),"
                " s -> cast(s.tid as string)), ',')"
            ).alias("ids"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    d = T(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z]+")).alias("widx", "word"),
    ).where(F.length("word") >= 2)
    return (
        words.join(F.broadcast(word_ids), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.md5(
                F.expr(
                    "array_join(transform(array_sort(collect_list(struct(widx, ids))),"
                    " s -> s.ids), ',')"
                )
            ).alias("tok_fp"),
        )
    )


def _sql_bpe_train_k(k: int = _BPE_TRAIN_K) -> str:
    """Unrolled K-stage DuckDB twin: plain CTE chain (no recursion needed —
    K is a constant), one (pairs → best → marked → keep → syms) block per
    merge, same gaps-and-islands odd-keep rewrite and identical tiebreaks."""
    parts = [
        """
WITH words AS MATERIALIZED (
  SELECT w AS word, COUNT(*) AS wc FROM (
    SELECT UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
    FROM documents) t
  WHERE length(w) >= 2 GROUP BY w),
syms0 AS MATERIALIZED (
  SELECT word, wc, CAST(i AS BIGINT) AS pos,
         substring(word, CAST(i AS INT), 1) AS sym
  FROM (SELECT word, wc, UNNEST(range(1, length(word) + 1)) AS i FROM words))"""
    ]
    for s in range(1, k + 1):
        p = s - 1
        parts.append(f"""
paired{s} AS MATERIALIZED (
  SELECT word, wc, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM syms{p}),
best{s} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b, CAST(SUM(wc) AS BIGINT) AS cnt
  FROM paired{s} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt ORDER BY cnt DESC, a, b LIMIT 1),
keep{s} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) AS rn2
    FROM (
      SELECT word, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS isl
      FROM paired{s}
      WHERE sym = (SELECT a FROM best{s}) AND nxt = (SELECT b FROM best{s})) t1
  ) t2 WHERE rn2 % 2 = 1),
syms{s} AS MATERIALIZED (
  SELECT word, wc,
         CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY opos) AS BIGINT) AS pos,
         sym
  FROM (
    SELECT m.word, m.wc, m.pos AS opos,
           CASE WHEN km.pos IS NOT NULL
                THEN m.sym || (SELECT b FROM best{s}) ELSE m.sym END AS sym
    FROM paired{s} m
    LEFT JOIN keep{s} km ON km.word = m.word AND km.pos = m.pos
    LEFT JOIN keep{s} kc ON kc.word = m.word AND kc.pos = m.pos - 1
    WHERE kc.pos IS NULL) t)""")
    return ",".join(parts)


def _sql_bpe_train_final(k: int = _BPE_TRAIN_K) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({s} AS BIGINT) AS step, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt FROM best{s}"
        for s in range(1, k + 1)
    )
    return _sql_bpe_train_k(k) + "\n" + union


def _sql_bpe_vocab_stats(k: int = _BPE_TRAIN_K, topn: int = 30) -> str:
    return (
        _sql_bpe_train_k(k)
        + f"""
, freq AS (
  SELECT sym AS token, CAST(SUM(wc) AS BIGINT) AS freq
  FROM syms{k} GROUP BY sym)
SELECT rank, token, freq FROM (
  SELECT token, freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
  FROM freq) t
WHERE rank <= {topn}
"""
    )


def _sql_bpe_tokenize_docs(k: int = _BPE_TRAIN_K) -> str:
    steps_union = "\nUNION ALL\n".join(
        f"SELECT {s} AS step, a || b AS merged FROM best{s}" for s in range(1, k + 1)
    )
    return (
        _sql_bpe_train_k(k)
        + f"""
, merge_ids AS (
  SELECT merged, CAST(26 + MIN(step) AS BIGINT) AS tid FROM (
    {steps_union}) m GROUP BY merged),
sym_ids AS (
  SELECT s.word, s.pos,
         CASE WHEN length(s.sym) = 1 THEN CAST(ascii(s.sym) - 96 AS BIGINT)
              ELSE mi.tid END AS tid
  FROM syms{k} s LEFT JOIN merge_ids mi ON mi.merged = s.sym),
word_ids AS (
  SELECT word, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids,
         CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM sym_ids GROUP BY word),
doc_words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS widx, toks[CAST(i AS INT)] AS word
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(text), '[^a-z]+') AS toks,
               UNNEST(range(1,
                 len(regexp_split_to_array(lower(text), '[^a-z]+')) + 1)) AS i
        FROM documents) t
  WHERE length(toks[CAST(i AS INT)]) >= 2)
SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(w.n_tok) AS BIGINT) AS n_tokens,
       md5(string_agg(w.ids, ',' ORDER BY dw.widx)) AS tok_fp
FROM doc_words dw JOIN word_ids w USING (word)
GROUP BY dw.doc_id
"""
    )


SQL_BPE_TRAIN_K = _sql_bpe_train_final()
SQL_BPE_VOCAB_STATS = _sql_bpe_vocab_stats()
SQL_BPE_TOKENIZE = _sql_bpe_tokenize_docs()


# -- Connected components: large-star/small-star (O(log n) rounds) ------------------
# The alternation from Kiveris et al. 2014 ("Connected Components in
# MapReduce and Beyond"). _connected_components' min-label propagation
# moves the component min ONE hop per round — right for LSH duplicate
# families (near-cliques, diameter 2-3), wrong for adversarial chain
# graphs where rounds = diameter = O(n). Large-star/small-star contracts
# the graph toward stars instead: each round,
#   large-star: every node a points its strictly-larger neighbors at
#               m = min(N(a) ∪ {a})   — processed from the smaller
#               endpoint of each edge, so every edge is covered;
#   small-star: orient (big → small), then every node points its
#               ≤-neighbors (and itself) at the same local min.
# Both rewrites preserve connectivity (paper, Lemmas 1-2) and strictly
# shrink non-star structure; convergence is O(log n) rounds, at which
# point the edge set IS the (node → component-min) star mapping.
#
# Shape at 100 TB: each round is two (groupBy min + join) passes over the
# edge list — the same per-round plan as propagation, with edges
# localCheckpoint-materialized so lineage never re-expands; driver traffic
# is one O(1) fingerprint row per round (count + xxhash sum) for the
# convergence test. Rounds are O(log n) REGARDLESS of diameter, which is
# the property that matters when the dup graph has long chains
# (transitive near-dup families at corpus scale).
def _connected_components_star(edges, spark, max_rounds: int = 64):
    """edges (src:long, dst:long, symmetric) → (labels DataFrame
    (node, lbl = component min), rounds:int). Output contract identical to
    `_connected_components`."""
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    E = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_fp = None
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        sym = E.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            E.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        nbrmin = sym.groupBy("a").agg(F.min("b").alias("mb"))
        # large-star, processed from each edge's smaller endpoint a:
        # neighbors b > a point at m = min(N(a) ∪ {a})
        ls = (
            sym.join(nbrmin, "a")
            .where(F.col("b") > F.col("a"))
            .select(
                F.col("b").alias("u"),
                F.least(F.col("a"), F.col("mb")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the (already big→small oriented) large-star
        # output: u and all its ≤-neighbors point at their local min
        nbrmin2 = ls.groupBy("u").agg(F.min("v").alias("mv"))
        ss_self = nbrmin2.select(F.col("u").alias("uu"), F.col("mv"))
        ss_nbrs = (
            ls.join(nbrmin2, "u")
            .where(F.col("v") != F.col("mv"))
            .select(F.col("v").alias("uu"), F.col("mv"))
        )
        E = (
            ss_self.unionByName(ss_nbrs)
            .where(F.col("uu") != F.col("mv"))
            .select(F.col("uu").alias("u"), F.col("mv").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # One O(1)-row agg per round: the probabilistic convergence
        # fingerprint (count + xxhash xor-fold — overflow-free in ANSI
        # mode, order-insensitive) PLUS the exact star property
        # (one out-edge per node, count == distinct u). Folding the star
        # check into the loop agg makes the post-convergence guard free:
        # the break-round's row already describes the final edge set.
        row = E.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            F.countDistinct("u").alias("nu"),
        ).collect()[0]
        fp = (row["n"], row["h"])
        if fp == prev_fp:
            converged = True
            star_ok = row["n"] == row["nu"]
            break
        prev_fp = fp
    else:
        converged = False
        star_ok = False
    # A fingerprint collision or max_rounds exhaustion would otherwise hand
    # a non-star edge set to the caller, whose label join then fans out
    # (2+ label rows per node → duplicated doc_ids, inflated cluster_size).
    # The exact check above makes that impossible: fall back to min-label
    # propagation instead of returning a non-star mapping.
    if not converged or not star_ok:
        import logging

        logging.getLogger(__name__).warning(
            "large-star/small-star did not reach a star after %d rounds "
            "(converged=%s); falling back to min-label propagation",
            rounds,
            converged,
        )
        return _connected_components(edges, spark), rounds
    labels = (
        nodes.join(
            E.select(F.col("u").alias("node"), F.col("v").alias("lbl")), "node", "left"
        )
        .select("node", F.coalesce("lbl", F.col("node")).alias("lbl"))
        .localCheckpoint()
    )
    return labels, rounds


def q_dedup_cc_largestar(spark, sf_dir):
    """Same output contract (and same DuckDB oracle) as
    dedup_connected_components, computed by the O(log n)-round
    large-star/small-star alternation instead of min-label propagation."""
    from pyspark.sql import Window

    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc1").alias("src"), F.col("doc2").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc2").alias("src"), F.col("doc1").alias("dst"))
    )
    labels, _rounds = _connected_components_star(edges, spark)
    d = T(spark, sf_dir, "documents").select("doc_id")
    mapped = d.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select("doc_id", F.coalesce("lbl", F.col("doc_id")).alias("rep_id"))
    return mapped.select(
        "doc_id",
        "rep_id",
        (F.col("doc_id") > F.col("rep_id")).alias("is_dup"),
        F.count(F.lit(1)).over(Window.partitionBy("rep_id")).alias("cluster_size"),
    )


TEXTOPS = {
    "ngram_topk": (q_ngram_topk, SQL_NGRAM_TOPK),
    "bpe_merge_step": (q_bpe_merge_step, SQL_BPE_MERGE),
    "bpe_train_k": (q_bpe_train_k, SQL_BPE_TRAIN_K),
    "bpe_vocab_stats": (q_bpe_vocab_stats, SQL_BPE_VOCAB_STATS),
    "bpe_tokenize_docs": (q_bpe_tokenize_docs, SQL_BPE_TOKENIZE),
    "dedup_incremental_newbatch": (
        q_dedup_incremental_newbatch,
        SQL_DEDUP_INCREMENTAL,
    ),
    "dedup_cc_largestar": (q_dedup_cc_largestar, SQL_DEDUP_CC),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "vat_scrape_decision": (q_vat_scrape_decision, SQL_VAT_SCRAPE),
    "token_count": (q_token_count, SQL_TOKENS),
    "token_count_bpe": (q_token_count_bpe, SQL_TOKENS_BPE),
    "exact_dedup_docs": (q_exact_dedup_docs, SQL_EXACT_DEDUP),
    "quality_score": (q_quality_score, SQL_QUALITY),
    "langid_markers": (q_langid_markers, SQL_LANGID),
    "fingerprint_doc": (q_fingerprint_doc, SQL_FINGERPRINT),
    "shingle_jaccard_pairs": (q_shingle_jaccard_pairs, SQL_JACCARD),
    "minhash_signature": (q_minhash_signature, SQL_MINHASH),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_LSH),
    "minhash_dedup_groups": (q_minhash_dedup_groups, SQL_DEDUP_GROUPS),
    "simhash_docs": (q_simhash_docs, SQL_SIMHASH),
    "simhash_hamming_pairs": (q_simhash_hamming_pairs, SQL_SIMHASH_PAIRS),
    "simhash_dedup_groups": (q_simhash_dedup_groups, SQL_SIMHASH_GROUPS),
    "binary_payload_stats": (q_binary_payload_stats, SQL_BINSTATS),
    "bloom_build_stats": (q_bloom_build_stats, SQL_BLOOM),
    "cuckoo_build_stats": (q_cuckoo_build_stats, SQL_CUCKOO),
    "multimodal_decode_stub": (q_multimodal_decode_stub, SQL_DECODE_STUB),
    "doc_repetition_stats": (q_doc_repetition_stats, SQL_REPETITION),
    "pii_scrub_stats": (q_pii_scrub_stats, SQL_PII_SCRUB),
    "source_curation_rollup": (q_source_curation_rollup, SQL_CURATION_ROLLUP),
    "group_quantiles_exact": (q_group_quantiles_exact, SQL_GROUP_QUANTILES),
    "winsorized_stats_group": (q_winsorized_stats_group, SQL_WINSORIZED),
    "contamination_ngram": (q_contamination_ngram, SQL_CONTAMINATION),
    "html_text_extract": (q_html_text_extract, SQL_HTML_EXTRACT),
    "paragraph_dedup_stats": (q_paragraph_dedup_stats, SQL_PARA_DEDUP),
    "dedup_keep_best": (q_dedup_keep_best, SQL_KEEP_BEST),
    "perplexity_bucket": (q_perplexity_bucket, SQL_PPL_BUCKET),
    "dedup_connected_components": (q_dedup_connected_components, SQL_DEDUP_CC),
    "substring_dedup_spans": (q_substring_dedup_spans, SQL_SUBSTRING_SPANS),
    "domain_cap_sample": (q_domain_cap_sample, SQL_DOMAIN_CAP),
    "mix_weights_epochs": (q_mix_weights_epochs, SQL_MIX_WEIGHTS),
    "sequence_pack_chunks": (q_sequence_pack_chunks, SQL_PACK_CHUNKS),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "split_assign": (q_split_assign, SQL_SPLIT_ASSIGN),
}
