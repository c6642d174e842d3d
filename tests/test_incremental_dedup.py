"""Incremental dedup: new batch vs a persisted MinHash band index.

Two contracts pinned here:
  1. GRANULARITY — the 'existing corpus' side is consumed ONLY through the
     persisted band index: deduping a new batch against the index ARTIFACT
     (written to parquet, reloaded, old documents gone) reproduces the full
     query byte-for-byte. This is the 'dedupe this month's crawl against
     the existing 100 TB' shape: the old side is state, not input.
  2. VERDICTS — planted docs land in the right class: an exact copy of an
     old doc → dup_existing (rep = the old doc), a copy within the batch →
     dup_batch (rep = min batch doc_id), a unique doc → new (rep = self).
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def test_index_artifact_reproduces_full_query(spark, tmp_root):
    from pyspark.sql import functions as F

    from monocator_spark.operators.band_index import band_index, dedup_against_index
    from monocator_spark.queries.relational import T
    from monocator_spark.queries.textops import (
        MINHASH_KEYS,
        _md5long,
        minhash_bands_of,
        q_dedup_incremental_newbatch,
    )

    d = T(spark, SF_DIR, "documents")
    is_new = F.expr(_md5long("concat('incr|', cast(doc_id as string))")) % 5 == 0

    # the deployment path: build the index once, persist it, forget old docs
    idx_path = f"{tmp_root}/band_index"
    band_index(minhash_bands_of(d.where(~is_new)), MINHASH_KEYS).write.mode(
        "overwrite"
    ).parquet(idx_path)
    loaded = spark.read.parquet(idx_path)
    incremental = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in dedup_against_index(
            minhash_bands_of(d.where(is_new)), loaded, MINHASH_KEYS
        ).collect()
    }

    full = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in q_dedup_incremental_newbatch(spark, SF_DIR).collect()
    }
    assert incremental == full
    assert len(full) > 0


def test_phash_index_artifact_reproduces_full_query(spark, tmp_root):
    """Image-side twin: deduping the new batch against the reloaded phash
    band index ARTIFACT (old documents gone) reproduces the full query."""
    from pyspark.sql import functions as F

    from monocator_spark.operators.band_index import (
        BIT_KEYS,
        band_index,
        dedup_against_index,
    )
    from monocator_spark.queries.imaging import (
        _PHASH_SPARK,
        _PHASH_VERIFY,
        _phash_bands,
        q_phash_incremental_newbatch,
    )
    from monocator_spark.queries.relational import T

    ph = T(spark, SF_DIR, "documents").select(
        "doc_id", F.expr(_PHASH_SPARK).alias("phash")
    )
    is_new = (
        F.expr(
            "cast(conv(substr(md5(concat('imginc|', cast(doc_id as string))),1,15),16,10)"
            " as bigint)"
        )
        % 5
        == 0
    )
    idx_path = f"{tmp_root}/phash_index"
    band_index(_phash_bands(ph.where(~is_new)), BIT_KEYS, carry=["phash"]).write.mode(
        "overwrite"
    ).parquet(idx_path)
    loaded = spark.read.parquet(idx_path)
    incremental = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in dedup_against_index(
            _phash_bands(ph.where(is_new)), loaded, BIT_KEYS, verify=_PHASH_VERIFY
        ).collect()
    }
    full = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in q_phash_incremental_newbatch(spark, SF_DIR).collect()
    }
    assert incremental == full
    assert len(full) > 0


def test_phash_incremental_matches_bruteforce_twin(spark):
    """The banded+popcount plan must equal a band-free numpy brute force
    (pigeonhole: Hamming <= 4 with 6 bands always shares a band)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from monocator_spark.queries.imaging import (
        _THRESHOLD,
        q_phash_incremental_newbatch,
    )

    doc_ids = pd.read_parquet(f"{SF_DIR}/documents.parquet")["doc_id"].tolist()

    def md5long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def phash(d):
        h = md5long(f"img|{d % 100}")
        if d % 5 != 0:
            h ^= 1 << (d % 60)
        if d % 5 >= 3:
            h ^= 1 << ((d * 7) % 60)
        return h

    new = sorted(d for d in doc_ids if md5long(f"imginc|{d}") % 5 == 0)
    old = sorted(d for d in doc_ids if md5long(f"imginc|{d}") % 5 != 0)
    expected = {}
    for n in new:
        ex = [o for o in old if bin(phash(n) ^ phash(o)).count("1") <= _THRESHOLD]
        ba = [m for m in new if m < n
              and bin(phash(n) ^ phash(m)).count("1") <= _THRESHOLD]
        if ex:
            expected[n] = ("dup_existing", min(ex))
        elif ba:
            expected[n] = ("dup_batch", min(ba))
        else:
            expected[n] = ("new", n)

    got = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in q_phash_incremental_newbatch(spark, SF_DIR).collect()
    }
    assert got == expected
    assert {v[0] for v in got.values()} == {"dup_existing", "dup_batch", "new"}


def test_planted_verdicts(spark):
    from monocator_spark.operators.band_index import band_index, dedup_against_index
    from monocator_spark.queries.textops import MINHASH_KEYS, minhash_bands_of

    old_rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "completely different prose about distributed query engines at scale"),
    ]
    new_rows = [
        # exact copy of old doc 1 → dup_existing, rep 1
        (10, "the quick brown fox jumps over the lazy dog near the river bank"),
        # two identical batch docs → 11 is new-batch rep, 12 dup_batch of 11
        (11, "a fresh sentence that exists twice inside this incoming batch only"),
        (12, "a fresh sentence that exists twice inside this incoming batch only"),
        # unique → new, rep self
        (13, "nothing anywhere resembles this entirely novel singleton document"),
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in dedup_against_index(
            minhash_bands_of(new),
            band_index(minhash_bands_of(old), MINHASH_KEYS),
            MINHASH_KEYS,
        ).collect()
    }
    assert out[10] == ("dup_existing", 1)
    assert out[11] == ("new", 11)
    assert out[12] == ("dup_batch", 11)
    assert out[13] == ("new", 13)
