"""StreamingCorpusDedup: continuous ingest against the growing band index.

Pins the three contracts:
  1. SEQUENTIAL-BATCH EQUIVALENCE — the stream's per-batch verdicts equal
     running the batch twin (`band_index.dedup_against_index`) by hand batch
     by batch, growing the index with kept docs between batches;
  2. CROSS-BATCH STATE — a batch-2 doc duplicating a batch-1 KEPT doc is
     dup_existing against it, and a batch-2 doc duplicating a batch-1
     DROPPED duplicate still resolves (the dropped doc never entered the
     index; its representative did);
  3. REPLAY IDEMPOTENCE — draining again with the same checkpoint is a
     no-op: outputs byte-identical, no extra batch dirs.
"""
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

BATCH1 = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    # in-batch duplicate pair: 2 kept (rep), 3 dropped
    (2, "the quick brown fox jumps over the lazy dog by the river"),
    (3, "the quick brown fox jumps over the lazy dog by the river"),
]
BATCH2 = [
    # duplicates batch-1 KEPT doc 1 → dup_existing rep 1
    (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    # duplicates batch-1 DROPPED doc 3's text → resolves to rep 2
    (11, "the quick brown fox jumps over the lazy dog by the river"),
    # novel
    (12, "an entirely different document about streaming state growth"),
]


def _write_feed(spark, feed_dir: str, rows, name: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    Path(feed_dir).mkdir(parents=True, exist_ok=True)
    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(t, f"{feed_dir}/{name}.parquet")


def test_streaming_matches_sequential_batch_twin(spark, tmp_root):
    from pyspark.sql import functions as F

    from monocator_spark.operators.band_index import dedup_against_index
    from monocator_spark.queries.textops import MINHASH_KEYS, minhash_bands_of
    from monocator_spark.streaming.dedup_incremental_stream import (
        StreamingCorpusDedup,
    )

    base = f"{tmp_root}/incdedup"
    sd = StreamingCorpusDedup(
        spark,
        feed_dir=f"{base}/feed",
        index_dir=f"{base}/index",
        verdicts_dir=f"{base}/verdicts",
        checkpoint_dir=f"{base}/ckpt",
    )
    _write_feed(spark, sd.feed_dir, BATCH1, "b1")
    sd.run_available()
    _write_feed(spark, sd.feed_dir, BATCH2, "b2")
    sd.run_available()

    got = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in sd.verdicts().collect()
    }
    # contract 2: cross-batch state
    assert got[1] == ("new", 1)
    assert got[2] == ("new", 2)
    assert got[3] == ("dup_batch", 2)
    assert got[10] == ("dup_existing", 1)
    assert got[11] == ("dup_existing", 2)  # via rep 2, not dropped doc 3
    assert got[12] == ("new", 12)

    # contract 1: equal to the hand-run sequential batch twin
    b1 = spark.createDataFrame(BATCH1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH2, "doc_id long, text string")
    empty = spark.createDataFrame([], "band bigint, h0 bigint, h1 bigint, rep_id bigint")
    v1 = dedup_against_index(minhash_bands_of(b1), empty, MINHASH_KEYS)
    kept1 = v1.where(F.col("verdict") == "new").select("doc_id")
    idx1 = (
        minhash_bands_of(b1.join(kept1, "doc_id"))
        .groupBy("band", "h0", "h1")
        .agg(F.min("doc_id").alias("rep_id"))
    )
    v2 = dedup_against_index(minhash_bands_of(b2), idx1, MINHASH_KEYS)
    expected = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in v1.unionByName(v2).collect()
    }
    assert got == expected

    # contract 3: replay/no-op drain
    before = sorted(Path(f"{base}/verdicts").glob("batch_id=*"))
    sd.run_available()
    after = sorted(Path(f"{base}/verdicts").glob("batch_id=*"))
    assert before == after
    got2 = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in sd.verdicts().collect()
    }
    assert got2 == got


def test_hadoop_uri_dirs_see_the_index(spark, tmp_root):
    """State dirs given as ``file://`` URIs: the index written after batch 1
    must be listed (through the Hadoop FileSystem, not a local glob) when
    batch 2 runs, so doc 10 is dup_existing against doc 1."""
    from monocator_spark.streaming.dedup_incremental_stream import (
        StreamingCorpusDedup,
    )

    base = f"{tmp_root}/incdedup_uri"
    uri = f"file://{base}"
    sd = StreamingCorpusDedup(
        spark,
        feed_dir=f"{uri}/feed",
        index_dir=f"{uri}/index",
        verdicts_dir=f"{uri}/verdicts",
        checkpoint_dir=f"{uri}/ckpt",
    )
    _write_feed(spark, f"{base}/feed", BATCH1, "b1")
    sd.run_available()
    _write_feed(spark, f"{base}/feed", BATCH2, "b2")
    sd.run_available()

    got = {
        r["doc_id"]: (r["verdict"], r["rep_id"])
        for r in sd.verdicts().collect()
    }
    assert got[10] == ("dup_existing", 1)
