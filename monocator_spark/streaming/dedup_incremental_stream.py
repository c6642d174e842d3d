"""Streaming incremental corpus dedup — continuous ingestion against a
persisted MinHash band index.

``queries/textops.py::dedup_incremental_newbatch`` is the one-shot form of
the production job "dedupe this batch against the existing corpus". A
live pipeline runs the same thing CONTINUOUSLY: document drops arrive on a
feed, each micro-batch is deduped against the band index the corpus has
accumulated so far, and the batch's kept (non-duplicate) documents extend
the index for every later batch. Reference analogue: the IP-keyed
``FullScanCache`` growth across visits (/root/reference/src/TODO.MD:41) —
state written by one unit of work gates the next — lifted to corpus scale.

Mechanics (same discipline as ``StreamingEnqueue``):

* file-source ``readStream`` over a parquet feed directory of
  (doc_id, text) rows; ``maxFilesPerTrigger=1`` so every dropped file is
  its own micro-batch even under ``Trigger.AvailableNow``;
* each batch calls the SAME ``dedup_newbatch_against_index`` the batch op
  uses (the streaming path adds no second dedup implementation), reading
  the index accumulated under ``index_dir``;
* kept docs (verdict 'new' — exactly the batch-group representatives plus
  the genuinely novel docs) have their bands appended to the index;
* exactly-once across replays WITHOUT a transaction log: both outputs are
  written to batch-id-keyed subdirectories (``verdicts/batch_id=N``,
  ``index_dir/batch_id=N``) with mode=overwrite. The computation is a
  deterministic function of (feed files of batch N, index state < N), so
  a replayed batch id rewrites byte-identical content over itself — the
  idempotent-commit pattern the enqueue stream implements with manifest
  meta, here expressible purely in the layout.

Scale: the per-batch plan is the batch op's plan verbatim — batch-side
shingle/signature work is scan-local, the index join keys on the uniform
60-bit band value, output is O(batch). Index state grows with KEPT docs
only (duplicates never enter it), i.e. with the deduped corpus, the same
asymptote as the batch pipeline's state. State lives in parquet files,
not executor memory — a restart resumes from the checkpoint + on-disk
index with no rebuild.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from monocator_spark.queries.textops import (
    dedup_newbatch_against_index,
    minhash_band_index,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

_INDEX_SCHEMA = "band bigint, h0 bigint, h1 bigint, rep_id bigint"


class StreamingCorpusDedup:
    """Continuous corpus dedup: feed dir → verdicts dir + growing index."""

    def __init__(
        self,
        spark: SparkSession,
        feed_dir: str,
        index_dir: str,
        verdicts_dir: str,
        checkpoint_dir: str,
    ):
        self.spark = spark
        self.feed_dir = feed_dir
        self.index_dir = index_dir
        self.verdicts_dir = verdicts_dir
        self.checkpoint_dir = checkpoint_dir

    # -- state -----------------------------------------------------------
    def _index_dirs(self, before: int | None = None) -> list[str]:
        import glob

        dirs = []
        for d in glob.glob(f"{self.index_dir}/batch_id=*"):
            bid = int(d.rsplit("=", 1)[1])
            if before is None or bid < before:
                dirs.append(d)
        return sorted(dirs)

    def load_index(self, before: int | None = None) -> DataFrame:
        """The band index accumulated so far (empty on first start).

        ``before`` excludes batch ids ≥ the given id: a REPLAYED batch must
        dedup against exactly the state that preceded it — reading its own
        (partially or fully written) index dir back would turn every one of
        its docs into a self-duplicate and break replay determinism. The
        O(batches) directory listing is driver-side bookkeeping; a
        deployment compacts old batch dirs the way the crawl store
        compacts epochs."""
        dirs = self._index_dirs(before)
        if not dirs:
            return self.spark.createDataFrame([], _INDEX_SCHEMA)
        return self.spark.read.schema(_INDEX_SCHEMA).parquet(*dirs)

    # -- one micro-batch -------------------------------------------------
    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        index = self.load_index(before=batch_id)
        verdicts = dedup_newbatch_against_index(batch, index).localCheckpoint()
        verdicts.write.mode("overwrite").parquet(
            f"{self.verdicts_dir}/batch_id={batch_id}"
        )
        kept = verdicts.where(F.col("verdict") == "new").select("doc_id")
        new_bands = minhash_band_index(batch.join(kept, "doc_id"))
        new_bands.write.mode("overwrite").parquet(
            f"{self.index_dir}/batch_id={batch_id}"
        )

    # -- drivers ---------------------------------------------------------
    def _stream(self):
        src = (
            self.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.feed_dir)
        )
        return (
            src.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
        )

    def run_available(self) -> None:
        """Drain everything currently in the feed dir, one batch per file,
        then stop. Re-invoking after new files arrive resumes from the
        checkpoint; re-invoking with nothing new is a no-op."""
        os.makedirs(self.feed_dir, exist_ok=True)
        q = self._stream().start()
        q.awaitTermination()

    def verdicts(self) -> DataFrame:
        """All verdict rows so far, with the batch_id partition column."""
        return self.spark.read.option("basePath", self.verdicts_dir).parquet(
            f"{self.verdicts_dir}/batch_id=*"
        )
