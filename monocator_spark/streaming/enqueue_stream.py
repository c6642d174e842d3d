"""Streaming frontier enqueue — the continuous-discovery twin of O1-O4.

The batch engine enqueues discovered URLs once per epoch (bootstrap seeds,
then each epoch's outlinks). A production crawler ALSO ingests continuous
discovery feeds — sitemap pings, partner seed drops, re-crawl requests —
which is this module: a file-source ``readStream`` over a seed-feed
directory, each micro-batch run through the SAME enqueue rule as the batch
path (``enqueue.admit``: the Arrow canonicalizer UDF → xxhash64 →
intra-batch min-depth dedup → Bloom/cuckoo prefilter + exact-confirm seen
gate → enqueue-time politeness gate), appending to the SAME SnapshotStore
tables the epoch pipeline reads (frontier / seen / bloom / denied).
Reference analogue: the transactional enqueue half of ``VisitService.save``
(reference src/TODO.MD:36-51), fed by an unbounded request stream rather
than a crawl epoch.

Exactly-once across replays: Structured Streaming's file source +
checkpoint guarantee each batch id is delivered at-least-once to
``foreachBatch``; the store commit embeds ``stream_batch_id`` in the epoch
manifest meta (the manifest rename is the single atomic commit point), and
every later commit carries it forward (``store.commit_next``), so a
replayed batch id ≤ the last committed one is skipped. Either the
manifest landed — replay skips — or it did not — the staged dirs are
orphans outside any manifest, invisible to every reader, and the replay
re-stages cleanly.

Single-writer contract: the stream and the batch epoch loop share the
store's epoch sequence, so they must not COMMIT concurrently (same
single-writer rule the reference's frontier transaction has; Iceberg would
serialize the two writers by optimistic retry). Run the stream between
crawl runs, or drain it with ``run_available()`` before ``CrawlEngine.run``.

Scale: each micro-batch is an ordinary batch plan — the canonicalizer is
one Arrow UDF pass, the Bloom probe is the shard-cogrouped path, the exact
confirm is an anti-join on url_hash — so the 10^10-frontier analysis of the
batch enqueue applies per batch verbatim; seen/bloom state grows across
batches exactly as it does across epochs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from monocator_spark import spec
from monocator_spark.operators import enqueue
from monocator_spark.sources.store import commit_next, next_epoch

SEED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("depth", IntegerType()),
    ]
)


class StreamingEnqueue:
    """Continuous seed-feed ingestion into a SnapshotStore's frontier.

    ``host_state`` (host, robots_rules, budget_per_epoch, blacklisted) makes
    the stream apply the same enqueue-time politeness gate as the engine.
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: spec.CrawlConfig,
        store,
        seeds_dir: str,
        checkpoint_dir: str,
        host_state: DataFrame,
    ):
        self.spark = spark
        self.cfg = cfg
        self.store = store
        self.seeds_dir = seeds_dir
        self.checkpoint_dir = checkpoint_dir
        self.host_state = host_state

    # -- replay bookkeeping -----------------------------------------------------
    def _last_stream_batch(self) -> int:
        """The last committed stream batch id (−1 if none), read from the
        latest manifest's meta: every commit carries it forward."""
        meta = self.store.meta()
        return -1 if meta is None else meta.get("stream_batch_id", -1)

    # -- the micro-batch body ----------------------------------------------------
    def _process(self, batch: DataFrame, batch_id: int) -> None:
        if int(batch_id) <= self._last_stream_batch():
            return  # replayed batch: its manifest already landed
        st = self.store
        raw = batch.select("url", F.coalesce("depth", F.lit(0)).alias("depth"))
        adm = enqueue.admit(
            raw, st.preview(self.spark, "seen"), st.preview(self.spark, "bloom"),
            self.host_state, self.cfg,
        )
        try:
            epoch = next_epoch(st)
            n_new = adm.new.count()  # pins both caches; O(batch) rows
            # frontier is overwrite-state in the epoch pipeline; an APPEND
            # composes: the appended dirs join the committed file set, and
            # the engine's next overwrite folds them into the new snapshot.
            st.stage_append("frontier", adm.admitted, epoch)
            st.stage_append("seen", adm.new.select("url_hash", "url_norm"), epoch)
            st.stage_overwrite("bloom", adm.filt, epoch)
            st.stage_append(
                "denied", adm.denied.withColumn("epoch", F.lit(epoch)), epoch
            )
            # crawl_epoch is carried: CrawlEngine.run resumes from it
            commit_next(
                st,
                {
                    "stream_batch_id": int(batch_id),
                    "stream_source": self.seeds_dir,
                    "stream_new_urls": int(n_new),
                },
            )
        except BaseException:
            st.abort()
            raise
        finally:
            adm.cands.unpersist()
            adm.new.unpersist()

    # -- drivers ------------------------------------------------------------------
    def run_available(self) -> None:
        """Drain every file currently in the feed directory, then stop.

        One micro-batch per feed file (AvailableNow honors
        ``maxFilesPerTrigger``, so each drop commits separately — the
        cross-batch dedup goes through the Bloom+seen gate, not the
        intra-batch rule); restartable — the checkpoint remembers consumed
        files, the manifest meta remembers committed batch ids, so a crash
        between the two replays idempotently.
        """
        q = (
            self.spark.readStream.schema(SEED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.seeds_dir)
            .writeStream.foreachBatch(self._process)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
