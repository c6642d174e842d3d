"""The epoch pipeline — SURVEY.md §3.1's Spark mapping, end to end.

One scheduling epoch = one batch job over the state tables:

    frontier(pending) → blacklist/robots gate → salted per-host quota →
    global wave (priority DESC, url_hash ASC) → corpus join ("fetch") →
    Arrow validation → outlink expansion → Bloom+exact dedup →
    atomic multi-table commit (SnapshotStore manifest = the checkpoint)

Reference lifecycle mirrored: MainCrawler.collectData → module visits →
VisitService.save transaction (/root/reference/src/TODO.MD:36-51).

Determinism contract (BENCH gate): every wave is totally ordered by
(priority DESC, url_hash ASC) with no possible ties, so the crawl order and
URL-seen set are byte-identical at local[8] and local[32] and equal to the
pure-Python reference simulator's.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from monocator_spark import spec
from monocator_spark.operators import (
    dedup, enqueue, fetch, outlinks, politeness, scan,
)
from monocator_spark.operators.enqueue import FRONTIER_COLS_Q
from monocator_spark.sim.simulator import MISSING, OK
from monocator_spark.sources.store import (
    SnapshotStore, commit_next, hadoop_path, next_epoch,
)


@dataclass
class RunStats:
    epochs: int = 0
    scheduled: int = 0
    fetched: int = 0
    failed: int = 0
    elapsed_sec: float = 0.0
    per_epoch: list[dict] = field(default_factory=list)


def _retried() -> Column:
    """A 404 still under its retry budget: it re-enters the frontier."""
    return (F.col("status") == MISSING) & (F.col("retries") < spec.MAX_RETRIES)


def _perm_failed() -> Column:
    """A fetch that failed for good: any other non-OK status."""
    return (F.col("status") != OK) & ~_retried()


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        world_dir: str,
        cfg: spec.CrawlConfig,
    ):
        self.spark = spark
        self.store = store
        self.world_dir = world_dir
        self.cfg = cfg
        # prefer the bucketed corpus layout when the world provides it: the
        # fetch join then shuffles only the wave (see fetch_wave_bucketed).
        # Probed through the Hadoop FileSystem, so any world URI Spark
        # reads works (file://, hdfs://)
        fs, bucketed = hadoop_path(spark, f"{world_dir}/corpus_bucketed")
        if fs.isDirectory(bucketed):
            from monocator_spark.datagen.distributed import register_bucketed_corpus

            self.corpus = spark.table(register_bucketed_corpus(spark, world_dir))
        else:
            self.corpus = spark.read.parquet(f"{world_dir}/corpus")
        # host_state is O(hosts) — tiny next to the frontier; cached (joined
        # only against enqueue batches, never the whole frontier)
        self.host_state = spark.read.parquet(f"{world_dir}/host_state").cache()

    # -- bootstrap -------------------------------------------------------------
    def bootstrap(self):
        """Epoch-0 staging: seeds → gate → frontier, seen set, Bloom shards.

        The robots/blacklist/budget gate runs HERE (once per URL), so the
        frontier only ever holds schedulable rows with their quota attached
        — no per-epoch re-gating of the whole frontier. Denied seeds are
        recorded at epoch 0, exactly when the reference simulator's first
        gate pass denies them.

        The only synchronous work is materializing the canonicalized seed
        set (the cands cache). Epoch 0 then reads the three STATE tables as
        in-memory plans over that cache (``self._boot_state``); ALL durable
        writes (frontier / seen / bloom / denied) plus the epoch-0 commit
        run in the returned TAIL closure on the ordered flusher thread,
        overlapping epoch 0's compute — their job latency was pure fixed
        cost at every parallelism level. The flusher runs the tail before
        epoch 0's own _phase2, so epoch 1's ``preview`` sees the staged
        state; a kill before the tail commits leaves no manifest → clean
        re-bootstrap on resume.
        """
        seeds = self.spark.read.parquet(f"{self.world_dir}/seeds").withColumn(
            "depth", F.lit(0)
        )
        adm = enqueue.admit(seeds, None, None, self.host_state, self.cfg)
        # materialize the cache once so the concurrent writes below all
        # read it instead of racing to build it multiple times
        adm.cands.count()
        seen = adm.new.select("url_hash", "url_norm")
        # small (n_shards rows); read by epoch 0 AND the tail write
        bloom = adm.filt.cache()
        frontier0, denied = adm.admitted, adm.denied

        # epoch 0 reads this state straight from the in-memory plans over
        # the cands cache — no parquet round trip on the critical path. The
        # durable writes run in the TAIL on the ordered flusher, which is
        # guaranteed to finish before epoch 0's _phase2 stages its own
        # state, so epoch 1's preview sees them; a kill before the tail
        # commits leaves no manifest → clean re-bootstrap on resume.
        self._boot_state = {"frontier": frontier0, "seen": seen, "bloom": bloom}
        self._boot_persist = [adm.cands, bloom]

        def tail() -> dict:
            writes = [
                lambda: self.store.stage_overwrite("frontier", frontier0, 0),
                lambda: self.store.stage_append("seen", seen, 0),
                lambda: self.store.stage_overwrite("bloom", bloom, 0),
                lambda: self.store.stage_append(
                    "denied", denied.withColumn("epoch", F.lit(0)), 0
                ),
            ]
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                for fut in [pool.submit(w) for w in writes]:
                    fut.result()
            commit_next(self.store, {"crawl_epoch": -1})
            return {"idle": True}  # bookkeeping only — not a crawl epoch

        return tail

    # -- one epoch, two pipelined phases ----------------------------------------
    #
    # _phase1 = the epoch's heavy COMPUTE: wave selection, fetch+validate
    #   (payload bytes flow corpus-scan → validate UDF → the cached
    #   validate output ``meta``, bytes included), outlink dedup+gate,
    #   next-frontier — everything materialized into caches, zero table
    #   writes.
    # _phase2 = the epoch's FLUSH: all table writes from those caches
    #   (concurrent jobs) — including the bytes-bearing ``fetched`` table,
    #   written straight from ``meta`` (no corpus re-scan) — then the
    #   atomic manifest commit.
    #
    # run() overlaps _phase2(k) with _phase1(k+1): _phase2 stages the
    # STATE tables (frontier / seen / bloom, scan caches) first and
    # signals ``state_ready``; epoch k+1 then reads that staged state (via
    # SnapshotStore.preview — fresh parquet reads, so logical plans never
    # chain across epochs) while epoch k's heavy payload flush and its
    # commit still run in the background. A single ordered flusher thread
    # guarantees commits land strictly in epoch order — a kill at ANY
    # point resumes exactly from the last committed manifest. This is the
    # async-checkpoint pattern a cluster deployment would use with Iceberg
    # commits.

    def _phase1(self, epoch: int, state_ready) -> dict | None:
        # per-phase wall seconds, returned in RunStats.per_epoch[i]["timing"]
        timing: dict[str, float] = {}
        _last = [time.monotonic()]

        def _mark(label: str) -> None:
            now = time.monotonic()
            timing[label] = round(now - _last[0], 2)
            _last[0] = now

        cfg = self.cfg
        persisted: list = []  # this epoch's caches; released by its _phase2
        if state_ready is not None:
            state_ready.wait()  # previous epoch's state tables staged
            _mark("state_wait")  # pipelining stall, NOT wave-selection work
        boot = getattr(self, "_boot_state", None)
        if boot is not None:
            # epoch 0 right after bootstrap: state comes from the in-memory
            # plans over the bootstrap's cands cache (the durable writes are
            # in flight on the flusher); later epochs read staged parquet.
            pending = boot["frontier"].cache()
            seen, bloom = boot["seen"], boot["bloom"]
            persisted.extend(self._boot_persist)
            self._boot_state = None
            self._boot_persist = []
        else:
            pending = self.store.preview(self.spark, "frontier").cache()
            seen = self.store.preview(self.spark, "seen")
            bloom = self.store.preview(self.spark, "bloom")
        persisted.append(pending)

        # the frontier is pre-gated at enqueue time (quota on every row):
        # the whole of pending is schedulable by construction. The wave is
        # NOT counted here — its cardinality rides the epoch's single
        # materializing action as an Observation, so there is no serial
        # barrier between wave selection and the fetch chain.
        #
        # time-based politeness (O7): hosts wait out their crawl_delay via
        # the range predicate next_allowed_ts <= epoch_ts against the
        # host_next state table (SURVEY §2.2 "range/as-of style"); delayed
        # rows stay pending, they are not denied.
        epoch_ts = epoch * spec.EPOCH_MS
        host_next = (
            self.store.preview(self.spark, "host_next")
            if cfg.time_politeness
            else None
        )
        if host_next is not None:
            eligible = pending.join(host_next, "host", "left").where(
                F.coalesce("next_allowed_ts", F.lit(0)) <= F.lit(epoch_ts)
            ).drop("next_allowed_ts")
        else:
            eligible = pending
        wave = politeness.select_wave(eligible, cfg, persisted).cache()
        persisted.append(wave)
        _mark("wave_select")

        # crawl-delay bookkeeping: hosts scheduled now wait epoch_ts+delay;
        # stale entries (already eligible) are pruned so host_next stays
        # O(recently-delayed hosts), not O(all hosts ever)
        host_next_new = None
        if cfg.time_politeness:
            delays = self.host_state.select("host", "crawl_delay_ms")
            newn = (
                wave.select("host")
                .distinct()
                .join(delays, "host", "left")
                .where(F.coalesce("crawl_delay_ms", F.lit(0)) > 0)
                .select(
                    "host",
                    (F.lit(epoch_ts) + F.col("crawl_delay_ms")).alias(
                        "next_allowed_ts"
                    ),
                )
            )
            host_next_new = (
                host_next.where(F.col("next_allowed_ts") > epoch_ts).unionByName(newn)
                if host_next is not None
                else newn
            )

        # scan modules (O8 DNS resolve/fan-out → O13 cache split → O12 TLS
        # fan-out → SMTP banner grab) — each behind its VisitRequest flag;
        # all share one resolved wave-host set per epoch
        modules = [m for m in scan.MODULES if getattr(cfg, m.flag)]
        scans = []  # (module, output rows, new cache rows)
        if modules:
            wave_hosts = scan.resolve_hosts(
                wave.select("host").distinct(), cfg.n_hosts
            ).cache()
            persisted.append(wave_hosts)
        for m in modules:
            rows, fresh = scan.cached_probe(
                wave_hosts, self.store.preview(self.spark, m.cache), m.key,
                m.probe, m.out_cols, epoch, cfg,
            )
            # fresh probes feed BOTH the cache append and the output rows —
            # cache so the fan-out computes once
            persisted.append(fresh.cache())
            scans.append((m, rows, fresh))

        t0 = time.monotonic()
        wave_cols = wave.select(*FRONTIER_COLS_Q, "wave_pos")
        fetched = fetch.fetch_wave_bucketed(wave_cols, self.corpus, cfg)
        # status tallies ride the epoch's one materializing action as an
        # Observation — no separate groupBy-count job per epoch
        from pyspark.sql import Observation

        status_obs = Observation(f"status-{epoch}")
        # THE epoch's one critical-path byte pass: corpus scan → validate
        # UDF. Every phase-1 consumer (retry, perm-failed, outlinks, change
        # detection, metrics) reads the cached validate output (`meta`).
        # The payload bytes ride along in that cache, so the flusher writes
        # `fetched` straight from it — no corpus re-scan, and the disk write
        # stays off the critical path, overlapped with epoch k+1's compute.
        # persist()'s default level (MEMORY_AND_DISK_DESER) spills a wave
        # whose payload outgrows storage memory instead of failing.
        meta = fetched.select(
            *FRONTIER_COLS_Q, "wave_pos", "image_id", "bytes",
            "w", "h", "fmt", "caption", "phash",
            F.lit(epoch).alias("fetch_epoch"), "status",
        ).observe(
            status_obs,
            F.count(F.lit(1)).alias("n_rows"),  # = wave size: 1 row per URL
            F.sum((F.col("status") == OK).cast("long")).alias("n_ok"),
            F.sum(_perm_failed().cast("long")).alias("n_failed_perm"),
        ).persist()
        persisted.append(meta)
        # Pin the cache NOW, with its own action (the status Observation
        # rides it). Without this barrier the downstream consumers that
        # shuffle (outlink dedup's groupBy, the seen anti-join) are
        # scheduled as CONCURRENT map stages inside the epoch's final
        # action, and each recomputes the not-yet-cached validate chain —
        # measured as 2-3 corpus-scan+validate passes per epoch (the exact
        # double-compute race bootstrap() already guards against on cands).
        # One extra job submission buys exactly-once execution of the
        # epoch's dominant byte pass.
        meta.count()
        n_wave = int(status_obs.get["n_rows"])
        _mark("fetch_validate")

        from monocator_spark.operators import change

        # change-detection history: committed+staged epochs < this one
        # (this epoch's own rows join in via `meta` below). The source is
        # the NARROW ``phash_hist`` state table — OK rows' (image_id,
        # fetch_epoch, wave_pos, phash) only — never the bytes-bearing
        # ``fetched`` table, so the multi-GB payload write stays on the
        # overlapped flusher even when change detection is on.
        hist = (
            self.store.preview(self.spark, "phash_hist")
            if cfg.change_detection
            else None
        )
        # the epoch's one row-per-fetch output table; non-OK bodies are
        # nulled (nobody consumes a failed body)
        fetched_out = change.with_screenshot(
            meta.withColumn("bytes", F.when(F.col("status") == OK, F.col("bytes"))),
            hist, epoch, cfg,
        )
        ok = meta.where(F.col("status") == OK)
        retry = meta.where(_retried()).select(
            "url_norm", "url_hash", "host", "priority", "depth",
            (F.col("retries") + 1).alias("retries"), "quota",
        )

        # outlink discovery → the shared enqueue rule (dedup vs seen → gate)
        admitted = new_entries = denied_new = lineage = None
        bloom_next = bloom
        if cfg.follow_outlinks:
            raw_links = outlinks.expand_outlinks(ok.select("url_norm", "depth"), cfg)
            # cands is read twice (dedup + lineage tagging) and runs the
            # canonicalizer UDF — admit caches it so the Arrow pass happens
            # once. The gate runs ONCE at enqueue; the simulator's gate
            # would deny these rows at its epoch+1 pass, so _phase2 stamps
            # them accordingly.
            cands, new_entries, admitted, denied_new, bloom_next = enqueue.admit(
                raw_links, seen, bloom, self.host_state, cfg
            )
            persisted += [cands, new_entries]
            # per-partition lineage: dedup hit rate by host bucket (O17)
            tagged = cands.join(
                new_entries.select("url_hash", F.lit(1).alias("is_new")),
                "url_hash",
                "left",
            )
            lineage = (
                tagged.withColumn("partition_id", F.spark_partition_id())
                .withColumn(
                    "host_bucket",
                    F.pmod(F.xxhash64("host"), F.lit(spec.HOST_BUCKETS)).cast("int"),
                )
                .groupBy("partition_id", "host_bucket")
                .agg(
                    F.count(F.lit(1)).alias("urls_emitted"),
                    (F.count(F.lit(1)) - F.sum(F.coalesce("is_new", F.lit(0)))).alias("dedup_hits"),
                )
                .withColumn(
                    "dedup_hit_rate",
                    F.col("dedup_hits") / F.col("urls_emitted"),
                )
                .withColumn("epoch", F.lit(epoch))
            )

        # next frontier: pending minus this wave, plus retries, plus admitted.
        # The wave-key side broadcasts only below hints.WAVE_BROADCAST_MAX —
        # a 10^8-row wave at full scale takes the shuffle anti-join instead
        # (operators/hints.wave_side, same switch as the change/scan joins).
        from monocator_spark.operators.hints import wave_side

        remaining = pending.select(*FRONTIER_COLS_Q).join(
            wave_side(wave.select("url_hash"), cfg), "url_hash", "left_anti"
        )
        # frontier host cardinality (O17 metric) rides the same count
        # action as another Observation — approx_count_distinct, no job
        frontier_obs = Observation(f"frontier-{epoch}")
        next_frontier = remaining.unionByName(retry)
        if admitted is not None:
            next_frontier = next_frontier.unionByName(admitted)
        next_frontier = next_frontier.observe(
            frontier_obs,
            F.approx_count_distinct("host", 0.02).alias("hosts_approx"),
        ).cache()
        persisted.append(next_frontier)

        # Second (and last) materializing action: everything downstream of
        # the pinned meta cache (outlink dedup + gate + next-frontier) — the
        # frontier host cardinality rides it as an Observation
        frontier_size = next_frontier.count()
        _mark("compute")
        if n_wave == 0:
            for df in persisted:
                df.unpersist()
            if cfg.time_politeness and frontier_size > 0:
                # every eligible host is waiting out its crawl delay: an
                # IDLE epoch — time advances, nothing is scheduled
                return {"idle": True, "epoch": epoch}
            return None

        return {
            "epoch": epoch, "t0": t0, "timing": timing, "n_wave": n_wave,
            "frontier_size": frontier_size,
            "meta": meta, "fetched": fetched_out, "new_entries": new_entries,
            "denied_new": denied_new, "lineage": lineage,
            "next_frontier": next_frontier, "bloom_next": bloom_next,
            "scans": scans, "host_next": host_next_new,
            "status_obs": status_obs, "frontier_obs": frontier_obs,
            "persisted": persisted,
        }

    def _phase2(self, ctx: dict, state_ready=None) -> dict:
        """Flush epoch k's tables from its caches, commit, release caches.

        The STATE tables (frontier, seen, bloom, the scan caches) are
        staged first and ``state_ready`` is signalled so epoch k+1's
        compute can start; the heavy payload flush (``fetched``: every wave
        row with its screenshot decision, written from the cached validate
        output with non-OK bodies nulled), the other output flushes and
        the commit overlap it. Under change detection the lag-based
        prior_phash lookup consumes per-epoch history as STATE — that
        history is the NARROW ``phash_hist`` table (a projection of the
        cached validate output), staged before ``state_ready`` fires; the
        bytes-bearing ``fetched`` write itself is pure output and always
        overlaps the next epoch's compute."""
        cfg = self.cfg
        st = self.store
        epoch = ctx["epoch"]
        new_entries, denied_new = ctx["new_entries"], ctx["denied_new"]
        lineage = ctx["lineage"]
        t_flush = time.monotonic()

        if cfg.change_detection:
            # phash_hist is STATE: epoch k+1's prior_phash lag reads it.
            # Narrow columns off the cached validate output — staging it
            # here costs one small job; the payload write stays overlapped.
            st.stage_append(
                "phash_hist",
                ctx["meta"]
                .where(F.col("status") == OK)
                .select("image_id", "fetch_epoch", "wave_pos", "phash"),
                epoch + 1,
            )
        st.stage_overwrite("frontier", ctx["next_frontier"], epoch + 1)
        if cfg.follow_outlinks:
            st.stage_append(
                "seen", new_entries.select("url_hash", "url_norm"), epoch + 1
            )
            st.stage_overwrite("bloom", ctx["bloom_next"], epoch + 1)
        for m, _rows, fresh in ctx["scans"]:
            # scan caches are STATE: next epoch's anti-join must see them
            st.stage_append(m.cache, fresh, epoch + 1)
        if cfg.time_politeness and ctx["host_next"] is not None:
            # host_next is STATE: next epoch's range gate reads it
            st.stage_overwrite("host_next", ctx["host_next"], epoch + 1)

        if state_ready is not None:
            state_ready.set()  # next epoch may now preview the staged state
        ctx["timing"]["state_flush"] = round(time.monotonic() - t_flush, 2)

        # the payload straight from the cached validate output
        flushes: list = [partial(st.stage_append, "fetched", ctx["fetched"], epoch + 1)]
        flushes += [
            partial(st.stage_append, m.table, rows, epoch + 1)
            for m, rows, _fresh in ctx["scans"]
        ]
        if cfg.follow_outlinks:
            flushes.append(
                lambda: st.stage_append(
                    "denied",
                    denied_new.withColumn("epoch", F.lit(epoch + 1)),
                    epoch + 1,
                )
            )
            if lineage is not None:
                flushes.append(lambda: st.stage_append("lineage", lineage, epoch + 1))
        with ThreadPoolExecutor(max_workers=len(flushes)) as pool:
            for fut in [pool.submit(f) for f in flushes]:
                fut.result()  # re-raise any failure before committing
        # status tallies + frontier cardinality come from the Observations
        # attached in _phase1 — already recorded by the epoch's
        # materializing count action, zero extra jobs here
        status = ctx["status_obs"].get
        m = {
            "epoch": epoch,
            "scheduled": ctx["n_wave"],
            "fetched": int(status["n_ok"]),
            "failed": int(status["n_failed_perm"]),
            "frontier_size": ctx["frontier_size"],
            "frontier_hosts_approx": int(ctx["frontier_obs"].get["hosts_approx"]),
            "elapsed_ms": int((time.monotonic() - ctx["t0"]) * 1000),
        }
        import pyarrow as pa

        st.stage_append_local(
            "metrics",
            [m],
            pa.schema(
                [
                    ("epoch", pa.int32()),
                    ("scheduled", pa.int64()),
                    ("fetched", pa.int64()),
                    ("failed", pa.int64()),
                    ("frontier_size", pa.int64()),
                    ("frontier_hosts_approx", pa.int64()),
                    ("elapsed_ms", pa.int64()),
                ]
            ),
            epoch + 1,
        )
        # manifest id = store sequence, NOT crawl_epoch + 1 (commit_next);
        # crawl_epoch in meta is what resume reads
        commit_next(st, {"crawl_epoch": epoch})
        # after the metrics write: the table's schema carries no timing
        ctx["timing"]["flush_commit"] = round(time.monotonic() - t_flush, 2)
        m["timing"] = ctx["timing"]
        for df in ctx["persisted"]:
            df.unpersist()
        return m

    # -- forced recrawl (O14 driver) ---------------------------------------------
    def _url_rows(self, urls: list[str]) -> DataFrame:
        """urls → raw enqueue rows (url, depth 0)."""
        return self.spark.createDataFrame(
            [(u,) for u in urls], "url string"
        ).withColumn("depth", F.lit(0))

    def reenqueue(self, urls: list[str]) -> None:
        """Put already-crawled URLs back into the frontier (forced recrawl).

        The seen set is deliberately untouched — these URLs were seen; the
        point is a REFETCH, which is what makes cross-epoch change
        detection ("if_html_changed", reference TODO.MD:64) observable.
        Caller contract: only pass URLs not currently pending (i.e. already
        fetched/failed), else they would be scheduled twice.
        """
        adm = enqueue.admit(
            self._url_rows(urls), None, None, self.host_state, self.cfg
        )
        frontier = self.store.load(self.spark, "frontier")
        nxt = adm.admitted
        if frontier is not None:
            nxt = frontier.unionByName(nxt)
        self.store.stage_overwrite("frontier", nxt, next_epoch(self.store))
        commit_next(self.store)  # crawl_epoch unchanged: run() resumes
        adm.cands.unpersist()

    # -- TTL / refresh eviction (the dual of reenqueue) ----------------------------
    def evict_seen(self, urls: list[str]) -> int:
        """FORGET already-crawled URLs from the URL-seen state so the regular
        discovery path re-admits them (a long-lived crawler's TTL/refresh
        semantics). ``reenqueue`` refetches NOW without forgetting; this
        forgets so a future outlink discovery (or reenqueue) re-fetches
        organically.

        The exact ``seen`` table drops the rows; the approximate pre-filter
        follows its structure via ``dedup.evict_filter`` — true fingerprint
        deletion in cuckoo mode, affected-shard rebuild in Bloom mode. Only
        URLs actually in ``seen`` are evicted (a never-seen URL is a no-op,
        and the cuckoo deletion contract — delete only what was inserted —
        is enforced by the semi-join, not the caller). Returns the number
        of URLs evicted. Committed as a manifest epoch with ``crawl_epoch``
        unchanged, so a kill between evict and the next run() resumes
        exactly like reenqueue does.
        """
        keys = enqueue.candidates(self._url_rows(urls)).select("url_hash").cache()
        seen = self.store.load(self.spark, "seen")
        if seen is None:
            keys.unpersist()
            return 0
        gone = keys.join(seen.select("url_hash"), "url_hash", "left_semi").cache()
        n_gone = gone.count()
        if n_gone == 0:
            keys.unpersist()
            gone.unpersist()
            return 0
        remaining = seen.join(gone, "url_hash", "left_anti")
        filt = dedup.evict_filter(
            self.store.load(self.spark, "bloom"), gone, remaining, self.cfg
        )
        ep = next_epoch(self.store)
        self.store.stage_overwrite("seen", remaining, ep)
        if filt is not None:
            self.store.stage_overwrite("bloom", filt, ep)
        commit_next(self.store)
        keys.unpersist()
        gone.unpersist()
        return int(n_gone)

    # -- loop / resume -----------------------------------------------------------
    def run(self, max_epochs: int = 1000) -> RunStats:
        """Run (or resume — the last committed manifest is the checkpoint).

        Epochs are pipelined: epoch k's flush+commit (a single ordered
        background thread) overlaps epoch k+1's compute. Commits still land
        strictly in epoch order, so a kill at any moment resumes exactly.
        """
        import threading

        t0 = time.monotonic()
        boot_tail = None
        if self.store.last_epoch() is None:
            # hands epoch 0 its state as in-memory plans and defers every
            # durable write + the commit to the flusher, overlapping them
            # with epoch 0's compute
            boot_tail = self.bootstrap()
            start = 0
        else:
            start = self.store.meta()["crawl_epoch"] + 1
        stats = RunStats()
        abort = threading.Event()

        def phase2_safe(ctx: dict, ev: threading.Event) -> dict:
            try:
                if abort.is_set():
                    raise RuntimeError("skipped: earlier epoch flush failed")
                if ctx.get("idle"):
                    # nothing staged; commit just advances crawl_epoch so a
                    # kill during an idle streak still resumes exactly
                    commit_next(self.store, {"crawl_epoch": ctx["epoch"]})
                    return {"idle": True}
                return self._phase2(ctx, ev)
            except BaseException:
                abort.set()
                raise
            finally:
                ev.set()  # never leave the main thread waiting

        flusher = ThreadPoolExecutor(max_workers=1)
        futures = []
        if boot_tail is not None:

            def boot_safe(tail=boot_tail):
                try:
                    return tail()
                except BaseException:
                    abort.set()
                    raise

            futures.append(flusher.submit(boot_safe))
        prev_ev: threading.Event | None = None
        phase1_exc: BaseException | None = None
        try:
            for epoch in range(start, start + max_epochs):
                if abort.is_set():
                    break
                ctx = self._phase1(epoch, prev_ev)
                if ctx is None:
                    break
                ev = threading.Event()
                futures.append(flusher.submit(phase2_safe, ctx, ev))
                prev_ev = ev
        except BaseException as e:
            # a failed background flush sets `abort`, after which phase1 may
            # throw reading half-staged state — don't let that secondary
            # exception mask the root-cause flush failure below
            phase1_exc = e
        finally:
            flusher.shutdown(wait=True)
        flush_exc: BaseException | None = None
        for fut in futures:
            try:
                m = fut.result()
            except BaseException as e:  # keep draining; first failure wins
                if flush_exc is None:
                    flush_exc = e
                continue
            if m.get("idle"):
                continue  # idle epochs advance time, they don't count work
            stats.epochs += 1
            stats.scheduled += m["scheduled"]
            stats.fetched += m["fetched"]
            stats.failed += m["failed"]
            stats.per_epoch.append(m)
        if flush_exc is not None:
            raise flush_exc
        if phase1_exc is not None:
            raise phase1_exc
        stats.elapsed_sec = time.monotonic() - t0
        return stats

    # -- outputs for golden-file comparison ---------------------------------------
    # ``fetched`` is the one row-per-fetch table; the crawl order, the OK
    # fetches and the permanent failures are views of it
    def _fetched(self, cond: Column, *cols) -> DataFrame | None:
        fa = self.store.load(self.spark, "fetched")
        return None if fa is None else fa.where(cond).select(*cols)

    def order_df(self) -> DataFrame:
        """Every scheduled URL: (epoch, wave_pos, url_norm, url_hash)."""
        return self._fetched(
            F.lit(True), F.col("fetch_epoch").alias("epoch"), "wave_pos",
            "url_norm", "url_hash",
        )

    def seen_df(self) -> DataFrame:
        return self.store.load(self.spark, "seen")

    def fetched_df(self) -> DataFrame:
        """The OK fetches, every ``fetched`` column (payload, screenshot
        decision and prior phash included)."""
        return self._fetched(F.col("status") == OK, "*")

    def failed_df(self) -> DataFrame:
        """The permanent failures: (url_hash, url_norm, status, epoch)."""
        return self._fetched(
            _perm_failed(), "url_hash", "url_norm", "status",
            F.col("fetch_epoch").alias("epoch"),
        )

    def tls_df(self) -> DataFrame:
        return self.store.load(self.spark, "tls")

    def scan_cache_df(self) -> DataFrame:
        return self.store.load(self.spark, "scan_cache")

    def dns_df(self) -> DataFrame:
        return self.store.load(self.spark, "dns")

    def smtp_df(self) -> DataFrame:
        return self.store.load(self.spark, "smtp")
