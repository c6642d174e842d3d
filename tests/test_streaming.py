"""Structured Streaming surface tests (SURVEY.md §2 O17 stream form + the
continuous-discovery enqueue twin of O1-O4).

Covers:
* bounded tumbling-window stream ≡ the batch groupBy on a static input
  (the same claim the driver's DuckDB oracle hash-checks at sf0.01);
* append mode + watermark: late rows dropped, each finalized window emitted
  exactly once (the unbounded deployment shape, unobservable in bounded
  complete mode);
* StreamingEnqueue: a seed feed drained through the streaming path, then a
  normal CrawlEngine run, produces byte-identical crawl order + seen set to
  the batch bootstrap on the same seeds — and replays (checkpoint loss) are
  idempotent via the stream_batch_id manifest meta.
"""

import datetime
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.sources.store import SnapshotStore
from monocator_spark.streaming.enqueue_stream import StreamingEnqueue
from monocator_spark.streaming.windows import (
    start_append_stream,
    tumbling_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


# -- bounded stream ≡ batch ---------------------------------------------------


def test_tumbling_stream_matches_batch(spark):
    from monocator_spark.queries.relational import q_tumbling_window

    got = sorted(
        tuple(r)
        for r in tumbling_event_counts(
            spark, f"{SF_DIR}/events.parquet"
        ).collect()
    )
    exp = sorted(tuple(r) for r in q_tumbling_window(spark, SF_DIR).collect())
    assert got == exp and len(got) > 0


# -- append mode: watermark semantics -----------------------------------------

_TS = lambda h, m: datetime.datetime(2026, 1, 5, h, m)  # noqa: E731

EVENT_SCHEMA_PA = pa.schema(
    [("ts", pa.timestamp("us")), ("event_type", pa.string()), ("value", pa.float64())]
)


def _write_feed_file(path: str, rows: list[tuple], mtime: int) -> None:
    tbl = pa.Table.from_pylist(
        [{"ts": t, "event_type": e, "value": v} for t, e, v in rows],
        schema=EVENT_SCHEMA_PA,
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))  # file-source batch order = mod time


def test_append_stream_drops_late_rows_emits_once(spark, tmp_root):
    src = f"{tmp_root}/wm-src"
    sink = f"{tmp_root}/wm-sink"
    ckpt = f"{tmp_root}/wm-ckpt"
    os.makedirs(src)
    base = 1_700_000_000
    # batch 0: hour-10 window, 3 rows
    _write_feed_file(
        f"{src}/f1.parquet",
        [(_TS(10, 0), "a", 1.0), (_TS(10, 15), "a", 1.0), (_TS(10, 30), "a", 1.0)],
        base + 1,
    )
    # batch 1: hour-11 rows; max ts 11:50 → eviction watermark 11:20 after
    _write_feed_file(
        f"{src}/f2.parquet", [(_TS(11, 0), "a", 1.0), (_TS(11, 50), "a", 1.0)], base + 2
    )
    # batch 2: on-time hour-12 row (hour-10 finalizes here, eviction wm 11:20)
    _write_feed_file(f"{src}/f3.parquet", [(_TS(12, 50), "a", 1.0)], base + 3)
    # batch 3: LATE row. Spark 3.4+ filters late records with the PREVIOUS
    # batch's watermark (SPIP watermark propagation), so the row must arrive
    # two batches after the one that advanced the watermark past it:
    # filter-wm here = batch 2's eviction wm = 11:20 > 10:05 → dropped
    _write_feed_file(f"{src}/f4.parquet", [(_TS(10, 5), "a", 99.0)], base + 4)
    # batch 4: pushes the watermark to 13:30, finalizing hour 12
    _write_feed_file(f"{src}/f5.parquet", [(_TS(14, 0), "a", 1.0)], base + 5)

    schema = spark.createDataFrame([], "ts timestamp, event_type string, value double").schema
    q = start_append_stream(
        spark, src, schema, sink, ckpt, watermark="30 minutes", max_files_per_trigger=1
    )
    q.awaitTermination()
    # a second availableNow run against the same checkpoint lets Spark run
    # its no-data finalization batch if the first run ended before state
    # eviction caught up with the final watermark
    q2 = start_append_stream(
        spark, src, schema, sink, ckpt, watermark="30 minutes", max_files_per_trigger=1
    )
    q2.awaitTermination()

    files = glob.glob(f"{sink}/*.parquet")
    assert files, "append sink produced no finalized windows"
    out = {
        r["hour_ts"]: (r["n"], r["sum_value_cents"])
        for r in spark.read.parquet(sink).collect()
    }
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == len(out), "a window was emitted more than once"
    # hour 10 finalized with the LATE ROW DROPPED (n=3, not 4; the 99.0
    # value would have shifted the sum by 9900 cents)
    assert out["2026-01-05 10:00:00"] == (3, 300)
    assert out["2026-01-05 11:00:00"] == (2, 200)
    assert out["2026-01-05 12:00:00"] == (1, 100)
    # hour 14 is still an open window — never emitted in append mode
    assert "2026-01-05 14:00:00" not in out
    assert set(out) == {
        "2026-01-05 10:00:00",
        "2026-01-05 11:00:00",
        "2026-01-05 12:00:00",
    }


# -- streaming enqueue: feed → drain → crawl ≡ batch bootstrap → crawl ---------

N_IMAGES, N_HOSTS, N_SEEDS = 150, 6, 24
CFG = spec.CrawlConfig(n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=30)


@pytest.fixture(scope="module")
def stream_world(spark, tmp_root):
    d = f"{tmp_root}/world-stream"
    dg.write_world(spark, d, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS)
    return d


@pytest.fixture(scope="module")
def golden(spark, tmp_root, stream_world):
    store = SnapshotStore(f"{tmp_root}/state-golden")
    eng = CrawlEngine(spark, store, stream_world, CFG)
    eng.run()
    order = sorted(
        (r.epoch, r.wave_pos, r.url_norm, r.url_hash) for r in eng.order_df().collect()
    )
    seen = {(r.url_hash, r.url_norm) for r in eng.seen_df().collect()}
    return order, seen


def test_stream_enqueue_then_crawl_matches_batch(spark, tmp_root, stream_world, golden):
    # the same seed list the batch bootstrap reads, split across two feed
    # files → two micro-batches (cross-batch dedup goes through the
    # Bloom+seen gate instead of the intra-batch min-depth rule)
    seeds = [r.url for r in spark.read.parquet(f"{stream_world}/seeds").collect()]
    feed = f"{tmp_root}/seed-feed"
    os.makedirs(feed)
    half = len(seeds) // 2
    for i, chunk in enumerate((seeds[:half], seeds[half:])):
        tbl = pa.Table.from_pylist(
            [{"url": u, "depth": 0} for u in chunk],
            schema=pa.schema([("url", pa.string()), ("depth", pa.int32())]),
        )
        pq.write_table(tbl, f"{feed}/feed-{i}.parquet")

    store = SnapshotStore(f"{tmp_root}/state-streamed")
    host_state = spark.read.parquet(f"{stream_world}/host_state")
    stream = StreamingEnqueue(
        spark, CFG, store, feed, f"{tmp_root}/enq-ckpt", host_state=host_state
    )
    stream.run_available()

    # the stream committed ≥1 manifests, crawl_epoch still -1 (crawl not run)
    assert store.last_epoch() is not None
    assert store.meta()["crawl_epoch"] == -1
    assert store.meta()["stream_batch_id"] >= 0

    # idempotent replay: wipe the checkpoint → the file source re-delivers
    # every batch → every batch id is ≤ the committed max → all skipped
    manifests_before = store.last_epoch()
    shutil.rmtree(f"{tmp_root}/enq-ckpt")
    stream2 = StreamingEnqueue(
        spark, CFG, store, feed, f"{tmp_root}/enq-ckpt", host_state=host_state
    )
    stream2.run_available()
    assert store.last_epoch() == manifests_before, "replayed batch re-committed"

    # a normal engine run on the stream-bootstrapped store: it must skip its
    # own bootstrap (crawl_epoch=-1 ⇒ start at epoch 0 over the streamed
    # frontier/seen/bloom) and reproduce the batch crawl exactly
    eng = CrawlEngine(spark, store, stream_world, CFG)
    eng.run()
    order = sorted(
        (r.epoch, r.wave_pos, r.url_norm, r.url_hash) for r in eng.order_df().collect()
    )
    seen = {(r.url_hash, r.url_norm) for r in eng.seen_df().collect()}
    g_order, g_seen = golden
    assert order == g_order
    assert seen == g_seen

    # the crawl's commits carry stream_batch_id forward: a replay after
    # the crawl still finds every batch committed
    manifests_after_crawl = store.last_epoch()
    shutil.rmtree(f"{tmp_root}/enq-ckpt")
    StreamingEnqueue(
        spark, CFG, store, feed, f"{tmp_root}/enq-ckpt", host_state=host_state
    ).run_available()
    assert store.last_epoch() == manifests_after_crawl, "replay after crawl re-committed"


# -- applyInPandasWithState: gap sessions ---------------------------------------

SESS_SCHEMA_PA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
    ]
)


def _write_sess_file(path: str, rows: list[tuple], mtime: int) -> None:
    tbl = pa.Table.from_pylist(
        [{"event_id": e, "ts": t, "user_id": u} for e, t, u in rows],
        schema=SESS_SCHEMA_PA,
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def test_session_stream_matches_batch_on_closed_sessions(spark, tmp_root):
    """The applyInPandasWithState session operator emits exactly the batch
    sessionizer's sessions once their closure is watermark-proven: closed
    in-batch by a past-gap arrival, or by event-time timeout. The last
    still-open session stays unemitted."""
    from monocator_spark.streaming.sessions import (
        sessionize_batch,
        start_session_stream,
    )

    src = f"{tmp_root}/sess-src"
    sink = f"{tmp_root}/sess-sink"
    ckpt = f"{tmp_root}/sess-ckpt"
    os.makedirs(src)
    base = 1_700_000_000
    D = datetime.datetime
    feed = [
        # f1: user 1 two events inside the gap; user 2 one event
        [(1, D(2026, 1, 5, 10, 0), 1), (2, D(2026, 1, 5, 10, 30), 1),
         (3, D(2026, 1, 5, 10, 5), 2)],
        # f2: user 1 again, 3.5h later (> 60min gap) → session 1 closes
        # in-batch on arrival
        [(4, D(2026, 1, 5, 14, 0), 1)],
        # f3..f5: each advances the watermark, timing out earlier sessions
        [(5, D(2026, 1, 5, 20, 0), 3)],
        [(6, D(2026, 1, 5, 23, 0), 4)],
        [(7, D(2026, 1, 6, 12, 0), 5)],
    ]
    for i, rows in enumerate(feed):
        _write_sess_file(f"{src}/f{i}.parquet", rows, base + i)

    schema = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long"
    ).schema
    for _ in range(2):  # second run = the no-data finalization batch
        q = start_session_stream(
            spark, src, schema, sink, ckpt, gap_minutes=60,
            max_files_per_trigger=1,
        )
        q.awaitTermination()

    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())

    all_events = spark.createDataFrame(
        [(e, t, u) for rows in feed for (e, t, u) in rows],
        "event_id long, ts timestamp, user_id long",
    )
    batch = sessionize_batch(all_events, 60)
    # user 5's session is still open (nothing advanced the watermark past
    # its last event + gap); everything else is provably closed
    exp = sorted(
        tuple(r) for r in batch.where("user_id != 5").collect()
    )
    assert got == exp and len(got) == 5
    open_keys = {r[0] for r in batch.collect()} - {r[0] for r in got}
    assert open_keys == {5}


# -- streaming URL-seen dedup: watermark-bounded state -------------------------

DEDUP_SCHEMA_PA = pa.schema(
    [
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
    ]
)


def _write_dedup_file(path: str, rows: list[tuple], mtime: int) -> None:
    tbl = pa.Table.from_pylist(
        [{"ts": t, "user_id": u, "event_type": e} for t, u, e in rows],
        schema=DEDUP_SCHEMA_PA,
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def test_dedup_stream_drops_within_horizon_reemits_after(spark, tmp_root):
    """dropDuplicatesWithinWatermark contract, stepped file-by-file:
    duplicate within the 30-minute horizon dropped; key re-arriving after
    the watermark evicted its state emitted as a fresh first-seen."""
    from monocator_spark.streaming.dedup_stream import start_dedup_stream

    src = f"{tmp_root}/dd-src"
    sink = f"{tmp_root}/dd-sink"
    ckpt = f"{tmp_root}/dd-ckpt"
    os.makedirs(src)
    base = 1_700_000_000

    feed_schema = spark.createDataFrame(
        [], "ts timestamp, user_id long, event_type string"
    ).schema

    def step() -> None:
        q = start_dedup_stream(
            spark, src, feed_schema, sink, ckpt, watermark="30 minutes"
        )
        q.awaitTermination()

    # batch 0: keys A=(7,'click') and B=(8,'view') → both emitted
    _write_dedup_file(
        f"{src}/f1.parquet",
        [(_TS(10, 0), 7, "click"), (_TS(10, 5), 8, "view")],
        base,
    )
    step()
    # batch 1: A again 10 min later — within the horizon → dropped
    _write_dedup_file(f"{src}/f2.parquet", [(_TS(10, 10), 7, "click")], base + 10)
    step()
    # batch 2: C at 12:00 advances the watermark to 11:30 → A's state
    # (10:00 + 30 min = 10:30 < 11:30) is evicted after this batch
    _write_dedup_file(f"{src}/f3.parquet", [(_TS(12, 0), 9, "click")], base + 20)
    step()
    # batch 3: A again at 11:45 — not late (watermark 11:30), state gone →
    # emitted as a fresh first-seen
    _write_dedup_file(f"{src}/f4.parquet", [(_TS(11, 45), 7, "click")], base + 30)
    step()

    out = sorted(
        (r["url_key"], r["ts"])
        for r in spark.read.parquet(sink).collect()
    )
    assert out == sorted(
        [
            ("u7/click", _TS(10, 0)),
            ("u8/view", _TS(10, 5)),
            ("u9/click", _TS(12, 0)),
            ("u7/click", _TS(11, 45)),
        ]
    )
