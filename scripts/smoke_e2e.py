"""Ad-hoc e2e check: Spark engine crawl order, seen set, fetched and failed
rows == reference simulator. Exits 1 on the first mismatch."""
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.plans.epoch import CrawlEngine
from monocator_spark.session import get_spark
from monocator_spark.sim.simulator import ReferenceSimulator
from monocator_spark.sources.store import SnapshotStore

N_IMAGES, N_HOSTS, N_SEEDS = 300, 10, 40
cfg = spec.CrawlConfig(n_images=N_IMAGES, n_hosts=N_HOSTS, wave_size=50)

spark = get_spark("smoke", cores=8, shuffle_partitions=8)
tmp = tempfile.mkdtemp(prefix="mono-smoke-")
try:
    world = f"{tmp}/world"
    dg.write_world(spark, world, n_images=N_IMAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS)

    # --- simulator (ground truth) ---
    corpus_rows = dg.build_corpus(N_IMAGES).to_dict("records")
    host_rows = dg.build_host_state(N_HOSTS, N_IMAGES).to_dict("records")
    seeds = dg.build_seeds(N_SEEDS, N_IMAGES, N_HOSTS)["url"].tolist()
    sim = ReferenceSimulator(corpus_rows, host_rows, cfg)
    sres = sim.run(seeds)
    print("SIM: epochs", len(sres.metrics), "order", len(sres.order),
          "fetched", len(sres.fetched), "failed", len(sres.failed),
          "denied", len(sres.denied), "seen", len(sres.seen))

    # --- spark engine ---
    store = SnapshotStore(f"{tmp}/state")
    eng = CrawlEngine(spark, store, world, cfg)
    stats = eng.run()
    print("SPARK: epochs", stats.epochs, "scheduled", stats.scheduled,
          "fetched", stats.fetched, "failed", stats.failed,
          f"{stats.elapsed_sec:.1f}s")

    got_order = [
        (r.epoch, r.wave_pos, r.url_norm, r.url_hash)
        for r in eng.order_df().orderBy("epoch", "wave_pos").collect()
    ]
    exp_order = [(d["epoch"], d["wave_pos"], d["url_norm"], d["url_hash"]) for d in sres.order]
    if got_order == exp_order:
        print("ORDER MATCH ✓", len(got_order), "rows")
    else:
        print("ORDER MISMATCH: got", len(got_order), "exp", len(exp_order))
        for g, e in zip(got_order, exp_order):
            if g != e:
                print("first diff:\n  got", g, "\n  exp", e)
                break
        sys.exit(1)

    got_seen = {(r.url_hash, r.url_norm) for r in eng.seen_df().collect()}
    exp_seen = set(sres.seen.items())
    if got_seen == exp_seen:
        print("SEEN MATCH ✓", len(got_seen))
    else:
        print("SEEN MISMATCH", len(got_seen), len(exp_seen))
        print("extra:", list(got_seen - exp_seen)[:5])
        print("missing:", list(exp_seen - got_seen)[:5])
        sys.exit(1)

    got_f = {(r.url_hash, r.image_id, r.caption, r.phash) for r in eng.fetched_df().collect()}
    exp_f = {(d["url_hash"], d["image_id"], d["caption"], d["phash"]) for d in sres.fetched}
    if got_f != exp_f:
        print("FETCHED MISMATCH", len(got_f), "vs", len(exp_f))
        sys.exit(1)
    print("FETCHED MATCH ✓", len(got_f))

    got_x = {(r.url_hash, r.status, r.epoch) for r in eng.failed_df().collect()}
    exp_x = {(d["url_hash"], d["status"], d["epoch"]) for d in sres.failed}
    if got_x != exp_x:
        print("FAILED MISMATCH", len(got_x), "vs", len(exp_x))
        sys.exit(1)
    print("FAILED MATCH ✓", len(got_x))
finally:
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
