#!/usr/bin/env python3
"""The repository benchmark: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Workloads (``--workload``):
  crawl_wide     one epoch (wave_size 20,000) over a 20k-image world with 90%
                 of its seeds: distributed wave rank, nearly every outlink a
                 dedup hit.
  query_library  6 registry queries over the bundled sf0.01 tables, in an
                 order the seed permutes, each forced with a noop sink.
  crawl_wide_roadmap  (check only) ROADMAP's pinned 200k-image run; must
                 reproduce its order and seen checksums.

Every workload is a closed loop with one client on local[4]. A run sets up
once in its fresh process (``get_spark`` starts the JVM, then the engine is
constructed or the warm-up query runs) and reports the CPU seconds that
took as ``setup_s``. It then measures a fixed amount of work (the crawl, or
three timed passes over the queries after an untimed pass that fingerprints
every result); on a 4-vCPU host that takes longer than any ``--seconds``
the benchmark is run with, and the amount does not depend on it. The run
checks the outputs against perfbench/pinned.json (and invariants, for
unpinned seeds) and prints, as its last stdout line, the end-to-end metrics (``--trace 0``)
or the per-layer metrics of a traced run (``--trace 1``). The line before it
records the environment, the checks and the raw samples. Any failed
operation or output mismatch makes the exit code 1.

Inputs are cached under perfbench/.work (the world is generated once per
checkout, outside any timed region); nothing is written elsewhere.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
PINNED = HERE / "pinned.json"
CORES = 4
DRIVER_MEM = "3g"

# the gated end-to-end metrics: on a shared host whose speed drifts from
# minute to minute, CPU time (which excludes time the hypervisor steals) and
# memory repeat across runs; wall-clock set-up, throughput and latency
# (WALL) do not, so they are recorded with every run but not gated
E2E = {
    "setup_s": "s",
    "cpu_ms_per_item": "ms",
    "peak_rss_mb": "MB",
}
WALL = {
    "setup_wall_s": "s",
    "items_per_s": "1/s",
    "work_s": "s",
    "op_p50_s": "s",
}

LAYERS = ("epoch", "politeness", "dedup", "store", "queries")
PER_LAYER = {
    "session.get_spark_s": "s",
    "epoch.init_s": "s",
    "epoch.bootstrap_s": "s",
    "epoch.first_commit_s": "s",
    "epoch.self_exec_s": "s",
    "epoch.jobs": "count",
    "epoch.stages": "count",
    "epoch.tasks": "count",
    "epoch.task_deser_s": "s",
    "epoch.slot_busy_frac": "ratio",
    "politeness.select_wave_s": "s",
    "politeness.gate_s": "s",
    "dedup.filter_new_s": "s",
    "dedup.filter_build_s": "s",
    "dedup.new_frac": "ratio",
    "fetch.fetch_wave_s": "s",
    "fetch.ok_frac": "ratio",
    "enqueue.prepare_s": "s",
    "outlinks.expand_s": "s",
    "store.state_stage_s": "s",
    "store.output_stage_s": "s",
    "store.commit_s": "s",
    "store.written_mb": "MB",
    "store.files": "count",
    "store.manifest_kb": "KB",
    **{f"queries.{m}_s": "s" for m in
       ("relational", "textops", "similarity", "imaging", "streamingops", "crawlops")},
    "queries.plan_s": "s",
    "queries.write_s": "s",
    "queries.slot_busy_frac": "ratio",
    **{f"{layer}.{stat}": unit for layer in LAYERS for stat, unit in (
        ("exec_s", "s"), ("cpu_s", "s"), ("deser_s", "s"), ("gc_s", "s"),
        ("shuffle_mb", "MB"), ("spark_jobs", "count"))},
    "trace.spans": "count",
    "trace.unattributed_jobs": "count",
    # the traced run's own end-to-end figures: minus the untraced medians,
    # they give the tracing overhead
    **{f"trace.{k}": unit for k, unit in {**E2E, **WALL}.items()},
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_wide", "query_library", "crawl_wide_roadmap"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


# -- process environment -----------------------------------------------------
def scrub_environment(run_dir: Path) -> None:
    """No engine switch (MONO_*), event-log dir or heap override leaks in;
    Spark, the JVM and Python workers keep their files inside the checkout."""
    for k in list(os.environ):
        if k.startswith("MONO_") or k == "SPARK_EVENTLOG_DIR":
            del os.environ[k]
    # a fixed heap: the session default (8g) lets the JVM grow past 5 GB RSS
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PERFBENCH_SPARK_CONF"] = json.dumps(spark_conf(run_dir))


def spark_conf(run_dir: Path, event_dir: Path | None = None) -> dict:
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one file per session
        })
    return conf


@contextlib.contextmanager
def measured():
    """Yield a dict that gets the measured interval's wall-clock bounds
    (``start``, ``end``) and the CPU seconds the process tree used in it."""
    import environment

    w = {"start": time.time()}
    c0 = environment.tree_cpu_s(os.getpid())
    try:
        yield w
    finally:
        w["end"] = time.time()
        w["cpu_s"] = environment.tree_cpu_s(os.getpid()) - c0


# -- set-up --------------------------------------------------------------------
def set_up(conf: dict, construct, span):
    """The run's one set-up: ``get_spark`` (which starts this process's JVM),
    then ``construct(spark, span)``. Returns the session, the constructed
    state and the set-up's measured window (see ``measured``)."""
    from monocator_spark import session

    with measured() as window:
        spark = session.get_spark("perfbench", cores=CORES, shuffle_partitions=CORES,
                                  extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        state = construct(spark, span)
    return spark, state, window


# -- workloads -----------------------------------------------------------------
def run_crawl(args, run_dir: Path, conf: dict, span, pinned: dict, rss) -> dict:
    import crawl

    shape = crawl.SHAPES[args.workload]
    base = crawl.ensure_world(WORK, shape.world)
    world = crawl.seeded_world(WORK, base, shape.keep, args.seed)
    meta = json.loads((world / "_WORLD_META.json").read_text())
    crawl.preread(world)
    cfg = crawl.crawl_config(shape, meta)
    store_dir = run_dir / "store"
    pin = pinned.get(args.workload, {}).get("all" if shape.keep >= 1.0 else str(args.seed))

    def construct(spark, _span):
        return crawl.make_engine(spark, store_dir, world, cfg)

    rss.start()
    spark, engine, setup = set_up(conf, construct, span)
    res = {"spark": spark, "setup": setup, "e2e": {}, "attempted": shape.epochs,
           "failed": shape.epochs, "problems": [], "window": None,
           "info": {"world": meta, "pinned": pin is not None, "run": None}}
    try:
        with measured() as window:
            m = crawl.measure(engine, store_dir, shape)
    except Exception as e:  # every epoch of the run counts as failed
        res["problems"].append(f"run raised {type(e).__name__}: {e}")
        return res
    with span("bench.check"):
        out = crawl.outputs(engine)
    bad = crawl.check(m, out, pin)
    if m["epochs"] < shape.epochs:
        bad.append(f"ran {m['epochs']} of {shape.epochs} epochs")
    m.update(out, footprint=crawl.store_footprint(store_dir))
    periods = m["epoch_periods_s"]
    res.update(failed=shape.epochs if bad else 0, problems=bad, window=window, e2e={
        "items_per_s": m["urls_per_s"],
        "work_s": m["wall_s"],
        "op_p50_s": statistics.median(periods) if periods else None,
        "cpu_ms_per_item": 1e3 * window["cpu_s"] / (m["scheduled"] + m["fetched"]),
    })
    res["info"]["run"] = m
    return res


def run_queries(args, run_dir: Path, conf: dict, span, pinned: dict, rss) -> dict:
    import querylib

    names = querylib.order_for(args.seed)

    def construct(spark, span):
        with span("queries.warmup"):
            querylib.warm_up(spark)

    rss.start()
    spark, _, setup = set_up(conf, construct, span)
    # the untimed check pass runs every query once before the timed passes
    t_check = time.monotonic()
    with span("bench.check"):
        got = querylib.fingerprints(spark, names)
    check_s = time.monotonic() - t_check
    want = pinned.get("query_library", {})
    bad = {n for n in names if got[n] != want.get(n)}
    problems = [f"{n}: fingerprint {got[n]} != pinned {want.get(n)}" for n in sorted(bad)]
    rows, failed = [], 0
    with measured() as window:
        for _ in range(querylib.TIMED_PASSES):
            r, errors = querylib.timed_pass(spark, names, span)
            rows += r
            problems += errors
            failed += len(bad | {e.split(":", 1)[0] for e in errors})
    per_query: dict[str, list[float]] = {}
    for r in rows:
        per_query.setdefault(r["query"], []).append(r["plan_s"] + r["write_s"])
    e2e = {}
    if per_query:
        medians = [statistics.median(v) for v in per_query.values()]
        e2e = {
            "items_per_s": len(medians) / sum(medians),
            "work_s": sum(medians),
            "op_p50_s": statistics.median(medians),
            "cpu_ms_per_item": 1e3 * window["cpu_s"] / len(rows),
        }
    return {
        "spark": spark, "setup": setup, "e2e": e2e,
        "attempted": len(names) * querylib.TIMED_PASSES,
        "failed": failed,
        "problems": problems, "window": window,
        "info": {"order": names, "rows": rows, "fingerprints": got, "check_s": check_s},
    }


# -- per-layer table (traced run) ------------------------------------------------
def per_layer(spans: list[dict], event_dir: Path, res: dict, workload: str, e2e: dict) -> dict:
    """The traced run's per-layer table: set-up spans, the spans and Spark
    jobs of the measured window, and the run's own end-to-end figures."""
    import tracing

    logs = [p for p in event_dir.iterdir() if p.is_file()]
    assert len(logs) == 1, f"one Spark session, one event log; found {len(logs)}"
    log = tracing.read_event_log(logs[0])
    window = res["window"] or {"start": 0.0, "end": 0.0}
    in_window = [s for s in spans if window["start"] <= s["start"] <= window["end"]]
    per_name = tracing.attribute(in_window, log)["per_name"]
    wall = window["end"] - window["start"]
    run = res["info"].get("run")

    def sw(name, pred=None):
        return tracing.span_wall(in_window, name, pred)

    def set_up_span(name):
        return tracing.span_wall(spans, name)

    total = {k: sum(acc[k] for acc in per_name.values()) for k in ("jobs", "stages", "tasks", "deser_s", "exec_s")}
    out = {
        "session.get_spark_s": set_up_span("session.get_spark"),
        "epoch.init_s": set_up_span("epoch.init"),
        "epoch.bootstrap_s": sw("epoch.bootstrap"),
        "epoch.self_exec_s": per_name.get("epoch.run", {}).get("exec_s", 0.0),
        "politeness.select_wave_s": sw("politeness.select_wave"),
        "politeness.gate_s": sw("politeness.gate"),
        "dedup.filter_new_s": sw("dedup.filter_new"),
        "dedup.filter_build_s": sw("dedup.build_filter") + sw("dedup.merge_filter"),
        "fetch.fetch_wave_s": sw("fetch.fetch_wave_bucketed"),
        "enqueue.prepare_s": sw("enqueue.prepare_candidates") + sw("enqueue.dedup_within_batch"),
        "outlinks.expand_s": sw("outlinks.expand_outlinks"),
        "store.state_stage_s": sum(
            sw(n, lambda s: s["table"] in tracing.STATE_TABLES)
            for n in ("store.stage_append", "store.stage_overwrite")),
        "store.output_stage_s": sum(
            sw(n, lambda s: s["table"] not in tracing.STATE_TABLES)
            for n in ("store.stage_append", "store.stage_overwrite", "store.stage_append_local")),
        "store.commit_s": sw("store.commit"),
        "trace.spans": len(spans),
        "trace.unattributed_jobs": len(tracing.attribute(spans, log)["unattributed"]),
        **{f"trace.{k}": v for k, v in e2e.items()},
    }
    busy = total["exec_s"] / (CORES * wall) if wall else 0.0
    if run:
        epochs = run["epochs"]
        out.update({
            "epoch.first_commit_s": run["first_commit_s"],
            "epoch.jobs": total["jobs"] / epochs,
            "epoch.stages": total["stages"] / epochs,
            "epoch.tasks": total["tasks"] / epochs,
            "epoch.task_deser_s": total["deser_s"] / epochs,
            "epoch.slot_busy_frac": busy,
            "dedup.new_frac": run["outlinks_new"] / run["outlinks_emitted"] if run["outlinks_emitted"] else 0.0,
            "fetch.ok_frac": run["fetched"] / run["scheduled"] if run["scheduled"] else 0.0,
            **{f"store.{k}": v for k, v in run["footprint"].items()},
        })
    elif workload == "query_library":
        mods = {}
        for s in in_window:
            if s["name"].startswith("queries.") and s["name"] != "queries.warmup":
                mod = s["name"].split(".")[1]
                mods[mod] = mods.get(mod, 0.0) + s["end"] - s["start"]
        out.update({f"queries.{m}_s": v for m, v in mods.items()})
        out["queries.write_s"] = sum(
            s["end"] - s["start"] for s in in_window if s["name"].endswith(".write"))
        out["queries.plan_s"] = sum(mods.values()) - out["queries.write_s"]
        out["queries.slot_busy_frac"] = busy
    for layer in LAYERS:
        for k, v in tracing.layer_totals(per_name, layer).items():
            out[f"{layer}.{'spark_jobs' if k == 'jobs' else k}"] = v
    return {k: out.get(k, 0.0) for k in PER_LAYER}


# -- main ------------------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import monocator_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    scrub_environment(run_dir)
    event_dir = run_dir / "events" if args.trace else None
    conf = spark_conf(run_dir, event_dir)
    pinned = json.loads(PINNED.read_text()) if PINNED.is_file() else {}

    import environment
    import tracing

    tracer = tracing.Tracer() if args.trace else None
    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    runner = run_queries if args.workload == "query_library" else run_crawl
    try:
        with tracer.installed() if tracer else contextlib.nullcontext():
            rss = environment.RssSampler()
            try:
                res = runner(args, run_dir, conf, span, pinned, rss)
            finally:
                peak_mb = rss.stop()
            env = environment.record(res["spark"], ROOT)
            res["spark"].stop()
        setup = res["setup"]
        e2e = dict(res["e2e"], setup_s=setup["cpu_s"], peak_rss_mb=peak_mb,
                   setup_wall_s=setup["end"] - setup["start"])
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "env": env, "e2e": e2e,
            "problems": res["problems"], **res["info"],
        }
        if tracer:
            tracer.dump(WORK / f"spans-{args.workload}.json")
            metrics = per_layer(tracer.spans, event_dir, res, args.workload, e2e)
            units = PER_LAYER
        else:
            metrics, units = e2e, E2E
    finally:
        environment.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    ok = not res["problems"] and res["failed"] == 0 and all(
        metrics.get(k) is not None for k in units)
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": ok,
        "attempted": res["attempted"],
        "failed": res["failed"],
        # a metric a failed run could not measure is null (and correct false)
        "metrics": {k: {"value": metrics.get(k), "unit": units[k]} for k in units},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
