"""Per-layer tracing from outside the engine.

``Tracer.installed()`` wraps the engine's public calls (one span per call:
name, start, end, parent, thread) and tags every Spark job launched inside
a span with that span's id through the job description of the calling
thread. ``attribute`` joins the spans with the Spark event log of the
traced session, so each job, stage and task is charged to the innermost
span that launched it.

Spans are kept in memory; ``Tracer.dump`` writes them once, after the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from pathlib import Path

JOB_DESC = "spark.job.description"
SPAN_TAG = "perfbench-span:"

# (module, attribute, span name); a dotted attribute patches a class method
PATCHES = [
    ("monocator_spark.session", "get_spark", "session.get_spark"),
    ("monocator_spark.plans.epoch", "CrawlEngine.__init__", "epoch.init"),
    ("monocator_spark.plans.epoch", "CrawlEngine.bootstrap", "epoch.bootstrap"),
    ("monocator_spark.plans.epoch", "CrawlEngine.run", "epoch.run"),
    ("monocator_spark.operators.politeness", "gate", "politeness.gate"),
    ("monocator_spark.operators.politeness", "select_wave", "politeness.select_wave"),
    ("monocator_spark.operators.dedup", "filter_new", "dedup.filter_new"),
    ("monocator_spark.operators.dedup", "build_filter", "dedup.build_filter"),
    ("monocator_spark.operators.dedup", "merge_filter", "dedup.merge_filter"),
    ("monocator_spark.operators.fetch", "fetch_wave_bucketed", "fetch.fetch_wave_bucketed"),
    ("monocator_spark.operators.enqueue", "prepare_candidates", "enqueue.prepare_candidates"),
    ("monocator_spark.operators.enqueue", "dedup_within_batch", "enqueue.dedup_within_batch"),
    ("monocator_spark.operators.outlinks", "expand_outlinks", "outlinks.expand_outlinks"),
    ("monocator_spark.sources.store", "SnapshotStore.stage_append", "store.stage_append"),
    ("monocator_spark.sources.store", "SnapshotStore.stage_overwrite", "store.stage_overwrite"),
    ("monocator_spark.sources.store", "SnapshotStore.stage_append_local", "store.stage_append_local"),
    ("monocator_spark.sources.store", "SnapshotStore.commit", "store.commit"),
    ("monocator_spark.sources.store", "SnapshotStore.preview", "store.preview"),
    ("monocator_spark.sources.store", "SnapshotStore.load", "store.load"),
]

# the store's state tables: staged before ``state_ready`` (they block the
# next epoch); every other staged table is output that overlaps it
STATE_TABLES = {"frontier", "seen", "bloom"}


def _table_arg(args, kwargs):
    """The table name of a SnapshotStore call (its first argument after
    ``self``, or after ``spark`` for preview/load)."""
    for a in args[1:3]:
        if isinstance(a, str):
            return a
    return kwargs.get("table")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span and tag the Spark jobs launched inside it."""
        from pyspark import SparkContext

        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid, "name": name, "parent": stack[-1] if stack else None,
            "thread": threading.current_thread().name, **attrs,
        }
        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty(JOB_DESC) if sc is not None else None
        if sc is not None:
            sc.setJobDescription(f"{SPAN_TAG}{sid}")
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            # a span that created the context (get_spark) tags from then on
            sc_now = SparkContext._active_spark_context
            if sc_now is not None:
                sc_now.setLocalProperty(JOB_DESC, prev)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if name.startswith("store."):
                attrs["table"] = _table_arg(args, kwargs)
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Patch every PATCHES entry for the duration of the block."""
        import importlib

        undo = []
        try:
            for mod_name, attr, name in PATCHES:
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = getattr(owner, leaf)
                setattr(owner, leaf, self._wrap(orig, name))
                undo.append((owner, leaf, orig))
            yield self
        finally:
            for owner, leaf, orig in reversed(undo):
                setattr(owner, leaf, orig)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# -- event log -----------------------------------------------------------------
_WANTED = ("SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def read_event_log(path: Path) -> dict:
    """Jobs (with their span id), stages and per-stage task totals of one
    uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path, errors="replace") as f:
        for line in f:
            head = line[:64]
            if not any(w in head for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(JOB_DESC) or ""
                span = int(desc[len(SPAN_TAG):]) if desc.startswith(SPAN_TAG) else None
                jid = ev["Job ID"]
                jobs[jid] = {"span": span, "stages": ev.get("Stage IDs", [])}
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _empty_stage())
                st["ran"] = True
            else:
                tm = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], _empty_stage())
                st["tasks"] += 1
                st["exec_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                st["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _empty_stage() -> dict:
    return {"tasks": 0, "exec_s": 0.0, "cpu_s": 0.0, "deser_s": 0.0,
            "gc_s": 0.0, "shuffle_mb": 0.0, "ran": False}


LAYER_STATS = ("exec_s", "cpu_s", "deser_s", "gc_s", "shuffle_mb", "jobs")


def attribute(spans: list[dict], log: dict) -> dict:
    """Charge each job and its stages to the innermost span that launched
    it. Returns per-span-name totals plus the ids of jobs with no span."""
    by_id = {s["id"]: s for s in spans}
    per_name: dict[str, dict] = {}
    unattributed = []
    for jid, job in log["jobs"].items():
        span = by_id.get(job["span"])
        if span is None:
            unattributed.append(jid)
            continue
        acc = per_name.setdefault(span["name"], {
            **{k: 0.0 for k in LAYER_STATS}, "stages": 0, "tasks": 0,
        })
        acc["jobs"] += 1
    for st in log["stages"].values():
        job = log["jobs"].get(st["job"])
        span = by_id.get(job["span"]) if job else None
        if span is None or not st["ran"]:  # skipped stages never complete
            continue
        acc = per_name[span["name"]]
        acc["stages"] += 1
        acc["tasks"] += st["tasks"]
        for k in ("exec_s", "cpu_s", "deser_s", "gc_s", "shuffle_mb"):
            acc[k] += st[k]
    return {"per_name": per_name, "unattributed": unattributed}


def span_wall(spans: list[dict], name: str, pred=None) -> float:
    return sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == name and (pred is None or pred(s))
    )


def layer_totals(per_name: dict, layer: str) -> dict:
    """Sum of the per-span stats over every span name of one layer."""
    out = {k: 0.0 for k in LAYER_STATS}
    for name, acc in per_name.items():
        if name.split(".", 1)[0] == layer:
            for k in LAYER_STATS:
                out[k] += acc[k]
    return out
