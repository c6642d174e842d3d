"""SnapshotStore — manifest-pinned parquet tables with atomic epoch commits.

Plays the role Iceberg plays in the north rule ("checkpoints frontier state
and Bloom shards to Iceberg snapshots", BASELINE.json:6). The Iceberg Spark
runtime jar is not available offline in this sandbox, so this is the
fallback called out in SURVEY.md §7 step 3: parquet data files + a JSON
manifest per committed epoch, one storage interface. The Iceberg twin is
``monocator_spark.sources.iceberg_store.IcebergStore`` — same public
surface (``tests/test_store_contract.py`` pins the parity), implemented on
``writeTo(...).append()/createOrReplace()`` + snapshot-id pinning; the
engine takes either through its ``store`` parameter, so the swap on a real
cluster is mechanical.

Semantics provided (the subset of Iceberg the engine needs):
  * atomic multi-table commit — data files are written first, then a single
    manifest JSON is fs-renamed into place; readers only ever see fully
    committed epochs (reference analogue: the transactional
    ``VisitService.save`` flow, /root/reference/src/TODO.MD:44-51)
  * snapshot isolation + time travel — ``load(table, epoch=k)`` reads the
    file set pinned by epoch k's manifest
  * exact resume — ``last_epoch()`` + ``load`` = restart from the last
    committed epoch; a half-written epoch leaves no manifest and is invisible

At 100 TB the same layout holds: manifests list O(files), not O(rows);
"overwrite" tables (frontier) become Iceberg MERGE-on-read deletes instead
of rewrites, which is why writes go through this interface and not straight
``df.write``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` under the session's Hadoop conf, so a
    driver-side listing or probe sees what the executors' reads see
    (file://, hdfs://, s3a://)."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def _writer(df: DataFrame):
    """Parquet writer with per-table codec choice: tables carrying a binary
    payload column (fetched bytes, bloom shard bits) skip the snappy pass —
    their payloads are already-compressed image data, so the codec only buys
    CPU + memory-bandwidth cost (measured ~5-7% of crawl wall-clock in the
    payload-bound regime). Metadata tables (frontier URLs, hosts, metrics)
    keep the session default, where snappy genuinely shrinks strings."""
    from pyspark.sql.types import BinaryType

    w = df.write
    if any(isinstance(f.dataType, BinaryType) for f in df.schema.fields):
        w = w.option("compression", "uncompressed")
    return w


# manifest meta every commit carries forward unless it sets them: resume
# reads crawl_epoch (−1 = crawl not started), and a replayed stream batch
# is checked against stream_batch_id
CARRIED_META = ("crawl_epoch", "stream_batch_id")


def next_epoch(store) -> int:
    """The store's next manifest id: 0 on an empty store, else last + 1."""
    last = store.last_epoch()
    return 0 if last is None else last + 1


def commit_next(store, meta: dict | None = None) -> int:
    """Commit the staged writes as the store's next manifest id; → that id.

    The id is the store's own sequence, not the crawl epoch: the crawl
    loop, ``StreamingEnqueue``, ``reenqueue`` and ``evict_seen`` all
    consume ids. ``meta`` is merged over the previous manifest's
    ``CARRIED_META``. Uses only ``last_epoch``/``meta``/``commit``, so it
    serves ``SnapshotStore`` and ``IcebergStore`` alike."""
    ep = next_epoch(store)
    prev = store.meta(ep - 1) if ep else {}
    carried = {k: prev[k] for k in CARRIED_META if k in prev}
    store.commit(ep, {"crawl_epoch": -1, **carried, **(meta or {})})
    return ep


class SnapshotStore:
    """Thread-safe: independent tables may be staged concurrently within an
    epoch (the epoch pipeline flushes them from a thread pool); the commit
    point is still the single manifest rename."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        self._staged: dict[str, dict] = {}  # table -> {"mode": .., "dir": ..}
        self._lock = threading.Lock()

    # -- manifest bookkeeping -------------------------------------------------
    def _manifest_path(self, epoch: int) -> str:
        return os.path.join(self.root, "_manifests", f"epoch-{epoch:08d}.json")

    def last_epoch(self) -> int | None:
        mdir = os.path.join(self.root, "_manifests")
        epochs = [
            int(f[len("epoch-"):-len(".json")])
            for f in os.listdir(mdir)
            if f.startswith("epoch-") and f.endswith(".json")
        ]
        return max(epochs) if epochs else None

    def _read_manifest(self, epoch: int) -> dict:
        with open(self._manifest_path(epoch)) as f:
            return json.load(f)

    # -- staged writes ---------------------------------------------------------
    def _stage_dir(self, table: str, epoch: int) -> str:
        d = os.path.join(self.root, table, f"epoch={epoch}", uuid.uuid4().hex[:12])
        return d

    def stage_append(self, table: str, df: DataFrame, epoch: int) -> None:
        d = self._stage_dir(table, epoch)
        _writer(df).mode("overwrite").parquet(d)
        with self._lock:
            self._staged.setdefault(table, {"mode": "append", "dirs": []})
            self._staged[table]["dirs"].append(d)

    def stage_overwrite(self, table: str, df: DataFrame, epoch: int) -> None:
        d = self._stage_dir(table, epoch)
        _writer(df).mode("overwrite").parquet(d)
        with self._lock:
            self._staged[table] = {"mode": "overwrite", "dirs": [d]}

    def stage_append_local(self, table: str, rows: list[dict], schema, epoch: int) -> None:
        """Append a tiny driver-side table (e.g. the 1-row epoch metrics)
        without launching a Spark job: pyarrow writes the parquet file
        directly. ``schema`` is a pyarrow schema so the file reads back
        into Spark with exactly the intended types."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self._stage_dir(table, epoch)
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pylist(rows, schema=schema)
        pq.write_table(tbl, os.path.join(d, "part-00000.parquet"))
        with self._lock:
            self._staged.setdefault(table, {"mode": "append", "dirs": []})
            self._staged[table]["dirs"].append(d)

    def commit(self, epoch: int, meta: dict | None = None) -> None:
        """Atomically publish all staged writes as epoch ``epoch``.

        The manifest rename and the clearing of ``_staged`` happen under
        ``_lock`` so that ``preview`` (which reads last_epoch() + _staged as
        one snapshot under the same lock) can never observe the gap between
        "new manifest visible" and "staged set cleared" — a pipelined
        epoch k+1 previewing during epoch k's commit sees either (old
        manifest + staged) or (new manifest + empty), both equivalent.

        The staged set is snapshotted under ``_lock`` up front: the class
        contract allows concurrent ``stage_*`` calls, so iterating the live
        dict here could race a staging thread (today the engine serializes
        commit and staging on one flusher thread, but the contract must not
        depend on that)."""
        with self._lock:
            staged = {
                t: {"mode": st["mode"], "dirs": list(st["dirs"])}
                for t, st in self._staged.items()
            }
        prev = self.last_epoch()
        tables: dict[str, list[str]] = {}
        if prev is not None:
            tables = dict(self._read_manifest(prev)["tables"])
        for table, st in staged.items():
            if st["mode"] == "overwrite":
                tables[table] = list(st["dirs"])
            else:
                tables[table] = list(tables.get(table, [])) + list(st["dirs"])
        manifest = {"epoch": epoch, "tables": tables, "meta": meta or {}}
        tmp = self._manifest_path(epoch) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        with self._lock:
            os.rename(tmp, self._manifest_path(epoch))  # the atomic commit point
            self._staged = {}

    def abort(self) -> None:
        for st in self._staged.values():
            for d in st["dirs"]:
                shutil.rmtree(d, ignore_errors=True)
        self._staged = {}

    # -- reads -----------------------------------------------------------------
    def preview(self, spark: SparkSession, table: str) -> DataFrame | None:
        """Read a table as the NEXT commit will see it: the last committed
        file set merged with any currently-staged writes. Used by the
        pipelined epoch loop to start epoch k+1 against epoch k's staged
        state before k's manifest lands (commit order is still strict).

        last_epoch() and _staged are read as ONE snapshot under _lock
        (commit() mutates both under the same lock), so an interleaving
        commit can't make preview mix the new manifest with a cleared
        staged set (stale frontier / dropped seen appends)."""
        with self._lock:
            prev = self.last_epoch()
            dirs: list[str] = []
            if prev is not None:
                dirs = list(self._read_manifest(prev)["tables"].get(table, []))
            st = self._staged.get(table)
            if st is not None:
                if st["mode"] == "overwrite":
                    dirs = list(st["dirs"])
                else:
                    dirs = dirs + list(st["dirs"])
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def load(self, spark: SparkSession, table: str, epoch: int | None = None) -> DataFrame | None:
        """Read a table as of a committed epoch (default: latest)."""
        ep = self.last_epoch() if epoch is None else epoch
        if ep is None:
            return None
        dirs = self._read_manifest(ep)["tables"].get(table)
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def meta(self, epoch: int | None = None) -> dict | None:
        ep = self.last_epoch() if epoch is None else epoch
        if ep is None:
            return None
        return self._read_manifest(ep)["meta"]
