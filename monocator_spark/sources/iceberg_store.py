"""IcebergStore — the Iceberg-backed twin of ``SnapshotStore``.

The north rule stores crawl state in Iceberg ("checkpoints frontier state
and Bloom shards to Iceberg snapshots", BASELINE.json:6). The sandbox has
no ``iceberg-spark-runtime`` jar offline (SURVEY.md §7 step 3 sanctions the
manifest-pinned-parquet fallback the engine ships with), so this class is
the swap-in: the SAME public surface as ``SnapshotStore`` — the engine
takes either via its ``store`` parameter — implemented on Iceberg
primitives:

  * ``stage_append`` / ``stage_overwrite`` → ``df.writeTo(tbl).append()`` /
    ``createOrReplace()``; each write's resulting **snapshot id** is
    recorded in the staged set.
  * ``commit(epoch)`` → ONE atomic append to the ``__epochs`` bookkeeping
    table of rows ``(epoch, table, snapshot_id, meta)``. That single append
    is the commit point: per-table snapshots written by a crashed epoch
    exist but are unreachable (no ``__epochs`` row pins them) — the same
    invisibility guarantee the manifest rename gives the parquet fallback.
  * ``load``/``preview`` → ``VERSION AS OF`` the pinned snapshot id
    (Iceberg time travel); ``last_epoch`` → max committed epoch row.

Cluster deployment: pass a SparkSession configured with e.g. ::

    .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.local.type", "hadoop")
    .config("spark.sql.catalog.local.warehouse", "<warehouse dir>")
    .config("spark.jars.packages",
            "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>")

``IcebergStore.is_available(spark)`` reports whether the catalog is live;
tests exercise the contract when it is and skip (recording why) when not.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession


class IcebergStore:
    """Same contract as ``SnapshotStore`` (see that class's docstring for
    the semantics the engine relies on): thread-safe staging, strictly
    ordered atomic epoch commits, snapshot-pinned reads, exact resume."""

    def __init__(self, spark: SparkSession, catalog: str = "local",
                 namespace: str = "mono"):
        self.spark = spark
        self.catalog = catalog
        self.ns = f"{catalog}.{namespace}"
        self._staged: dict[str, dict] = {}  # table -> {"mode", "snapshots"}
        self._written: set[str] = set()  # tables written this store lifetime
        self._lock = threading.Lock()
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ns}.__epochs "
            "(epoch INT, tbl STRING, snapshot_id BIGINT, mode STRING, "
            "meta STRING) USING iceberg"
        )

    # -- availability ----------------------------------------------------------
    @staticmethod
    def is_available(spark: SparkSession, catalog: str = "local") -> bool:
        """True iff an Iceberg catalog named ``catalog`` is configured AND
        the runtime classes resolve (jar on the classpath)."""
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:
            return False
        if not impl:
            return False
        try:
            spark.sql(f"SHOW NAMESPACES IN {catalog}").collect()
            return True
        except Exception:
            return False

    # -- internals -------------------------------------------------------------
    def _tbl(self, table: str) -> str:
        return f"{self.ns}.{table}"

    def _last_snapshot_id(self, table: str) -> int:
        """The table's CURRENT snapshot — read from the main branch ref, not
        by sorting the snapshots view: snapshot ids are random longs and
        ``committed_at`` has millisecond granularity, so two quick writes in
        the same millisecond would make an ORDER BY pick nondeterministically.
        The ``refs`` metadata table's ``main`` row is the authoritative
        current pointer."""
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(table)}.refs "
            "WHERE name = 'main' AND type = 'BRANCH'"
        ).collect()
        if row:
            return int(row[0]["snapshot_id"])
        # branch ref missing (shouldn't happen after a write) — fall back to
        # the snapshots view, newest committed_at then highest sequence
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(table)}.snapshots "
            "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
        ).collect()
        return int(row[0]["snapshot_id"])

    def _record(self, table: str, mode: str) -> None:
        snap = self._last_snapshot_id(table)
        with self._lock:
            if mode == "overwrite":
                self._staged[table] = {"mode": mode, "snapshots": [snap]}
            else:
                st = self._staged.setdefault(
                    table, {"mode": "append", "snapshots": []}
                )
                st["snapshots"].append(snap)

    def _reconcile(self, table: str) -> None:
        """Resume-time head/pin reconciliation, once per table per store
        lifetime, before the table's FIRST append of this session.

        A crashed epoch's appends (or an abort) leave snapshots past the
        last committed pin. Unlike the parquet fallback — where orphaned
        dirs stay invisible forever — a later Iceberg append builds on the
        CURRENT head, so those unpinned rows would silently re-enter every
        subsequent snapshot: a resume would then re-append the same rows
        and duplicate them. Rolling the table back to its pin before the
        first write restores the fallback's invisibility guarantee.
        In-session, heads legitimately run ahead of pins (an epoch's own
        staged/detached writes), hence once-per-table, not per-write."""
        with self._lock:
            if table in self._written:
                return
            self._written.add(table)
        tbl = self._tbl(table)
        if not self.spark.catalog.tableExists(tbl):
            return
        last = self.last_epoch()
        if last is None:
            return
        pin = self._committed().get(last, {}).get(table)
        if pin is None:
            # the table exists only through unpinned (crashed) writes — no
            # committed epoch ever carried it (commits carry complete pin
            # tuples forward), so it doesn't exist as far as the contract
            # is concerned: recreate from scratch
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        elif self._last_snapshot_id(table) != pin:
            self.spark.sql(
                f"CALL {self.catalog}.system.rollback_to_snapshot"
                f"('{tbl}', {pin})"
            )

    def _committed(self) -> dict[int, dict[str, int]]:
        """epoch -> {table: pinned snapshot_id} from the __epochs table."""
        out: dict[int, dict[str, int]] = {}
        for r in self.spark.table(f"{self.ns}.__epochs").collect():
            out.setdefault(int(r["epoch"]), {})[r["tbl"]] = int(r["snapshot_id"])
        return out

    # -- staged writes (same signatures as SnapshotStore) ----------------------
    # On real Iceberg, SnapshotStore's payload-codec policy (uncompressed
    # parquet for binary-payload tables — see sources/store.py:_writer) maps
    # to the table property `write.parquet.compression-codec=uncompressed`,
    # set once at CREATE TABLE for fetched/bloom tables.
    def stage_append(self, table: str, df: DataFrame, epoch: int) -> None:
        # existence is checked explicitly (not try-append-except-create):
        # a genuine append failure on an existing table — schema drift, FS
        # error — must propagate as itself, not resurface as a confusing
        # "table already exists" from the create() fallback.
        self._reconcile(table)
        tbl = self._tbl(table)
        if self.spark.catalog.tableExists(tbl):
            df.writeTo(tbl).append()
        else:
            df.writeTo(tbl).create()
        self._record(table, "append")

    def stage_overwrite(self, table: str, df: DataFrame, epoch: int) -> None:
        # createOrReplace discards the head outright — no reconcile needed,
        # but the table is now session-written
        with self._lock:
            self._written.add(table)
        df.writeTo(self._tbl(table)).createOrReplace()
        self._record(table, "overwrite")

    def stage_append_local(self, table: str, rows: list[dict], schema, epoch: int) -> None:
        import pyarrow as pa

        pdf = pa.Table.from_pylist(rows, schema=schema).to_pandas()
        self.stage_append(table, self.spark.createDataFrame(pdf), epoch)

    def commit(self, epoch: int, meta: dict | None = None) -> None:
        """The atomic commit point: one append of this epoch's pin rows.

        Tables untouched this epoch inherit the previous epoch's pins, so
        every committed epoch row-set is a complete snapshot tuple.

        Idempotent per epoch: committing the same epoch again
        (SnapshotStore's manifest rename REPLACES, so the Iceberg twin must
        replace as well) first deletes that epoch's existing pin rows. The delete and the append are two snapshots, not
        one transaction — a kill in the gap leaves the epoch absent, so
        resume falls back to the previous complete epoch: the same
        invisibility guarantee, never a mixed row-set."""
        with self._lock:
            prev = self.last_epoch()
            if prev is not None and prev >= epoch:
                # re-commit of an existing epoch: replace its pin rows
                self.spark.sql(
                    f"DELETE FROM {self.ns}.__epochs WHERE epoch = {int(epoch)}"
                )
                prev = self.last_epoch()
            pins: dict[str, tuple[int, str]] = {}
            if prev is not None:
                for t, s in self._committed()[prev].items():
                    pins[t] = (s, "carry")
            for t, st in self._staged.items():
                pins[t] = (st["snapshots"][-1], st["mode"])
            rows = [
                (epoch, t, s, mode, json.dumps(meta or {}))
                for t, (s, mode) in sorted(pins.items())
            ]
            self.spark.createDataFrame(
                rows, "epoch int, tbl string, snapshot_id bigint, mode string, meta string"
            ).writeTo(f"{self.ns}.__epochs").append()
            self._staged = {}

    def abort(self) -> None:
        """Drop the staging set AND restore every staged table to its last
        committed pin — a bare unpin is not enough on Iceberg, because a
        later append would build on the abandoned head and resurrect the
        aborted rows (see ``_reconcile``). Tables with no committed pin yet
        (created by the aborted staging) are dropped outright, matching the
        parquet fallback where a table doesn't exist until its first
        commit."""
        with self._lock:
            staged = list(self._staged)
            self._staged = {}
            self._written.difference_update(staged)
        last = self.last_epoch()
        pins = self._committed().get(last, {}) if last is not None else {}
        for t in staged:
            pin = pins.get(t)
            if pin is None:
                self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(t)}")
            elif self._last_snapshot_id(t) != pin:
                self.spark.sql(
                    f"CALL {self.catalog}.system.rollback_to_snapshot"
                    f"('{self._tbl(t)}', {pin})"
                )

    # -- reads -----------------------------------------------------------------
    def last_epoch(self) -> int | None:
        rows = self.spark.sql(
            f"SELECT MAX(epoch) AS e FROM {self.ns}.__epochs"
        ).collect()
        return None if not rows or rows[0]["e"] is None else int(rows[0]["e"])

    def _read_pinned(self, table: str, snapshot_id: int) -> DataFrame:
        return self.spark.read.option("snapshot-id", snapshot_id).table(
            self._tbl(table)
        )

    def preview(self, spark: SparkSession, table: str) -> DataFrame | None:
        with self._lock:
            st = self._staged.get(table)
            if st is not None:
                return self._read_pinned(table, st["snapshots"][-1])
            last = self.last_epoch()
            if last is None:
                return None
            snap = self._committed().get(last, {}).get(table)
        return None if snap is None else self._read_pinned(table, snap)

    def load(self, spark: SparkSession, table: str, epoch: int | None = None) -> DataFrame | None:
        ep = self.last_epoch() if epoch is None else epoch
        if ep is None:
            return None
        snap = self._committed().get(ep, {}).get(table)
        return None if snap is None else self._read_pinned(table, snap)

    def meta(self, epoch: int | None = None) -> dict | None:
        ep = self.last_epoch() if epoch is None else epoch
        if ep is None:
            return None
        # ORDER BY tbl: deterministic row choice. All of an epoch's rows
        # carry the same meta json (commit() writes them together and is
        # idempotent per epoch), but a bare LIMIT 1 would still be an
        # unordered pick — make the contract visible in the query.
        row = self.spark.sql(
            f"SELECT meta FROM {self.ns}.__epochs WHERE epoch = {int(ep)} "
            "ORDER BY tbl LIMIT 1"
        ).collect()
        return json.loads(row[0]["meta"]) if row else None
