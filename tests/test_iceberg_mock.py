"""IcebergStore logic against a mocked catalog (VERDICT r02 item 7).

The ``iceberg-spark-runtime`` jar is genuinely absent offline (searched
pyspark/jars, ~/.ivy2, ~/.m2 — nothing), so ``test_store_contract``'s live
half must skip. This file covers the OTHER branch: a fake SparkSession
emulating exactly the catalog surface ``IcebergStore`` touches — snapshot
ids minted per write, the ``.refs`` main-branch pointer, the ``__epochs``
bookkeeping table, time-travel reads by pinned snapshot id — so the store's
own logic (staging modes, pin carry-forward, idempotent re-commit,
deterministic meta, preview staged-vs-committed) is executable truth even
without the jar. Every fake behavior mirrors documented Iceberg semantics
(snapshot ids are opaque longs; ``refs`` holds the current branch head;
DataFrameWriterV2 append/create/createOrReplace).
"""

from __future__ import annotations

import re

import pytest

from monocator_spark.sources.iceberg_store import IcebergStore
from monocator_spark.sources.store import SnapshotStore, commit_next


# -- the fake catalog ---------------------------------------------------------


class FakeRow(dict):
    def __getitem__(self, k):
        return dict.__getitem__(self, k)


class FakeDF:
    """Rows = list[dict]. Supports the exact calls the store (and this
    contract test) makes: count/collect/writeTo."""

    def __init__(self, session, rows):
        self.session = session
        self.rows = [FakeRow(r) for r in rows]

    def count(self):
        return len(self.rows)

    def collect(self):
        return list(self.rows)

    def writeTo(self, tbl):
        return FakeWriterV2(self.session, tbl, self.rows)

    def toDF(self, *names):
        return FakeDF(
            self.session,
            [dict(zip(names, r.values())) for r in self.rows],
        )


class FakeWriterV2:
    def __init__(self, session, tbl, rows):
        self.session, self.tbl, self.rows = session, tbl, rows

    def append(self):
        if self.tbl not in self.session.tables:
            raise RuntimeError(f"Table {self.tbl} not found")
        self.session._write(self.tbl, self.rows, replace=False)

    def create(self):
        if self.tbl in self.session.tables:
            raise RuntimeError(f"Table {self.tbl} already exists")
        self.session._write(self.tbl, self.rows, replace=True)

    def createOrReplace(self):
        self.session._write(self.tbl, self.rows, replace=True)


class FakeCatalogAPI:
    def __init__(self, session):
        self.session = session

    def tableExists(self, tbl):
        return tbl in self.session.tables


class FakeReader:
    def __init__(self, session):
        self.session = session
        self._snap = None

    def option(self, k, v):
        assert k == "snapshot-id"
        self._snap = int(v)
        return self

    def table(self, tbl):
        snaps = self.session.tables[tbl]["snapshots"]
        return FakeDF(self.session, snaps[self._snap])


class FakeIcebergSession:
    """tables[tbl] = {"snapshots": {id: rows}, "current": id}."""

    def __init__(self):
        self.tables: dict[str, dict] = {}
        self._next_snap = 1000  # opaque, NOT ordered with wall time
        self.calls: list[tuple] = []  # (op, table, *args) audit trail

    # -- write path ------------------------------------------------------------
    def _write(self, tbl, rows, replace):
        t = self.tables.setdefault(tbl, {"snapshots": {}, "current": None})
        base = [] if replace or t["current"] is None else list(
            t["snapshots"][t["current"]]
        )
        # snapshot ids mint in a scrambled (non-monotonic) order so any
        # accidental ORDER BY snapshot_id in the store would be caught
        snap = (self._next_snap * 48271) % 99991
        self._next_snap += 1
        t["snapshots"][snap] = base + [dict(r) for r in rows]
        t["current"] = snap

    # -- SparkSession surface the store touches ---------------------------------
    @property
    def catalog(self):
        return FakeCatalogAPI(self)

    @property
    def read(self):
        return FakeReader(self)

    def table(self, tbl):
        t = self.tables[tbl]
        rows = t["snapshots"][t["current"]] if t["current"] is not None else []
        return FakeDF(self, rows)

    def range(self, a, b=None):
        lo, hi = (0, a) if b is None else (a, b)
        return FakeDF(self, [{"id": i} for i in range(lo, hi)])

    def createDataFrame(self, data, schema=None):
        if hasattr(data, "to_dict"):  # pandas (stage_append_local path)
            return FakeDF(self, data.to_dict("records"))
        names = [p.split()[0] for p in str(schema).split(",")]
        return FakeDF(self, [dict(zip(names, row)) for row in data])

    def sql(self, q):
        q = " ".join(q.split())
        m = re.match(r"CREATE NAMESPACE IF NOT EXISTS", q)
        if m:
            return FakeDF(self, [])
        m = re.match(r"CREATE TABLE IF NOT EXISTS (\S+) \(", q)
        if m:
            self.tables.setdefault(
                m.group(1), {"snapshots": {}, "current": None}
            )
            return FakeDF(self, [])
        m = re.match(
            r"SELECT snapshot_id FROM (\S+)\.refs WHERE name = 'main'", q
        )
        if m:
            cur = self.tables[m.group(1)]["current"]
            rows = [] if cur is None else [{"snapshot_id": cur}]
            return FakeDF(self, rows)
        m = re.match(r"SELECT MAX\(epoch\) AS e FROM (\S+)", q)
        if m:
            rows = self.table(m.group(1)).rows
            e = max((r["epoch"] for r in rows), default=None)
            return FakeDF(self, [{"e": e}])
        m = re.match(r"DELETE FROM (\S+) WHERE epoch = (\d+)", q)
        if m:
            tbl, ep = m.group(1), int(m.group(2))
            kept = [r for r in self.table(tbl).rows if r["epoch"] != ep]
            self._write(tbl, kept, replace=True)
            return FakeDF(self, [])
        m = re.match(
            r"SELECT meta FROM (\S+) WHERE epoch = (\d+) ORDER BY tbl LIMIT 1",
            q,
        )
        if m:
            tbl, ep = m.group(1), int(m.group(2))
            rows = sorted(
                (r for r in self.table(tbl).rows if r["epoch"] == ep),
                key=lambda r: r["tbl"],
            )
            return FakeDF(self, rows[:1])
        m = re.match(
            r"CALL \S+\.system\.rollback_to_snapshot\('(\S+)', (\d+)\)", q
        )
        if m:
            # documented Iceberg procedure: move the branch head back to an
            # existing snapshot (data files untouched, head pointer moves)
            tbl, snap = m.group(1), int(m.group(2))
            assert snap in self.tables[tbl]["snapshots"], "unknown snapshot"
            self.tables[tbl]["current"] = snap
            self.calls.append(("rollback", tbl, snap))
            return FakeDF(self, [])
        m = re.match(r"DROP TABLE IF EXISTS (\S+)", q)
        if m:
            self.tables.pop(m.group(1), None)
            self.calls.append(("drop", m.group(1)))
            return FakeDF(self, [])
        raise AssertionError(f"fake session: unexpected SQL {q!r}")


# -- the contract, on the fake -------------------------------------------------


@pytest.fixture()
def fake():
    return FakeIcebergSession()


def test_iceberg_contract_on_mock(fake):
    """The SnapshotStore/IcebergStore shared contract (mirrors
    tests/test_store_contract._contract) executed on IcebergStore with the
    catalog faked — staging visibility, commit, time travel, abort."""
    store = IcebergStore(fake)
    df1 = fake.range(5).toDF("x")
    df2 = fake.range(5, 8).toDF("x")

    store.stage_overwrite("t", df1, 0)
    assert store.last_epoch() is None
    assert store.preview(fake, "t").count() == 5
    store.commit(0, {"crawl_epoch": -1})
    assert store.last_epoch() == 0
    assert store.load(fake, "t").count() == 5
    assert store.meta() == {"crawl_epoch": -1}

    store.stage_append("t", df2, 1)
    assert store.load(fake, "t").count() == 5  # still epoch-0 view
    assert store.preview(fake, "t").count() == 8
    store.commit(1, {"crawl_epoch": 0})
    assert store.load(fake, "t").count() == 8
    assert store.load(fake, "t", epoch=0).count() == 5  # time travel
    assert store.meta(0) == {"crawl_epoch": -1}

    store.stage_append("t", df2, 2)
    store.abort()
    assert store.load(fake, "t").count() == 8
    assert store.last_epoch() == 1


def test_resume_reconciles_crashed_appends(fake):
    """Appends left behind by a crashed epoch must NOT resurface through the
    resumed run's appends: a later Iceberg append builds on the current
    head, so without the first-write rollback the re-run would duplicate
    the crashed epoch's rows (the parquet fallback gets this invisibility
    for free from unreferenced dirs)."""
    store = IcebergStore(fake)
    store.stage_overwrite("t", fake.range(3).toDF("x"), 0)
    store.commit(0, {"crawl_epoch": -1})
    # epoch 1 stages an append, then the process dies before commit
    store.stage_append("t", fake.range(3, 5).toDF("x"), 1)
    del store

    resumed = IcebergStore(fake)  # fresh store, same catalog
    assert resumed.load(fake, "t").count() == 3  # pin still epoch 0
    resumed.stage_append("t", fake.range(3, 5).toDF("x"), 1)  # the re-run
    resumed.commit(1, {"crawl_epoch": 0})
    assert resumed.load(fake, "t").count() == 5  # NOT 7

    # same for a table CREATED entirely by a crashed epoch's append: no
    # committed epoch ever pinned it, so the resumed run recreates it
    resumed.stage_append("u", fake.range(4).toDF("x"), 2)
    del resumed  # dies before commit — "u" exists but is unpinned
    again = IcebergStore(fake)
    again.stage_append("u", fake.range(4).toDF("x"), 2)
    again.commit(2, {"crawl_epoch": 1})
    assert again.load(fake, "u").count() == 4  # NOT 8


def test_abort_restores_pins_and_drops_unborn_tables(fake):
    """abort() must roll staged tables back to their committed pin (a later
    append would otherwise build on the abandoned head) and drop tables the
    aborted staging created — they don't exist until their first commit."""
    store = IcebergStore(fake)
    store.stage_overwrite("t", fake.range(3).toDF("x"), 0)
    store.commit(0, {"crawl_epoch": -1})
    store.stage_append("t", fake.range(3, 6).toDF("x"), 1)
    store.stage_append("brand_new", fake.range(2).toDF("x"), 1)
    store.abort()
    assert store.load(fake, "t").count() == 3
    assert not fake.catalog.tableExists(store._tbl("brand_new"))
    # post-abort appends build on the restored head, not the aborted one
    store.stage_append("t", fake.range(3, 6).toDF("x"), 1)
    store.commit(1, {"crawl_epoch": 0})
    assert store.load(fake, "t").count() == 6


def test_pin_carry_forward(fake):
    """A table untouched in an epoch inherits the previous epoch's pin —
    every committed epoch is a complete snapshot tuple."""
    store = IcebergStore(fake)
    store.stage_overwrite("a", fake.range(3).toDF("x"), 0)
    store.stage_overwrite("b", fake.range(4).toDF("x"), 0)
    store.commit(0, {"crawl_epoch": -1})
    store.stage_append("a", fake.range(2).toDF("x"), 1)  # b untouched
    store.commit(1, {"crawl_epoch": 0})
    assert store.load(fake, "a").count() == 5
    assert store.load(fake, "b").count() == 4  # carried pin
    assert store.load(fake, "b", epoch=1).count() == 4


def test_recommit_same_epoch_is_idempotent(fake):
    """Epoch N+1 committed twice. The second commit must REPLACE the
    first's pin rows (SnapshotStore's manifest rename semantics), never
    leave duplicate (epoch, tbl) pins, and meta() must resolve to the
    re-committed values."""
    store = IcebergStore(fake)
    store.stage_overwrite("frontier", fake.range(10).toDF("x"), 0)
    store.commit(0, {"crawl_epoch": -1})
    store.stage_overwrite("frontier", fake.range(6).toDF("x"), 1)
    store.commit(1, {"crawl_epoch": -1})
    # epoch 1 committed AGAIN with new state
    store.stage_overwrite("frontier", fake.range(2).toDF("x"), 1)
    store.commit(1, {"crawl_epoch": 0})
    rows = fake.table(f"{store.ns}.__epochs").collect()
    pins = [(r["epoch"], r["tbl"]) for r in rows]
    assert len(pins) == len(set(pins))  # no duplicate (epoch, tbl)
    assert store.last_epoch() == 1
    assert store.meta(1) == {"crawl_epoch": 0}
    assert store.load(fake, "frontier").count() == 2


def test_current_snapshot_from_refs_not_ordering(fake):
    """Two quick writes to one table: the recorded pin must be the branch
    head (refs), not whatever an ORDER BY over random snapshot ids picks —
    the fake mints ids in scrambled order precisely to catch that."""
    store = IcebergStore(fake)
    store.stage_append("t", fake.range(1).toDF("x"), 0)
    store.stage_append("t", fake.range(1, 3).toDF("x"), 0)
    store.commit(0, {"crawl_epoch": -1})
    assert store.load(fake, "t").count() == 3  # head snapshot, both writes


def test_stage_append_propagates_real_failures(fake):
    """A genuine append failure on an EXISTING table must surface as
    itself, not as the create() fallback's 'already exists'."""
    store = IcebergStore(fake)
    store.stage_overwrite("t", fake.range(1).toDF("x"), 0)
    store.commit(0, {"crawl_epoch": -1})

    class ExplodingDF(FakeDF):
        def writeTo(self, tbl):
            w = super().writeTo(tbl)
            orig = w.append

            def bad_append():
                raise RuntimeError("schema drift: column x type mismatch")

            w.append = bad_append
            return w

    bad = ExplodingDF(fake, [{"x": 1}])
    with pytest.raises(RuntimeError, match="schema drift"):
        store.stage_append("t", bad, 1)


def test_reconcile_branches_explicit(fake):
    """The two `_reconcile` repair actions, asserted by MECHANISM (the
    catalog calls issued), not just by end-state row counts:

    1. rollback-to-pin — a pinned table whose head ran ahead (crashed
       epoch's append) gets exactly ONE rollback_to_snapshot(tbl, pin) on
       the session's first write, and none on subsequent writes
       (once-per-table discipline);
    2. drop-unpinned — a table that exists only through unpinned writes is
       DROPped and recreated on first touch."""
    store = IcebergStore(fake)
    store.stage_overwrite("t", fake.range(3).toDF("x"), 0)
    store.commit(0, {"crawl_epoch": -1})
    pin = fake.tables[store._tbl("t")]["current"]
    store.stage_append("t", fake.range(3, 5).toDF("x"), 1)  # dies pre-commit
    store.stage_append("u", fake.range(4).toDF("x"), 1)     # unpinned table
    del store

    resumed = IcebergStore(fake)
    fake.calls.clear()

    # branch 1: rollback to the committed pin, exactly once
    resumed.stage_append("t", fake.range(3, 5).toDF("x"), 1)
    assert fake.calls == [("rollback", resumed._tbl("t"), pin)]
    resumed.stage_append("t", fake.range(5, 6).toDF("x"), 1)
    assert fake.calls == [("rollback", resumed._tbl("t"), pin)]  # no repeat

    # branch 2: unpinned table is dropped, then recreated by the append
    fake.calls.clear()
    resumed.stage_append("u", fake.range(4).toDF("x"), 1)
    assert fake.calls == [("drop", resumed._tbl("u"))]
    assert fake.tables[resumed._tbl("u")]["current"] is not None

    resumed.commit(1, {"crawl_epoch": 0})
    assert resumed.load(fake, "t").count() == 6  # 3 + 2 + 1, no resurrection
    assert resumed.load(fake, "u").count() == 4


@pytest.mark.parametrize("kind", ["snapshot", "iceberg"])
def test_commit_next_sequences_ids_and_carries_meta(fake, tmp_path, kind):
    """``commit_next`` numbers manifests 0, 1, 2… from the store's own
    sequence and carries ``crawl_epoch``/``stream_batch_id`` forward, on
    both stores: resume and the stream's replay check read whichever
    manifest is latest."""
    import pyarrow as pa

    store = SnapshotStore(str(tmp_path)) if kind == "snapshot" else IcebergStore(fake)
    schema = pa.schema([("x", pa.int64())])

    def commit(meta=None):
        # an Iceberg epoch is its pin rows, so every commit pins a table
        store.stage_append_local("t", [{"x": 1}], schema, 0)
        return commit_next(store, meta)

    assert commit() == 0
    assert store.meta() == {"crawl_epoch": -1}
    assert commit({"stream_batch_id": 0, "stream_new_urls": 5}) == 1
    assert store.meta() == {
        "crawl_epoch": -1, "stream_batch_id": 0, "stream_new_urls": 5,
    }
    assert commit({"crawl_epoch": 0}) == 2
    assert store.meta() == {"crawl_epoch": 0, "stream_batch_id": 0}
    assert commit() == 3
    assert store.meta() == {"crawl_epoch": 0, "stream_batch_id": 0}
    assert store.last_epoch() == 3
