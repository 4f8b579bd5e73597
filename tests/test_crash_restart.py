"""Crash-consistent epochs: one crawl clock, the ``epochs`` ledger row as
each epoch's commit point, and the rollback every writer runs on open.

The sweep injects a crash before every store write of a crawl epoch and of
``shutdown_compact``, restarts a fresh engine on the same store, finishes
the crawl, and asserts that every crawl table and the ledger equal an
uninterrupted run's, row for row. The maintenance writers (a crawl-table
compaction, the documents tombstone of ``reset_postprocessing``) commit on
the same clock, so a crawl epoch after them neither conflicts with them
nor rolls them back. The maintenance readers (``index``, ``expire``) work as
of the ledger head and roll nothing back, so an epoch in flight beside them
finishes as if they had not run.
"""

from __future__ import annotations

import shutil
from datetime import date, datetime, timezone
from pathlib import Path

import pytest

from europarl_crawler_spark.config import EngineConfig
from europarl_crawler_spark.functions.cuckoo import CuckooShardStore
from europarl_crawler_spark.plans import indexer
from europarl_crawler_spark.plans.epoch import (
    CRAWL_TABLES,
    CrawlEngine,
    _fold_url_state,
    commit_epoch,
    open_epoch,
)
from europarl_crawler_spark.sources.epochstore import EpochStore
from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

START = datetime(2021, 1, 1, tzinfo=timezone.utc)
# the store writes of one crawl epoch and of one shutdown_compact, in order
EPOCH_WRITES = (
    "frontier", "requests", "url_state", "documents", "politeness", "metrics", "epochs",
)
SHUTDOWN_WRITES = ("frontier", "epochs")


class Crash(Exception):
    pass


def _engine(world, store):
    # a threshold of 0 keeps the seen sketch on, so the sweep crashes its
    # maintenance too
    return CrawlEngine(
        world["spark"], store, world["web"], prefetch_limit=4, epoch_secs=600.0,
        config=EngineConfig(broadcast_threshold_rows=0),
    )


def _copy(world, name) -> EpochStore:
    """A copy of the 2-epoch store, the starting point of every case."""
    return EpochStore(shutil.copytree(world["base"].root, world["root"] / name))


def _finish(world, store) -> None:
    """The rest of the crawl: epoch 3, then the shutdown compaction."""
    eng = _engine(world, store)
    eng.run(3 - eng.current_epoch(), start=START)
    eng.shutdown_compact()


def _tables(store, spark) -> dict:
    """Every crawl table and the ledger, resolved, rows sorted; ``_epoch``
    included, so the commit numbering is compared too."""
    return {
        t: sorted((tuple(r) for r in store.read(t, spark).collect()), key=repr)
        for t in (*CRAWL_TABLES, "epochs")
    }


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    """A 12-day toy crawl after 2 epochs, and the tables of its
    uninterrupted finish. A prefetch limit of 4 leaves the frontier growing
    in epoch 3."""
    root = tmp_path_factory.mktemp("crash")
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=12)
    simulated_web(spark, days).write.parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    world = dict(spark=spark, root=root, web=web, base=EpochStore(root / "base"))
    eng = _engine(world, world["base"])
    eng.bootstrap(days)
    eng.run(2, start=START)
    clean = _copy(world, "clean")
    _finish(world, clean)
    world["clean"] = clean
    world["expected"] = _tables(clean, spark)
    return world


def _crash_before(monkeypatch, n: int) -> list:
    """Patch ``EpochStore._commit`` to raise before the n-th store write
    (0-based) from now on; returns the tables written before the crash."""
    written = []
    real = EpochStore._commit

    def commit(self, table, *a, **kw):
        if len(written) == n:
            raise Crash(f"before the {table} write")
        written.append(table)
        return real(self, table, *a, **kw)

    monkeypatch.setattr(EpochStore, "_commit", commit)
    return written


def _assert_like_clean(world, store) -> None:
    assert _tables(store, world["spark"]) == world["expected"]
    # a checkpoint stamped with the frontier head covers the frontier
    sketch = CuckooShardStore(store.root / "_seen_sketch" / "store")
    if sketch.stamp == store.latest("frontier"):
        ids = store.read("frontier", world["spark"]).select("url_id").toArrow()
        assert sketch.might_contain(ids.column("url_id").to_numpy()).all()


@pytest.mark.parametrize("n", range(len(EPOCH_WRITES)), ids=EPOCH_WRITES)
def test_crash_in_run_epoch_restarts_to_the_same_tables(world, monkeypatch, n):
    store = _copy(world, f"epoch-{n}")
    with monkeypatch.context() as mp:
        written = _crash_before(mp, n)
        with pytest.raises(Crash):
            _engine(world, store).run(1, start=START)
    assert written == list(EPOCH_WRITES[:n])
    _finish(world, store)
    _assert_like_clean(world, store)


@pytest.mark.parametrize("n", range(len(SHUTDOWN_WRITES)), ids=SHUTDOWN_WRITES)
def test_crash_in_shutdown_compact_restarts_to_the_same_tables(world, monkeypatch, n):
    store = _copy(world, f"shutdown-{n}")
    eng = _engine(world, store)
    eng.run(1, start=START)
    with monkeypatch.context() as mp:
        written = _crash_before(mp, n)
        with pytest.raises(Crash):
            eng.shutdown_compact()
    assert written == list(SHUTDOWN_WRITES[:n])
    _engine(world, store).shutdown_compact()
    _assert_like_clean(world, store)


def test_index_beside_an_epoch_in_flight_deletes_nothing(world, monkeypatch):
    """A maintenance ``index`` run while a crawl epoch is in flight (its
    frontier, requests, url_state and documents committed, its ledger row
    not yet) reads ``documents`` as of the ledger head and rolls nothing
    back: the epoch finishes to the uninterrupted run's tables, and the
    index serves only the documents of committed epochs."""
    from europarl_crawler_spark.jobs.maintenance_job import main as maint

    spark = world["spark"]
    store = _copy(world, "index-in-flight")
    real = EpochStore._commit
    ran = []

    def commit(self, table, *a, **kw):
        if table == "politeness" and not ran:
            assert self.latest("documents") == 3 > self.latest("epochs")
            ran.append(maint(["--store", str(self.root), "index"]))
        return real(self, table, *a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(EpochStore, "_commit", commit)
        _finish(world, store)
    assert ran and ran[0]["indexed"] > 0
    _assert_like_clean(world, store)

    def ids(table, **kw):
        return {r.image_id for r in store.read(table, spark, **kw).collect()}

    assert ids("index_docs") == ids("documents", as_of=2) < ids("documents", as_of=3)


def test_expire_of_a_crawl_table_keeps_what_a_rollback_needs(world):
    """``expire`` of a crawl table drops only commits older than the newest
    base at or below the ledger head. A base above it (here an epoch-3
    ``url_state`` fold of a crawl that then crashed) does not count: the
    restart rolls it back and still finds the commits below it."""
    from europarl_crawler_spark.jobs.maintenance_job import main as maint

    store = _copy(world, "expire-in-flight")
    store.compact("url_state", world["spark"], 3)
    out = maint(["--store", str(store.root), "expire", "--table", "url_state"])
    assert (out["expired"], out["watermark"]) == ([], None)
    _finish(world, store)
    _assert_like_clean(world, store)


def test_open_epoch_refuses_a_table_expired_above_the_ledger(world):
    """A crawl table expired up to a base above the ledger head (a store
    written before the crawl clock, whose maintenance commits have no ledger
    rows) has no commit left at or below the head: ``open_epoch`` raises
    instead of rolling the table back to nothing, and touches no table. The
    README's migration, one ledger row at the newest crawl-table commit,
    lets the store open again with that base kept."""
    spark = world["spark"]
    store = _copy(world, "expired-above")
    store.compact("url_state", spark, 3)
    store.expire("url_state")
    before = {t: store.latest(t) for t in CRAWL_TABLES}
    with pytest.raises(ValueError, match="ledger head 2"):
        open_epoch(store)
    assert {t: store.latest(t) for t in CRAWL_TABLES} == before
    commit_epoch(store, spark, max(store.latest(t) or 0 for t in CRAWL_TABLES))
    assert open_epoch(store) == 4
    assert {t: store.latest(t) for t in CRAWL_TABLES} == before


def test_crawl_epoch_after_compacting_a_crawl_table(world):
    """``compact-table`` of ``url_state`` is a maintenance epoch on the crawl
    clock: the next crawl epoch commits above it, and ``url_state`` folds to
    what the crawl without the compaction holds."""
    from europarl_crawler_spark.jobs.maintenance_job import main as maint

    spark = world["spark"]
    plain, compacted = _copy(world, "plain"), _copy(world, "compacted")
    maint(["--store", str(compacted.root), "compact-table", "--table", "url_state"])
    assert compacted.live_manifests("url_state")[0]["epoch"] == 3
    now = datetime(2021, 1, 1, 1, tzinfo=timezone.utc)
    assert _engine(world, compacted).run_epoch(now)["epoch"] == 4
    _engine(world, plain).run_epoch(now)

    def url_state(store):
        # the compaction took epoch 3, so the crawl epoch's last_ok_epoch
        # reads 4 where the plain crawl's reads 3
        df = _fold_url_state(store.read("url_state", spark)).drop("last_ok_epoch")
        return sorted(tuple(r) for r in df.collect())

    assert url_state(compacted) == url_state(plain)


def test_reset_then_crawl_keeps_the_tombstones(world):
    """``reset_postprocessing`` commits its documents tombstone on the crawl
    clock: a fresh engine's next epoch does not roll it back, so every
    document left is one that epoch extracted, and the ledger holds one row
    per writer."""
    spark = world["spark"]
    store = _copy(world, "reset")
    assert store.read("documents", spark).count() > 0
    out = indexer.reset_postprocessing(store, spark)
    assert out["reset"] > 0
    assert store.read("documents", spark).count() == 0
    stats = _engine(world, store).run(1, start=START)
    assert stats[0]["epoch"] == 4
    docs = store.read("documents", spark).collect()
    assert {r._epoch for r in docs} <= {4}
    assert {r.epoch for r in docs} <= {4}
    ledger = sorted(store.read("epochs", spark).collect(), key=lambda r: r.epoch)
    assert [r.epoch for r in ledger] == [1, 2, 3, 4]
    maintenance = ledger[2]
    assert maintenance.started is None
    assert (maintenance.new_urls, maintenance.drained, maintenance.fetched_ok,
            maintenance.dead_letter) == (0, 0, 0, 0)
    assert ledger[3].drained == stats[0]["drained"] > 0


def test_empty_epoch_reports_zero_counts(spark, tmp_path, world):
    """The epoch counts ride the requests write; an epoch that drains
    nothing still reports 0, in its stats and in its ledger row."""
    eng = CrawlEngine(spark, EpochStore(tmp_path / "empty"), world["web"])
    stats = eng.run_epoch(START)
    assert (stats["drained"], stats["fetched_ok"], stats["dead_letter"]) == (0, 0, 0)
    (row,) = eng.store.read("epochs", spark).collect()
    assert (row.drained, row.fetched_ok, row.dead_letter) == (0, 0, 0)
