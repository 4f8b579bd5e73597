"""Crawl equivalence under the cuckoo seen sketch.

The seen sketch is strictly a pre-filter over the exact anti-join, so the
crawl — frontier membership, request log, drain order — must be bit-identical
to a crawl whose gate is the exact anti-join alone. The sketch runs only
above ``broadcast_threshold_rows`` frontier rows, so the sketch engines here
run at a threshold of 0, and the exact-only engine is a default-config
engine, whose toy frontier keeps it under the threshold. This pins that,
plus the checkpoint's lifecycle: stamped with every frontier commit, opened on
restart without a rescan, reopened after a crash between commit and stamp
(the restart rolls the commit back), and evicted in place at
shutdown_compact (D4).
"""

from __future__ import annotations

from datetime import date, datetime, timezone
from pathlib import Path

import numpy as np
import pytest

from europarl_crawler_spark.config import EngineConfig
from europarl_crawler_spark.functions.cuckoo import CuckooShardStore
from europarl_crawler_spark.plans.epoch import CrawlEngine, commit_epoch, open_epoch
from europarl_crawler_spark.sources.epochstore import EpochStore
from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

START = datetime(2021, 1, 1, tzinfo=timezone.utc)
# the seen sketch runs above this many frontier rows: at 0, from epoch 2 on
SKETCH_ON = EngineConfig(broadcast_threshold_rows=0)


def _run(spark, root, name: str, n_epochs: int = 3, prefetch_limit: int = 50,
         config=SKETCH_ON):
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=12)
    web = simulated_web(spark, days)
    web.write.mode("overwrite").parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    store = EpochStore(root / f"store-{name}")
    eng = CrawlEngine(
        spark, store, web, prefetch_limit=prefetch_limit, epoch_secs=600.0,
        config=config,
    )
    eng.bootstrap(days)
    eng.run(n_epochs, start=START)
    return eng, store


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl-cuckoo")
    calls = []
    with pytest.MonkeyPatch.context() as mp:
        # the exact-only engine: the default config, under the threshold,
        # so every epoch's gate is the plain anti-join
        for name in ("build", "tag_maybe"):
            real = getattr(CuckooShardStore, name)
            mp.setattr(
                CuckooShardStore, name,
                lambda *a, _n=name, _r=real, **k: calls.append(_n) or _r(*a, **k),
            )
        exact = _run(spark, root, "exact", config=EngineConfig())
    # last: the later tests reuse this engine's web, which each run rewrites
    cuckoo = _run(spark, root, "cuckoo")
    return dict(exact=exact, cuckoo=cuckoo, exact_sketch_calls=calls)


def test_default_toy_crawl_keeps_no_sketch(runs):
    """Under the broadcast threshold an epoch opens, builds, probes and
    stamps no sketch: the default-config toy crawl never touches the shard
    store and never creates its checkpoint directory."""
    assert runs["exact_sketch_calls"] == []
    assert not (runs["exact"][1].root / "_seen_sketch").exists()


def _snapshot(store, spark, table, cols):
    df = store.read(table, spark).select(*cols)
    return sorted(tuple(r) for r in df.collect())


def test_frontier_identical_across_backends(runs):
    spark = runs["exact"][0].spark
    cols = ["url_id", "url_hash", "rule_id", "url"]
    assert _snapshot(runs["exact"][1], spark, "frontier", cols) == _snapshot(
        runs["cuckoo"][1], spark, "frontier", cols
    )


def test_request_log_identical_across_backends(runs):
    spark = runs["exact"][0].spark
    cols = ["url_id", "epoch", "status_code"]
    assert _snapshot(runs["exact"][1], spark, "requests", cols) == _snapshot(
        runs["cuckoo"][1], spark, "requests", cols
    )


def _checkpoint(store) -> CuckooShardStore:
    """The seen-sketch checkpoint as the shard files hold it."""
    return CuckooShardStore(store.root / "_seen_sketch" / "store")


def _frontier_ids(store, spark) -> np.ndarray:
    df = store.read("frontier", spark).select("url_id")
    return np.array([r.url_id for r in df.collect()], dtype=np.int64)


def _count_builds(monkeypatch) -> list:
    calls = []
    real_build = CuckooShardStore.build
    monkeypatch.setattr(
        CuckooShardStore, "build",
        lambda *a, **k: calls.append(1) or real_build(*a, **k),
    )
    return calls


def _copy(runs, name):
    """A copy of the cuckoo crawl's store and a fresh engine over it."""
    import shutil

    old_eng, store = runs["cuckoo"]
    root = Path(f"{store.root}-{name}")
    shutil.copytree(store.root, root)
    eng = CrawlEngine(
        old_eng.spark, EpochStore(root), old_eng.web,
        prefetch_limit=50, epoch_secs=600.0, config=SKETCH_ON,
    )
    return eng, eng.store


def _grow_unrequested(eng, n: int) -> np.ndarray:
    """Commit ``n`` never-requested frontier rows the way run_epoch grows
    the frontier: on the crawl clock, a keyed append, its url_ids added to
    the checkpoint, the stamp moved to the new head, then the ledger row.
    Returns the added url_ids."""
    from pyspark.sql import functions as F

    store = eng.store
    frontier = store.read("frontier", eng.spark).drop("_epoch", "_deleted")
    extra = frontier.limit(n).withColumn(
        "url_id", F.xxhash64("url_id", F.lit("never-requested"))
    )
    e = open_epoch(store)
    store.append("frontier", extra, e, keys=["url_id"])
    ids = np.array([r.url_id for r in extra.select("url_id").collect()], dtype=np.int64)
    sketch = _checkpoint(store)
    sketch.add_many(ids)
    sketch.set_stamp(e)
    commit_epoch(store, eng.spark, e)
    return ids


def test_cuckoo_sketch_tracks_frontier_incrementally(runs):
    """After N epochs of incremental adds the checkpoint is stamped with the
    frontier head and still covers every frontier url_id (no false
    negatives — the property the pre-filter's correctness independence
    rests on)."""
    eng, store = runs["cuckoo"]
    # the cuckoo shard store is the only sketch a default engine keeps:
    # no per-epoch Bloom rebuild under _seen_sketch/bloom
    sketches = {p.name for p in (store.root / "_seen_sketch").iterdir()}
    assert sketches == {"store"}
    sketch = _checkpoint(store)
    assert sketch.stamp == store.latest("frontier")
    assert sketch.might_contain(_frontier_ids(store, eng.spark)).all()


def test_restart_without_shutdown_opens_the_checkpoint(runs, monkeypatch):
    """A new engine on a store whose last epoch ended without
    shutdown_compact opens the checkpoint its predecessor stamped: its
    next epoch builds no sketch, and leaves the checkpoint stamped with
    the new head and covering the frontier."""
    eng, store = _copy(runs, "reopen")
    builds = _count_builds(monkeypatch)
    eng.run(1, start=START)
    assert builds == []
    sketch = _checkpoint(store)
    assert sketch.stamp == store.latest("frontier")
    assert sketch.might_contain(_frontier_ids(store, eng.spark)).all()


def test_restart_rebuilds_sketch_even_without_new_urls(runs, monkeypatch):
    """A restart onto a checkpoint that does not match the frontier head
    must rebuild the sketch from the frontier even if its first epoch
    appends zero new urls — otherwise a steady-state crawl restarts with
    the pre-filter silently off."""
    old_eng = runs["cuckoo"][0]
    _, copy = _copy(runs, "restart")
    _checkpoint(copy).set_stamp(None)
    eng2 = CrawlEngine(
        old_eng.spark, copy, old_eng.web, prefetch_limit=0, epoch_secs=600.0,
        config=SKETCH_ON,
    )
    builds = _count_builds(monkeypatch)
    stats = eng2.run(1, start=START)
    assert stats[0]["new_urls"] == 0  # the steady-state restart case
    assert len(builds) == 1
    sketch = _checkpoint(copy)
    assert sketch.stamp == copy.latest("frontier")
    assert sketch.might_contain(_frontier_ids(copy, eng2.spark)).all()


def test_crash_after_frontier_append_reopens_the_checkpoint(spark, tmp_path, monkeypatch):
    """A crash in the sketch maintenance after the frontier append leaves
    the checkpoint stamped with the previous head and the append above the
    ledger. A small prefetch limit leaves calendar days unprobed for the
    crashed epoch, so the re-run epoch regenerates that append's pending
    probes. The next engine rolls the append back, so the stamp equals the
    head again: it opens the checkpoint without a rebuild and reaches the
    frontier of an uninterrupted crawl."""
    import shutil

    eng, store = _run(spark, tmp_path, "crash", n_epochs=2, prefetch_limit=4)
    assert _checkpoint(store).stamp == store.latest("frontier")
    clean = EpochStore(shutil.copytree(store.root, tmp_path / "store-crash-clean"))

    class Crash(Exception):
        pass

    def crash(self, hashes):
        raise Crash("simulated crash after the frontier append")

    with monkeypatch.context() as mp:
        mp.setattr(CuckooShardStore, "add_many", crash)
        head = store.latest("frontier")
        with pytest.raises(Crash):
            eng.run(1, start=START)
    assert store.latest("frontier") == head + 1  # the append committed
    assert _checkpoint(store).stamp == head

    def restart(st):
        CrawlEngine(
            spark, st, eng.web, prefetch_limit=4, epoch_secs=600.0, config=SKETCH_ON
        ).run(1, start=START)

    restart(clean)
    builds = _count_builds(monkeypatch)
    restart(store)
    assert builds == []
    assert _checkpoint(store).stamp == store.latest("frontier")
    cols = ["url_id", "url_hash", "rule_id", "url"]
    got = _snapshot(store, spark, "frontier", cols)
    assert got == _snapshot(clean, spark, "frontier", cols)
    assert len(got) == len({r[0] for r in got})


def test_shutdown_on_a_fresh_engine_evicts_in_place(runs, monkeypatch):
    """shutdown_compact on an engine that ran no epoch (maintenance_job
    shutdown-compact) opens the checkpoint, evicts the dropped url_ids in
    place and re-stamps it with the compaction commit — no rebuild. It runs
    at the default threshold: the eviction guard reads the same threshold,
    and at 0 any dropped id abandons the eviction."""
    eng, store = _copy(runs, "fresh-shutdown")
    eng.config = EngineConfig()
    dropped = _grow_unrequested(eng, 5)
    size_before = _checkpoint(store).size
    builds = _count_builds(monkeypatch)
    eng.shutdown_compact()
    assert builds == []
    sketch = _checkpoint(store)
    assert sketch.stamp == store.latest("frontier")
    assert sketch.size == size_before - len(np.unique(dropped))
    assert sketch.might_contain(_frontier_ids(store, eng.spark)).all()


def test_shutdown_evicts_from_cuckoo_in_place(runs):
    eng, store = runs["cuckoo"]
    spark = eng.spark
    frontier = store.read("frontier", spark)
    requests = store.read("requests", spark)
    uncrawled = frontier.join(requests.select("url_id"), "url_id", "left_anti")
    dropped = np.array([r.url_id for r in uncrawled.select("url_id").collect()], dtype=np.int64)
    size_before = _checkpoint(store).size
    eng.shutdown_compact()
    # the same shard files (no rebuild), shrunk by exactly the dropped ids
    # and stamped with the compaction commit
    sketch = _checkpoint(store)
    assert sketch.stamp == store.latest("frontier")
    assert sketch.size == size_before - len(np.unique(dropped))
    # kept ids still covered
    assert sketch.might_contain(_frontier_ids(store, spark)).all()


def test_shutdown_checkpoint_loads_on_restart(spark, tmp_path, monkeypatch):
    """shutdown_compact checkpoints the sketch stamped with the compaction
    commit; a restarted engine must LOAD it (no frontier rescan) as long as
    no frontier commit intervened."""
    eng, store = _run(spark, tmp_path, "cuckoo", n_epochs=2)
    eng.shutdown_compact()
    # the shard files ARE the checkpoint; the stamp marks them loadable
    sdir = store.root / "_seen_sketch" / "store"
    assert list(sdir.glob("shard_*.npy"))
    assert _checkpoint(store).stamp == store.latest("frontier")

    eng2 = CrawlEngine(
        spark, store, eng.web, prefetch_limit=50, epoch_secs=600.0, config=SKETCH_ON
    )

    # any rebuild attempt would call CuckooShardStore.build — make that an error
    def boom(*a, **k):
        raise AssertionError("sketch was rebuilt despite a matching checkpoint")

    monkeypatch.setattr(CuckooShardStore, "build", boom)
    eng2.run(1, start=START)
    sketch = _checkpoint(store)
    assert sketch.stamp == store.latest("frontier")
    assert sketch.might_contain(_frontier_ids(store, spark)).all()


def test_shutdown_size_guard_collects_at_most_threshold_plus_one(
    runs, monkeypatch
):
    """Past broadcast_threshold_rows the eviction is abandoned for a rebuild
    — and the driver must learn that from at most threshold + 1 ids, not by
    collecting the whole uncrawled set first."""
    import dataclasses

    eng, store = _copy(runs, "guard")
    thr = 3
    # the toy crawl drains its whole frontier: add never-requested rows
    _grow_unrequested(eng, 3 * thr)
    eng.config = dataclasses.replace(eng.config, broadcast_threshold_rows=thr)

    seen = []
    cls = type(store.read("frontier", eng.spark))  # classic vs connect DataFrame
    for name in ("collect", "toArrow", "toPandas"):
        orig = getattr(cls, name)

        def spy(self, _orig=orig):
            out = _orig(self)
            if self.columns == ["url_id"]:
                seen.append(len(out))
            return out

        monkeypatch.setattr(cls, name, spy)
    eng.shutdown_compact()
    assert seen and max(seen) <= thr + 1, seen
    # dropped: the checkpoint is left unstamped, so the next epoch rebuilds
    assert _checkpoint(store).stamp is None


def test_crash_mid_eviction_leaves_no_loadable_checkpoint(runs, monkeypatch):
    """A crash inside the in-place eviction leaves some shards evicted while
    the frontier still holds those ids. A checkpoint stamped with the
    current frontier head would then load as a sketch with false
    negatives — so the stamp must be cleared before any shard changes."""
    eng, store = _copy(runs, "crash-evict")
    # a checkpoint that matches the frontier head
    assert _checkpoint(store).stamp == store.latest("frontier")

    def crash(self, hashes):
        raise RuntimeError("simulated crash during eviction")

    monkeypatch.setattr(CuckooShardStore, "delete_many", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.shutdown_compact()
    assert _checkpoint(store).stamp != store.latest("frontier")


def test_crash_mid_rebuild_leaves_no_loadable_checkpoint(runs, monkeypatch):
    """An overflowing ``add_many`` makes the epoch rebuild the sketch into
    the checkpoint's directory, whose stamp is still the previous frontier
    head. A crash inside that build leaves shard files missing, and the
    restart rolls the frontier back to that head — so the build must drop
    the checkpoint before touching a shard, or the restart would open a
    sketch that calls seen url_ids new."""
    from pyspark.sql import functions as F

    eng, store = _copy(runs, "crash-build")
    head = store.latest("frontier")
    assert _checkpoint(store).stamp == head
    real_build = CuckooShardStore.build

    def overflow(self, hashes):
        raise RuntimeError("cuckoo shard full")

    def crashing_build(seen, root, *a, **k):
        seen = seen.withColumn("url_id", F.raise_error(F.lit("crash mid-build")).cast("long"))
        return real_build(seen, root, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(CuckooShardStore, "add_many", overflow)
        mp.setattr(CuckooShardStore, "build", crashing_build)
        with pytest.raises(Exception, match="crash mid-build"):
            eng.run(1, start=START)
    restarted = CrawlEngine(
        eng.spark, store, eng.web, prefetch_limit=50, epoch_secs=600.0,
        config=SKETCH_ON,
    )
    restarted.run(1, start=START)
    assert store.latest("frontier") == head + 1
    ids = _frontier_ids(store, eng.spark)
    assert len(ids) == len(np.unique(ids))
    sketch = _checkpoint(store)
    assert sketch.stamp == store.latest("frontier")
    assert sketch.might_contain(ids).all()
