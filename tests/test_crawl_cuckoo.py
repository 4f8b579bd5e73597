"""Crawl equivalence under the cuckoo seen sketch.

The seen sketch is strictly a pre-filter over the exact anti-join, so the
crawl — frontier membership, request log, drain order — must be bit-identical
to a crawl whose gate is the exact anti-join alone. The exact-only engine is
a test fake: its sketch loader and builder return None. This pins that, plus
the sketch's lifecycle: incremental adds across epochs, checkpoint load on
restart and in-place eviction at shutdown_compact (D4).
"""

from __future__ import annotations

from datetime import date, datetime, timezone
from pathlib import Path

import numpy as np
import pytest

from europarl_crawler_spark.plans.epoch import CrawlEngine
from europarl_crawler_spark.sources.epochstore import EpochStore
from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

START = datetime(2021, 1, 1, tzinfo=timezone.utc)


def _run(spark, root, name: str, n_epochs: int = 3):
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=12)
    web = simulated_web(spark, days)
    web.write.mode("overwrite").parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    store = EpochStore(root / f"store-{name}")
    eng = CrawlEngine(spark, store, web, prefetch_limit=50, epoch_secs=600.0)
    eng.bootstrap(days)
    eng.run(n_epochs, start=START)
    return eng, store


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl-cuckoo")
    with pytest.MonkeyPatch.context() as mp:
        # the exact-only engine: no sketch is ever loaded or built, so
        # every epoch's gate is the plain anti-join
        mp.setattr(CrawlEngine, "_build_cuckoo", lambda self, frontier: None)
        mp.setattr(CrawlEngine, "_load_sketch", lambda self: None)
        exact = _run(spark, root, "exact")
    assert exact[0]._cuckoo is None
    # last: the later tests reuse this engine's web, which each run rewrites
    cuckoo = _run(spark, root, "cuckoo")
    return dict(exact=exact, cuckoo=cuckoo)


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


def test_cuckoo_sketch_tracks_frontier_incrementally(runs):
    """After N epochs of incremental adds the sketch still covers every
    frontier url_id (no false negatives — the property the pre-filter's
    correctness independence rests on)."""
    eng, store = runs["cuckoo"]
    assert eng._cuckoo is not None
    # the cuckoo shard store is the only sketch a default engine keeps:
    # no per-epoch Bloom rebuild under _seen_sketch/bloom
    sketches = {p.name for p in (store.root / "_seen_sketch").iterdir()}
    assert sketches == {"store"}
    ids = np.array(
        [r.url_id for r in store.read("frontier", eng.spark).select("url_id").collect()],
        dtype=np.int64,
    )
    assert eng._cuckoo.might_contain(ids).all()


def test_restart_rebuilds_sketch_even_without_new_urls(runs):
    """A restarted engine (fresh _cuckoo=None) must rebuild the sketch from
    the frontier even if its first epoch merges zero new urls — otherwise a
    steady-state crawl restarts with the pre-filter silently off."""
    import shutil

    old_eng, store = runs["cuckoo"]
    copy_root = Path(str(store.root) + "-restart")
    shutil.copytree(store.root, copy_root)
    eng2 = CrawlEngine(
        old_eng.spark, EpochStore(copy_root), old_eng.web,
        prefetch_limit=0, epoch_secs=600.0,
    )
    assert eng2._cuckoo is None
    stats = eng2.run(1, start=START)
    assert stats[0]["new_urls"] == 0  # the steady-state restart case
    assert eng2._cuckoo is not None
    ids = np.array(
        [r.url_id for r in store.read("frontier", eng2.spark).select("url_id").collect()],
        dtype=np.int64,
    )
    assert eng2._cuckoo.might_contain(ids).all()


def test_shutdown_evicts_from_cuckoo_in_place(runs):
    eng, store = runs["cuckoo"]
    spark = eng.spark
    frontier = store.read("frontier", spark)
    requests = store.read("requests", spark)
    uncrawled = frontier.join(requests.select("url_id"), "url_id", "left_anti")
    dropped = np.array([r.url_id for r in uncrawled.select("url_id").collect()], dtype=np.int64)
    size_before = eng._cuckoo.size
    eng.shutdown_compact()
    # same sketch object (no rebuild), shrunk by exactly the dropped ids
    assert eng._cuckoo is not None
    assert eng._cuckoo.size == size_before - len(np.unique(dropped))
    # kept ids still covered
    kept = np.array(
        [r.url_id for r in store.read("frontier", spark).select("url_id").collect()],
        dtype=np.int64,
    )
    assert eng._cuckoo.might_contain(kept).all()


def test_shutdown_checkpoint_loads_on_restart(spark, tmp_path, monkeypatch):
    """shutdown_compact checkpoints the sketch stamped with the compaction
    commit; a restarted engine must LOAD it (no frontier rescan) as long as
    no frontier commit intervened."""
    eng, store = _run(spark, tmp_path, "cuckoo", n_epochs=2)
    eng.shutdown_compact()
    # the shard files ARE the checkpoint; the stamp marks them loadable
    sdir = store.root / "_seen_sketch" / "store"
    assert list(sdir.glob("shard_*.npy"))
    from europarl_crawler_spark.functions.cuckoo import CuckooShardStore

    assert CuckooShardStore(sdir).stamp == store.latest("frontier")

    eng2 = CrawlEngine(spark, store, eng.web, prefetch_limit=50, epoch_secs=600.0)
    # any rebuild attempt would call CuckooShardStore.build — make that an error
    import europarl_crawler_spark.plans.epoch as epoch_mod

    def boom(*a, **k):
        raise AssertionError("sketch was rebuilt despite a matching checkpoint")

    monkeypatch.setattr(epoch_mod.CuckooShardStore, "build", boom)
    eng2.run(1, start=START)
    assert eng2._cuckoo is not None
    ids = np.array(
        [r.url_id for r in store.read("frontier", spark).select("url_id").collect()],
        dtype=np.int64,
    )
    assert eng2._cuckoo.might_contain(ids).all()


def _engine_on_copy(runs, name):
    """A fresh engine over a copy of the cuckoo crawl's store, holding the
    sketch from the copied shard files."""
    import shutil

    from europarl_crawler_spark.functions.cuckoo import CuckooShardStore

    old_eng, store = runs["cuckoo"]
    root = Path(f"{store.root}-{name}")
    shutil.copytree(store.root, root)
    eng = CrawlEngine(
        old_eng.spark, EpochStore(root), old_eng.web,
        prefetch_limit=50, epoch_secs=600.0,
    )
    eng._cuckoo = CuckooShardStore(root / "_seen_sketch" / "store")
    return eng, eng.store


def test_shutdown_size_guard_collects_at_most_threshold_plus_one(
    runs, monkeypatch
):
    """Past broadcast_threshold_rows the eviction is abandoned for a rebuild
    — and the driver must learn that from at most threshold + 1 ids, not by
    collecting the whole uncrawled set first."""
    import dataclasses

    from pyspark.sql import functions as F

    eng, store = _engine_on_copy(runs, "guard")
    spark = eng.spark
    thr = 3
    # the toy crawl drains its whole frontier: add never-requested rows
    frontier = store.read("frontier", spark).drop("_epoch", "_deleted")
    extra = frontier.limit(3 * thr).withColumn(
        "url_id", F.xxhash64("url_id", F.lit("never-requested"))
    )
    store.merge("frontier", extra, store.latest("frontier") + 1, keys=["url_id"])
    eng.config = dataclasses.replace(eng.config, broadcast_threshold_rows=thr)

    seen = []
    cls = type(frontier)  # the concrete DataFrame class (classic vs connect)
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
    assert eng._cuckoo is None  # dropped; the next epoch rebuilds


def test_crash_mid_eviction_leaves_no_loadable_checkpoint(runs):
    """A crash inside the in-place eviction leaves some shards evicted while
    the frontier still holds those ids. A checkpoint stamped with the
    current frontier head would then load as a sketch with false
    negatives — so the stamp must be cleared before any shard changes."""
    eng, store = _engine_on_copy(runs, "crash")
    eng.save_sketch()  # a checkpoint that matches the frontier head
    assert eng._load_sketch() is not None

    def crash(hashes):
        raise RuntimeError("simulated crash during eviction")

    eng._cuckoo.delete_many = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.shutdown_compact()
    assert eng._load_sketch() is None
