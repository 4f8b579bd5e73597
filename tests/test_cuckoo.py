"""Cuckoo filter: no false negatives, bounded FPR, exact delete, the shard
store's build/probe/maintenance, the shard-count policy, and the anti-join
pre-filter contract under eviction.

The deletion property is the reason the module exists: the reference evicts a
seen URL by deleting its row (reference: europarl/db/url.py:117-129); a Bloom
filter would need a rebuild, a cuckoo filter removes the fingerprint in place.
"""

from __future__ import annotations

import numpy as np
import pytest

from europarl_crawler_spark.functions.cuckoo import (
    BUCKET_SLOTS,
    CuckooFilter,
    CuckooShardStore,
    shard_count_policy,
)


def _keys(n, seed):
    rng = np.random.Generator(np.random.Philox(key=seed))
    return np.unique(rng.integers(-(2**62), 2**62, size=n, dtype=np.int64))


def test_no_false_negatives():
    keys = _keys(20000, 11)
    cf = CuckooFilter.sized(len(keys))
    cf.add_many(keys)
    assert cf.might_contain(keys).all()
    assert cf.size == len(keys)


def test_false_positive_rate_bounded():
    keys = _keys(20000, 12)
    probe = _keys(200000, 13)
    cf = CuckooFilter.sized(len(keys))
    cf.add_many(keys)
    # theoretical bound ~2b/2^f = 8/65536 ≈ 1.2e-4; allow slack for the
    # probe set's sampling noise
    assert cf.might_contain(probe).mean() < 1e-3


def test_delete_removes_only_the_deleted():
    keys = _keys(5000, 14)
    cf = CuckooFilter.sized(len(keys))
    cf.add_many(keys)
    gone, kept = keys[:1000], keys[1000:]
    assert cf.delete_many(gone).all()
    # deleted keys can only remain "present" via a fingerprint collision
    # with a kept key — must be rare, never systematic
    assert cf.might_contain(gone).mean() < 1e-2
    # no false negatives introduced on the keys still present
    assert cf.might_contain(kept).all()
    assert cf.size == len(kept)


def test_duplicate_inserts_need_matching_deletes():
    cf = CuckooFilter.sized(64)
    k = np.array([42, 42], dtype=np.int64)
    cf.add_many(k)
    assert cf.delete_many(np.array([42], dtype=np.int64)).all()
    assert cf.might_contain(np.array([42], dtype=np.int64)).all()  # one copy left
    assert cf.delete_many(np.array([42], dtype=np.int64)).all()
    assert not cf.might_contain(np.array([42], dtype=np.int64)).any()


def test_bulk_add_after_delete_keeps_rows_packed():
    """delete_many must not leave holes mid-row: the vectorized bulk insert
    scatters at slot occ+rank, so a fragmented row would get a live
    fingerprint overwritten — a false negative."""
    keys = _keys(8000, 22)
    cf = CuckooFilter.sized(12000)
    cf.add_many(keys[:4000])
    assert cf.delete_many(keys[:2000]).all()
    cf.add_many(keys[4000:])  # bulk insert into rows that saw deletions
    survivors = np.concatenate([keys[2000:4000], keys[4000:]])
    assert cf.might_contain(survivors).all()
    # every row is prefix-packed: no zero before a non-zero
    occ = cf.table != 0
    assert not (np.diff(occ.astype(np.int8), axis=1) > 0).any()


def test_fills_to_high_load_without_raising():
    cf = CuckooFilter(1 << 10)  # 4096 slots
    keys = _keys(int((1 << 10) * BUCKET_SLOTS * 0.9), 15)
    cf.add_many(keys)  # 90% load must succeed for b=4
    assert cf.might_contain(keys).all()


def test_overflow_raises_not_corrupts():
    cf = CuckooFilter(8)  # 32 slots
    with pytest.raises(RuntimeError, match="full"):
        cf.add_many(_keys(200, 16))


def test_anti_join_seen_accepts_cuckoo_and_respects_eviction(spark, tmp_path):
    from europarl_crawler_spark.functions.seen import anti_join_seen

    keys = _keys(2000, 21)
    seen_keys, evicted = keys[:1500], keys[1200:1500]
    cand = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    sc = CuckooShardStore.build(
        spark.createDataFrame([(int(k),) for k in seen_keys], "url_hash long"),
        tmp_path / "store",
        n_shards=4,
    )
    fresh = {r.url_hash for r in anti_join_seen(
        cand,
        spark.createDataFrame([(int(k),) for k in seen_keys], "url_hash long"),
        sc,
    ).collect()}
    assert fresh == set(keys[1500:].tolist())

    # evict 300 urls for recrawl: delete from BOTH the exact table and the
    # sketch — no rebuild — and they come back out of the anti-join
    assert sc.delete_many(evicted).all()
    remaining = spark.createDataFrame(
        [(int(k),) for k in seen_keys[:1200]], "url_hash long"
    )
    fresh2 = {r.url_hash for r in anti_join_seen(cand, remaining, sc).collect()}
    assert fresh2 == set(keys[1200:].tolist())


# ---------------------------------------------------------------------------
# Executor-resident shard store (the 10^10-URL residency fix, r4 VERDICT #2)
# ---------------------------------------------------------------------------


def test_shard_store_build_layout_and_parity(spark, tmp_path):
    """Distributed build writes one npy PER SHARD from executors, and the
    built store answers membership with no false negatives, an exact
    size and a bounded FPR."""
    keys = _keys(20000, 31)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    st = CuckooShardStore.build(df, tmp_path / "store", n_shards=8)
    files = sorted(p.name for p in (tmp_path / "store").glob("shard_*.npy"))
    assert len(files) == 8 and files[0] == "shard_00000.npy"
    assert st.might_contain(keys).all()          # no false negatives
    assert st.size == len(keys)
    fresh = _keys(50000, 32)
    mask = np.isin(fresh, keys, invert=True)
    assert st.might_contain(fresh[mask]).mean() < 1e-3


def test_shard_store_never_concatenates_on_driver(spark, tmp_path):
    """The structural residency proof: the driver-side store object holds
    NO table arrays (only root + meta), and the executor probe path
    (tag_maybe) routes by pmod so each task touches only its shards.
    anti_join_seen over the store is bit-identical to the plain anti-join."""
    from europarl_crawler_spark.functions.seen import anti_join_seen

    keys = _keys(4000, 34)
    seen_keys = keys[:3000]
    cand = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    seen_df = spark.createDataFrame(
        [(int(k),) for k in seen_keys], "url_hash long"
    )
    st = CuckooShardStore.build(seen_df, tmp_path / "store", n_shards=8)
    # no ndarray anywhere on the driver-side handle
    assert not any(
        isinstance(v, np.ndarray) for v in vars(st).values()
    ), vars(st)
    got = {r.url_hash for r in anti_join_seen(cand, seen_df, st).collect()}
    want = {
        r.url_hash
        for r in cand.join(seen_df, "url_hash", "left_anti").collect()
    }
    assert got == want == set(keys[3000:].tolist())


def test_shard_store_delta_touches_only_routed_shards(tmp_path, spark):
    """add_many on a delta routed to ONE shard rewrites exactly that
    shard's file — O(delta) maintenance with single-shard driver
    residency."""
    import os

    keys = _keys(8000, 35)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    st = CuckooShardStore.build(df, tmp_path / "store", n_shards=8)
    before = {
        p.name: os.stat(p).st_mtime_ns
        for p in (tmp_path / "store").glob("shard_*.npy")
    }
    # craft a delta living entirely in shard 3: h ≡ 3 (mod 8), h > 0
    delta = np.arange(3, 3 + 8 * 500, 8, dtype=np.int64) + 2**40
    delta = delta[np.mod(delta, 8) == 3]
    assert len(delta) > 0
    st.add_many(delta)
    after = {
        p.name: os.stat(p).st_mtime_ns
        for p in (tmp_path / "store").glob("shard_*.npy")
    }
    changed = {n for n in after if after[n] != before.get(n)}
    assert changed == {"shard_00003.npy"}
    assert st.might_contain(delta).all()


def test_shard_store_delete_and_stamp_roundtrip(tmp_path, spark):
    """Deletion evicts in place (the cuckoo payoff) and the stamp persists
    through reopen — the checkpoint surface the crawl engine uses."""
    keys = _keys(5000, 36)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    st = CuckooShardStore.build(df, tmp_path / "store", n_shards=4)
    evict = keys[:500]
    assert st.delete_many(evict).all()
    assert not st.might_contain(evict).any() or (
        st.might_contain(evict).mean() < 0.01  # residual = FP collisions only
    )
    assert st.might_contain(keys[500:]).all()
    st.set_stamp(7)
    back = CuckooShardStore(tmp_path / "store")
    assert back.stamp == 7 and back.n_shards == 4
    assert back.might_contain(keys[500:]).all()


def test_shard_store_probe_plan_shape(spark, tmp_path):
    """Pin the residency design in the PLAN: the shard-store probe's
    physical plan must carry the pmod-keyed exchange (candidates routed to
    their shard's partition) and exactly one Arrow/Python stage (the
    shard-local probe) — a regression to a broadcast-UDF probe or a
    per-row UDF would change both."""
    keys = _keys(2000, 61)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    st = CuckooShardStore.build(df, tmp_path / "store", n_shards=8)
    tagged = st.tag_maybe(df, "url_hash")
    tagged.collect()
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "pmod" in plan and "Exchange" in plan, plan[:500]
    assert plan.count("MapInPandas") == 1, plan[:500]
    assert "BatchEvalPython" not in plan  # no per-row Python anywhere


def test_shard_store_fresh_shard_sized_at_build_load(tmp_path, spark):
    """A shard that add_many creates sizes at the store's BUILD load, not
    the 0.84 default: at the engine's 0.21 a fresh shard must take a second
    delta as large as its first. At 0.84 the pair (2 200 keys) overflows
    the 2 048 slots the first delta sized it at."""
    keys = _keys(4000, 37)
    keys = keys[np.mod(keys, 4) == 0]  # build fills shard 0 only
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    CuckooShardStore.build(df, tmp_path / "store", n_shards=4, load=0.21)
    assert not (tmp_path / "store" / "shard_00001.npy").exists()
    delta = np.arange(1, 1 + 4 * 2200, 4, dtype=np.int64) + 2**40
    first, second = delta[:1100], delta[1100:]
    st = CuckooShardStore(tmp_path / "store")  # the load survives a reopen
    st.add_many(first)
    st.add_many(second)
    assert st.might_contain(delta).all()


def test_shard_count_policy_from_frontier_rows():
    """One shard per 2^21 frontier rows, never fewer than one: the engine
    derives its shard count from the frontier manifest's row count."""
    assert shard_count_policy(0) == 1
    assert shard_count_policy(2**21) == 1
    assert shard_count_policy(2**21 + 1) == 2
