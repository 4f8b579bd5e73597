"""Config-gated broadcast hints (VERDICT r2 #1): above the threshold the
engine must drop the F.broadcast hints so AQE picks the strategy — the
docstring's 'degrade gracefully to thin-key shuffles' promise, now real."""

from __future__ import annotations

from datetime import date, datetime, timezone

import pytest

from pyspark.sql import functions as F

from europarl_crawler_spark.config import EngineConfig
from europarl_crawler_spark.plans.politeness import host_budgets
from europarl_crawler_spark.sources import schema as S


@pytest.fixture()
def no_auto_broadcast(spark):
    """Force the planner to reveal the hint: with auto-broadcast off, only an
    explicit F.broadcast hint can produce a BroadcastHashJoin."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _frontier_and_politeness(spark):
    rows = [
        (i, 1, 2, date(2021, 1, 1), f"u{i}", i, i % 3, 0, i, 1) for i in range(20)
    ]
    frontier = spark.createDataFrame(rows, S.FRONTIER)
    politeness = spark.createDataFrame(
        [(i, 120.0, None, None) for i in range(3)], S.POLITENESS
    )
    return frontier, politeness


def test_drain_hint_off_uses_sort_merge_join(no_auto_broadcast):
    spark = no_auto_broadcast
    frontier, politeness = _frontier_and_politeness(spark)
    plan = (
        host_budgets(frontier, politeness, 600.0, hint_broadcast=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_drain_hint_on_broadcasts(no_auto_broadcast):
    spark = no_auto_broadcast
    frontier, politeness = _frontier_and_politeness(spark)
    plan = (
        host_budgets(frontier, politeness, 600.0, hint_broadcast=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def _seen_gate_plan(spark, hint_broadcast: bool) -> str:
    from europarl_crawler_spark.functions.seen import anti_join_seen

    frontier, _ = _frontier_and_politeness(spark)
    candidates = frontier.withColumn("url_id", F.col("url_id") + 10)
    fresh = anti_join_seen(
        candidates, frontier, hash_col="url_id", hint_broadcast=hint_broadcast
    )
    return fresh._jdf.queryExecution().executedPlan().toString()


def test_seen_gate_hint_off_uses_sort_merge_join(no_auto_broadcast):
    plan = _seen_gate_plan(no_auto_broadcast, hint_broadcast=False)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_seen_gate_hint_on_broadcasts(no_auto_broadcast):
    plan = _seen_gate_plan(no_auto_broadcast, hint_broadcast=True)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_forced_large_config_e2e_matches_default(spark, tmp_path):
    """threshold=0 (every hint dropped, AQE decides, the seen sketch on)
    must produce the exact same crawl as the default config (broadcast
    hints, no sketch) — the gate changes physical strategy only. So this
    is also the sketch-on vs exact-only equivalence."""
    from europarl_crawler_spark.plans.epoch import CrawlEngine
    from europarl_crawler_spark.sources.epochstore import EpochStore
    from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

    days = session_days_df(spark, start=date(2019, 7, 2), n_days=10)
    web_path = str(tmp_path / "web")
    simulated_web(spark, days).write.parquet(web_path)
    web = spark.read.parquet(web_path)

    outcomes, stores = {}, {}
    for name, cfg in {
        "default": EngineConfig(),
        "forced_large": EngineConfig(broadcast_threshold_rows=0),
    }.items():
        eng = CrawlEngine(
            spark, EpochStore(str(tmp_path / name)), web,
            prefetch_limit=30, epoch_secs=600.0, config=cfg,
        )
        stores[name] = eng.store
        eng.bootstrap(days)
        stats = eng.run(2, start=datetime(2021, 1, 1, tzinfo=timezone.utc))
        docs = eng._read("documents", S.DOCUMENTS)
        outcomes[name] = (
            [tuple(sorted(s.items())) for s in stats],
            sorted(
                (r.image_id, r.caption, r.phash)
                for r in docs.select("image_id", "caption", "phash").collect()
            ),
        )
    assert outcomes["default"] == outcomes["forced_large"]
    # the forced-large crawl ran the sketch: a checkpoint stamped at its
    # frontier head; the default one never made a checkpoint
    from europarl_crawler_spark.functions.cuckoo import CuckooShardStore

    large = stores["forced_large"]
    sketch = CuckooShardStore(large.root / "_seen_sketch" / "store")
    assert sketch.stamp == large.latest("frontier") is not None
    assert not (stores["default"].root / "_seen_sketch").exists()
