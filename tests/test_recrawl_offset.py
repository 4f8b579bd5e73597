"""O8 recrawl lane + session-day probe-offset guard, both engine-level and as
refsim ordering equivalence with day-long epochs (the regime where both
features actually fire — epochs 600 s apart never cross a calendar day).

Reference contracts:
- recrawl: downloader.py:39-68 (spaced_out_dates drives a daily re-scrape of
  already-fetched documents, denser for recent dates);
- offset: db/sessionDay.py:36,104 (get_unchecked_dates only generates days up
  to today − offset, default 30 — never probe not-yet-published dates).
"""

from __future__ import annotations

from datetime import date, datetime, timedelta, timezone

import pytest

from pyspark.sql import functions as F

from europarl_crawler_spark.config import EngineConfig
from europarl_crawler_spark.plans.epoch import CrawlEngine
from europarl_crawler_spark.sources.epochstore import EpochStore
from europarl_crawler_spark.sources.synthetic import (
    session_days_df,
    simulated_web,
    status_expr,
)

import refsim

DAY_SECS = 86400.0
N_DAYS = 10
N_EPOCHS = 4
# day-long epochs starting well after the seed days: off ∈ [10, 23] across
# the window, so the <14 (daily) and <42-even spacing bands both fire
SEED_START = date(2019, 8, 1)
START = datetime(2019, 8, 14, tzinfo=timezone.utc)


def _status_oracle(web, n_epochs):
    oracle: dict[tuple[str, int], int] = {}
    for e in range(1, n_epochs + 1):
        for r in web.select(
            "url", status_expr(F.col("kind"), F.col("url_hash"), e).alias("s")
        ).collect():
            oracle[(r.url, e)] = r.s
    return lambda url, epoch: oracle.get((url, epoch), 404)


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("recrawl")
    days_df = session_days_df(spark, start=SEED_START, n_days=N_DAYS)
    web = simulated_web(spark, days_df)
    web.write.parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    status_of = _status_oracle(web, N_EPOCHS)

    cfg = EngineConfig(probe_offset_days=0, epoch_secs=DAY_SECS)
    store = EpochStore(root / "store")
    eng = CrawlEngine(spark, store, web, prefetch_limit=50, config=cfg)
    eng.bootstrap(days_df)
    eng.run(N_EPOCHS, start=START)

    days = [r.dates for r in days_df.collect()]
    sim_orders, sim_frontier = refsim.run_epochs(
        days, status_of, N_EPOCHS, prefetch_limit=50, epoch_secs=DAY_SECS,
        start=START, offset_days=0,
    )
    return dict(
        spark=spark, store=store, web=web,
        sim_orders=sim_orders, sim_frontier=sim_frontier,
    )


def _engine_orders(world):
    spark, store = world["spark"], world["store"]
    req = store.read("requests", spark)
    frontier = store.read("frontier", spark)
    joined = (
        req.join(frontier.select("url_id", "url"), "url_id")
        .select("epoch", "drain_seq", "url")
        .collect()
    )
    orders: dict[int, list[tuple[int, str]]] = {}
    for r in joined:
        orders.setdefault(r.epoch, []).append((r.drain_seq, r.url))
    return {e: [u for _, u in sorted(v)] for e, v in orders.items()}


def test_recrawl_order_matches_simulator(world):
    eng = _engine_orders(world)
    for e in range(1, N_EPOCHS + 1):
        assert eng.get(e, []) == world["sim_orders"][e - 1], f"epoch {e}"


def test_recrawl_refetches_on_schedule(world):
    """A previously-fetched (terminal-200) doc URL is re-drained in a later
    epoch — the O8 lane actually fires through the engine."""
    spark, store = world["spark"], world["store"]
    req = store.read("requests", spark)
    ok = req.filter(F.col("status_code") == 200)
    re_fetched = (
        ok.groupBy("url_id")
        .agg(F.countDistinct("epoch").alias("n_epochs"))
        .filter(F.col("n_epochs") >= 2)
    )
    assert re_fetched.count() > 0
    # recrawls drain AFTER all fresh work: within any epoch, every repeat
    # fetch (url already 200 in an earlier epoch) has drain_seq greater than
    # every first-time fetch
    rows = (
        req.select("url_id", "epoch", "drain_seq", "status_code").collect()
    )
    first_ok: dict[int, int] = {}
    for r in sorted(rows, key=lambda r: r.epoch):
        if r.status_code == 200 and r.url_id not in first_ok:
            first_ok[r.url_id] = r.epoch
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    for e, rs in by_epoch.items():
        recrawl_seqs = [
            r.drain_seq for r in rs if first_ok.get(r.url_id, e) < e
        ]
        fresh_seqs = [
            r.drain_seq for r in rs if first_ok.get(r.url_id, e) >= e
        ]
        if recrawl_seqs and fresh_seqs:
            assert min(recrawl_seqs) > max(fresh_seqs), f"epoch {e}"


def test_recrawl_never_reprobes_terminal_days(world):
    """The checker lane never recrawls: session-day probes with a terminal
    outcome are probed at most once."""
    spark, store = world["spark"], world["store"]
    req = store.read("requests", spark)
    frontier = store.read("frontier", spark)
    probe = frontier.filter(F.col("rule_id") == 1).select("url_id")
    per_url = (
        req.join(probe, "url_id")
        .filter(F.col("status_code").isin(200, 404))
        .groupBy("url_id")
        .count()
    )
    assert per_url.filter(F.col("count") > 1).count() == 0


def test_recrawl_plan_has_no_global_window(spark):
    """Scale shape: recrawl candidate generation is filters over the
    crawl-state join — no window, no cartesian product anywhere in the
    physical plan."""
    from europarl_crawler_spark.plans.frontier import (
        BAND,
        RECRAWL_BAND,
        crawl_state,
        drain_candidates,
    )
    from europarl_crawler_spark.sources import schema as S

    frontier = spark.createDataFrame([], S.FRONTIER)
    url_state = spark.createDataFrame([], S.URL_STATE)
    out = drain_candidates(crawl_state(frontier, url_state), date(2021, 1, 1)).filter(
        F.col("priority") >= RECRAWL_BAND * BAND
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "NestedLoop" not in plan


def test_recrawl_guard_is_session_timezone_independent(spark):
    """ADVICE r2: the once-per-day guard must compare instants against UTC
    midnight, not to_date() in the session timezone. A fetch at 23:30 UTC on
    Jan 1 is 'yesterday' for a Jan 2 run everywhere — under Asia/Tokyo the
    old to_date() guard saw Jan 2 and wrongly suppressed the recrawl."""
    from datetime import datetime, timezone

    from europarl_crawler_spark.plans.frontier import (
        BAND,
        RECRAWL_BAND,
        crawl_state,
        drain_candidates,
    )
    from europarl_crawler_spark.sources import schema as S

    frontier = spark.createDataFrame(
        [(5, 1, 2, date(2021, 1, 1), "u", 7, 9, 0, 0, 1)], S.FRONTIER
    )
    url_state = spark.createDataFrame(
        [(5, True, True, datetime(2021, 1, 1, 23, 30, tzinfo=timezone.utc), 1)],
        S.URL_STATE,
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Asia/Tokyo", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            state = crawl_state(frontier, url_state)
            got = drain_candidates(state, date(2021, 1, 2)).filter(
                F.col("priority") >= RECRAWL_BAND * BAND
            ).count()
            assert got == 1, f"recrawl suppressed under session tz {tz}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_probe_offset_guard(spark, tmp_path):
    """With offset=3 days, days newer than now − 3 are never probed; the
    engine matches the simulator under the same guard; and the guard releases
    days as the clock advances."""
    offset = 3
    days_df = session_days_df(spark, start=SEED_START, n_days=N_DAYS)
    web = simulated_web(spark, days_df)
    status_of = _status_oracle(web, 2)
    cfg = EngineConfig(probe_offset_days=offset, epoch_secs=DAY_SECS)
    store = EpochStore(tmp_path / "store")
    # start INSIDE the seed window: 2019-08-07, so days > 08-04 are embargoed
    start = datetime(2019, 8, 7, tzinfo=timezone.utc)
    eng = CrawlEngine(spark, store, web, prefetch_limit=50, config=cfg)
    eng.bootstrap(days_df)
    eng.run(2, start=start)

    req = store.read("requests", spark)
    frontier = store.read("frontier", spark)
    probed = (
        req.join(frontier.select("url_id", "dates", "rule_id"), "url_id")
        .filter(F.col("rule_id") == 1)
        .select("dates")
        .distinct()
        .collect()
    )
    # epoch 1 at 08-07 (cutoff 08-04), epoch 2 at 08-08 (cutoff 08-05)
    last_cutoff = start.date() + timedelta(days=1) - timedelta(days=offset)
    assert probed, "no days probed"
    assert all(r.dates <= last_cutoff for r in probed)
    # the day released by epoch 2's advancing cutoff was probed then
    days = [r.dates for r in days_df.collect()]
    sim_orders, _ = refsim.run_epochs(
        days, status_of, 2, prefetch_limit=50, epoch_secs=DAY_SECS,
        start=start, offset_days=offset,
    )
    eng_orders = _engine_orders(dict(spark=spark, store=store))
    for e in (1, 2):
        assert eng_orders.get(e, []) == sim_orders[e - 1], f"epoch {e}"


def test_adaptive_refresh_integer_schedule(spark):
    """adaptive_refresh: exact ceil-division, [min,max] clamping, zero-change
    guard, and the due boundary (next_due == ref counts as due)."""
    from datetime import date

    from europarl_crawler_spark.plans.frontier import adaptive_refresh

    rows = [
        # (key, visits, changes, last_visit)
        (1, 10, 5, date(2024, 1, 1)),   # ceil(10/5)=2
        (2, 10, 3, date(2024, 1, 1)),   # ceil(10/3)=4
        (3, 10, 0, date(2024, 1, 1)),   # zero changes -> ceil(10/1)=10
        (4, 500, 2, date(2024, 1, 1)),  # 250 clamps to max 60
        (5, 1, 9, date(2024, 1, 1)),    # ceil(1/9)=1 (already >= min)
        (6, 3, 3, date(2024, 5, 31)),   # interval 1 -> due exactly on ref
        (7, 3, 3, date(2024, 6, 1)),    # next_due past ref -> not due
    ]
    df = spark.createDataFrame(
        rows, "host_key int, n_visits long, n_changes long, last_visit date"
    )
    out = {
        r["host_key"]: r
        for r in adaptive_refresh(df, date(2024, 6, 1), 1, 60).collect()
    }
    assert [out[k]["interval_days"] for k in (1, 2, 3, 4, 5)] == [2, 4, 10, 60, 1]
    assert out[4]["next_due"] == date(2024, 3, 1)
    assert out[6]["due"] is True and out[6]["next_due"] == date(2024, 6, 1)
    assert out[7]["due"] is False
