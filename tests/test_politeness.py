"""Token-bucket truth tables ported verbatim from the reference
(tests/workers/test_tokenbucket.py:56-210)."""

from __future__ import annotations

import pytest

from europarl_crawler_spark.plans.politeness import (
    MIN_INTERVAL_SECS,
    TokenBucket,
)


@pytest.mark.parametrize(
    "status_codes,throttles,unthrottles",
    [
        ([200], 0, 1),
        ([100], 0, 0),
        ([300], 0, 0),
        ([400], 0, 0),
        ([500], 1, 0),
        ([408], 0, 0),
        ([429], 1, 0),
        ([200, 100, 408], 0, 1),
        ([200, 100, 500], 1, 0),
        # boundary: reference uses range(500,599) → 598 throttles, 599 doesn't
        ([598], 1, 0),
        ([599], 0, 0),
        ([460], 1, 0),
        ([404], 0, 1),
    ],
)
def test_apply_throttling_truth_table(status_codes, throttles, unthrottles):
    tb = TokenBucket()
    calls = {"t": 0, "u": 0}
    tb.throttle = lambda: calls.__setitem__("t", calls["t"] + 1)  # type: ignore[method-assign]
    tb.unthrottle = lambda: calls.__setitem__("u", calls["u"] + 1)  # type: ignore[method-assign]
    tb.apply_throttling(status_codes)
    assert calls["t"] == throttles
    assert calls["u"] == unthrottles


def test_throttle_doubles_with_2pow16_cap():
    tb = TokenBucket()
    for i in range(20):
        old = tb.interval_secs
        tb.throttle()
        if i < 16:
            assert tb.interval_secs == 2 * old
        else:
            assert tb.interval_secs == old
    assert tb.interval_secs == MIN_INTERVAL_SECS * (2**16)


def test_unthrottle_halves_with_floor():
    tb = TokenBucket()
    for _ in range(16):
        tb.throttle()
    assert tb.interval_secs == MIN_INTERVAL_SECS * (2**16)
    for i in range(20):
        old = tb.interval_secs
        tb.unthrottle()
        if i < 16:
            assert tb.interval_secs == old / 2
        else:
            assert tb.interval_secs == old
    assert tb.interval_secs == MIN_INTERVAL_SECS


@pytest.mark.parametrize(
    # (reference tests/workers/test_tokenbucket.py:56-110): fire only when
    # now > next_check; window advances and next_check = now + I*factor
    "now_offset,next_offset,fires",
    [(0.0, 5.0, False), (10.0, 10.0, False), (11.0, 10.0, True)],
)
def test_check_throttling_cadence(now_offset, next_offset, fires):
    t0 = 1_000_000.0
    tb = TokenBucket()
    tb.last_check = t0
    tb.next_check = t0 + next_offset
    fired = tb.check_throttling(t0 + now_offset, [200])
    assert fired is fires
    if fires:
        assert tb.last_check == t0 + now_offset
        assert tb.next_check == t0 + now_offset + tb.interval_secs * tb.throttling_factor
    else:
        assert tb.last_check == t0
        assert tb.next_check == t0 + next_offset


def test_epoch_budget_capped_at_bucket_capacity():
    tb = TokenBucket()
    assert tb.epoch_budget(30.0) == 10  # 30s / 3s
    assert tb.epoch_budget(3_000_000.0) == 100  # bucket cap
    tb.throttle()
    assert tb.epoch_budget(30.0) == 5


def test_distributed_update_matches_tokenbucket(spark):
    """The data-plane state machine (politeness_update/status_flags_agg/
    budget_expr column expressions) must be bit-identical to TokenBucket over
    randomized multi-epoch per-host code sequences — including hosts that
    skip epochs, cadence non-fires, and the 2^16 cap."""
    import random

    from pyspark.sql import functions as F

    from europarl_crawler_spark.plans.politeness import (
        host_budgets,
        politeness_update,
        status_flags_agg,
    )
    from europarl_crawler_spark.sources.schema import POLITENESS

    rng = random.Random(7)
    hosts = list(range(12))
    code_pool = [200, 404, 408, 429, 460, 500, 503, 598, 599, 100, 300]
    epoch_secs = 600.0
    n_epochs = 8

    # oracle: one TokenBucket per host
    buckets = {h: TokenBucket() for h in hosts}

    pol = spark.createDataFrame([], POLITENESS).drop("epoch")
    for e in range(1, n_epochs + 1):
        now = 1_000_000.0 + e * epoch_secs
        events = []
        active = rng.sample(hosts, rng.randint(0, len(hosts)))
        for h in active:
            for _ in range(rng.randint(1, 4)):
                events.append((h, rng.choice(code_pool)))
        if events:
            fetched = spark.createDataFrame(
                events, "host_hash long, status_code int"
            )
            pol = politeness_update(pol, status_flags_agg(fetched), now)
            # materialize to freeze the iteration (same as the table write)
            pol = spark.createDataFrame(pol.collect(), pol.schema)
        for h in active:
            codes = sorted({c for hh, c in events if hh == h})
            buckets[h].check_throttling(now, codes)

        got = {r.host_hash: r for r in pol.collect()}
        for h in hosts:
            b = buckets[h]
            if h in got:
                r = got[h]
                assert r.interval_secs == b.interval_secs, (e, h)
                assert r.last_check == b.last_check, (e, h)
                assert r.next_check == b.next_check, (e, h)
            else:
                # never-seen host ⇒ still default state
                assert b.interval_secs == MIN_INTERVAL_SECS
                assert b.next_check is None

    # budget parity for every host (known and unknown)
    pending = spark.createDataFrame([(h,) for h in hosts], "host_hash long")
    want = {h: buckets[h].epoch_budget(epoch_secs) for h in hosts}
    got_b = {
        r.host_hash: r.budget
        for r in host_budgets(pending, pol, epoch_secs).collect()
    }
    for h in hosts:
        assert got_b.get(h, 0) == want[h], h


def test_host_budgets_lookup_equals_the_distinct_host_form(spark):
    """Each pending row's budget, looked up from the politeness table and
    the crawl delays, equals the budget of the old form: distinct pending
    hosts, their budgets, joined back into the rows. Hosts: one in
    politeness only, one with a Crawl-delay only, one with both, one with
    neither, and one whose budget is 0, which contributes no rows."""
    from pyspark.sql import functions as F

    from europarl_crawler_spark.plans.politeness import budget_expr, host_budgets
    from europarl_crawler_spark.plans.robots import DELAY_SCHEMA
    from europarl_crawler_spark.sources.schema import POLITENESS

    epoch_secs = 600.0
    # (url_id, host_hash): hosts 1 politeness only, 2 delay only, 3 both,
    # 4 neither, 5 backed off past the epoch (budget 0)
    pending = spark.createDataFrame(
        [(u, h) for h in (1, 2, 3, 4, 5) for u in range(10 * h, 10 * h + 3)],
        "url_id long, host_hash long",
    )
    politeness = spark.createDataFrame(
        [(1, 24.0, 1.0, 2.0), (3, 12.0, None, None), (5, 1200.0, 1.0, 2.0)],
        POLITENESS,
    )
    delays = spark.createDataFrame([(2, 60.0), (3, 30.0)], DELAY_SCHEMA)

    hosts = pending.select("host_hash").distinct()
    budgets = (
        hosts.join(politeness.select("host_hash", "interval_secs"), "host_hash", "left")
        .join(delays, "host_hash", "left")
        .select(
            "host_hash",
            budget_expr(
                F.greatest(
                    F.coalesce("interval_secs", F.lit(MIN_INTERVAL_SECS)),
                    F.coalesce("crawl_delay", F.lit(0.0)),
                ),
                epoch_secs,
            ).alias("budget"),
        )
        .filter(F.col("budget") > 0)
    )
    want = pending.join(budgets, "host_hash")
    got = host_budgets(pending, politeness, epoch_secs, crawl_delays=delays)

    def rows(df):
        return sorted((r.url_id, r.host_hash, r.budget) for r in df.collect())

    assert rows(got) == rows(want)
    assert {r.host_hash: r.budget for r in got.collect()} == {1: 25, 2: 10, 3: 20, 4: 100}


def test_asof_throttle_audit_time_varying_interval(spark):
    import datetime as dt

    from europarl_crawler_spark.plans.politeness import asof_throttle_audit

    T = dt.datetime
    # host 1: gap 60 s audited at default 30 s → OK; then a 429 at :70
    # tightens to 600 s → the :100 request (gap 30 s) violates; host 2
    # never updates → default applies
    reqs = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 0, 0, 0)),
            (1, 11, T(2024, 1, 1, 0, 1, 0)),
            (1, 12, T(2024, 1, 1, 0, 1, 10)),  # the 429
            (1, 13, T(2024, 1, 1, 0, 1, 40)),  # gap 30 s < 600 → violation
            (2, 20, T(2024, 1, 1, 0, 0, 0)),
            (2, 21, T(2024, 1, 1, 0, 0, 10)),  # gap 10 s < default 30
        ],
        "host_key long, request_id long, requested_at timestamp",
    )
    updates = spark.createDataFrame(
        [(1, T(2024, 1, 1, 0, 1, 10, 1), 600)],
        "host_key long, uts timestamp, interval_secs long",
    )
    got = {
        (r.host_key, r.request_id): (r.gap_us, r.eff_interval_s)
        for r in asof_throttle_audit(reqs, updates, 30).collect()
    }
    # request 12 (gap 10 s) violates the DEFAULT (its own update takes
    # effect 1 µs later); request 13 violates the tightened interval
    assert got == {
        (1, 12): (10_000_000, 30),
        (1, 13): (30_000_000, 600),
        (2, 21): (10_000_000, 30),
    }
