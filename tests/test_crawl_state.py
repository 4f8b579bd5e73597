"""The crawl-state frame: ``frontier ⟕ url_state`` answers every per-URL
question the epoch asks. Over hand-built rows, each answer read off it
equals the frontier-to-url_state join that once computed it on its own."""

from __future__ import annotations

from datetime import date, datetime, timezone

from pyspark.sql import functions as F

from europarl_crawler_spark.plans.frontier import (
    BAND,
    RECRAWL_BAND,
    SESSION_DAY_RULE_ID,
    confirmed_days,
    crawl_state,
    drain_candidates,
    recrawl_priority_expr,
    spaced_refresh_keep_expr,
)
from europarl_crawler_spark.sources import schema as S

NOW = date(2021, 1, 2)
OK_AT = datetime(2021, 1, 1, 10, 0, tzinfo=timezone.utc)


def _frames(spark):
    # (url_id, date_id, rule_id, dates, url, url_hash, host_hash, salt,
    #  priority, created_epoch)
    frontier = spark.createDataFrame(
        [
            (1, 10, 2, date(2020, 12, 31), "doc-unfetched", 1, 9, 0, 5, 1),
            (2, 11, 1, date(2020, 12, 1), "probe-404", 2, 9, 0, 1, 1),
            (3, 12, 1, date(2020, 12, 2), "probe-200", 3, 9, 0, 2, 1),
            (4, 13, 1, date(2020, 12, 3), "probe-503", 4, 9, 0, 3, 1),
            (5, 14, 2, date(2020, 12, 31), "doc-200", 5, 9, 0, 6, 1),
        ],
        S.FRONTIER,
    )
    # (url_id, terminal, has_ok, last_ok_at, last_ok_epoch)
    url_state = spark.createDataFrame(
        [
            (2, True, False, None, None),
            (3, True, True, OK_AT, 1),
            (4, False, False, None, None),
            (5, True, True, OK_AT, 1),
        ],
        S.URL_STATE,
    )
    return frontier, url_state


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_confirmed_days_equal_the_join_form(spark):
    frontier, url_state = _frames(spark)
    joined = (
        frontier.filter(F.col("rule_id") == SESSION_DAY_RULE_ID)
        .select("url_id", "dates")
        .join(url_state.filter(F.col("has_ok")).select("url_id"), "url_id")
        .select("dates")
        .distinct()
    )
    got = confirmed_days(crawl_state(frontier, url_state))
    assert _rows(got) == _rows(joined) == [(date(2020, 12, 2),)]


def test_pending_filter_equals_the_terminal_anti_join(spark):
    frontier, url_state = _frames(spark)
    terminal = url_state.filter(F.col("terminal")).select("url_id")
    joined = frontier.join(terminal, "url_id", "left_anti")
    state = crawl_state(frontier, url_state)
    got = state.filter(~F.col("terminal").eqNullSafe(True)).select(
        *S.FRONTIER.fieldNames()
    )
    assert got.columns == joined.columns
    assert _rows(got) == _rows(joined)
    assert sorted(r.url_id for r in got.collect()) == [1, 4]


def test_recrawl_candidates_equal_the_join_form(spark):
    frontier, url_state = _frames(spark)
    midnight = datetime(NOW.year, NOW.month, NOW.day, tzinfo=timezone.utc)
    joined = (
        frontier.filter(F.col("rule_id") != SESSION_DAY_RULE_ID)
        .filter(spaced_refresh_keep_expr(F.datediff(F.lit(NOW), F.col("dates"))))
        .join(
            url_state.filter(F.col("has_ok")).select("url_id", "last_ok_at"),
            "url_id",
        )
        .filter(F.col("last_ok_at") < F.lit(midnight))
        .withColumn("priority", recrawl_priority_expr("dates", "rule_id").cast("long"))
        .drop("last_ok_at")
    )
    got = drain_candidates(crawl_state(frontier, url_state), NOW).filter(
        F.col("priority") >= RECRAWL_BAND * BAND
    )
    assert got.columns == S.FRONTIER.fieldNames()
    assert _rows(got) == _rows(joined.select(*got.columns))
    assert [r.url_id for r in got.collect()] == [5]


def test_drain_candidates_equal_pending_union_recrawl(spark):
    """One filter over the crawl state equals the union it replaced:
    pending rows (``terminal`` not true) ∪ the O8 recrawl filters, over a
    never-fetched URL, a 404, a 503-only URL, a 200 doc due for recrawl, a
    200 doc not yet due and a 200 probe."""
    rows = [
        (1, 10, 2, date(2020, 12, 31), "never-fetched", 1, 9, 0, 5, 1),
        (2, 11, 2, date(2020, 12, 20), "doc-404", 2, 9, 0, 6, 1),
        (3, 12, 2, date(2020, 12, 21), "doc-503-only", 3, 9, 1, 7, 1),
        (4, 13, 2, date(2020, 12, 31), "doc-200-due", 4, 9, 1, 8, 1),
        # age 17 days: past daily, odd, not a multiple of 5: not due
        (5, 14, 2, date(2020, 12, 16), "doc-200-not-due", 5, 9, 2, 9, 1),
        (6, 15, 1, date(2020, 12, 31), "probe-200", 6, 9, 2, 1, 1),
    ]
    frontier = spark.createDataFrame(rows, S.FRONTIER)
    url_state = spark.createDataFrame(
        [
            (2, True, False, None, None),
            (3, False, False, None, None),
            (4, True, True, OK_AT, 1),
            (5, True, True, OK_AT, 1),
            (6, True, True, OK_AT, 1),
        ],
        S.URL_STATE,
    )
    state = crawl_state(frontier, url_state)
    midnight = datetime(NOW.year, NOW.month, NOW.day, tzinfo=timezone.utc)
    pending = state.filter(~F.col("terminal").eqNullSafe(True)).select(
        *S.FRONTIER.fieldNames()
    )
    recrawl = (
        state.filter(F.col("rule_id") != SESSION_DAY_RULE_ID)
        .filter(spaced_refresh_keep_expr(F.datediff(F.lit(NOW), F.col("dates"))))
        .filter(F.col("has_ok") & (F.col("last_ok_at") < F.lit(midnight)))
        .withColumn("priority", recrawl_priority_expr("dates", "rule_id").cast("long"))
        .select(*S.FRONTIER.fieldNames())
    )
    union = pending.unionByName(recrawl)
    got = drain_candidates(state, NOW)
    assert got.dtypes == union.dtypes
    assert _rows(got) == _rows(union)
    assert {r.url_id: r.priority >= RECRAWL_BAND * BAND for r in got.collect()} == {
        1: False, 3: False, 4: True,
    }
