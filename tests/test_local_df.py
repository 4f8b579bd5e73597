"""Driver-built frames as local relations: ``sources.schema.local_df``
gives the rows and schema that ``spark.createDataFrame(<python list>)``
gives, builds without a Spark job, and plans as a ``LocalTableScan``
instead of a scan of a parallelized Python list."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from europarl_crawler_spark.functions.rules import RULES, RULES_SCHEMA, rules_df
from europarl_crawler_spark.plans.epoch import LEDGER
from europarl_crawler_spark.sources import schema as S


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df) -> None:
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.mark.parametrize("now", [
    datetime(2021, 1, 1, 3, tzinfo=timezone.utc),
    datetime(2021, 1, 1, 3, tzinfo=timezone(timedelta(hours=2))),
    None,
], ids=["utc", "plus2", "none"])
def test_ledger_row_round_trips_like_a_list(spark, now):
    row = [(3, now, 10, 7, 5, 1)]
    j0 = _jobs(spark)
    got = S.local_df(spark, row, LEDGER)
    assert _jobs(spark) == j0  # built without a Spark job
    want = spark.createDataFrame(row, LEDGER)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    _assert_local(got)


def test_rules_df_keeps_its_schema_and_rows(spark):
    got = rules_df(spark)
    assert got.schema == RULES_SCHEMA  # nullability included
    rows = [
        (i + 1, r.name, r.doc_code, r.infix, r.language, r.filetype, r.active)
        for i, r in enumerate(RULES)
    ]
    assert got.collect() == spark.createDataFrame(rows, RULES_SCHEMA).collect()
    _assert_local(got)


@pytest.mark.parametrize("schema", [S.DOCUMENTS, "doc_id long, band int, bucket long"])
def test_zero_rows_keep_the_schema(spark, schema):
    got = S.local_df(spark, [], schema)
    assert got.schema == spark.createDataFrame([], schema).schema
    assert got.collect() == []
    _assert_local(got)


def test_local_whatever_the_arrow_setting(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = rules_df(spark)
        assert got.count() == len(RULES)
        _assert_local(got)
    finally:
        spark.conf.set(key, prev)
