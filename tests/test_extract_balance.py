"""The extract stage runs at the cluster's width whatever the content
store's file layout.

An epoch drains a contiguous id block, which lands in one scan split of the
store; decoding on the scan's own partitions therefore ran on one core.
``extract_documents`` filters the store in place (no exchange between the
scan and the left-semi filter), hash-repartitions only the hit rows into
``defaultParallelism`` partitions for the decode, and ends with an
AQE-coalescable key repartition that sizes the ``documents`` files.
"""

from __future__ import annotations

import re
from datetime import date, datetime, timezone

import pytest

from pyspark.sql import functions as F

from europarl_crawler_spark.functions.rules import rules_df
from europarl_crawler_spark.plans.fetch import extract_documents, simulate_requests
from europarl_crawler_spark.sources.synthetic import (
    candidate_urls,
    session_days_df,
    simulated_web,
)

NOW = datetime(2021, 1, 1, tzinfo=timezone.utc)
DOC_COLS = ["image_id", "phash", "caption", "url"]


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    """The toy web written as ONE file (one scan partition) and as eight,
    plus one epoch's fetched batch and the rules dimension, each in a single
    partition, so the only wide stage left in the extract is the one under
    test."""
    root = tmp_path_factory.mktemp("extract-balance")
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=10)
    web = simulated_web(spark, days).cache()
    web.coalesce(1).write.parquet(str(root / "web1"))
    web.repartition(8, "url_hash").write.parquet(str(root / "web8"))
    web.unpersist()
    web1 = spark.read.parquet(str(root / "web1"))
    web8 = spark.read.parquet(str(root / "web8"))
    assert web1.rdd.getNumPartitions() == 1
    assert web8.rdd.getNumPartitions() > 1
    drained = candidate_urls(spark, days).select(
        F.xxhash64("rule_id", "url").alias("url_id"),
        "rule_id", "dates", "url", "url_hash", "host_hash",
    )
    fetched = simulate_requests(drained, web1, 2, NOW).coalesce(1).cache()
    assert fetched.filter(F.col("status_code") == 200).count() > 0
    rules = rules_df(spark).coalesce(1)
    yield dict(web1=web1, web8=web8, fetched=fetched, rules=rules)
    fetched.unpersist()


def _rows(df):
    return sorted(tuple(r) for r in df.select(*DOC_COLS).collect())


def test_documents_independent_of_store_layout(world):
    one = _rows(extract_documents(world["fetched"], world["web1"], world["rules"]))
    many = _rows(extract_documents(world["fetched"], world["web8"], world["rules"]))
    assert one and one == many


def test_plan_filters_store_in_place_and_balances_decode(spark, world):
    docs = extract_documents(world["fetched"], world["web8"], world["rules"])
    # the plan before execution, before AQE wraps exchanges in query stages
    lines = docs._jdf.queryExecution().executedPlan().toString().splitlines()
    width = spark.sparkContext.defaultParallelism

    # the MapInPandas child is the decode-balance exchange
    i = next(k for k, ln in enumerate(lines) if "MapInPandas" in ln)
    assert re.search(
        rf"Exchange hashpartitioning\(url_hash#\d+L, {width}\), REPARTITION_BY_NUM",
        lines[i + 1],
    ), lines[i + 1]

    # the left-semi filter sits directly on the store scan: between the
    # join and the scan of the payload column there is no exchange
    j = next(k for k, ln in enumerate(lines) if "LeftSemi" in ln)
    scan = next(
        k for k in range(j, len(lines))
        if "FileScan parquet" in lines[k] and "bytes#" in lines[k]
    )
    assert not any("Exchange" in ln for ln in lines[j:scan]), lines[j:scan + 1]


def test_decode_runs_at_default_parallelism_on_one_file_store(spark, world):
    sc = spark.sparkContext
    group = "extract-balance-width"
    sc.setJobGroup(group, "extract over a one-partition store")
    try:
        extract_documents(
            world["fetched"], world["web1"], world["rules"]
        ).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    tasks = [
        st.getStageInfo(sid).numTasks
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
        if st.getStageInfo(sid) is not None
    ]
    assert max(tasks) == sc.defaultParallelism, tasks
