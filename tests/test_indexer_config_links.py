"""Indexing pipeline (S7/S10/D8-D10 analogs), config source (S8), and
link rewriting (F9)."""

from __future__ import annotations

from datetime import date, datetime, timezone

import pytest

from europarl_crawler_spark.config import EngineConfig
from europarl_crawler_spark.functions.linkkit import rewrite_links, rewrite_links_col
from europarl_crawler_spark.plans import indexer
from europarl_crawler_spark.plans.epoch import CrawlEngine
from europarl_crawler_spark.sources.epochstore import EpochStore
from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

BASE = "https://europarl.europa.eu/doceo/document/x.html"


# --- F9 rewrite_links (golden semantics: reference downloader.py:117-138) ---


def test_rewrite_links_golden():
    html = (
        '<a href="/doceo/y.pdf">y</a>'
        '<img src="img/logo.png">'
        '<script src="https://cdn.example.com/a.js"></script>'
        '<a href="#top">top</a>'
        '<a href="rel.html">r</a>'
    )
    out = rewrite_links(html, BASE)
    assert '<a href="https://europarl.europa.eu/doceo/y.pdf">' in out
    assert '<img src="https://europarl.europa.eu/doceo/document/img/logo.png">' in out
    assert 'src="https://cdn.example.com/a.js"' in out  # absolute untouched
    assert 'href="#top"' in out  # fragment untouched
    assert '<a href="https://europarl.europa.eu/doceo/document/rel.html">' in out


def test_rewrite_links_column(spark):
    df = spark.createDataFrame([('<a href="a.html">x</a>', BASE)], "html string, base string")
    got = df.select(rewrite_links_col("html", "base").alias("out")).first().out
    assert got == '<a href="https://europarl.europa.eu/doceo/document/a.html">x</a>'


# --- S8 config ---------------------------------------------------------------


def test_config_from_ini(tmp_path):
    ini = tmp_path / "settings.ini"
    ini.write_text(
        "[TokenBucketWorker]\nMinIntervalSecs = 5\nThrottlingFactor = 4\n"
        "[General]\nPrefetchLimit = 10\n[Engine]\nEpochSecs = 120\nUseBloom = false\n"
    )
    cfg = EngineConfig.from_ini(str(ini))
    assert cfg.min_interval_secs == 5.0
    assert cfg.prefetch_limit == 10
    assert cfg.epoch_secs == 120.0


# --- indexing pipeline --------------------------------------------------------


@pytest.fixture(scope="module")
def crawled_store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("idx")
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=12)
    simulated_web(spark, days).write.parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    store = EpochStore(root / "store")
    eng = CrawlEngine(spark, store, web, prefetch_limit=50, epoch_secs=600.0)
    eng.bootstrap(days)
    eng.run(3, start=datetime(2021, 1, 1, tzinfo=timezone.utc))
    return store


def test_index_epoch_idempotent(spark, crawled_store):
    r1 = indexer.index_epoch(crawled_store, spark)
    assert r1["indexed"] > 0
    idx = crawled_store.read("index_docs", spark)
    n = idx.count()
    assert n == idx.select("image_id").distinct().count()
    # second pass: nothing new to index
    r2 = indexer.index_epoch(crawled_store, spark)
    assert r2["indexed"] == 0
    assert crawled_store.read("index_docs", spark).count() == n
    # schema carries the serving fields (europarl_index.json analog)
    cols = set(idx.columns)
    assert {"image_id", "url", "language", "filetype", "filesize", "caption",
            "phash", "session_date", "downloaded_at"} <= cols


def test_unindex_by_rule_and_reindex(spark, crawled_store):
    idx = crawled_store.read("index_docs", spark)
    some_rule = idx.select("rulename").first().rulename
    n_rule = idx.filter(f"rulename = '{some_rule}'").count()
    n_total = idx.count()
    r = indexer.unindex_by_rule(crawled_store, spark, some_rule)
    assert r["unindexed"] == n_rule
    assert crawled_store.read("index_docs", spark).count() == n_total - n_rule
    rr = indexer.reindex(crawled_store, spark)
    assert rr["rows"] == n_total - n_rule
    ms = crawled_store.manifests("index_docs")
    assert ms[-1]["kind"] == "base"
