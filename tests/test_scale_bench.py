"""The N→4N scaling harness runs the production crawl loop: each
executor-process of ``jobs/scale_bench.py`` drives ``CrawlEngine.run_epoch``
over its host shard of a pre-seeded multi-host frontier."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from europarl_crawler_spark.functions.urlkit import host_hash_expr
from europarl_crawler_spark.jobs import scale_bench
from europarl_crawler_spark.plans.epoch import CrawlEngine

HOSTS = 6  # host shards 5 + 1 (the host-hash split is deterministic)


def test_scale_bench_shards_drive_run_epoch(spark, tmp_path, monkeypatch, capsys):
    calls = []
    run_epoch = CrawlEngine.run_epoch

    def spy(self, *a, **kw):
        calls.append(self.store.root)
        return run_epoch(self, *a, **kw)

    monkeypatch.setattr(CrawlEngine, "run_epoch", spy)
    web = str(tmp_path / "web")
    runs = []
    for shard in (0, 1):
        scale_bench.main([
            "--hosts", str(HOSTS), "--urls-per-host", "250", "--epochs", "1",
            "--web", web, "--store", str(tmp_path / f"store{shard}"),
            "--host-shard", str(shard), "--host-shards", "2",
        ])
        out = capsys.readouterr().out
        runs.append(json.loads([l for l in out.splitlines() if l.startswith("{")][-1]))

    # a warm-up and one timed epoch per shard, each on its shard's store
    assert [root.name for root in calls] == ["store0", "store0", "store1", "store1"]
    # the harness's host-shard filter: _shard % 2 of the web's 16 shards
    hosts = {
        r["s"]: r["n"]
        for r in spark.read.parquet(web)
        .groupBy((F.col("_shard") % 2).alias("s"))
        .agg(F.countDistinct(host_hash_expr("url")).alias("n"))
        .collect()
    }
    assert hosts[0] > 0 and hosts[1] > 0
    for shard, r in enumerate(runs):
        # every host drains exactly the bucket cap of 100 URLs an epoch
        assert r["urls_fetched"] == 100 * hosts[shard]
        assert r["politeness_violations"] == 0
    assert sum(r["urls_fetched"] for r in runs) == 100 * HOSTS
