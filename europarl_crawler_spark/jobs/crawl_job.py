"""spark-submit entry point for the crawl engine.

    spark-submit --master <...> --py-files europarl_crawler_spark.zip \
        -m europarl_crawler_spark.jobs.crawl_job -- \
        --store /data/crawlstore --web /data/web --epochs 10

Resumable: re-running against the same --store continues after the last
epoch of the store's ``epochs`` ledger, whose row is each epoch's commit
point; whatever a crashed run committed above it is rolled back first
(plans/epoch.py ``open_epoch``), so the re-run epoch reaches the tables an
uninterrupted run would. That rollback would also remove a live run's epoch
in flight: run one crawl (or crawl-table maintenance writer) per store at a
time. Prints one JSON line per epoch.
"""

from __future__ import annotations

import argparse
import json
from datetime import date, datetime, timezone


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--store", required=True, help="EpochStore root directory")
    p.add_argument("--web", required=True, help="content-store parquet dir (generated if missing)")
    p.add_argument("--days", type=int, default=60, help="seed-day count when generating")
    p.add_argument("--start-date", default="2019-07-02")
    p.add_argument("--epochs", type=int, default=1)
    p.add_argument("--prefetch-limit", type=int, default=50)
    p.add_argument("--epoch-secs", type=float, default=300.0)
    p.add_argument("--shutdown-compact", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ..plans.epoch import CrawlEngine
    from ..sources.epochstore import EpochStore
    from ..sources.synthetic import session_days_df, simulated_web

    spark = SparkSession.builder.appName("europarl-crawl").getOrCreate()
    start = date.fromisoformat(args.start_date)
    days = session_days_df(spark, start=start, n_days=args.days)

    import os

    if not os.path.isdir(args.web):
        simulated_web(spark, days).write.parquet(args.web)
    web = spark.read.parquet(args.web)

    eng = CrawlEngine(
        spark,
        EpochStore(args.store),
        web,
        prefetch_limit=args.prefetch_limit,
        epoch_secs=args.epoch_secs,
    )
    eng.bootstrap(days)
    for s in eng.run(args.epochs, start=datetime.now(timezone.utc)):
        print(json.dumps(s), flush=True)
    if args.shutdown_compact:
        eng.shutdown_compact()


if __name__ == "__main__":
    main()
