"""spark-submit entry point for the maintenance lanes — the operator-facing
twin of the reference's ``eurocli`` maintenance commands
(reference: europarl/eurocli.py:134-266):

    eurocli postprocessing reset [--rule R]  → reset-postprocessing
    (postprocessing worker re-run)           → reextract
    eurocli indexing start                   → index
    (indexer delete pass + reset_unindex)    → unindex
    eurocli indexing reset --rule R          → unindex-rule
    eurocli indexing reindex                 → reindex
    (caption text lane)                      → text-features
    (crawler shutdown cleanup, D4)           → shutdown-compact
    (Iceberg rewrite_data_files analog)      → compact-table
    (rewrite_data_files sort=zorder analog)  → rewrite-zorder
    (Iceberg expire_snapshots analog)        → expire

Usage:

    spark-submit --py-files europarl_crawler_spark.zip \
        -m europarl_crawler_spark.jobs.maintenance_job -- \
        --store /data/crawlstore reset-postprocessing --rule protocol_en_pdf
    ... reextract --web /data/web
    ... index --limit 500

A command that writes a crawl table (reset-postprocessing, reextract,
shutdown-compact, compact-table and rewrite-zorder of a crawl table) is a
crawl-table writer: it opens the ledger's next epoch
(``plans/epoch.py::open_epoch``, which rolls back what a crash left above
the ledger), commits there and ends with its ledger row. Like the crawl, it
must not run while another crawl-table writer does. The other commands only
read crawl tables and delete nothing: ``index`` and ``text-features`` read
``documents`` as of the ledger head, so they never serve an epoch still in
flight, and ``expire`` of a crawl table drops only commits older than the
newest base at or below the ledger head, never below a base that a later
rollback would remove. They are safe to run beside a crawl.

Each command prints one JSON line with the action's row counts; all actions
are idempotent (keyed merges/tombstones over EpochStore snapshots), so a
failed run is safely re-runnable — the reference gets the same property from
delete-then-index and flag resets (workers/indexer.py:56-75,
db/documents.py:287-359).
"""

from __future__ import annotations

import argparse
import json


def main(argv=None) -> dict:
    p = argparse.ArgumentParser(prog="maintenance_job")
    p.add_argument("--store", required=True, help="EpochStore root directory")
    p.add_argument(
        "--web",
        help="content-store parquet dir (required for reextract)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    reset = sub.add_parser(
        "reset-postprocessing",
        help="drop extraction results (all docs or one rule's) and queue "
        "currently-served victims for unindexing (D9)",
    )
    reset.add_argument("--rule", default=None)
    sub.add_parser("reextract", help="re-run extraction for every fetched-OK URL")
    index = sub.add_parser("index", help="merge unindexed docs into the serving table")
    index.add_argument("--limit", type=int, default=None)
    sub.add_parser(
        "unindex",
        help="drop queued ids from the serving table, clear the queue (D10)",
    )
    unindex_rule = sub.add_parser(
        "unindex-rule", help="drop one rule's rows from the serving table"
    )
    unindex_rule.add_argument("--rule", required=True)
    sub.add_parser(
        "reindex", help="materialize a fresh serving-table base snapshot (S10)"
    )
    sub.add_parser(
        "text-features", help="run the caption text lane into doc_text_stats (F8)"
    )
    sub.add_parser(
        "shutdown-compact",
        help="drop never-requested frontier rows and compact (D4)",
    )
    ct = sub.add_parser(
        "compact-table",
        help="fold one table's base+deltas into a fresh base snapshot "
        "(Iceberg rewrite_data_files: bounds read amplification AND, with "
        "--target-partitions, the small-file count)",
    )
    ct.add_argument("--table", required=True)
    ct.add_argument("--target-partitions", type=int, default=None)
    zo = sub.add_parser(
        "rewrite-zorder",
        help="rewrite one table clustered by the Morton interleave of two "
        "columns (Iceberg rewrite_data_files sort strategy zorder(x, y): "
        "makes the manifests' per-file min/max a usable index on BOTH "
        "columns for predicated EpochStore.read calls)",
    )
    zo.add_argument("--table", required=True)
    zo.add_argument("--x-col", required=True)
    zo.add_argument("--x-lo", type=int, required=True)
    zo.add_argument("--x-hi", type=int, required=True)
    zo.add_argument("--y-col", required=True)
    zo.add_argument("--y-lo", type=int, required=True)
    zo.add_argument("--y-hi", type=int, required=True)
    zo.add_argument("--n-files", type=int, default=64)
    ex = sub.add_parser(
        "expire",
        help="drop epochs superseded by the newest base snapshot (Iceberg "
        "expire_snapshots: bounds the store footprint; expired time travel "
        "and pre-watermark incremental reads raise afterwards)",
    )
    ex.add_argument("--table", required=True)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ..plans import indexer
    from ..plans.epoch import CRAWL_TABLES, CrawlEngine, commit_epoch, ledger_head, open_epoch
    from ..sources import schema as S
    from ..sources.epochstore import EpochStore

    spark = SparkSession.builder.appName("europarl-maintenance").getOrCreate()
    store = EpochStore(args.store)
    crawl = getattr(args, "table", None) in CRAWL_TABLES

    def engine():
        if not args.web:
            p.error(f"{args.cmd} requires --web (the content-store parquet dir)")
        web = spark.read.parquet(args.web)
        return CrawlEngine(spark, store, web)

    if args.cmd == "reset-postprocessing":
        out = indexer.reset_postprocessing(store, spark, rulename=args.rule)
    elif args.cmd == "reextract":
        out = engine().reextract()
    elif args.cmd == "index":
        out = indexer.index_epoch(store, spark, limit=args.limit)
    elif args.cmd == "unindex":
        out = indexer.process_unindex(store, spark)
    elif args.cmd == "unindex-rule":
        out = indexer.unindex_by_rule(store, spark, rulename=args.rule)
    elif args.cmd == "reindex":
        out = indexer.reindex(store, spark)
    elif args.cmd == "text-features":
        out = indexer.text_features_epoch(store, spark)
    elif args.cmd == "shutdown-compact":
        # shutdown-compact touches only frontier/url_state; a content store
        # is unnecessary — build the engine with an empty web frame
        eng = CrawlEngine(spark, store, S.local_df(spark, [], S.WEB))
        eng.shutdown_compact()
        out = {"compacted": True}
    elif args.cmd in ("compact-table", "rewrite-zorder"):
        # a crawl table commits on the crawl clock, any other on its own chain
        nxt = open_epoch(store) if crawl else (store.latest(args.table) or 0) + 1
        if args.cmd == "compact-table":
            out = store.compact(
                args.table, spark, nxt, target_partitions=args.target_partitions
            )
        else:
            out = store.rewrite_sorted(
                args.table,
                spark,
                nxt,
                args.x_col,
                (args.x_lo, args.x_hi),
                args.y_col,
                (args.y_lo, args.y_hi),
                n_files=args.n_files,
            )
            out = {k: v for k, v in out.items() if k != "file_stats"}
        if crawl:
            commit_epoch(store, spark, nxt)
    elif args.cmd == "expire":
        out = store.expire(args.table, as_of=ledger_head(store) if crawl else None)
    out = {"cmd": args.cmd, **out}
    print(json.dumps(out, default=str), flush=True)
    return out


if __name__ == "__main__":
    main()
