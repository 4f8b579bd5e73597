"""Output checks behind ``failed`` and the output fingerprint.

All run untimed, after the measured epochs, against the engine's store.
Each check returns the set of crawl epochs it finds broken, so a failure
counts against the epoch that produced it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from .inputs import EPOCH_SECS, table_hash


def drain_counts(stats: list[dict], expected: int) -> set[int]:
    """Every measured epoch drains exactly the workload's expected count."""
    return {s["epoch"] for s in stats if s["drained"] != expected}


def budget_audit(spark, store, last_epoch: int) -> set[int]:
    """``plans.politeness.budget_audit`` over the whole request log, against
    the politeness state in force at each epoch (the snapshot committed by
    the epoch before it)."""
    from europarl_crawler_spark.plans.politeness import budget_audit as audit

    requests = store.read("requests", spark)
    snaps = [
        store.read("politeness", spark, as_of=e)
        .select("host_hash", "interval_secs")
        .withColumn("epoch", F.lit(e).cast("long"))
        for e in range(1, last_epoch + 1)
    ]
    hist = reduce(lambda a, b: a.unionByName(b), snaps)
    bad = audit(requests, hist, epoch_secs=EPOCH_SECS).select("epoch").distinct()
    return {r["epoch"] for r in bad.collect()}


def documents_fetched(spark, store) -> set[int]:
    """Every documents.url_id has a 200 row in requests."""
    ok = store.read("requests", spark).filter(F.col("status_code") == 200)
    docs = store.read("documents", spark)
    bad = docs.join(ok.select("url_id"), "url_id", "left_anti").select("epoch").distinct()
    return {r["epoch"] for r in bad.collect()}


def frontier_unique(spark, store) -> bool:
    """The frontier's url_id is unique.

    ``read`` resolves keyed tables latest-wins, so a url_id committed twice
    is hidden from it. The crawl loop only ever adds rows to the frontier
    (one base, then merge deltas of new URLs), so the rows the live commits
    wrote must equal the distinct url_ids the resolved view holds."""
    ms = store.manifests("frontier")
    base = max((i for i, m in enumerate(ms) if m["kind"] == "base"), default=0)
    committed = sum(m["rows"] for m in ms[base:])
    resolved = store.read("frontier", spark).agg(F.countDistinct("url_id")).first()[0]
    return committed == resolved


def output_fingerprint(spark, store, as_of: int) -> dict:
    """Order-insensitive hashes of ``requests`` and ``documents`` as of a
    fixed epoch, so runs of any length fingerprint the same prefix."""
    req = store.read("requests", spark, as_of=as_of)
    docs = store.read("documents", spark, as_of=as_of)
    return {
        "as_of_epoch": as_of,
        "requests": table_hash(req, ["url_id", "epoch", "status_code", "drain_seq"]),
        "documents": table_hash(docs, ["image_id", "phash", "caption"]),
    }


def run_all(spark, store, stats: list[dict], expected: int, fp_epoch: int) -> tuple[set[int], dict]:
    """(broken measured epochs, output fingerprint)."""
    epochs = {s["epoch"] for s in stats}
    last = max(epochs)
    bad = drain_counts(stats, expected)
    bad |= budget_audit(spark, store, last)
    bad |= documents_fetched(spark, store)
    if not frontier_unique(spark, store):
        bad |= epochs
    # a broken warm-up epoch taints the first measured one
    first = min(epochs)
    bad = {e if e >= first else first for e in bad}
    return bad & epochs, output_fingerprint(spark, store, fp_epoch)
