"""Seeded inputs for the crawl-engine benchmark.

Every input is a pure function of (workload, scale, seed). The engine only
ever sees the generated tables: a simulated web, a session-day calendar,
optionally a pre-seeded frontier and a robots Crawl-delay table.

- ``europarl-steady``: the program's own ``session_days_df`` and
  ``simulated_web``. The seed shifts the calendar start inside a fixed span;
  the web covers the whole span, so it is generated once per checkout and
  cached (keyed by a hash of the program's sources).
- ``multihost-fetch``: a multi-host web and a frontier over every web URL,
  built here. The payloads are the program's own: each URL serves one of the
  europarl web's payloads. The seed picks host/URL naming and which payload
  each URL serves.
- ``deep-frontier``: the europarl calendar and web plus a large frontier on
  parked hosts, whose Crawl-delay exceeds the epoch so they get budget 0.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The politeness bucket caps a host at 100 URLs per epoch; its slowest
# interval is 3 s × 2^16. An epoch at least 100 × that long gives every
# host its full budget whatever the throttle state, so a measured epoch
# drains a known count instead of whatever the token bucket allows.
BUDGET = 100
EPOCH_SECS = 2.0e7
# Parked hosts: a Crawl-delay longer than the epoch yields budget 0.
PARKED_DELAY = 2 * EPOCH_SECS
# multihost-fetch hosts: a Crawl-delay of a fifth of the epoch (far above
# the slowest bucket interval) yields exactly 5 URLs per host per epoch.
HOST_BUDGET = 5
HOST_DELAY = EPOCH_SECS / HOST_BUDGET

CALENDAR_BASE = date(2015, 1, 5)
# frontier rows built here carry one date outside every calendar
OFF_CALENDAR = date(1999, 1, 4)
DOC_PRIORITY_BASE = 10**12

SCALES = {
    "full": dict(days=400, shift=64, hosts=100, urls_per_host=25,
                 parked_rows=200_000, parked_hosts=2_000, max_epochs=3),
    "tiny": dict(days=60, shift=8, hosts=6, urls_per_host=25,
                 parked_rows=2_000, parked_hosts=40, max_epochs=2),
}

WORKLOADS = ("europarl-steady", "multihost-fetch", "deep-frontier")

@dataclass
class Inputs:
    """What one run hands the engine, plus the benchmark's expectations."""

    web: DataFrame
    days: DataFrame
    start: datetime  # simulated clock of warm-up epoch 1
    prefetch_limit: int
    expected_drain: int  # URLs every measured epoch must drain
    max_epochs: int  # measured epochs the inputs can sustain
    frontier: DataFrame | None = None
    crawl_delays: DataFrame | None = None
    fingerprint: dict = field(default_factory=dict)


def table_hash(df: DataFrame, cols: list[str]) -> dict:
    """Row count + an order-insensitive hash (sum of per-row xxhash64,
    reduced mod 2^40 so the sum cannot overflow)."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40))).alias("h"),
    ).first()
    return {"rows": int(r["n"]), "hash": "%016x" % ((r["h"] or 0) & (2**64 - 1))}


def _tag(seed: int) -> str:
    return hashlib.sha1(b"crawlbench-%d" % seed).hexdigest()[:6]


def _frontier_rows(urls: DataFrame) -> DataFrame:
    """Frontier rows (the FRONTIER schema) for (url, j) pairs: one
    session_day-rule row per URL, priority ascending in j, dated outside
    every calendar so neither probes nor doc combos ever touch them."""
    from europarl_crawler_spark.functions.urlkit import (
        host_hash_expr,
        salt_expr,
        url_hash_expr,
    )

    return urls.select(
        F.xxhash64(F.lit(1), "url").alias("url_id"),
        F.xxhash64(F.lit(OFF_CALENDAR)).alias("date_id"),
        F.lit(1).alias("rule_id"),
        F.lit(OFF_CALENDAR).alias("dates"),
        "url",
        url_hash_expr("url").alias("url_hash"),
        host_hash_expr("url").alias("host_hash"),
        salt_expr("url").cast("int").alias("salt"),
        (F.lit(DOC_PRIORITY_BASE) + F.col("j")).cast("long").alias("priority"),
        F.lit(0).alias("created_epoch"),
    )


def _host_urls(spark, n_hosts, per_host, prefix, domain, parts) -> DataFrame:
    j = F.floor(F.col("id") / n_hosts)
    return spark.range(0, n_hosts * per_host, 1, parts).select(
        F.col("id").alias("doc_id"),
        j.alias("j"),
        F.concat(
            F.lit(f"https://{prefix}-"),
            (F.col("id") % n_hosts).cast("string"),
            F.lit(f".{domain}/doc/"),
            j.cast("string"),
        ).alias("url"),
    )


def _source_digest(root: Path) -> str:
    """Digest of every source file of the program and of this file, so any
    change to the code that generates the web invalidates the cached copy."""
    h = hashlib.sha1(Path(__file__).read_bytes())
    pkg = root / "europarl_crawler_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:12]


def _europarl_web(spark: SparkSession, scale: dict, cache: Path, root: Path) -> tuple[Path, dict]:
    """(dir, meta) of the program's simulated web over the whole
    shifted-calendar span, written once per checkout and reused (a pure
    function of the span and the program's sources). ``dir/web`` is the web,
    ``dir/pool`` its payloads numbered by ``slot`` in (format, size) order, and
    meta holds the web's fingerprint and the pool's size."""
    from pyspark.sql import Window

    from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

    span = scale["days"] + scale["shift"]
    d = cache / f"europarl-web-{span}-{_source_digest(root)}"
    if not (d / "_meta.json").exists():
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        days = session_days_df(spark, start=CALENDAR_BASE, n_days=span)
        simulated_web(spark, days).write.parquet(str(tmp / "web"))
        web = spark.read.parquet(str(tmp / "web"))
        web.filter(F.col("bytes").isNotNull()).select(
            (F.row_number().over(Window.orderBy("fmt", "w", "h", "url_hash")) - 1)
            .alias("slot"),
            "bytes", "w", "h", "fmt",
        ).write.parquet(str(tmp / "pool"))
        meta = {
            "web": table_hash(web, WEB_COLS),
            "pool_rows": spark.read.parquet(str(tmp / "pool")).count(),
        }
        (tmp / "_meta.json").write_text(json.dumps(meta))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d, json.loads((d / "_meta.json").read_text())


def _calendar(spark: SparkSession, scale: dict, seed: int):
    from europarl_crawler_spark.sources.synthetic import session_days_df

    start = CALENDAR_BASE + timedelta(days=seed % scale["shift"])
    days = session_days_df(spark, start=start, n_days=scale["days"])
    # the clock starts one probe-offset past the last calendar day, so
    # every day is probe-eligible from epoch 1 (EngineConfig.probe_offset_days)
    end = start + timedelta(days=scale["days"] - 1)
    clock = datetime(end.year, end.month, end.day, 12, tzinfo=timezone.utc)
    return days, clock + timedelta(days=31)


WEB_COLS = ["url_hash", "url", "kind", "bytes", "fmt", "caption", "final_url"]
FRONTIER_COLS = ["url_id", "url_hash", "host_hash", "salt", "priority"]


def build(spark: SparkSession, workload: str, scale_name: str, seed: int,
          work: Path, cache: Path, root: Path) -> Inputs:
    """Generate (or load) the inputs of one workload under ``work``."""
    scale = SCALES[scale_name]
    parts = spark.sparkContext.defaultParallelism * 4
    if workload in ("europarl-steady", "deep-frontier"):
        web_dir, meta = _europarl_web(spark, scale, cache, root)
        days, start = _calendar(spark, scale, seed)
        inp = Inputs(
            web=spark.read.parquet(str(web_dir / "web")), days=days, start=start,
            prefetch_limit=100 if workload == "europarl-steady" else 1000,
            expected_drain=BUDGET,
            # the calendar feeds ~100 new URLs per epoch for far longer
            # than any run lasts
            max_epochs=scale["max_epochs"],
        )
        inp.fingerprint["days"] = table_hash(days, ["date_id", "dates"])
        inp.fingerprint["web"] = meta["web"]
        if workload == "deep-frontier":
            urls = _host_urls(
                spark, scale["parked_hosts"],
                scale["parked_rows"] // scale["parked_hosts"],
                "p" + _tag(seed), "example.net", parts,
            )
            _frontier_rows(urls).write.parquet(str(work / "frontier"))
            inp.frontier = spark.read.parquet(str(work / "frontier"))
            inp.crawl_delays = (
                inp.frontier.select("host_hash").distinct()
                .withColumn("crawl_delay", F.lit(PARKED_DELAY))
            )
            inp.crawl_delays.write.parquet(str(work / "delays"))
            inp.crawl_delays = spark.read.parquet(str(work / "delays"))
            inp.fingerprint["frontier"] = table_hash(inp.frontier, FRONTIER_COLS)
        return inp

    if workload != "multihost-fetch":
        raise ValueError(f"unknown workload {workload!r}")
    from europarl_crawler_spark.functions.urlkit import host_hash_expr, url_hash_expr
    from europarl_crawler_spark.sources.synthetic import session_days_df

    # Payloads: the program's own generator output (the cached europarl
    # web), so the fetch and extract lanes see the program's format and size
    # mix. Re-running its encoders over every multihost URL would cost more
    # than a run has, so each URL serves one of the europarl payloads. An
    # epoch drains the doc ids of one block of ``per_epoch``; within a block
    # they take evenly spaced slots of the pool, which is ordered by format
    # and size, so every epoch decodes the same mix. The seed shifts the
    # slots.
    web_dir, meta = _europarl_web(spark, scale, cache, root)
    pool = spark.read.parquet(str(web_dir / "pool"))
    n_pool = meta["pool_rows"]
    per_epoch = HOST_BUDGET * scale["hosts"]
    shift = int(_tag(seed), 16) % n_pool
    slot = F.pmod(
        F.floor(F.col("doc_id") % per_epoch * n_pool / per_epoch)
        + F.floor(F.col("doc_id") / per_epoch) + shift,
        F.lit(n_pool),
    )

    tag = _tag(seed)
    urls = _host_urls(
        spark, scale["hosts"], scale["urls_per_host"], "h" + tag, "example.org", parts
    )
    h = F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(221))
    kind = (
        F.when(h % 11 == 0, F.lit("missing"))
        .when(h % 13 == 0, F.lit("flaky"))
        .when(h % 17 == 0, F.lit("redirect"))
        .otherwise(F.lit("ok"))
    )
    served = F.col("kind") != "missing"
    web = (
        urls.select(
            "url",
            kind.alias("kind"),
            slot.cast("long").alias("slot"),
            F.concat(F.lit(f"doc {tag} "), F.col("doc_id").cast("string")).alias("caption"),
        )
        .join(F.broadcast(pool), "slot")
        .select(
            url_hash_expr("url").alias("url_hash"),
            "url",
            "kind",
            *(F.when(served, F.col(c)).alias(c) for c in ("bytes", "w", "h", "fmt", "caption")),
            F.when(F.col("kind") == "redirect", F.concat("url", F.lit("?location=archive")))
            .otherwise(F.col("url"))
            .alias("final_url"),
        )
    )
    web.write.parquet(str(work / "web"))
    _frontier_rows(urls).write.parquet(str(work / "frontier"))
    # one URL per host (j = 0) names every host
    _host_urls(spark, scale["hosts"], 1, "h" + tag, "example.org", 1).select(
        host_hash_expr("url").alias("host_hash"), F.lit(HOST_DELAY).alias("crawl_delay")
    ).write.parquet(str(work / "delays"))
    clock = datetime(2021, 1, 4, 12, tzinfo=timezone.utc)
    inp = Inputs(
        web=spark.read.parquet(str(work / "web")),
        # no calendar: frontier growth and the seen gate see zero candidates
        days=session_days_df(spark, start=OFF_CALENDAR, n_days=0),
        start=clock,
        prefetch_limit=100,
        expected_drain=HOST_BUDGET * scale["hosts"],
        # leave the warm-up epoch and one epoch of slack for dead-letter
        # retries
        max_epochs=scale["urls_per_host"] // HOST_BUDGET - 2,
        frontier=spark.read.parquet(str(work / "frontier")),
        crawl_delays=spark.read.parquet(str(work / "delays")),
    )
    inp.fingerprint["web"] = table_hash(inp.web, WEB_COLS)
    inp.fingerprint["frontier"] = table_hash(inp.frontier, FRONTIER_COLS)
    return inp


def payload_sample(web: DataFrame, n: int = 256) -> list[tuple]:
    """A fixed sample of the workload's own payloads (lowest url_hash
    first), for timing decode + phash in the benchmark process."""
    rows = (
        web.filter(F.col("bytes").isNotNull())
        .orderBy("url_hash")
        .select("bytes", "w", "h", "fmt")
        .limit(n)
        .collect()
    )
    return [(bytes(r["bytes"]), int(r["w"]), int(r["h"]), r["fmt"]) for r in rows]
