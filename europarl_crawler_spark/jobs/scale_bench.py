"""Frontier-drain throughput job for the N→4N scaling-efficiency evidence.

The reference seed list has ONE politeness domain, so its crawl rate is
budget-bound (0.33 req/s) and cannot show compute scaling. The north_rule's
10^10-URL frontier is multi-host; this job reproduces that regime
synthetically: H hosts × U URLs each, every host under the reference's
politeness budget (bucket cap 100/epoch), then measures URLs
**fetched + extracted per second** through the production crawl loop,
``CrawlEngine.run_epoch``, over a pre-seeded frontier.

Run via spark-submit at two executor counts (tools/bench_scaling.py: 1 vs 4
concurrent processes over disjoint host shards, timed windows aligned by a
file barrier) on the SAME input; efficiency = (thpt_4N / thpt_N) / 4.

    spark-submit --master local[1] --py-files pkg.zip scale_bench.py \
        --hosts 30000 --host-shard 0 --host-shards 4
"""

from __future__ import annotations

import argparse
import json
import os
import tempfile
import time
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd

# The crawl clock's epoch length: more than 100 × the slowest token-bucket
# interval (3 s × 2^16), so every host drains exactly the bucket cap of 100
# URLs an epoch whatever its throttle state — the per-epoch work is known.
EPOCH_SECS = 2.0e7


def synthetic_multihost_web(spark, n_hosts: int, urls_per_host: int, img_px: int = 8):
    # img_px=8 by default: phash cost is resolution-independent (32×32 DCT),
    # so small payloads keep the CPU work while avoiding a disk-bound bench.
    """Content store across n_hosts politeness domains; bytes are raw-format
    Philox noise keyed by url id (generated once, reused by both runs)."""
    from pyspark.sql import functions as F

    from ..functions.urlkit import url_hash_expr
    from ..sources.schema import WEB

    n = n_hosts * urls_per_host
    # explicit fine-grained partitioning, INDEPENDENT of the generating run's
    # core count: the web dir is generated once and reused by every
    # parallelism level, so its file layout must give the widest leg enough
    # splits. 8 coarse files (a local[8] default) leave local[32] running one
    # ragged ~24-task wave with a long straggler tail — measured as the
    # "unstable 32-thread" artifact in round 1.
    n_parts = 128
    base = spark.range(0, n, 1, n_parts).select(
        F.concat(
            F.lit("https://host"),
            (F.col("id") % n_hosts).cast("string"),
            F.lit(".example.org/doc/"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.col("id").alias("doc_id"),
    )
    kind = (
        F.when(F.pmod(F.col("doc_id"), F.lit(11)) == 0, F.lit("missing"))
        .when(F.pmod(F.col("doc_id"), F.lit(13)) == 0, F.lit("flaky"))
        .otherwise(F.lit("ok"))
    )
    tagged = base.select(
        url_hash_expr("url").alias("url_hash"),
        "url",
        kind.alias("kind"),
        "doc_id",
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "url_hash": pdf["url_hash"], "url": pdf["url"], "kind": pdf["kind"],
                "bytes": [], "w": [], "h": [], "fmt": [], "caption": [],
                "final_url": pdf["url"],  # no redirect lane in the scale web
            }
            for did, kind_ in zip(pdf["doc_id"], pdf["kind"]):
                if kind_ == "missing":
                    for k in ("bytes", "w", "h", "fmt", "caption"):
                        out[k].append(None)
                    continue
                rng = np.random.Generator(np.random.Philox(key=int(did)))
                px = rng.integers(0, 256, size=(img_px, img_px, 3), dtype=np.uint8)
                out["bytes"].append(px.tobytes())
                out["w"].append(img_px)
                out["h"].append(img_px)
                out["fmt"].append("raw")
                out["caption"].append(f"doc {int(did)}")
            yield pd.DataFrame(out)

    return tagged.mapInPandas(gen, schema=WEB)


def multihost_frontier(spark, web):
    """Frontier over every web URL: deterministic priority per host."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.urlkit import host_hash_expr, salt_expr

    w = Window.partitionBy("host_hash").orderBy("url_hash")
    return (
        web.select("url", "url_hash")
        .withColumn("host_hash", host_hash_expr("url"))
        .withColumn("salt", salt_expr("url").cast("int"))
        .withColumn("url_id", F.xxhash64(F.lit(1), "url"))
        .withColumn("rule_id", F.lit(1))
        .withColumn("date_id", F.lit(0).cast("long"))
        .withColumn("dates", F.lit("2020-01-01").cast("date"))
        .withColumn("priority", F.row_number().over(w).cast("long"))
        .withColumn("created_epoch", F.lit(0))
    )


def politeness_violations(spark, store, last_epoch: int) -> int:
    """(epoch, host) groups of the store's request log over the politeness
    budget in force at that epoch: ``plans.politeness.budget_audit`` against
    the ``politeness`` snapshot each epoch committed."""
    from pyspark.sql import functions as F

    from ..plans.politeness import budget_audit

    snaps = [
        store.read("politeness", spark, as_of=e)
        .select("host_hash", "interval_secs")
        .withColumn("epoch", F.lit(e).cast("long"))
        for e in range(1, last_epoch + 1)
    ]
    hist = reduce(lambda a, b: a.unionByName(b), snaps)
    return budget_audit(store.read("requests", spark), hist, EPOCH_SECS).count()


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--hosts", type=int, default=2000)
    p.add_argument("--urls-per-host", type=int, default=200)
    # timed epochs after the warm-up; 0 only builds the web
    p.add_argument("--epochs", type=int, default=2)
    p.add_argument("--img-px", type=int, default=8)
    p.add_argument("--web", default=None, help="pre-generated web dir (reused across runs)")
    p.add_argument("--store", default=None)
    # executor-style sharding: this process crawls only hosts with
    # pmod(host_hash, host_shards) == host_shard — how a real multi-executor
    # cluster partitions a per-host-politeness frontier (tools/bench_scaling.py
    # launches K concurrent processes to evidence a K-executor cluster)
    p.add_argument("--host-shard", type=int, default=0)
    p.add_argument("--host-shards", type=int, default=1)
    # start barrier: with a dir given, every process finishes its warm-up,
    # drops ready-{shard}, and blocks until the harness writes "go" — so the
    # timed windows of concurrent executor-processes align exactly and the
    # harness's /proc/stat deltas attribute CPU to timed work only (JVM
    # startup, JIT, and warm-up excluded at every parallelism level alike)
    p.add_argument("--barrier-dir", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ..functions.urlkit import host_hash_expr
    from ..plans.epoch import CrawlEngine
    from ..sources.epochstore import EpochStore

    spark = (
        SparkSession.builder.appName("scale-bench")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    web_dir = args.web or tempfile.mkdtemp() + "/web"
    N_WEB_SHARDS = 16  # divisible by any executor count used here
    if not os.path.isdir(web_dir):
        # hive-partition the store by host shard: an executor-process
        # filtering on its shard then PRUNES at the directory level and
        # scans only its slice — modeling how a cluster distributes scan
        # tasks instead of every executor reading the whole table
        synthetic_multihost_web(
            spark, args.hosts, args.urls_per_host, args.img_px
        ).withColumn(
            "_shard", F.pmod(host_hash_expr("url"), F.lit(N_WEB_SHARDS))
        ).write.partitionBy("_shard").parquet(web_dir)
    if args.epochs == 0:
        return
    web = spark.read.parquet(web_dir)
    if args.host_shards > 1:
        mine = [
            s for s in range(N_WEB_SHARDS) if s % args.host_shards == args.host_shard
        ]
        web = web.filter(F.col("_shard").isin(mine))
    web = web.drop("_shard")

    store = EpochStore(args.store or tempfile.mkdtemp() + "/store")
    store.overwrite("frontier", multihost_frontier(spark, web), 0, keys=["url_id"])
    eng = CrawlEngine(spark, store, web, epoch_secs=EPOCH_SECS)
    # untimed warm-up epoch on the same store: pays JIT / codegen / Arrow
    # worker startup and the seen-sketch build, so every timed epoch is a
    # steady-state one (the cross-level comparison needs equally-warm JVMs)
    eng.run_epoch()

    if args.barrier_dir:
        bdir = os.path.abspath(args.barrier_dir)
        os.makedirs(bdir, exist_ok=True)
        with open(os.path.join(bdir, f"ready-{args.host_shard}"), "w") as f:
            f.write(str(os.getpid()))
        go = os.path.join(bdir, "go")
        while not os.path.exists(go):
            time.sleep(0.05)

    t0 = time.perf_counter()
    fetched_total = sum(eng.run_epoch()["drained"] for _ in range(args.epochs))
    dt = time.perf_counter() - t0

    # untimed, over every epoch this shard ran — must be 0
    violations = politeness_violations(spark, store, eng.current_epoch())

    print(
        json.dumps(
            {
                "cores": cores,
                "hosts": args.hosts,
                "urls_per_host": args.urls_per_host,
                "epochs": args.epochs,
                "urls_fetched": int(fetched_total),
                "wall_sec": round(dt, 3),
                "urls_per_sec": round(fetched_total / dt, 2),
                "politeness_violations": int(violations),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
