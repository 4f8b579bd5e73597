"""Plan-shape audit: compile every queries() entry and report the
scale-relevant physical features of its Spark plan in one table —

- exchanges (shuffles) and whether AQE is in play,
- broadcast-hash vs sort-merge joins,
- Arrow/Python stages (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas,
  and scans of a frame parallelized from a Python list, ``Scan ExistingRDD``,
  whose ``PythonRDD`` starts Python workers too),
- parquet scans and how many carry PushedFilters,
- whole-stage-codegen spans.

This is the per-query audit VERDICT performs by hand, kept runnable so a
plan regression (a lost broadcast hint, a filter that stopped pushing, a
Python stage sneaking into a JVM lane) shows up as a diff of this table
rather than a benchmark surprise two rounds later.

``--engine`` audits five crawl-engine stages instead, over the toy
simulated web (10 days): ``extract_documents`` over one drained batch, the
URL-seen gate in both of its forms (``anti_join_seen`` over a toy frontier,
pre-filtered by the shard store the engine builds for it above
``broadcast_threshold_rows``, and the broadcast exact anti-join the engine
runs under it), ``EpochStore.read`` of a toy frontier grown by one keyed
append, and the drain (``drain_candidates`` → ``host_budgets`` →
``priority_drain``) over a toy frontier, url_state and politeness table. A
change that moves the decode back onto the content store's scan
partitions, a seen probe that regresses to a broadcast UDF, a gate under
the threshold that shuffles or runs Python, a frontier read that runs the
latest-wins window again, or a drain that scans the crawl state twice or
aggregates its hosts again shows up as a diff of those rows.

Usage:
    python tools/audit_plans.py [query ...]       # default: all queries
    python tools/audit_plans.py --engine
    SPARK_GRAFT_SF_DIR=... python tools/audit_plans.py
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def features(plan: str) -> dict:
    # an executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — audit only the final one
    plan = plan.split("== Initial Plan ==")[0]
    scans = re.findall(r"Scan parquet[^\n]*", plan)
    pushed = [
        s for s in re.findall(r"PushedFilters: \[[^\]]*\]", plan) if s != "PushedFilters: []"
    ]
    return {
        "exchange": len(re.findall(r"Exchange ", plan)),
        "window": len(re.findall(r"\bWindow ", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "py": (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("Scan ExistingRDD")
        ),
        "scans": len(scans),
        "pushed": len(pushed),
        # codegen spans appear as "*(n) Op" in executedPlan().toString()
        "wscg": len(set(re.findall(r"\*\((\d+)\)", plan))),
    }


def executed_plan(df) -> str:
    # collect() executes the df's OWN QueryExecution so AQE's FINAL
    # physical plan — runtime join choices + codegen spans — is what gets
    # audited, not the pre-execution sketch (a count() or a noop write each
    # build a separate QueryExecution and leave this one unexecuted).
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def row(name: str, f: dict) -> str:
    return (
        f"| {name} | {f['exchange']} | {f['window']} | {f['bhj']} | {f['smj']} "
        f"| {f['py']} | {f['scans']} ({f['pushed']}) | {f['wscg']} |"
    )


HEADER = """| query | exchanges | windows | bcast join | smj | py stages | scans (pushed) | wscg |
|---|---|---|---|---|---|---|---|"""


def toy_batch(spark, root: str):
    """(web, drained): the toy simulated web and every candidate URL of
    its 10-day calendar, keyed like frontier rows."""
    from datetime import date

    from pyspark.sql import functions as F

    from europarl_crawler_spark.sources.synthetic import (
        candidate_urls,
        session_days_df,
        simulated_web,
    )

    days = session_days_df(spark, start=date(2019, 7, 2), n_days=10)
    simulated_web(spark, days).write.mode("overwrite").parquet(root + "/web")
    web = spark.read.parquet(root + "/web")
    drained = candidate_urls(spark, days).select(
        F.xxhash64("rule_id", "url").alias("url_id"),
        "rule_id", "dates", "url", "url_hash", "host_hash",
    )
    return web, drained


def engine_extract(spark, web, drained):
    """``extract_documents`` over the toy batch, fetched at epoch 2."""
    from datetime import datetime, timezone

    from europarl_crawler_spark.functions.rules import rules_df
    from europarl_crawler_spark.plans.fetch import extract_documents, simulate_requests

    now = datetime(2021, 1, 1, tzinfo=timezone.utc)
    fetched = simulate_requests(drained, web, 2, now)
    return extract_documents(fetched, web, rules_df(spark))


def engine_seen_gate(spark, web, drained, root: str, sketched: bool):
    """The URL-seen gate as ``run_epoch`` plans it: half the toy batch is
    the committed frontier and the whole batch is the candidate set. Above
    the threshold (``sketched``) the pre-filter is the shard store the
    engine builds over that frontier; under it the seen side is broadcast
    and there is no pre-filter."""
    from pyspark.sql import functions as F

    from europarl_crawler_spark.functions.seen import anti_join_seen
    from europarl_crawler_spark.plans.epoch import CrawlEngine
    from europarl_crawler_spark.sources.epochstore import EpochStore

    name = "sketched" if sketched else "exact"
    eng = CrawlEngine(spark, EpochStore(f"{root}/{name}-store"), web)
    seen = drained.filter(F.pmod("url_id", F.lit(2)) == 0)
    eng.store.overwrite("frontier", seen, 1, keys=["url_id"])
    frontier = eng.store.read("frontier", spark).select("url_id")
    sketch = eng._build_sketch(frontier) if sketched else None
    return anti_join_seen(
        drained, frontier, sketch, hash_col="url_id", hint_broadcast=not sketched
    )


def engine_frontier_read(spark, drained, root: str):
    """``store.read("frontier")`` as ``run_epoch`` sees it after one epoch
    of growth: a keyed base of half the toy batch plus a keyed append of
    the other half."""
    from pyspark.sql import functions as F

    from europarl_crawler_spark.sources.epochstore import EpochStore

    store = EpochStore(root + "/frontier-store")
    even = F.pmod("url_id", F.lit(2)) == 0
    store.overwrite("frontier", drained.filter(even), 1, keys=["url_id"])
    store.append("frontier", drained.filter(~even), 2, keys=["url_id"])
    return store.read("frontier", spark)


def engine_drain(spark, web, drained, root: str):
    """The drain as ``run_epoch`` plans it, over a store holding the toy
    batch as the frontier, every third URL fetched (its url_state row
    terminal, a 200 for the even ones) and one politeness row per host."""
    from datetime import date, datetime, timezone

    from pyspark.sql import functions as F

    from europarl_crawler_spark.plans.epoch import CrawlEngine
    from europarl_crawler_spark.plans.frontier import (
        crawl_state,
        doc_priority_expr,
        drain_candidates,
        priority_drain,
    )
    from europarl_crawler_spark.plans.politeness import host_budgets
    from europarl_crawler_spark.sources import schema as S
    from europarl_crawler_spark.sources.epochstore import EpochStore

    eng = CrawlEngine(spark, EpochStore(root + "/drain-store"), web)
    frontier = drained.select(
        "url_id", F.lit(0).cast("long").alias("date_id"),
        F.col("rule_id").cast("int").alias("rule_id"), "dates", "url",
        "url_hash", "host_hash", F.pmod("url_id", F.lit(16)).cast("int").alias("salt"),
        doc_priority_expr().cast("long").alias("priority"),
        F.lit(1).alias("created_epoch"),
    )
    ok = F.pmod("url_id", F.lit(2)) == 0
    url_state = drained.filter(F.pmod("url_id", F.lit(3)) == 0).select(
        "url_id", F.lit(True).alias("terminal"), ok.alias("has_ok"),
        F.when(ok, F.lit(datetime(2021, 1, 1, tzinfo=timezone.utc))).alias("last_ok_at"),
        F.when(ok, F.lit(1)).alias("last_ok_epoch"),
    )
    politeness = drained.select("host_hash").distinct().select(
        "host_hash", F.lit(3.0).alias("interval_secs"),
        F.lit(None).cast("double").alias("last_check"),
        F.lit(None).cast("double").alias("next_check"),
    )
    eng.store.append("frontier", frontier, 1, keys=["url_id"])
    eng.store.append("url_state", url_state, 1)
    eng.store.overwrite("politeness", politeness, 1, keys=["host_hash"])
    state = crawl_state(eng._read("frontier", S.FRONTIER), eng._url_state())
    batch = host_budgets(
        drain_candidates(state, date(2021, 1, 2)),
        eng._read("politeness", S.POLITENESS),
        600.0,
    )
    return priority_drain(batch)


def engine_main(spark) -> None:
    import tempfile

    print("""# Plan-shape audit: crawl engine stages (AQE final plan)

Generated by `python tools/audit_plans.py --engine`. Exchanges include the
broadcast exchanges of the dimension joins.

`extract_documents`: two exchanges move the epoch's hit rows: the
decode-balance repartition under the py stage
(`hashpartitioning(url_hash, defaultParallelism)`, not coalesced by AQE)
and the byte-sized `documents` repartition. The store scan feeds the
left-semi filter with no exchange between them, so the store's payloads
never shuffle. `tests/test_extract_balance.py` pins both properties.

`seen gate, sketched`: above `broadcast_threshold_rows` frontier rows the
candidates' `pmod(url_id, n_shards)` repartition feeds the shard-local
cuckoo probe, a py stage that appears once in each branch of the fresh ∪
rechecked union (2 py stages); only the maybe-seen slice reaches the exact
anti-join. `tests/test_cuckoo.py` pins the probe's shape.

`seen gate, exact`: at or under the threshold the engine keeps no sketch;
the exact anti-join broadcasts the frontier's url_ids, so no candidate
shuffles and no py stage runs. `tests/test_broadcast_gate.py` pins the
hint, `tests/test_crawl_e2e.py` the engine's write plans.

`py stages` also counts `Scan ExistingRDD`: a frame built with
`spark.createDataFrame(<python list>)` is a `PythonRDD`, and each scan of it
starts Python workers. The engine builds its driver-side frames with
`sources.schema.local_df` (a `LocalTableScan`) instead.

`store.read("frontier")`: a keyed base plus a keyed append is a plain scan
with no latest-wins window; only a live `merge`/`delete` delta brings the
window back. `tests/test_epochstore.py` pins the rule.

`drain`: one scan each of `frontier`, `url_state` and `politeness` (3
scans): the pending and recrawl rows are one filter over the crawl state,
and each row's budget is a broadcast lookup in the politeness table, with
no host `distinct`. Its windows are the drain's two (per host and salt,
then per host). `tests/test_crawl_e2e.py` pins the one state scan on the
engine's `requests` write.
""")
    print(HEADER)
    with tempfile.TemporaryDirectory() as root:
        web, drained = toy_batch(spark, root)
        for name, df in (
            ("extract_documents", engine_extract(spark, web, drained)),
            ("seen gate, sketched (anti_join_seen)",
             engine_seen_gate(spark, web, drained, root, sketched=True)),
            ("seen gate, exact (anti_join_seen, broadcast)",
             engine_seen_gate(spark, web, drained, root, sketched=False)),
            ('store.read("frontier")', engine_frontier_read(spark, drained, root)),
            ("drain", engine_drain(spark, web, drained, root)),
        ):
            print(row(name, features(executed_plan(df))))


def main() -> None:
    from europarl_crawler_spark import get_spark

    spark = get_spark("audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if sys.argv[1:] == ["--engine"]:
        engine_main(spark)
        return

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = sys.argv[1:] or list(qs)

    print(f"""# Plan-shape audit (AQE final plans, sf dir {SF_DIR})

Generated by `python tools/audit_plans.py`. How to read it:

- **exchanges** — shuffles in the final plan (AQE-coalesced reads not
  counted as extra). Queries composing several lanes (e.g. the precision
  invariants, which run an LSH pass AND an exact pass) legitimately carry
  many.
- **windows** — `Window` operators. A store read carries the latest-wins
  window only while its table has a live `merge`/`delete` delta.
- **bcast join / smj** — runtime join strategies. smj > 0 means a join's
  build side outgrew broadcast; on these dimension-sized sides that is a
  regression signal. Exceptions: `dedup_lsh_precision`'s single smj is the
  exact-Jaccard ALL-PAIRS side of the invariant (corpus×corpus, correctly
  not broadcast), `j12_bucketed_join`'s smj is the POINT of the lane —
  a bucketed sort-merge join with ZERO Exchange (the shuffle was paid at
  write time; tests assert no Exchange in its plan) — and
  `store_snapshot_diff`'s smj is its snapshot×snapshot FULL OUTER join
  (both sides are the whole table; full-outer cannot broadcast). A
  dimension-side smj anywhere else is the regression. `j15_skew_salted`
  shows 0 broadcasts BY DESIGN: the salted rewrite exists for dimensions
  too big to broadcast, so the lane pins the shuffled-hash path.
- **py stages** — Arrow/Pandas stages, plus `Scan ExistingRDD` (a frame
  parallelized from a Python list, whose `PythonRDD` starts Python workers).
  Arrow/Pandas stages belong ONLY in multimodal/codec lanes and the
  exact-cosine verify; a Python stage in a relational lane is a bug, and a
  list-built input in one is a fixed cost worth removing.
- **scans (pushed)** — parquet scans, and how many carry non-empty
  PushedFilters. Scans with no filter to push legitimately show 0.
- **wscg** — distinct whole-stage-codegen spans; 0 would mean an
  interpreter-only plan.
- `dedup_groups` / `dedup_image_groups` audit the post-checkpoint result
  frame (the iterations' lineage is cut by design), hence 0 exchanges.

{HEADER}""")
    for name in names:
        try:
            # sf0.01 result sets are small enough to collect
            f = features(executed_plan(qs[name](spark, SF_DIR)))
        except Exception as e:  # keep auditing the rest
            print(f"| {name} | ERROR: {type(e).__name__}: {e} |")
            continue
        print(row(name, f))

    if not sys.argv[1:]:  # full audit only: append the candidate-fraction table
        candidate_fractions(spark)


def candidate_fractions(spark) -> None:
    """Candidate-pair fractions of the blocked/banded lanes (VERDICT r3
    next-step #8): the sub-quadratic property the plan table can't see.
    Asserted at two corpus sizes by tests/test_candidate_fraction.py; logged
    here so the audited number travels with the plan snapshot."""
    from europarl_crawler_spark.operators import diagnostics

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rep = diagnostics.candidate_report(docs, emb, threshold=0.95)
    print(f"""
## Candidate-pair fractions (blocked/banded lanes, sf dir {SF_DIR})

|candidates| / C(n,2) — 1.0 would mean the blocking degraded to all-pairs.
Guarded in CI at two corpus sizes by tests/test_candidate_fraction.py.
Angular is reported at its 0.95 near-dup operating point; at the catalog
lane's wide 0.35 threshold the fraction approaches 1 by geometry on this
diffuse synthetic corpus (see diagnostics.candidate_report).

| lane | candidate fraction |
|---|---|""")
    for lane in sorted(rep):
        print(f"| {lane} | {rep[lane]:.4f} |")
    print(
        "\nOn a CLUSTERED 16-blob fixture (the angular operator's"
        "\nproduction regime) the 0.95-operating-point fraction is 0.068"
        "\nwith the lossless contract brute-force-verified —"
        "\ntests/test_candidate_fraction.py::"
        "test_angular_fraction_on_clustered_corpus (r5)."
    )


if __name__ == "__main__":
    main()
