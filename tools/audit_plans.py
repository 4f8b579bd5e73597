"""Plan-shape audit: compile every queries() entry and report the
scale-relevant physical features of its Spark plan in one table —

- exchanges (shuffles) and whether AQE is in play,
- broadcast-hash vs sort-merge joins,
- Arrow/Python stages (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas),
- parquet scans and how many carry PushedFilters,
- whole-stage-codegen spans.

This is the per-query audit VERDICT performs by hand, kept runnable so a
plan regression (a lost broadcast hint, a filter that stopped pushing, a
Python stage sneaking into a JVM lane) shows up as a diff of this table
rather than a benchmark surprise two rounds later.

``--engine`` audits the crawl engine's extract stage instead: it builds the
toy simulated web (10 days), plans ``extract_documents`` over one drained
batch and prints the same feature row. A change that moves the decode back
onto the content store's scan partitions shows up as a diff of that row.

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
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "py": (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
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
        f"| {name} | {f['exchange']} | {f['bhj']} | {f['smj']} | {f['py']} "
        f"| {f['scans']} ({f['pushed']}) | {f['wscg']} |"
    )


HEADER = """| query | exchanges | bcast join | smj | py stages | scans (pushed) | wscg |
|---|---|---|---|---|---|---|"""


def engine_extract(spark, root: str):
    """``extract_documents`` over one drained batch of the toy simulated
    web: every candidate URL of a 10-day calendar, fetched at epoch 2."""
    from datetime import date, datetime, timezone

    from pyspark.sql import functions as F

    from europarl_crawler_spark.functions.rules import rules_df
    from europarl_crawler_spark.plans.fetch import extract_documents, simulate_requests
    from europarl_crawler_spark.sources.synthetic import (
        candidate_urls,
        session_days_df,
        simulated_web,
    )

    days = session_days_df(spark, start=date(2019, 7, 2), n_days=10)
    simulated_web(spark, days).write.mode("overwrite").parquet(root)
    web = spark.read.parquet(root)
    drained = candidate_urls(spark, days).select(
        F.xxhash64("rule_id", "url").alias("url_id"),
        "rule_id", "dates", "url", "url_hash", "host_hash",
    )
    now = datetime(2021, 1, 1, tzinfo=timezone.utc)
    fetched = simulate_requests(drained, web, 2, now)
    return extract_documents(fetched, web, rules_df(spark))


def engine_main(spark) -> None:
    import tempfile

    print("""# Plan-shape audit: the crawl engine's extract stage (AQE final plan)

Generated by `python tools/audit_plans.py --engine`. Exchanges include the
broadcast exchanges of the dimension joins. Two of them move the epoch's
hit rows: the decode-balance repartition under the py stage
(`hashpartitioning(url_hash, defaultParallelism)`, not coalesced by AQE)
and the byte-sized `documents` repartition. The store scan feeds the
left-semi filter with no exchange between them, so the store's payloads
never shuffle. `tests/test_extract_balance.py` pins both properties.
""")
    print(HEADER)
    with tempfile.TemporaryDirectory() as root:
        plan = executed_plan(engine_extract(spark, root + "/web"))
    print(row("extract_documents", features(plan)))


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
- **py stages** — Arrow/Pandas stages. Nonzero ONLY in multimodal/codec
  lanes and the exact-cosine verify; a Python stage in a relational lane is
  a bug.
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
