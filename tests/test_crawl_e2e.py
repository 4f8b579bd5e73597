"""End-to-end crawl epochs over the simulated web.

Asserts the load-bearing semantics: frontier growth + dedup, probe→confirm→
doc-URL progression, politeness budget enforcement, dead-letter retry
draining, per-row image invariants (decode allclose / PSNR ≥ 40 dB + exact
caption equality — input_hint), and checkpoint resume.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta, timezone

import numpy as np
import pytest

from pyspark.sql import functions as F

from europarl_crawler_spark.functions import imaging
from europarl_crawler_spark.plans.epoch import CrawlEngine
from europarl_crawler_spark.sources.epochstore import EpochStore
from europarl_crawler_spark.sources.synthetic import session_days_df, simulated_web

START = datetime(2021, 1, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl")
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=20)
    web = simulated_web(spark, days)
    web.write.mode("overwrite").parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    store = EpochStore(root / "store")
    eng = CrawlEngine(spark, store, web, prefetch_limit=50, epoch_secs=600.0)
    eng.bootstrap(days)
    stats = eng.run(4, start=START)
    return dict(root=root, days=days, web=web, store=store, eng=eng, stats=stats)


def test_epochs_progress(world):
    stats = world["stats"]
    assert [s["epoch"] for s in stats] == [1, 2, 3, 4]
    # epoch 1 drains only session-day probes; confirmed days then unlock doc
    # URLs in epoch 2+
    assert stats[0]["drained"] > 0
    assert stats[1]["new_urls"] > 0
    assert sum(s["fetched_ok"] for s in stats) > 0


def test_frontier_unique_and_seen(world):
    spark = world["eng"].spark
    frontier = world["store"].read("frontier", spark)
    n = frontier.count()
    assert n == frontier.select("url_id").distinct().count()
    # reference quirk preserved: named_voting_fr_pdf and _xml generate the
    # SAME url string but remain separate frontier rows (UNIQUE(rule_id,url),
    # reference db/url.py:45)
    assert n >= frontier.select("url_hash").distinct().count()


def test_frontier_grows_by_keyed_appends(world):
    """Frontier growth is insert-only: every commit of the toy crawl is a
    keyed append, and the rows they wrote equal the distinct url_ids the
    read holds — the benchmark's ``frontier_unique`` check. ``read`` runs
    no latest-wins window over appends, so a url_id the seen gate let
    through twice would show here."""
    spark = world["eng"].spark
    store = world["store"]
    ms = [m for m in store.manifests("frontier") if m["epoch"] <= 4]
    assert [(m["kind"], m["keys"]) for m in ms] == [("append", ["url_id"])] * 4
    distinct = store.read("frontier", spark, as_of=4).select("url_id").distinct().count()
    assert sum(m["rows"] for m in ms) == distinct


def test_politeness_budget_enforced(world):
    spark = world["eng"].spark
    requests = world["store"].read("requests", spark)
    per_epoch_host = (
        requests.groupBy("epoch", "host_hash").count().collect()
    )
    # budget = epoch_secs/interval capped at bucket capacity 100
    for r in per_epoch_host:
        assert r["count"] <= 100


def test_dead_letter_retry_lane(world):
    spark = world["eng"].spark
    requests = world["store"].read("requests", spark)
    dead = requests.filter(~F.col("status_code").isin(200, 404))
    if dead.count() == 0:
        pytest.skip("no flaky URL drained in this window")
    # a dead-lettered url must be retried in a later epoch (T6/J6)
    retried = (
        requests.alias("a")
        .join(requests.alias("b"), "url_id")
        .filter(
            (~F.col("a.status_code").isin(200, 404))
            & (F.col("b.epoch") > F.col("a.epoch"))
        )
    )
    assert retried.count() > 0


def test_image_invariants_vs_web(world):
    """input_hint per-row invariant: decoded pixels allclose (exact for
    lossless, PSNR ≥ 40 dB for qraw) + EXACT caption equality vs the origin."""
    spark = world["eng"].spark
    docs = world["store"].read("documents", spark)
    joined = (
        docs.alias("d")
        # documents serve the post-redirect URL (reference db/documents.py:213)
        .join(
            world["web"].alias("w"),
            F.col("d.url") == F.coalesce(F.col("w.final_url"), F.col("w.url")),
        )
        .select(
            "d.bytes", "d.w", "d.h", "d.fmt", "d.caption", "d.phash",
            F.col("w.bytes").alias("src_bytes"), F.col("w.caption").alias("src_caption"),
        )
        .collect()
    )
    assert len(joined) > 0
    for r in joined:
        assert r.caption == r.src_caption
        got = imaging.decode(bytes(r.bytes), r.w, r.h, r.fmt)
        src = imaging.decode(bytes(r.src_bytes), r.w, r.h, r.fmt)
        if r.fmt in imaging.LOSSLESS:
            assert np.array_equal(got, src)
        else:
            assert imaging.psnr(got, src) >= 40.0
        assert r.phash == imaging.phash64(got)


# (rows, sha256 of the sorted (image_id, phash, caption, url) rows) of the
# 4-epoch toy crawl's documents table. How the extract stage partitions and
# shuffles its rows must never change what it extracts; only a change to
# the extraction itself may move these numbers.
TOY_DOCUMENTS = (
    119, "5ae39779a1b96b8fed47cce8f3b4f00dd5a1fec70a6fd698ea96e228075cbe0a"
)


def test_documents_match_pinned_fingerprint(world):
    import hashlib

    spark = world["eng"].spark
    rows = sorted(
        tuple(r)
        for r in world["store"].read("documents", spark)
        .select("image_id", "phash", "caption", "url")
        .collect()
    )
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert (len(rows), digest) == TOY_DOCUMENTS


def test_png_lane_flows_end_to_end(world):
    """The compressed-PNG lane (half the .html rule slice) must land real
    png documents whose decoded pixels equal the origin's exactly — the
    invariant test above covers it generically; this pins that the lane is
    actually exercised (a silent fmt-mapping regression would otherwise
    vacuously pass it)."""
    spark = world["eng"].spark
    docs = world["store"].read("documents", spark)
    png = docs.filter(F.col("fmt") == "png")
    assert png.count() > 0, "no png documents crawled — lane not exercised"
    r = png.first()
    px = imaging.decode(bytes(r.bytes), r.w, r.h, "png")
    assert px.shape == (r.h, r.w, 3)
    assert r.phash == imaging.phash64(px)
    # the payload is genuinely compressed PNG, not renamed raw
    assert bytes(r.bytes)[:8] == b"\x89PNG\r\n\x1a\n"


def test_jpeg_lane_flows_end_to_end(world):
    """The baseline-JPEG lane (a quarter of the .html rule slice) must land
    real JFIF documents: genuine DCT-compressed payloads whose decode passes
    the lossy PSNR ≥ 40 dB invariant — the web's dominant image format
    crawled for real, not stubbed."""
    spark = world["eng"].spark
    docs = world["store"].read("documents", spark)
    jp = docs.filter(F.col("fmt") == "jpeg")
    if jp.count() == 0:
        pytest.skip("no jpeg URL drained in this window")
    r = jp.first()
    body = bytes(r.bytes)
    assert body[:2] == b"\xff\xd8" and b"JFIF\x00" in body[:32]
    px = imaging.decode(body, r.w, r.h, "jpeg")
    assert px.shape == (r.h, r.w, 3)
    assert r.phash == imaging.phash64(px)


def test_redirect_lane(world):
    """Reference contract (documentdownloader.py:97,124 + db/requests.py:39):
    redirects are followed; the request log records the FINAL url; documents
    serve the final url; the URL-seen set stays keyed on the requested url."""
    spark = world["eng"].spark
    web = world["web"]
    requests = world["store"].read("requests", spark)
    logged = requests.join(
        web.select("url_hash", "url", "kind", "final_url"), "url_hash"
    )
    redirected = logged.filter(
        (F.col("kind") == "redirect") & (F.col("status_code") == 200)
    )
    if redirected.count() == 0:
        pytest.skip("no redirect URL drained in this window")
    for r in redirected.select("url", "final_url", "redirected_url").collect():
        assert r.redirected_url == r.final_url == r.url + "?location=archive"
    # non-redirect fetches log their own url (reference resp.url == url)
    plain = logged.filter(F.col("kind") != "redirect")
    assert plain.filter(F.col("redirected_url") != F.col("url")).count() == 0
    # documents for redirect rows carry the final url, with the content id
    # still derived from the REQUESTED url (idempotent re-merge key)
    docs = world["store"].read("documents", spark)
    d = docs.filter(F.col("url").endswith("?location=archive"))
    assert d.count() > 0
    bad_key = d.filter(
        F.lower(
            F.hex(F.xxhash64(F.regexp_replace("url", r"\?location=archive$", "")))
        )
        != F.col("image_id")
    )
    assert bad_key.count() == 0
    # frontier (the seen set) never contains a final_url-form entry
    frontier = world["store"].read("frontier", spark)
    assert frontier.filter(F.col("url").endswith("?location=archive")).count() == 0


def test_documents_idempotent_merge(world):
    spark = world["eng"].spark
    docs = world["store"].read("documents", spark)
    assert docs.count() == docs.select("image_id").distinct().count()


def test_resume_from_checkpoint(world):
    """A new engine instance picks up at the committed epoch and continues."""
    spark = world["eng"].spark
    store = world["store"]
    before = store.read("requests", spark).count()
    eng2 = CrawlEngine(spark, store, world["web"], prefetch_limit=50, epoch_secs=600.0)
    assert eng2.current_epoch() == 4
    s = eng2.run(1, start=START)
    assert s[0]["epoch"] == 5
    assert store.read("requests", spark).count() >= before


def test_metrics_lineage_written(world):
    spark = world["eng"].spark
    metrics = store = world["store"].read("metrics", spark)
    assert {"host_hash", "salt", "status_code", "n", "epoch"} <= set(metrics.columns)
    assert metrics.count() > 0


def test_shutdown_drops_uncrawled(world):
    spark = world["eng"].spark
    store = world["store"]
    eng = world["eng"]
    frontier_before = store.read("frontier", spark)
    requests = store.read("requests", spark)
    uncrawled = frontier_before.join(requests.select("url_id"), "url_id", "left_anti").count()
    eng.shutdown_compact()
    frontier_after = store.read("frontier", spark)
    assert frontier_after.count() == frontier_before.count() - uncrawled
    assert (
        frontier_after.join(requests.select("url_id"), "url_id", "left_anti").count()
        == 0
    )


@pytest.fixture(scope="module")
def folded(spark, tmp_path_factory):
    """A 4-epoch toy crawl at a live-chain bound of 2, with every
    ``EpochStore.read`` recorded per epoch as (table, jobs it ran), the
    physical plan of each epoch's ``requests`` write (file locations
    printed in full) and of every write as (table, plan) per epoch, and
    after each epoch the live chain lengths of frontier and url_state and
    the frontier's committed rows and distinct url_ids."""
    from europarl_crawler_spark.plans import epoch as ep

    root = tmp_path_factory.mktemp("reads")
    days = session_days_df(spark, start=date(2019, 7, 2), n_days=8)
    simulated_web(spark, days).write.parquet(str(root / "web"))
    web = spark.read.parquet(str(root / "web"))
    store = EpochStore(root / "store")
    eng = CrawlEngine(spark, store, web, prefetch_limit=50, epoch_secs=600.0)
    eng.bootstrap(days)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    reads: list[tuple[str, int]] = []
    real_read = EpochStore.read

    def counted(self, table, *a, **kw):
        j0 = int(dag.nextJobId())
        out = real_read(self, table, *a, **kw)
        reads.append((table, int(dag.nextJobId()) - j0))
        return out

    plans: list[str] = []
    writes: list[list[tuple[str, str]]] = []
    real_commit = EpochStore._commit

    def planned(self, table, df, *a, **kw):
        plan = df._jdf.queryExecution().executedPlan().toString()
        if table == "requests":
            plans.append(plan)
        writes[-1].append((table, plan))
        return real_commit(self, table, df, *a, **kw)

    per_epoch, chains = [], []
    meta_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ep, "MAX_LIVE_COMMITS", 2)
            mp.setattr(EpochStore, "read", counted)
            mp.setattr(EpochStore, "_commit", planned)
            for i in range(4):
                reads.clear()
                writes.append([])
                eng.run_epoch(START + timedelta(seconds=600.0 * i))
                per_epoch.append(list(reads))
                ids = real_read(store, "frontier", spark).select("url_id")
                chains.append(dict(
                    frontier=len(store.live_manifests("frontier")),
                    url_state=len(store.live_manifests("url_state")),
                    rows=sum(m["rows"] for m in store.live_manifests("frontier")),
                    distinct=ids.distinct().count(),
                ))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", meta_len)
    return dict(
        store=store, eng=eng, reads=per_epoch, chains=chains, plans=plans, writes=writes
    )


def test_url_state_commits_on_crawl_clock(folded, spark):
    """url_state commits at the crawl epoch: a delta append every epoch,
    except when its live chain already holds MAX_LIVE_COMMITS commits,
    which commits one base of the fold of the stored deltas and its own —
    no commit ids off the clock."""
    from europarl_crawler_spark.plans import epoch as ep

    store, eng = folded["store"], folded["eng"]
    assert [(m["epoch"], m["kind"]) for m in store.manifests("url_state")] == [
        (1, "append"), (2, "append"), (3, "base"), (4, "append"),
    ]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = ep._fold_url_state(ep._url_state_delta(store.read("requests", spark)))
    assert rows(eng._url_state()) == rows(want)


def test_frontier_and_url_state_fold_on_the_live_chain_bound(folded):
    """One fold rule: at a bound of 2 the frontier, like url_state, takes
    append, append, base, append — no table's live chain ever exceeds the
    bound, and the folded frontier is key-unique: its committed rows are
    its distinct url_ids."""
    store = folded["store"]
    assert [(m["epoch"], m["kind"]) for m in store.manifests("frontier")] == [
        (1, "append"), (2, "append"), (3, "base"), (4, "append"),
    ]
    for c in folded["chains"]:
        assert c["frontier"] <= 2 and c["url_state"] <= 2, folded["chains"]
        assert c["rows"] == c["distinct"] > 0, folded["chains"]


def test_run_epoch_reads_each_table_once_without_jobs(folded):
    """One crawl-state frame and schema-pinned reads: an epoch reads
    url_state once, the frontier before and after growth, the calendar
    whole and cutoff-pruned, and politeness once — and no read starts a
    Spark job, on a fold epoch (3) as on an append epoch."""
    from collections import Counter

    store = folded["store"]
    assert [m["kind"] for m in store.manifests("url_state")] == [
        "append", "append", "base", "append",
    ]
    for reads in folded["reads"]:
        assert Counter(t for t, _ in reads) == {
            "session_days": 2, "frontier": 2, "url_state": 1, "politeness": 1,
        }
        assert [j for _, j in reads] == [0] * len(reads)


def test_requests_write_scans_the_crawl_state_once(folded):
    """The drain reads the crawl state once: from epoch 2 on (epoch 1 has
    no url_state yet), the plan of the ``requests`` write, which carries
    the drain candidates, the budget lookup and the drain, scans
    ``frontier`` and ``url_state`` once each, and its only aggregate is
    the url_state fold (its partial and final halves)."""
    import re

    plans = folded["plans"]
    assert len(plans) == 4
    for plan in plans[1:]:
        scans = re.findall(r"Location: InMemoryFileIndex[^\n]*", plan)
        assert sum("/store/frontier/" in s for s in scans) == 1, plan
        assert sum("/store/url_state/" in s for s in scans) == 1, plan
        assert len(re.findall(r"HashAggregate\(", plan)) == 2, plan


def test_only_the_extract_runs_python_workers(folded):
    """Driver-built frames (the rules table, the ledger row) are local
    relations, and under the broadcast threshold the seen gate keeps no
    sketch: no write of a default-config epoch scans a parallelized Python
    list (``ExistingRDD``, a ``PythonRDD`` underneath), and the one Python
    stage is the extract's decode in the ``documents`` write."""
    for writes in folded["writes"]:
        assert [t for t, _ in writes] == [
            "frontier", "requests", "url_state", "documents", "politeness",
            "metrics", "epochs",
        ]
        for table, plan in writes:
            assert "ExistingRDD" not in plan, (table, plan)
            assert ("MapInPandas" in plan) == (table == "documents"), (table, plan)


def test_politeness_reads_parse_only_the_live_manifest(folded, monkeypatch):
    """run_epoch overwrites politeness every epoch; the superseded
    snapshots stay on disk for time travel, but reading the table and the
    host estimate parse only the newest one."""
    from europarl_crawler_spark.sources import epochstore

    store, eng = folded["store"], folded["eng"]
    snapshots = store.manifests("politeness")
    assert len(snapshots) == 4
    loads = []
    real_load = epochstore.json.load
    monkeypatch.setattr(
        epochstore.json, "load", lambda f: loads.append(f) or real_load(f)
    )
    store.read("politeness", eng.spark)
    assert len(loads) == 1
    loads.clear()
    assert eng._estimated_hosts() == snapshots[-1]["rows"] > 0
    assert len(loads) == 1


def test_politeness_gap_audit_detects_and_clears(spark):
    """politeness_audit (P12): violations are exactly the same-host gaps
    below the interval; a properly spaced log audits clean."""
    from europarl_crawler_spark.plans.politeness import politeness_audit
    rows = [
        # host 1: 0s, 2s (violation @3s min), 10s (ok)
        (1, 101, datetime(2021, 1, 1, 0, 0, 0)),
        (1, 102, datetime(2021, 1, 1, 0, 0, 2)),
        (1, 103, datetime(2021, 1, 1, 0, 0, 10)),
        # host 2: exactly 3s apart — not a violation (gap == interval)
        (2, 201, datetime(2021, 1, 1, 0, 0, 0)),
        (2, 202, datetime(2021, 1, 1, 0, 0, 3)),
        # host 3: simultaneous pair — gap 0 violates, tie broken by id
        (3, 301, datetime(2021, 1, 1, 0, 0, 0)),
        (3, 302, datetime(2021, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(
        rows, "host_key INT, request_id INT, requested_at TIMESTAMP"
    )
    got = {
        (r["host_key"], r["request_id"], r["prev_request_id"], r["gap_us"])
        for r in politeness_audit(df, 3.0).collect()
    }
    assert got == {(1, 102, 101, 2_000_000), (3, 302, 301, 0)}


def test_budget_audit_engine_log_clean(world):
    """budget_audit: the ENGINE's own request log never exceeds the
    politeness budget that governed each epoch (state snapshot as of the
    previous epoch, via the store's time travel) — and a doctored log with
    one duplicated host-epoch batch trips the audit."""
    from functools import reduce

    from europarl_crawler_spark.plans.politeness import budget_audit

    spark = world["eng"].spark
    store = world["store"]
    requests = world["store"].read("requests", spark)
    snaps = []
    for e in range(1, 5):
        snap = store.read("politeness", spark, as_of=e)
        snaps.append(
            snap.select("host_hash", "interval_secs").withColumn(
                "epoch", F.lit(e).cast("long")
            )
        )
    hist = reduce(lambda a, b: a.unionByName(b), snaps)
    viol = budget_audit(requests, hist, epoch_secs=600.0)
    assert viol.count() == 0
    # negative control: double one epoch's busiest host → budget exceeded
    one = requests.limit(1).select("epoch", "host_hash").collect()[0]
    extra = (
        requests.filter(
            (F.col("epoch") == one["epoch"])
            & (F.col("host_hash") == one["host_hash"])
        )
        # re-id the duplicates so they read as additional requests
        .withColumn("request_id", F.col("request_id") + F.lit(10**15))
    )
    doctored = requests.unionByName(extra)
    for _ in range(7):  # 2^7 × actual ≥ any in-force budget (capacity 100)
        doctored = doctored.unionByName(
            doctored.filter(
                (F.col("epoch") == one["epoch"])
                & (F.col("host_hash") == one["host_hash"])
            ).withColumn("request_id", F.col("request_id") + F.lit(10**14))
        )
    assert budget_audit(doctored, hist, epoch_secs=600.0).count() > 0


def test_calendar_cutoff_read_prunes_files(spark, tmp_path):
    """r4 VERDICT next-round #8: the publication-lag cutoff is pushed into
    the ordinary store read — with a calendar straddling the cutoff, the
    crawl epoch's pruned read must skip the files wholly inside the lag
    window (kept < total in the manifest-pruning counter) while the probe
    batch itself stays identical to the unpruned derivation (the filter is
    still applied; pruning is only file skipping)."""
    from datetime import date, datetime, timedelta, timezone

    from europarl_crawler_spark.plans.epoch import CrawlEngine
    from europarl_crawler_spark.sources.epochstore import EpochStore
    from europarl_crawler_spark.sources.synthetic import (
        session_days_df,
        simulated_web,
    )

    now = datetime(2021, 1, 1, tzinfo=timezone.utc)
    # 60 days ending AT now: the newest ~30 are inside the default
    # publication-lag window, so with range-clustered calendar files a
    # whole tail of files is prunable
    days = session_days_df(
        spark, start=now.date() - timedelta(days=59), n_days=60
    )
    web = simulated_web(spark, days)
    store = EpochStore(tmp_path / "store")
    eng = CrawlEngine(spark, store, web, epoch_secs=600.0)
    eng.bootstrap(days)
    stats = eng.run_epoch(now=now)
    kept, total = stats["days_files_kept"], stats["days_files_total"]
    assert kept is not None and total is not None
    assert 0 < kept < total, (kept, total)
    # and the probes the epoch generated respect the cutoff exactly
    frontier = store.read("frontier", spark)
    cutoff = now.date() - timedelta(days=30)
    probed = [r.dates for r in frontier.select("dates").collect()]
    assert probed and all(d <= cutoff for d in probed)
