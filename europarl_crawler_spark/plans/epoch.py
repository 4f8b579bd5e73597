"""The crawl-epoch driver loop: snapshot-read → plan → drain → fetch → commit.

One epoch = one iteration of the reference's whole multiprocess runtime
(SURVEY §3.1): the queue/worker machinery (mptools) dissolves into batch
dataflow, the bounded queues into per-host politeness budgets (T1), the
DB lock bits into snapshot isolation (T7), and graceful-shutdown cleanup into
``shutdown_compact`` (D4).

Resumability: one crawl clock. The head L of the ``epochs`` ledger (0 when
it is empty; epoch 0 is the seed epoch) is the last committed epoch, and a
ledger row is an epoch's commit point: its last commit. Every writer of a
crawl table (``CRAWL_TABLES``) takes its epoch from ``open_epoch``, which
first rolls back every crawl-table commit above L (a crash's leftovers) and
returns L + 1, commits every table write at that one epoch, and ends with
``commit_epoch``'s ledger row. So a restart after a crash at any point of
an epoch re-runs that epoch from the same snapshot and reaches the same
tables as a run without the crash. The rollback makes crawl-table writers
single-writer; readers outside an epoch (the indexer) read as of
``ledger_head`` and roll nothing back.

Between epochs only the store holds crawl state; the engine keeps none.
The seen sketch runs only while the frontier holds more than
``broadcast_threshold_rows`` rows: below that the seen gate's exact
anti-join broadcasts the frontier's url_ids, so no candidate shuffles and a
pre-filter has nothing to save, and an epoch opens, builds and stamps no
sketch. Above it the sketch is a checkpoint under ``_seen_sketch/store``,
stamped with the frontier commit whose url_ids it holds: ``run_epoch``
stamps it after every frontier commit and opens it only while the stamp
equals the frontier head, so the first epoch above the threshold, a
steady-state epoch and a restart run one path, and a crash between a commit
and its stamp costs a rebuild, never a false negative. An epoch under the
threshold commits the frontier without a stamp, so a crawl that grows past
it rebuilds the sketch from its grown frontier. ``open_epoch`` unstamps a
checkpoint stamped above L: after the rollback, a re-run epoch can commit a
different frontier under the same number. The invariant is one-sided: a
stamp equal to the head means the shards hold a superset of the frontier's
url_ids. A crash inside ``add_many`` leaves the old stamp and fingerprints
of the append that the restart rolls back; they stay until the next
rebuild, costing load and an exact anti-join for those ids, never a wrong
answer.

A growing table (``frontier``, ``url_state``) whose live chain holds
``MAX_LIVE_COMMITS`` commits takes the epoch's growth as one folded base
instead of another append, so reads never list more than that many
directories however long the crawl.

Determinism: with a fixed ``now`` per epoch, the whole crawl — frontier
membership, drain order, politeness state — is a pure function of
(seed days, web, budgets), which is what the ordering-equivalence tests
assert against the reference-semantics simulator.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import numpy as np

from ..functions.cuckoo import CuckooShardStore, shard_count_policy
from ..functions.rules import rules_df
from ..functions.seen import anti_join_seen
from ..sources import schema as S
from ..sources.epochstore import EpochStore
from .fetch import extract_documents, requests_log, simulate_requests
from .frontier import (
    TERMINAL,
    crawl_state,
    drain_candidates,
    priority_drain,
    session_day_probes,
    todo_combos,
)
from .politeness import (
    BUCKET_CAPACITY,
    host_budgets,
    politeness_update,
    status_flags_agg,
)
from .robots import apply_robots_gate

SKETCH = "_seen_sketch/store"  # the seen-sketch checkpoint, under the store root
# the longest live chain (newest base + the commits after it) a growing
# table keeps: a read lists every live epoch directory, and Spark lists more
# than spark.sql.sources.parallelPartitionDiscovery.threshold (32) paths
# with a Spark job, so a longer chain would make each read start one
MAX_LIVE_COMMITS = 32
# the tables open_epoch rolls back: every commit to one of them above the
# ledger head belongs to an epoch that has no ledger row
CRAWL_TABLES = ("frontier", "url_state", "requests", "documents", "politeness", "metrics")
LEDGER = "epoch int, started timestamp, new_urls long, drained long, fetched_ok long, dead_letter long"


def _checkpoint(store: EpochStore) -> CuckooShardStore | None:
    """The seen-sketch checkpoint under the store root, whatever its stamp."""
    root = store.root / SKETCH
    return CuckooShardStore(root) if (root / "meta.json").exists() else None


def ledger_head(store: EpochStore) -> int:
    """The crawl clock's last committed epoch L: the head of the ``epochs``
    ledger, 0 when it is empty. Crawl-table readers outside an epoch read
    ``as_of`` it, so they never see an epoch still in flight."""
    return store.latest("epochs") or 0


def open_epoch(store: EpochStore) -> int:
    """Open the next epoch on the crawl clock: roll every crawl table back
    to the ledger head L, unstamp a seen-sketch checkpoint stamped above L,
    and return L + 1. Without a crash this lists each table's manifest
    names once: no manifest parse, no Spark job.

    The rollback cannot tell a crash's leftovers from an epoch another
    writer has in flight, so crawl-table writers must be single-writer:
    one crawl or maintenance writer at a time. It refuses (and touches
    nothing) when a crawl table is expired up to a base above L, since
    every commit older than that base is gone and the rollback would leave
    the table empty; a store written before the crawl clock existed can
    hold such a base."""
    head = ledger_head(store)
    expired = [t for t in CRAWL_TABLES if (store.expiry_watermark(t) or 0) > head]
    if expired:
        raise ValueError(f"{expired}: expired up to a base above the epochs ledger head {head}")
    for table in CRAWL_TABLES:
        store.rollback(table, head)
    sketch = _checkpoint(store)
    if sketch is not None and (sketch.stamp or 0) > head:
        sketch.set_stamp(None)
    return head + 1


def commit_epoch(store: EpochStore, spark: SparkSession, e: int, now=None, stats=None) -> None:
    """Commit epoch ``e`` by appending its ledger row, the epoch's last
    commit: its start and the counts of a crawl epoch's ``stats``. A
    maintenance epoch (no stats) records no start and zero counts."""
    counts = [(stats or {}).get(c, 0) for c in ("new_urls", "drained", "fetched_ok", "dead_letter")]
    store.append("epochs", S.local_df(spark, [(e, now, *counts)], LEDGER), e)


def _url_state_delta(fetched: DataFrame) -> DataFrame:
    """One epoch's fetch outcomes reduced to per-URL state-summary rows
    (the url_state table's append unit). Pure groupBy-max — combinable."""
    is_ok = F.col("status_code") == 200
    return fetched.groupBy("url_id").agg(
        F.max(F.col("status_code").isin(*TERMINAL)).alias("terminal"),
        F.max(is_ok).alias("has_ok"),
        F.max(F.when(is_ok, F.col("requested_at"))).alias("last_ok_at"),
        F.max(F.when(is_ok, F.col("epoch"))).cast("int").alias("last_ok_epoch"),
    )


def _fold_url_state(deltas: DataFrame) -> DataFrame:
    """url_state delta rows folded to one summary row per URL — the same
    map-side-combinable max aggregation as the deltas themselves."""
    return deltas.groupBy("url_id").agg(
        F.max("terminal").alias("terminal"),
        F.max("has_ok").alias("has_ok"),
        F.max("last_ok_at").alias("last_ok_at"),
        F.max("last_ok_epoch").alias("last_ok_epoch"),
    )


def _url_ids(df: DataFrame) -> np.ndarray:
    """The ``url_id`` column on the driver as int64 numpy, through the Arrow
    collect path — no per-row ``Row`` objects."""
    return df.select("url_id").toArrow().column("url_id").to_numpy()


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: EpochStore,
        web: DataFrame,
        robots: DataFrame | None = None,
        prefetch_limit: int | None = None,
        epoch_secs: float | None = None,
        config=None,
        crawl_delays: DataFrame | None = None,
    ):
        from ..config import EngineConfig

        cfg = config or EngineConfig()
        self.spark = spark
        self.store = store
        self.web = web
        self.robots = robots
        # robots Crawl-delay dimension (plans/robots.crawl_delays_df):
        # floors the per-host request interval in host_budgets
        self.crawl_delays = crawl_delays
        self.config = cfg
        self.prefetch_limit = prefetch_limit if prefetch_limit is not None else cfg.prefetch_limit
        self.epoch_secs = epoch_secs if epoch_secs is not None else cfg.epoch_secs
        self.rules = rules_df(spark)

    # -- state ----------------------------------------------------------------

    def _url_state(self) -> DataFrame:
        """Per-URL crawl-state summary: (terminal = ever 200/404, has_ok =
        ever 200, last_ok_at/epoch). Joined to the frontier (``crawl_state``),
        it answers every per-URL question of the epoch instead of
        re-aggregating the append-only requests log — per-epoch cost is
        O(urls fetched), bounded, instead of O(requests ever), unbounded.

        Stored as APPEND deltas (one summary row per fetched URL per epoch)
        and folded here with a map-side-combinable max aggregation — no
        window; once the live chain holds ``MAX_LIVE_COMMITS`` commits the
        epoch commits the fold as a base snapshot instead, so read
        amplification stays bounded."""
        return _fold_url_state(self._read("url_state", S.URL_STATE))

    def _open_sketch(self) -> CuckooShardStore | None:
        """The seen-sketch checkpoint, opened only when its stamp is the
        frontier head. ``run_epoch`` stamps it with every frontier commit
        it makes, after the commit's url_ids are in the shard files, so a
        matching stamp means every frontier ``url_id`` is in the sketch (a
        superset: ids of a rolled-back append can stay);
        any other stamp (a crash between the commit and the stamp, or a
        frontier commit made outside the loop) means a rebuild."""
        sketch = _checkpoint(self.store)
        head = self.store.latest("frontier")
        if sketch is None or head is None or sketch.stamp != head:
            return None
        return sketch

    def _build_sketch(self, frontier: DataFrame) -> CuckooShardStore:
        """(Re)build the seen sketch from the frontier, unstamped: in the
        first epoch whose frontier is above ``broadcast_threshold_rows``
        rows, after an overflow, or when no checkpoint is stamped with the
        frontier head. It sizes at load 0.21 (~4.7× headroom), so per-epoch
        increments fit for many epochs between rebuilds. The shard count
        comes from the row count of the frontier's live manifests
        (``shard_count_policy``), recomputed on every build, so an
        overflowing frontier re-shards itself.

        The sketch is a :class:`~europarl_crawler_spark.functions.cuckoo.
        CuckooShardStore`: shard tables live as files under the store
        root (executor-resident probes, driver peak = ONE shard —
        O(frontier/n_shards) per task, never the whole filter in any
        process; the r4 design broadcast the concatenated filter, ~25 GB
        at 10^10 URLs)."""
        rows = sum(m["rows"] for m in self.store.live_manifests("frontier"))
        return CuckooShardStore.build(
            frontier,
            self.store.root / SKETCH,
            "url_id",
            n_shards=shard_count_policy(rows),
            load=0.21,
        )

    def bootstrap(self, days: DataFrame) -> None:
        """Initial load: seed-day domain (reference table bootstrap +
        rule-registry upsert, jobs/crawler.py:47-56). The calendar is
        written RANGE-CLUSTERED by ``dates`` so each file's footer bounds
        cover a tight date span — what makes the publication-lag cutoff
        read (run_epoch's ``dates <= now - offset`` predicate) prune at
        the manifest level instead of opening every calendar file."""
        if self.store.latest("session_days") is None:
            n_files = max(days.rdd.getNumPartitions(), 1)
            clustered = days.repartitionByRange(n_files, "dates")
            self.store.overwrite("session_days", clustered, 0, keys=["date_id"])

    def current_epoch(self) -> int:
        return ledger_head(self.store)

    def _estimated_hosts(self) -> int:
        """Host-count estimate from the politeness table's live chain — one
        base, one row per seen host: a single manifest parse, no Spark job."""
        return sum(m["rows"] for m in self.store.live_manifests("politeness"))

    def _read(self, table: str, schema, **kw) -> DataFrame:
        return self.store.read(table, self.spark, schema=schema, **kw).drop(
            "_epoch", "_deleted"
        )

    # -- one epoch -------------------------------------------------------------

    def run_epoch(self, now: datetime | None = None) -> dict:
        e = open_epoch(self.store)
        now = now or datetime.now(timezone.utc)
        now_secs = now.timestamp()
        spark = self.spark

        days = self._read("session_days", S.SESSION_DAYS)
        frontier = self._read("frontier", S.FRONTIER)
        url_state = self._url_state()
        state = crawl_state(frontier, url_state)

        # 1. frontier growth: probe URLs for unchecked days (O3/J5/J6/T12) and
        #    doc URLs for confirmed days (J1/J2/J3/O1), read off the crawl
        #    state. Combos are anti-joined against the frontier's (rule_id,
        #    date_id); probes are not — a probe day still pending in the
        #    frontier is generated again every epoch. The seen gate (step 2)
        #    drops those, and it is what makes the frontier commit insert-only.
        # fresh-probe calendar read with the publication-lag cutoff pushed
        # to the store: files whose date range is wholly inside the lag
        # window are pruned at the manifest level (EpochStore.read
        # predicates; store.last_prune records kept/total — surfaced in
        # this epoch's stats). Retry keeps the full calendar (see
        # session_day_probes docstring).
        cutoff = now.date() - timedelta(days=self.config.probe_offset_days)
        days_fresh = self._read(
            "session_days", S.SESSION_DAYS, predicates=[("dates", None, cutoff)]
        )
        days_prune = dict(getattr(self.store, "last_prune", {}) or {})
        probes = session_day_probes(
            spark, days, days_fresh, state, self.prefetch_limit, e,
            now.date(), offset_days=self.config.probe_offset_days,
        )
        combos = todo_combos(spark, days, state, self.prefetch_limit, e)
        new_urls = probes.unionByName(combos)

        # 2. URL-seen gate on the hashed key: the exact anti-join. Seen key
        #    = url_id (= rule_id × url, the reference's UNIQUE constraint,
        #    db/url.py:45). Up to broadcast_threshold_rows frontier rows
        #    (the live manifests' row count) the seen side is a broadcast,
        #    no candidate shuffles, and a pre-filter has nothing to skip:
        #    the epoch keeps no sketch. Above it the cuckoo shard store
        #    (north_rule) pre-filters the anti-join; no checkpoint stamped
        #    with the frontier head (the first epoch above the threshold,
        #    or a crash before the last stamp) means the plain anti-join.
        chain = self.store.live_manifests("frontier")
        thr = self.config.broadcast_threshold_rows
        large = sum(m["rows"] for m in chain) > thr
        sketch = self._open_sketch() if large else None
        fresh = anti_join_seen(
            new_urls, state, sketch, hash_col="url_id", hint_broadcast=not large
        )
        if sketch is not None:
            fresh = fresh.persist()
        # the gate's exact anti-join leaves only url_ids the frontier lacks,
        # so growth is a keyed insert-only append: reads need no latest-wins
        # window for it. A full live chain folds into one key-unique base of
        # frontier ∪ fresh.
        if len(chain) < MAX_LIVE_COMMITS:
            m = self.store.append("frontier", fresh, e, keys=["url_id"])
            new_rows = m["rows"]
        else:
            base = frontier.unionByName(fresh)
            m = self.store.overwrite("frontier", base, e, keys=["url_id"])
            # the chain is delta-free: its rows sum to the frontier's
            new_rows = m["rows"] - sum(c["rows"] for c in chain)
        if sketch is not None:
            # incremental sketch maintenance: only THIS epoch's genuinely-new
            # url_ids (post exact anti-join) cross to the driver — O(delta),
            # bounded by the prefetch limits, never an O(frontier) rebuild.
            # Overflow (headroom exhausted) drops the sketch; it is rebuilt
            # below from the grown frontier.
            try:
                sketch.add_many(np.unique(_url_ids(fresh)))
            except RuntimeError:
                sketch = None
            fresh.unpersist()
        # the grown frontier: with a pinned schema the re-read runs no job
        frontier = self._read("frontier", S.FRONTIER)
        state = crawl_state(frontier, url_state)
        if large:
            if sketch is None:
                sketch = self._build_sketch(frontier)
            # only now does the checkpoint hold every url_id of commit e
            sketch.set_stamp(e)

        # 3. drain candidates: one filter over the crawl state — rows
        #    without a terminal outcome, never fetched (null) or dead-letter
        #    retries (T6: 408/460/429/5xx stay eligible), plus the O8
        #    recrawl lane: terminal-200 docs whose age hits the
        #    spaced-refresh schedule re-enter at recrawl priority (after all
        #    fresh work; reference downloader.py:39-68).
        candidates = drain_candidates(state, now.date())
        if self.robots is not None:
            candidates = apply_robots_gate(candidates, self.robots)

        # 4. each candidate's host budget, a column looked up from the
        #    politeness state table (data-plane; no host collect, see
        #    plans/politeness.py), so 10^7-10^8 hosts never leave the
        #    executors. Broadcast hints are config-gated (VERDICT
        #    r2 #1): the host-count estimate comes from the politeness
        #    table's manifest row count — no counting job. Above the
        #    threshold the hints drop and AQE picks the join strategy
        #    (thin-key shuffles at the 10^8-host regime).
        politeness = self._read("politeness", S.POLITENESS)
        est_hosts = self._estimated_hosts()
        batch = host_budgets(
            candidates,
            politeness,
            self.epoch_secs,
            self.config.min_interval_secs,
            crawl_delays=self.crawl_delays,
            hint_broadcast=est_hosts <= thr,
        )
        drained = priority_drain(batch)

        # 5. fetch + extract (the epoch's big join + the Arrow decode pass).
        fetched = simulate_requests(drained, self.web, e, now).persist()
        # the epoch's counts ride the requests write: no job of their own
        observed = Observation()
        self.store.append("requests", requests_log(fetched).observe(
            observed,
            F.count(F.lit(1)).alias("drained"),
            F.sum((F.col("status_code") == 200).cast("long")).alias("fetched_ok"),
            F.sum((~F.col("status_code").isin(200, 404)).cast("long")).alias("dead_letter"),
        ), e)
        # url_state delta: this epoch's outcomes summarized per URL, folded
        # at read. A full live chain commits the fold of the epoch's
        # url_state frame and this delta as a base instead (refolding a max
        # fold is exact), so reads stay O(urls)+O(MAX_LIVE_COMMITS deltas).
        delta = _url_state_delta(fetched)
        if len(self.store.live_manifests("url_state")) < MAX_LIVE_COMMITS:
            self.store.append("url_state", delta, e)
        else:
            fold = _fold_url_state(url_state.unionByName(delta))
            self.store.overwrite("url_state", fold, e)
        docs = extract_documents(
            fetched, self.web, self.rules,
            hint_broadcast=est_hosts * BUCKET_CAPACITY <= thr,
        )
        # a merge, not an append: a recrawl re-extracts the same image_id
        self.store.merge("documents", docs, e, keys=["image_id"])

        # 6. politeness update from the epoch status flags (A1) — one
        #    full-outer join + expressions, state never leaves the executors.
        pol = politeness_update(
            politeness,
            status_flags_agg(fetched),
            now_secs + self.epoch_secs,
            self.config.min_interval_secs,
        )
        self.store.overwrite("politeness", pol, e, keys=["host_hash"])

        # per-partition lineage + fetch metrics (north_rule): counts per
        # (host, salt, status) for this epoch.
        metrics = (
            fetched.groupBy("host_hash", "salt", "status_code")
            .agg(F.count("*").alias("n"))
            .withColumn("epoch", F.lit(e))
        )
        self.store.append("metrics", metrics, e)

        # a null sum is an empty epoch's 0
        counts = {k: v or 0 for k, v in observed.get.items()}
        stats = {
            "epoch": e,
            "new_urls": new_rows,
            "drained": counts["drained"],
            "fetched_ok": counts["fetched_ok"],
            "dead_letter": counts["dead_letter"],
            # manifest-pruning counter of the cutoff calendar read
            "days_files_kept": days_prune.get("kept"),
            "days_files_total": days_prune.get("total"),
        }
        commit_epoch(self.store, spark, e, now, stats)
        fetched.unpersist()
        return stats

    def run(self, n_epochs: int, start: datetime | None = None) -> list[dict]:
        """Run n epochs with a deterministic simulated clock when ``start`` is
        given (each ledger epoch, maintenance ones too, advances it by
        epoch_secs)."""
        out = []
        for i in range(n_epochs):
            now = None
            if start is not None:
                now = start + timedelta(seconds=self.epoch_secs * (self.current_epoch()))
            out.append(self.run_epoch(now))
        return out

    # -- reprocessing ----------------------------------------------------------

    def reextract(self) -> dict:
        """Re-run the extraction stage for every successfully-fetched URL —
        the postprocessing re-run after ``reset_postprocessing`` (D9).

        Reference: the postprocessing worker re-enqueues every document whose
        ``data IS NULL`` (workers/postprocessingworker.py:37-65 over
        db/documents.py get_unprocessed); here the crawl state + content
        store are sufficient to rebuild the documents table, and the
        image_id merge key makes the rebuild idempotent. Each URL's latest
        success is its ``url_state`` summary (``last_ok_at``, ``last_ok_epoch``):
        no scan of the request log."""
        e = open_epoch(self.store)
        state = crawl_state(self._read("frontier", S.FRONTIER), self._url_state())
        fetched_like = state.filter("has_ok").select(
            *S.FRONTIER.fieldNames(),
            F.col("last_ok_at").alias("requested_at"),
            F.col("last_ok_epoch").alias("epoch"),
            F.lit(200).alias("status_code"),
        )
        # reextract touches every URL ever fetched OK — gate the metadata/key
        # broadcasts on the live frontier's manifest row count
        est_urls = sum(m["rows"] for m in self.store.live_manifests("frontier"))
        docs = extract_documents(
            fetched_like, self.web, self.rules,
            hint_broadcast=est_urls <= self.config.broadcast_threshold_rows,
        )
        m = self.store.merge("documents", docs, e, keys=["image_id"])
        commit_epoch(self.store, self.spark, e)
        return {"epoch": e, "reextracted": m["rows"]}

    # -- shutdown --------------------------------------------------------------

    def shutdown_compact(self) -> None:
        """D4: drop frontier rows that were never requested (reference
        drop_uncrawled_urls at crawler shutdown, db/url.py:139-156) in one
        base snapshot of the crawled rows, so the next run reads no deltas.
        A maintenance epoch on the crawl clock: it ends with a ledger row."""
        e = open_epoch(self.store)
        state = crawl_state(self._read("frontier", S.FRONTIER), self._url_state())
        # a null terminal ⇔ no url_state row ⇔ never requested
        uncrawled = state.filter(F.col("terminal").isNull())
        sketch = self._open_sketch()
        if sketch is not None:
            # the deletable-sketch payoff (reference deletes seen rows,
            # db/url.py:139-156): evict the dropped urls from the cuckoo
            # in place instead of rebuilding. Collected BEFORE the overwrite
            # replaces the frontier's snapshot. A huge drop set would
            # make rebuild cheaper than delete — past the broadcast
            # threshold just discard the sketch; the next epoch rebuilds.
            # At most threshold + 1 ids cross to the driver either way.
            thr = self.config.broadcast_threshold_rows
            ids = _url_ids(uncrawled.limit(thr + 1))
            # unstamp first: a crash mid-eviction must leave no checkpoint
            # that matches the frontier head (re-stamped below)
            sketch.set_stamp(None)
            if len(ids) <= thr:
                sketch.delete_many(np.unique(ids))
            else:
                sketch = None
        crawled = state.filter(F.col("terminal").isNotNull())
        self.store.overwrite(
            "frontier", crawled.select(*S.FRONTIER.fieldNames()), e, keys=["url_id"]
        )
        # post-eviction sketch == resolved frontier: stamp it with that
        # commit so the next epoch opens it instead of rescanning the frontier
        if sketch is not None:
            sketch.set_stamp(e)
        commit_epoch(self.store, self.spark, e)
