"""The crawl-epoch driver loop: snapshot-read → plan → drain → fetch → commit.

One epoch = one iteration of the reference's whole multiprocess runtime
(SURVEY §3.1): the queue/worker machinery (mptools) dissolves into batch
dataflow, the bounded queues into per-host politeness budgets (T1), the
DB lock bits into snapshot isolation (T7), and graceful-shutdown cleanup into
``shutdown_compact`` (D4).

Resumability: every table commit is an EpochStore manifest; `CrawlEngine`
restarts from the max committed epoch of the ``epochs`` ledger. A restart
after a fully committed epoch continues cleanly. A restart after a partial
epoch does not yet: the commits written before the crash sit above the
ledger, and the re-run epoch's ``requests`` commit conflicts with the one
already there (ROADMAP item 3).

Between epochs only the store holds crawl state; the engine keeps none.
The seen sketch is a checkpoint under ``_seen_sketch/store``, stamped with
the frontier commit whose url_ids it holds: ``run_epoch`` stamps it after
every frontier commit and opens it only while the stamp equals the frontier
head, so a first epoch, a steady-state epoch and a restart run one path, and
a crash between a commit and its stamp costs a rebuild, never a false
negative. A growing table (``frontier``, ``url_state``) whose live chain
holds ``MAX_LIVE_COMMITS`` commits takes the epoch's growth as one folded
base instead of another append, so reads never list more than that many
directories however long the crawl.

Determinism: with a fixed ``now`` per epoch, the whole crawl — frontier
membership, drain order, politeness state — is a pure function of
(seed days, web, budgets), which is what the ordering-equivalence tests
assert against the reference-semantics simulator.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
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
    priority_drain,
    recrawl_candidates,
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

    def _politeness_df(self) -> DataFrame:
        """Per-host politeness state as a DataFrame — the data-plane form.
        No driver-side host dict: budgets and throttling transitions are
        joins/expressions (plans/politeness.py), so 10^7-10^8 hosts never
        round-trip through the driver."""
        return self._read("politeness", S.POLITENESS).drop("epoch")

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
        matching stamp means every frontier ``url_id`` is in the sketch;
        any other stamp (a crash between the commit and the stamp, or a
        frontier commit made outside the loop) means a rebuild."""
        root = self.store.root / SKETCH
        head = self.store.latest("frontier")
        if head is None or not (root / "meta.json").exists():
            return None
        sketch = CuckooShardStore(root)
        return sketch if sketch.stamp == head else None

    def _build_sketch(self, frontier: DataFrame) -> CuckooShardStore:
        """(Re)build the seen sketch from the frontier, unstamped. It sizes
        at load 0.21 (~4.7× headroom), so per-epoch increments fit for many
        epochs between rebuilds. The shard count comes from the row count
        of the frontier's live manifests (``shard_count_policy``),
        recomputed on every build, so an overflowing frontier re-shards
        itself.

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
        return self.store.latest("epochs") or 0

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
        e = self.current_epoch() + 1
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

        # 2. URL-seen gate on the hashed key: exact anti-join, pre-filtered
        #    by the cuckoo shard store (north_rule). Seen key = url_id
        #    (= rule_id × url, the reference's UNIQUE constraint,
        #    db/url.py:45). No checkpoint stamped with the frontier head
        #    (epoch 1, or a crash before the last stamp) means the plain
        #    anti-join.
        sketch = self._open_sketch()
        fresh = anti_join_seen(new_urls, state, sketch, hash_col="url_id")
        if sketch is not None:
            fresh = fresh.persist()
        # the frontier keeps its OWN commit chain (like documents):
        # shutdown_compact's commit advances it past the crawl clock, and a
        # resumed crawl must commit above BOTH. The gate's exact anti-join
        # leaves only url_ids the frontier lacks, so growth is a keyed
        # insert-only append: reads need no latest-wins window for it. A
        # full live chain folds into one key-unique base of frontier ∪ fresh.
        f_e = max(e, (self.store.latest("frontier") or 0) + 1)
        chain = self.store.live_manifests("frontier")
        if len(chain) < MAX_LIVE_COMMITS:
            m = self.store.append("frontier", fresh, f_e, keys=["url_id"])
            new_rows = m["rows"]
        else:
            base = frontier.unionByName(fresh)
            m = self.store.overwrite("frontier", base, f_e, keys=["url_id"])
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
        if sketch is None:
            sketch = self._build_sketch(frontier)
        # only now does the checkpoint hold every url_id of commit f_e
        sketch.set_stamp(f_e)

        # 3. pending = state rows without a terminal outcome — never fetched
        #    (null) or dead-letter retries (T6: 408/460/429/5xx stay eligible)
        #    — plus the O8 recrawl lane: terminal-200 docs whose age hits the
        #    spaced-refresh schedule re-enter at recrawl priority (after all
        #    fresh work; reference downloader.py:39-68).
        pending = state.filter(~F.col("terminal").eqNullSafe(True))
        pending = pending.select(*S.FRONTIER.fieldNames())
        pending = pending.unionByName(recrawl_candidates(state, now.date()))
        if self.robots is not None:
            pending = apply_robots_gate(pending, self.robots)

        # 4. politeness budgets per host — a join against the state table
        #    (data-plane; no host collect, see plans/politeness.py).
        politeness = self._politeness_df()
        budgets = host_budgets(
            pending.select("host_hash").distinct(),
            politeness,
            self.epoch_secs,
            self.config.min_interval_secs,
            crawl_delays=self.crawl_delays,
        )
        # broadcast hints are config-gated (VERDICT r2 #1): the host-count
        # estimate comes from the politeness table's manifest row count —
        # no counting job. Above the threshold the hints drop and AQE picks
        # the join strategy (thin-key shuffles at the 10^8-host regime).
        est_hosts = self._estimated_hosts()
        thr = self.config.broadcast_threshold_rows
        drained = priority_drain(pending, budgets, hint_broadcast=est_hosts <= thr)

        # 5. fetch + extract (the epoch's big join + the Arrow decode pass).
        fetched = simulate_requests(drained, self.web, e, now).persist()
        self.store.append("requests", requests_log(fetched), e)
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
        # documents has its own commit chain: reset/reextract (D9) may have
        # advanced it past the crawl clock — never commit at-or-below it.
        # A merge, not an append: a recrawl re-extracts the same image_id.
        doc_e = max(e, (self.store.latest("documents") or 0) + 1)
        self.store.merge("documents", docs, doc_e, keys=["image_id"])

        # 6. politeness update from the epoch status flags (A1) — one
        #    full-outer join + expressions, state never leaves the executors.
        pol = politeness_update(
            politeness,
            status_flags_agg(fetched),
            now_secs + self.epoch_secs,
            self.config.min_interval_secs,
        ).withColumn("epoch", F.lit(e))
        self.store.overwrite("politeness", pol, e, keys=["host_hash"])

        # per-partition lineage + fetch metrics (north_rule): counts per
        # (host, salt, status) for this epoch.
        metrics = (
            fetched.groupBy("host_hash", "salt", "status_code")
            .agg(F.count("*").alias("n"))
            .withColumn("epoch", F.lit(e))
        )
        self.store.append("metrics", metrics, e)

        agg = fetched.agg(
            F.count("*").alias("drained"),
            F.sum((F.col("status_code") == 200).cast("long")).alias("ok"),
            F.sum((~F.col("status_code").isin(200, 404)).cast("long")).alias("dead"),
        ).first()
        stats = {
            "epoch": e,
            "new_urls": new_rows,
            "drained": agg["drained"] or 0,
            "fetched_ok": agg["ok"] or 0,
            "dead_letter": agg["dead"] or 0,
            # manifest-pruning counter of the cutoff calendar read
            "days_files_kept": days_prune.get("kept"),
            "days_files_total": days_prune.get("total"),
        }
        ledger = spark.createDataFrame(
            [
                (
                    e,
                    now,
                    stats["new_urls"],
                    stats["drained"],
                    stats["fetched_ok"],
                    stats["dead_letter"],
                )
            ],
            "epoch int, started timestamp, new_urls long, drained long, fetched_ok long, dead_letter long",
        )
        self.store.append("epochs", ledger, e)
        fetched.unpersist()
        return stats

    def run(self, n_epochs: int, start: datetime | None = None) -> list[dict]:
        """Run n epochs with a deterministic simulated clock when ``start`` is
        given (each epoch advances by epoch_secs)."""
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
        db/documents.py get_unprocessed); here the request log + content
        store are sufficient to rebuild the documents table, and the
        image_id merge key makes the rebuild idempotent. The latest-success
        pick is a map-side-combinable max(struct) — no window."""
        # commit above BOTH the crawl clock and the documents table's own
        # chain (a reset writes tombstones at documents-latest + 1, which may
        # already exceed the crawl epoch — colliding would clobber them)
        e = max(self.current_epoch(), self.store.latest("documents") or 0) + 1
        frontier = self._read("frontier", S.FRONTIER)
        requests = self._read("requests", S.REQUESTS)
        latest = (
            requests.filter(F.col("status_code") == 200)
            .groupBy("url_id")
            .agg(F.max(F.struct("requested_at", "epoch")).alias("_s"))
            .select(
                "url_id",
                F.col("_s.requested_at").alias("requested_at"),
                F.col("_s.epoch").alias("epoch"),
            )
        )
        fetched_like = frontier.join(latest, "url_id").withColumn(
            "status_code", F.lit(200)
        )
        # reextract touches every URL ever fetched OK — gate the metadata/key
        # broadcasts on the live frontier's manifest row count
        est_urls = sum(m["rows"] for m in self.store.live_manifests("frontier"))
        docs = extract_documents(
            fetched_like, self.web, self.rules,
            hint_broadcast=est_urls <= self.config.broadcast_threshold_rows,
        )
        m = self.store.merge("documents", docs, e, keys=["image_id"])
        return {"epoch": e, "reextracted": m["rows"]}

    # -- shutdown --------------------------------------------------------------

    def shutdown_compact(self) -> None:
        """D4: drop frontier rows that were never requested (reference
        drop_uncrawled_urls at crawler shutdown, db/url.py:139-156) in one
        base snapshot of the crawled rows, so the next run reads no deltas."""
        # commit above both the crawl clock and the frontier's own chain
        # (repeated shutdowns / post-shutdown crawls advance the latter)
        e = max(self.current_epoch(), self.store.latest("frontier") or 0) + 1
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
