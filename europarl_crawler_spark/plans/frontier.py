"""The partitioned priority-queue frontier.

Reproduces the reference's frontier queries as declarative DataFrame plans —
Catalyst handles pushdown/pruning/join-strategy; we handle what it can't:
the deterministic crawl order, per-host politeness budgets, and host-skew
salting (SURVEY §4: the reference crawls ONE host, so host_hash alone is
maximally skewed at 10^10 URLs).

Operator parity (reference file:line → here):
- J1  cross join days × rules              europarl/db/url.py:111
- J2  anti join vs existing urls           europarl/db/url.py:112-116
- J3/J4 semi join vs confirmed days        europarl/db/url.py:118-125
- J5  anti join unchecked days             europarl/db/sessionDay.py:61-75
- J6  retry lane (no terminal status)      europarl/db/sessionDay.py:82-96
- O1/O2 top-k newest, drained oldest-first europarl/db/url.py:126-127;
        workers/dateurlgenerator.py:111-113 (list.pop ⇒ reverse batch order)
- O3/O4 unchecked-days two-branch union    europarl/db/sessionDay.py:76-98;
        workers/sessiondaychecker.py:81-96
- T12 one slot reserved for retry URLs     europarl/db/sessionDay.py:113-114

Determinism: the reference's within-date order is whatever Postgres returns
(unspecified); we *define* the total order with explicit tie-breaks
(dates, rule_id, url_hash) so the crawl order is reproducible — the only
regime where the reference itself is deterministic is Instances=1, which
these keys reproduce (SURVEY §7.4.1).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rules import rules_df, url_expr
from ..functions.urlkit import host_hash_expr, salt_expr, url_hash_expr
from ..sources import schema as S

SESSION_DAY_RULE_ID = 1  # rules_df position of "session_day"
TERMINAL = (200, 404)  # terminal probe statuses (reference db/sessionDay.py:95)
N_SALTS = 16

# Priority is a pure FUNCTION of the row (lane band + date/rule key
# encoding), not a row_number over the batch: no global window anywhere in
# frontier generation (a window would serialize at 10^10-URL scale, VERDICT
# r1 #6), and values from different epochs order correctly against each
# other because the encoding doesn't depend on batch composition. Bands:
# probes ≪ docs ≪ recrawls, so probes drain first within a host (the
# reference's checker holds its own token stream).
BAND = 10**12
PROBE_BAND, DOC_BAND, RECRAWL_BAND = 0, 1, 2


def _days(dates_col) -> F.Column:
    return F.datediff(F.col(dates_col) if isinstance(dates_col, str) else dates_col,
                      F.lit("1970-01-01").cast("date")).cast("long")


def probe_priority_expr(dates_col="dates") -> F.Column:
    """Probe lane: newest day first (desc dates ⇒ asc(10^7 − days))."""
    return F.lit(PROBE_BAND * BAND) + (F.lit(10**7) - _days(dates_col))


def doc_priority_expr(dates_col="dates", rule_col="rule_id") -> F.Column:
    """Doc lane: oldest day first, then rule_id (the reference pops the
    DESC-sorted prefetch batch ⇒ consumes oldest-first)."""
    return F.lit(DOC_BAND * BAND) + _days(dates_col) * 1000 + F.col(rule_col)


def recrawl_priority_expr(dates_col="dates", rule_col="rule_id") -> F.Column:
    """Recrawl lane (O8 spaced refresh): after all fresh work."""
    return F.lit(RECRAWL_BAND * BAND) + _days(dates_col) * 1000 + F.col(rule_col)


def spaced_refresh_keep_expr(off_col) -> F.Column:
    """O8: the piecewise recrawl-spacing schedule as a predicate over the
    document's age in days (reference downloader.py:39-68 spaced_out_dates,
    scaled to the engine's day domain): re-fetch daily for 2 weeks, every 2nd
    day to 42, every 5th to 322, every 10th to 3132. The SAME expression
    drives the engine's recrawl lane (``drain_candidates``) and the
    ``o8_spaced_refresh`` catalog query."""
    off = F.col(off_col) if isinstance(off_col, str) else off_col
    return (off >= 0) & (
        (off < 14)
        | ((off < 42) & (off % 2 == 0))
        | ((off < 322) & (off % 5 == 0))
        | ((off < 3132) & (off % 10 == 0))
    )


def adaptive_refresh(
    history: DataFrame,
    ref_date,
    min_days: int = 1,
    max_days: int = 60,
    k: int = 1,
    key_col: str = "host_key",
) -> DataFrame:
    """Change-rate-ADAPTIVE revisit scheduling — the generalization of the
    reference's fixed spacing table (spaced_refresh_keep_expr) that a
    web-scale crawler runs once it has per-page history: pages that change
    often get short revisit intervals, static pages decay toward
    ``max_days`` (Cho & Garcia-Molina 2003, "Estimating frequency of
    change" — the ratio estimator X/n; its Poisson correction is monotone
    in X/n, so the integer rational form below preserves the schedule
    ordering while staying bit-exact in any engine).

    ``history``: (key, n_visits, n_changes, last_visit:date). Emits
    interval_days = clamp(ceil(k·n_visits / max(n_changes, 1)), min, max)
    — exact integer ceil-division, no float — plus next_due and the due
    flag vs ``ref_date``.

    Scale shape: a pure projection over the per-page state summary (the
    O(urls) url_state table, never the request log) — zero shuffle, zero
    UDF; the due-set filter pushes straight into the state-table scan.
    """
    nv, nc = F.col("n_visits"), F.greatest(F.col("n_changes"), F.lit(1))
    interval = F.least(
        F.greatest(
            ((nv * int(k) + nc - 1) / nc).cast("long"),  # exact ceil-div
            F.lit(int(min_days)),
        ),
        F.lit(int(max_days)),
    )
    out = history.select(
        key_col,
        "n_visits",
        "n_changes",
        interval.alias("interval_days"),
        F.date_add(F.col("last_visit"), interval.cast("int")).alias("next_due"),
    )
    return out.withColumn("due", F.col("next_due") <= F.lit(ref_date))


def crawl_state(frontier: DataFrame, url_state: DataFrame) -> DataFrame:
    """Every frontier row with its URL's ``url_state`` summary — the one
    frame the epoch's per-URL questions read. A null ``terminal`` means
    never fetched: a summary row's ``terminal`` is never null."""
    return frontier.join(url_state, "url_id", "left")


def drain_candidates(state: DataFrame, now_date) -> DataFrame:
    """The epoch's drain candidates, one filter over the crawl state
    (``crawl_state``): pending rows, which have no terminal outcome yet
    (never fetched, or dead-letter retries: T6 keeps 408/460/429/5xx
    eligible), and the O8 recrawl lane, whose ``priority`` becomes the
    recrawl band, after all fresh work.

    Recrawl rows are terminal-200 doc URLs whose session-date age matches
    the spaced-refresh schedule (reference downloader.py:39-68, the
    standalone downloader's daily recrawl pass). Guards: doc lanes only
    (the checker never re-probes terminal days) and at most one recrawl
    per calendar day (``last 200 fetch < today``; the reference runs the
    downloader daily). The two sets are disjoint: the url_state fold makes
    ``has_ok`` imply ``terminal``. Scale shape: one filter and one
    projection, no join of its own, no window, no collect."""
    # "last 200 fetch was before today" compared as INSTANTS against today's
    # UTC midnight — to_date(last_ok_at) would evaluate in the session
    # timezone and shift the guard by a day on a non-UTC cluster (ADVICE r2);
    # the engine's calendar is UTC (run_epoch's now is tz-aware UTC).
    midnight_utc = datetime(
        now_date.year, now_date.month, now_date.day, tzinfo=timezone.utc
    )
    recrawl = (
        (F.col("rule_id") != SESSION_DAY_RULE_ID)
        & spaced_refresh_keep_expr(F.datediff(F.lit(now_date), F.col("dates")))
        & F.col("has_ok")
        & (F.col("last_ok_at") < F.lit(midnight_utc))
    )
    priority = F.when(recrawl, recrawl_priority_expr("dates", "rule_id")).otherwise(
        F.col("priority")
    )
    return (
        state.filter(~F.col("terminal").eqNullSafe(True) | recrawl)
        .withColumn("priority", priority.cast("long"))
        .select(*S.FRONTIER.fieldNames())
    )


def frontier_columns(cand: DataFrame, epoch: int, priority: F.Column) -> DataFrame:
    """Attach url/hashes/salt/priority to a (date_id, rule_id, dates, doc_code,
    infix, language, filetype) candidate set. ``priority``: a column
    expression (see the band encodings above) — drained ascending."""
    url = url_expr("dates", "doc_code", "infix", "language", "filetype")
    return (
        cand.withColumn("url", url)
        .withColumn("url_hash", url_hash_expr("url"))
        .withColumn("host_hash", host_hash_expr("url"))
        .withColumn("salt", salt_expr("url", N_SALTS).cast("int"))
        .withColumn("url_id", F.xxhash64("rule_id", "url"))
        .withColumn("priority", priority.cast("long"))
        .withColumn("created_epoch", F.lit(epoch))
        .select(
            "url_id", "date_id", "rule_id", "dates", "url",
            "url_hash", "host_hash", "salt", "priority", "created_epoch",
        )
    )


def probed_days(state: DataFrame) -> DataFrame:
    """One row per probed session day: ``(dates, terminal, has_ok)``, each
    flag true if any fetch of the day's probe had it. Read off the crawl
    state (``crawl_state``): a probe was fetched iff its ``terminal`` is not
    null. The one per-day frame behind the fresh, retry and confirmed-day
    lanes."""
    return (
        state.filter(
            (F.col("rule_id") == SESSION_DAY_RULE_ID) & F.col("terminal").isNotNull()
        )
        .groupBy("dates")
        .agg(F.max("terminal").alias("terminal"), F.max("has_ok").alias("has_ok"))
    )


def session_day_probes(
    spark: SparkSession,
    days: DataFrame,
    fresh_source: DataFrame,
    state: DataFrame,
    limit: int,
    epoch: int,
    now_date,
    offset_days: int = 30,
) -> DataFrame:
    """The unchecked-days batch (O3): fresh ∪ retry, probed newest-first.

    ``fresh_source`` — the FRESH lane's view of ``days``: the engine's
    store read with ``dates <= cutoff`` pushed to the manifests, so files
    wholly inside the publication-lag window are never opened. The cutoff
    filter below still applies — pruning is file skipping, never the
    exactness mechanism. The retry lane keeps the FULL calendar: a widened
    ``offset_days`` could move today's cutoff behind a probed day, and
    retries must never silently vanish.

    fresh  = days never probed (J5 anti join) AND older than
             ``now − offset_days`` (the reference's publication-lag guard:
             get_unchecked_dates probes generate_series(start, today − offset),
             offset defaulting to 30 days — db/sessionDay.py:36,104 — so a
             live crawl never hammers not-yet-published dates), newest first,
             limit-1 slots;
    retry  = days probed but with NO terminal (200/404) outcome (J6) — the
             dead-letter lane, one guaranteed slot (T12); no offset filter
             (the reference's retry branch has none — a probed day already
             passed the cutoff once).
    Final order = dates DESC (the reference pops the ASC-sorted batch from the
    tail, O4) with url_hash tie-break.

    ``state`` is the crawl state (``crawl_state``), read through
    ``probed_days``; ``terminal`` ⇔ ever 200/404.
    """
    probed = probed_days(state)
    cutoff = now_date - timedelta(days=offset_days)
    fresh = (
        fresh_source.join(probed, "dates", "left_anti")
        .filter(F.col("dates") <= F.lit(cutoff))
        .orderBy(F.desc("dates"))
        .limit(max(limit - 1, 0))
    )
    unfinished = probed.filter(~F.col("terminal")).select("dates")
    retry = (
        days.join(unfinished, "dates", "left_semi")
        .orderBy(F.asc("dates"))
        .limit(limit)
    )
    batch = fresh.unionByName(retry).orderBy(F.asc("dates")).limit(limit)

    rules = rules_df(spark).filter(F.col("rule_id") == SESSION_DAY_RULE_ID)
    cand = batch.crossJoin(F.broadcast(rules))
    return frontier_columns(cand, epoch, probe_priority_expr("dates"))


def confirmed_days(state: DataFrame) -> DataFrame:
    """Days whose session-day probe returned 200 (J4 join chain) — read
    off the crawl state through ``probed_days`` (``has_ok`` ⇔ ever 200)."""
    return probed_days(state).filter(F.col("has_ok")).select("dates")


def todo_combos(
    spark: SparkSession,
    days: DataFrame,
    state: DataFrame,
    limit: int,
    epoch: int,
) -> DataFrame:
    """New document URLs: confirmed days × active rules, minus already-known
    combos (J1+J2+J3), newest-first top-k (O1) drained OLDEST-first (O2).
    """
    rules = rules_df(spark, active_only=True).filter(
        F.col("rule_id") != SESSION_DAY_RULE_ID
    )
    conf = confirmed_days(state).join(days.select("date_id", "dates"), "dates")
    cand = conf.crossJoin(F.broadcast(rules)).join(
        state.select("rule_id", "date_id"), ["rule_id", "date_id"], "left_anti"
    )
    batch = cand.orderBy(
        F.desc("dates"), F.asc("rule_id")
    ).limit(limit)
    # drain order inside the batch: oldest date first (reference list.pop of a
    # DESC-sorted prefetch), rule_id as tie-break — encoded, not ranked
    return frontier_columns(batch, epoch, doc_priority_expr("dates", "rule_id"))


def priority_drain(batch: DataFrame) -> DataFrame:
    """Politeness-bounded drain: the EXACT top-``budget`` rows per host in
    the deterministic order (priority, created_epoch, url_hash).

    ``batch``: frontier rows that already carry their host's ``budget``
    (> 0), as ``plans/politeness.py:host_budgets`` returns them, so the
    drain joins nothing. Two stages so the exactness survives skew at
    10^10-URL scale (SURVEY §4.1/§4.3):

    1. per-(host, salt) prune: each of the N_SALTS shards keeps its own top
       ``budget`` rows — a parallel window over uniformly-sized shards. Any
       row outside its shard's top-B cannot be in the host's global top-B,
       so the prune is lossless.
    2. per-host exact rank over the pruned ≤ N_SALTS × budget rows — the
       heavy frontier never hits a single-task window; only the pruned
       sliver does (budget ≤ 100/host, so ≤ 1600 rows/host).

    drain_seq = position in the host's crawl order — the reproducible
    ordering the equivalence suite asserts (SURVEY §7.4.1); the
    reference's single-host regime makes per-host == global order.
    """
    order = [F.asc("priority"), F.asc("created_epoch"), F.asc("url_hash")]
    w_salt = Window.partitionBy("host_hash", "salt").orderBy(*order)
    pruned = (
        batch.withColumn("_srank", F.row_number().over(w_salt))
        .filter(F.col("_srank") <= F.col("budget"))
        .drop("_srank")
    )
    w_host = Window.partitionBy("host_hash").orderBy(*order)
    return (
        pruned.withColumn("drain_seq", F.row_number().over(w_host))
        .filter(F.col("drain_seq") <= F.col("budget"))
        .drop("budget")
    )
