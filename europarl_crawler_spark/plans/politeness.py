"""Per-host token-bucket politeness — exact state machine of the reference.

Reference semantics (europarl/workers/tokenbucket.py):

- throttle(): drains the bucket and doubles INTERVAL_SECS, capped strictly
  below MIN*65536 → max reached value is MIN * 2^16 (tokenbucket.py:48-66;
  truth table tests/workers/test_tokenbucket.py:171-188).
- unthrottle(): halves INTERVAL_SECS, floored at MIN (tokenbucket.py:68-79;
  tests :191-210).
- apply_throttling(codes) precedence: {429,460} → throttle; else any
  500..598 → throttle; else any {200,404} → unthrottle; else no-op
  (tokenbucket.py:80-100; truth table tests :113-168 — note the reference's
  ``range(500,599)`` excludes 599, preserved here).
- check cadence: act only when now > next_check; window = [last_check, now];
  next_check = now + INTERVAL_SECS * THROTTLING_FACTOR (tokenbucket.py:102-122;
  tests :56-110).

``TokenBucket`` is the one-host reference form of that state machine; the
engine runs its data-plane twin below (``host_budgets`` /
``politeness_update`` over the ``politeness`` table), which the tests hold
bit-identical to it. The per-epoch fetch budget replaces the queue: budget =
floor(epoch_secs / INTERVAL_SECS), capped at bucket capacity 100 (reference
jobs/crawler.py:64 — excess tokens are discarded, tokenbucket.py:135-141).
``host_budgets`` attaches it to the drain candidates as a column looked up
from the ``politeness`` table; the engine's broadcast gate
(``EngineConfig.broadcast_threshold_rows`` against the table's manifest row
count) decides whether that lookup is broadcast.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

MIN_INTERVAL_SECS = 3.0  # reference settings.ini:30 (MinIntervalSecs)
THROTTLING_FACTOR = 10.0  # reference settings.ini:33
BUCKET_CAPACITY = 100  # reference jobs/crawler.py:64
MAX_FACTOR = 65536  # 2^16, reference tokenbucket.py:58-59

THROTTLE_RATELIMIT = frozenset({429, 460})
# reference uses list(range(500, 599)) — 599 intentionally NOT included
THROTTLE_SERVER_ERROR = frozenset(range(500, 599))
UNTHROTTLE_OK = frozenset({200, 404})


@dataclass
class TokenBucket:
    """One host's politeness state. Pure, no I/O, no clock of its own."""

    min_interval_secs: float = MIN_INTERVAL_SECS
    throttling_factor: float = THROTTLING_FACTOR
    interval_secs: float = field(default=None)  # type: ignore[assignment]
    last_check: float | None = None  # epoch seconds
    next_check: float | None = None

    def __post_init__(self) -> None:
        if self.interval_secs is None:
            self.interval_secs = self.min_interval_secs

    def startup(self, now: float) -> None:
        self.last_check = now
        self.next_check = now + self.interval_secs * self.throttling_factor

    def throttle(self) -> None:
        # strict '<' against MIN*65536: the interval tops out AT MIN*2^16
        if self.interval_secs < self.min_interval_secs * MAX_FACTOR:
            self.interval_secs = self.interval_secs * 2

    def unthrottle(self) -> None:
        if self.interval_secs > self.min_interval_secs:
            self.interval_secs = self.interval_secs / 2

    def apply_throttling(self, status_codes) -> None:
        codes = [int(c) for c in status_codes]
        if any(c in THROTTLE_RATELIMIT for c in codes):
            self.throttle()
            return
        if any(c in THROTTLE_SERVER_ERROR for c in codes):
            self.throttle()
            return
        if any(c in UNTHROTTLE_OK for c in codes):
            self.unthrottle()
            return

    def check_throttling(self, now: float, status_codes) -> bool:
        """Apply the cadence gate; returns True if a check fired."""
        if self.next_check is None:
            self.startup(now)
        if now > self.next_check:
            self.last_check = now
            self.next_check = now + self.interval_secs * self.throttling_factor
            self.apply_throttling(status_codes)
            return True
        return False

    def epoch_budget(self, epoch_secs: float) -> int:
        """Tokens generated during one epoch, capped by bucket capacity."""
        return min(BUCKET_CAPACITY, int(math.floor(epoch_secs / self.interval_secs)))


# ---------------------------------------------------------------------------
# Distributed (data-plane) form of the same state machine: the per-host state
# lives in the ``politeness`` epoch table and every transition is a pure
# column expression, so budgets and updates are joins — NO driver-side host
# dict, no collect(). At web scale (10^7-10^8 hosts) the driver never sees a
# host list; the state table shuffles once per epoch on host_hash (uniform).
# ---------------------------------------------------------------------------


def budget_expr(interval_col, epoch_secs: float):
    """Tokens generated during one epoch, capped by bucket capacity —
    ``TokenBucket.epoch_budget`` as a column expression."""
    from pyspark.sql import functions as F

    return F.least(
        F.lit(BUCKET_CAPACITY),
        F.floor(F.lit(float(epoch_secs)) / interval_col).cast("int"),
    )


def host_budgets(pending, politeness, epoch_secs: float,
                 min_interval_secs: float = MIN_INTERVAL_SECS,
                 crawl_delays=None, hint_broadcast: bool = True):
    """The ``pending`` rows whose host has a budget > 0 this epoch, each
    carrying its ``budget`` column: a lookup of the host's interval in the
    politeness state table (one row per seen host; unknown hosts take the
    default interval), not an aggregate over the hosts. ``pending`` may be
    any frame with a ``host_hash``: the engine passes its drain
    candidates, a host frame gives one budget row per host.

    ``hint_broadcast`` broadcasts the politeness lookup; the engine sets it
    when the host-count estimate fits the configured threshold. Above it
    the hint is dropped and AQE picks the strategy (a 10^8-host state table
    is multi-GB — thin-key shuffle territory).

    ``crawl_delays`` (optional, (host_hash, crawl_delay) from
    robots.crawl_delays_df): a robots Crawl-delay FLOORS the effective
    interval — the adaptive token-bucket interval may back off above it on
    errors, but polite crawling never requests faster than the host asked.
    Another broadcast-class dimension lookup; no new shuffle of anything
    big. A delay ≥ epoch_secs accrues under one token per epoch and yields
    budget 0 (host skipped) — same as an error-backed-off interval; the
    epoch cadence is the scheduling quantum, so size epoch_secs at or above
    the largest delay you intend to honor.
    """
    from pyspark.sql import functions as F

    pol = politeness.select("host_hash", "interval_secs")
    joined = pending.join(F.broadcast(pol) if hint_broadcast else pol, "host_hash", "left")
    interval = F.coalesce("interval_secs", F.lit(float(min_interval_secs)))
    if crawl_delays is not None:
        joined = joined.join(
            F.broadcast(crawl_delays.select("host_hash", "crawl_delay")), "host_hash", "left"
        )
        interval = F.greatest(interval, F.coalesce("crawl_delay", F.lit(0.0)))
    return (
        joined.withColumn("budget", budget_expr(interval, epoch_secs))
        .drop("interval_secs", "crawl_delay")
        .filter(F.col("budget") > 0)
    )


def status_flags_agg(fetched):
    """Per-host epoch histogram reduced to the three precedence flags of
    ``TokenBucket.apply_throttling`` (rate-limit > server-error > success) —
    one groupBy with map-side combine; the full code set never materializes."""
    from pyspark.sql import functions as F

    rl_codes = sorted(THROTTLE_RATELIMIT)
    ok_codes = sorted(UNTHROTTLE_OK)
    return fetched.groupBy("host_hash").agg(
        F.max(F.col("status_code").isin(*rl_codes).cast("int")).alias("rl"),
        # the reference's range(500, 599) — 599 intentionally excluded
        F.max(
            ((F.col("status_code") >= 500) & (F.col("status_code") <= 598)).cast("int")
        ).alias("se"),
        F.max(F.col("status_code").isin(*ok_codes).cast("int")).alias("ok"),
    )


def politeness_update(politeness, flags, now: float,
                      min_interval_secs: float = MIN_INTERVAL_SECS,
                      throttling_factor: float = THROTTLING_FACTOR):
    """One ``check_throttling`` step for every host as a full-outer join +
    column expressions — semantics bit-identical to ``TokenBucket``:

    - host with events, no prior next_check → startup (no interval change);
    - host with events, now > next_check → fire: interval doubles (strictly
      below MIN·2^16 before doubling) / halves (floored at MIN) per the
      rl > se > ok precedence; next_check advances by the OLD interval ×
      factor (the reference computes next_check before applying);
    - host with events, cadence not due → no-op;
    - host without events → state unchanged (no check fires).

    Output schema matches the ``politeness`` table.
    """
    from pyspark.sql import functions as F

    mn = float(min_interval_secs)
    j = politeness.select(
        "host_hash", "interval_secs", "last_check", "next_check"
    ).join(flags, "host_hash", "full_outer")
    iv = F.coalesce("interval_secs", F.lit(mn))
    has_events = F.col("rl").isNotNull()
    startup = has_events & F.col("next_check").isNull()
    fire = has_events & F.col("next_check").isNotNull() & (F.lit(float(now)) > F.col("next_check"))
    throttle = fire & ((F.col("rl") == 1) | (F.col("se") == 1))
    unthrottle = fire & (F.col("rl") == 0) & (F.col("se") == 0) & (F.col("ok") == 1)
    new_iv = (
        F.when(throttle & (iv < mn * MAX_FACTOR), iv * 2)
        .when(unthrottle & (iv > mn), iv / 2)
        .otherwise(iv)
    )
    checked = startup | fire
    return j.select(
        "host_hash",
        new_iv.alias("interval_secs"),
        F.when(checked, F.lit(float(now))).otherwise(F.col("last_check")).alias("last_check"),
        F.when(checked, F.lit(float(now)) + iv * F.lit(float(throttling_factor)))
        .otherwise(F.col("next_check"))
        .alias("next_check"),
    )


# ---------------------------------------------------------------------------
# After-the-fact compliance audit (P12): the verifier dual of the emission-
# side token bucket. TokenBucket enforces spacing when requests are emitted;
# this audits an already-written request log — ours, or any external crawl's.
# ---------------------------------------------------------------------------


def politeness_audit(requests, min_interval_secs: float,
                     host_col: str = "host_key",
                     ts_col: str = "requested_at",
                     id_col: str = "request_id"):
    """Rows of a timestamped request log that violate the per-host minimum
    request interval: gap to the PREVIOUS same-host request < the interval.

    Ordering within a host is total — (timestamp, request_id) — so the
    previous-row assignment is deterministic in any engine; equal-timestamp
    same-host rows audit as gap 0 (a violation for any interval > 0, which
    is the right call: two simultaneous hits on one host are never polite).

    Scale shape: ONE shuffle keyed by host; the lag window never spans
    hosts, so partition state is bounded by the busiest single host's log,
    not the corpus. Gaps are exact int64 microseconds — no float time math.

    Reference analog: TokenBucket spacing (reference
    europarl/elasticsearch/tokenbucket.py semantics, settings MinIntervalSecs)
    enforced at emission; this operator is the after-the-fact verifier a
    crawl operator runs over the log table. The engine's own per-epoch
    budget model is audited by the companion ``budget_audit`` below.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(host_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    # timestampdiff works on TIMESTAMP and TIMESTAMP_NTZ alike and measures
    # the wall-clock delta — the same number DuckDB's epoch_us difference
    # yields on its naive timestamps (no zone/DST reinterpretation).
    out = requests.select(
        F.col(host_col),
        F.col(id_col),
        F.lag(id_col).over(w).alias("prev_request_id"),
        F.lag(ts_col).over(w).alias("_prev_ts"),
        F.col(ts_col).alias("_ts"),
    ).select(
        host_col,
        id_col,
        "prev_request_id",
        F.expr("timestampdiff(MICROSECOND, _prev_ts, _ts)").alias("gap_us"),
    )
    return out.filter(
        F.col("prev_request_id").isNotNull()
        & (F.col("gap_us") < int(round(min_interval_secs * 1_000_000)))
    )


def budget_audit(requests, politeness, epoch_secs: float,
                 min_interval_secs: float = MIN_INTERVAL_SECS):
    """(epoch, host_hash) groups of the ENGINE's request log that exceed the
    politeness budget in force for that epoch — must be empty for a healthy
    crawl (pinned by tests/test_crawl_e2e.py on a real engine run).

    The budget is recomputed from the politeness STATE TABLE as written at
    the PREVIOUS epoch's commit (the state that governed this epoch's
    drain), via the same ``budget_expr`` the scheduler used. ``politeness``
    is that table's history: each snapshot read ``as_of`` an epoch, tagged
    with that epoch as an ``epoch`` column. So the audit
    shares the production formula rather than re-deriving constants. Hosts
    absent from the state table use the default interval. One groupBy on
    (epoch, host_hash) + a broadcast-class join against the state table.
    """
    from pyspark.sql import functions as F

    counts = requests.groupBy("epoch", "host_hash").agg(F.count("*").alias("n"))
    prior = politeness.select(
        "host_hash", (F.col("epoch") + 1).alias("epoch"), "interval_secs"
    )
    j = counts.join(prior, ["epoch", "host_hash"], "left").select(
        "epoch",
        "host_hash",
        "n",
        budget_expr(
            F.coalesce("interval_secs", F.lit(float(min_interval_secs))), epoch_secs
        ).alias("budget"),
    )
    return j.filter(F.col("n") > F.col("budget"))


def asof_throttle_audit(
    requests,
    updates,
    default_interval_secs: int,
    host_col: str = "host_key",
    ts_col: str = "requested_at",
    id_col: str = "request_id",
    update_ts_col: str = "uts",
    interval_col: str = "interval_secs",
):
    """Politeness audit against the TIME-VARYING per-host interval — the
    judge-against-state-at-request-time refinement of ``politeness_audit``
    (which audits one fixed interval): each request's gap to the previous
    same-host request is compared to the interval IN EFFECT at its own
    timestamp, looked up from a (host, effective-ts, interval) update log
    with the as-of join (operators/asof.py — throttle tightens after a
    429, relaxes after a success; the reference's TokenBucket interval as
    a timeline instead of a scalar).

    ``updates`` must be unique per (host, effective-ts) — pre-aggregate
    ties (the lane takes max: the tighter interval wins a tie). Hosts or
    times before the first update audit against ``default_interval_secs``.

    Plan shape: one host-keyed lag window (same as politeness_audit) +
    the as-of join's single key shuffle. Exact int64 microsecond gaps;
    interval seconds stay integers — no float time math anywhere.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join

    w = Window.partitionBy(host_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    g = (
        requests.select(host_col, id_col, ts_col)
        .withColumn("_prev", F.lag(ts_col).over(w))
        .withColumn(
            "gap_us", F.expr(f"timestampdiff(MICROSECOND, _prev, {ts_col})")
        )
        .drop("_prev")
    )
    enriched = asof_join(
        g,
        updates,
        key=host_col,
        left_ts=ts_col,
        right_ts=update_ts_col,
        value_cols=[interval_col],
    )
    eff = F.coalesce(
        F.col(f"asof_{interval_col}"), F.lit(int(default_interval_secs))
    ).cast("long")
    return (
        enriched.withColumn("eff_interval_s", eff)
        .where(
            F.col("gap_us").isNotNull()
            & (F.col("gap_us") < F.col("eff_interval_s") * F.lit(1000000))
        )
        .select(host_col, id_col, "gap_us", "eff_interval_s")
    )
