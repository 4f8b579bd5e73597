"""Streaming view of the crawl: the requests log as an unbounded source.

The reference has no event-time processing (SURVEY T11) — its "streams" are
bounded multiprocessing queues. The rebuild exposes the natural streaming
surface a production crawler wants on top of the same tables:

- ``windowed_status_counts``: tumbling event-time windows + watermark over
  the requests log (late fetch records tolerated up to the watermark) — the
  streaming twin of the A1 status histogram.
- ``politeness_query``: a custom **stateful** operator via
  ``applyInPandasWithState`` — one TokenBucket state machine per host,
  updated by each micro-batch's status codes, emitting interval changes.
  This is the reference TokenBucketWorker (workers/tokenbucket.py) as a
  Spark stateful streaming operator.
- ``foreach_batch_merge``: sink adapter that MERGEs each micro-batch into an
  EpochStore table (idempotent by batch id — the Iceberg/foreachBatch
  exactly-once pattern).

All sources are file streams over the same Parquet layout the batch engine
writes, so batch and streaming share one storage format.
"""

from __future__ import annotations

import os
import shutil
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.politeness import (
    MIN_INTERVAL_SECS,
    THROTTLE_RATELIMIT,
    THROTTLE_SERVER_ERROR,
    UNTHROTTLE_OK,
    TokenBucket,
)
from ..sources.schema import REQUESTS


def requests_stream(spark: SparkSession, requests_dir: str) -> DataFrame:
    """File-source stream over request-log Parquet files (one file per epoch
    partition appended by the batch engine — the handoff point)."""
    return (
        spark.readStream.schema(REQUESTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(requests_dir)
    )


def windowed_status_counts(
    requests: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window per-status counts with late-data watermark."""
    return (
        requests.withWatermark("requested_at", watermark)
        .groupBy(F.window("requested_at", window).alias("win"), "status_code")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "status_code",
            "n",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based SESSION windows per key — Spark's ``session_window``
    aggregation (the analytics twin of a crawler's per-host activity
    sessions). A session extends while consecutive events arrive within
    ``gap``; its end is last-event-time + gap, and touching windows merge
    (an event exactly at last+gap extends the session).

    Works identically on a bounded frame and on ``readStream`` +
    ``withWatermark`` (session_window is a first-class streaming operator);
    the batch lane is what the oracle value-checks, via the classic
    gap-and-island rewrite (lag → new-session flag → running sum → group).

    The per-session value sum is made order-independent the repo's standard
    way: each double rounds ONCE to integer cents per row, the aggregate is
    an exact int64 sum, and the final division is a single IEEE op — a raw
    double sum would depend on shuffle arrival order.

    Plan shape (100 TB): one shuffle keyed by ``key_col`` (uniform user/host
    keys), session assembly inside the aggregation operator — no window
    function pass, no second shuffle. Skewed keys (one bot user with 10^8
    events) would salt the key and re-merge adjacent sessions; AQE's skew
    handling covers the join-side analog."""
    cents = F.round(F.col(value_col) * F.lit(100)).cast("long")
    agg = (
        events.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).alias("cents"),
        )
    )
    return agg.select(
        key_col,
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        F.round(F.col("cents") / F.lit(100.0), 2).alias("sum_value"),
    )


def sessionize_sql(
    gap_minutes: int = 30,
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB mirror of :func:`sessionize` — the gap-and-island rewrite.
    A new session starts when the gap to the previous event EXCEEDS gap:
    Spark merges touching windows, so an event landing exactly at
    last+gap still extends the session (pinned in tests/test_sessionize)."""
    return f"""
WITH e AS (
  SELECT {key_col}, {ts_col},
         CAST(round({value_col} * 100) AS BIGINT) AS cents,
         CASE WHEN {ts_col} - lag({ts_col}) OVER
                   (PARTITION BY {key_col} ORDER BY {ts_col}, cents)
                   <= INTERVAL {gap_minutes} MINUTE
              THEN 0 ELSE 1 END AS new_s
  FROM {table}
),
s AS (
  SELECT *, sum(new_s) OVER
           (PARTITION BY {key_col} ORDER BY {ts_col}, cents
            ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT {key_col},
       min({ts_col}) AS session_start,
       max({ts_col}) + INTERVAL {gap_minutes} MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(cents) / 100.0, 2) AS sum_value
FROM s GROUP BY {key_col}, sid
"""


_POLITENESS_OUT = T.StructType(
    [
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("interval_secs", T.DoubleType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)
_POLITENESS_STATE = T.StructType(
    [T.StructField("interval_secs", T.DoubleType(), False)]
)


def _politeness_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-host token-bucket state update from a micro-batch of requests.

    Mirrors TokenBucket.apply_throttling precedence exactly (reference
    workers/tokenbucket.py:80-100): rate-limit > server-error > success.
    """
    (host_hash,) = key
    if state.exists:
        (interval,) = state.get
    else:
        interval = MIN_INTERVAL_SECS
    tb = TokenBucket(interval_secs=float(interval))
    codes: set[int] = set()
    n = 0
    for pdf in pdfs:
        codes.update(int(c) for c in pdf["status_code"])
        n += len(pdf)
    tb.apply_throttling(sorted(codes))
    state.update((float(tb.interval_secs),))
    yield pd.DataFrame(
        {"host_hash": [host_hash], "interval_secs": [tb.interval_secs], "n_events": [n]}
    )


def politeness_query(requests: DataFrame) -> DataFrame:
    """Stateful per-host politeness stream (applyInPandasWithState)."""
    return (
        requests.select("host_hash", "status_code")
        .groupBy("host_hash")
        .applyInPandasWithState(
            _politeness_fn,
            outputStructType=_POLITENESS_OUT,
            stateStructType=_POLITENESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now(sdf: DataFrame, name: str, checkpoint: str, output_mode: str = "update"):
    """Drain everything currently available into an in-memory table and stop —
    the bounded test/backfill trigger."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def batch_merge_sink(store, table: str, keys: list[str]):
    """foreachBatch sink: epoch = base + batch_id + 1 with ``base`` captured
    once at query start. If the sink commits but the checkpoint doesn't
    advance (the crash window), the redelivered batch's epoch is ALREADY on
    the manifest chain and the sink skips it — the Iceberg foreachBatch
    exactly-once pattern (check the last committed batch id, no-op the
    replay). A crash BEFORE the manifest landed leaves a manifest-less data
    dir; the replay then re-commits the epoch and clobbers the orphan.
    Committed epochs are immutable (``EpochStore._commit`` parent-CAS), so
    a replay can never fork or rewrite the chain."""
    base = store.latest(table) or 0

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        epoch = base + int(batch_id) + 1
        latest = store.latest(table)
        if latest is not None and epoch <= latest:
            return  # batch already durably committed — replay is a no-op
        store.merge(table, batch_df, epoch, keys=keys)

    return _sink


def foreach_batch_merge(sdf: DataFrame, store, table: str, keys: list[str], checkpoint: str):
    """Stream → EpochStore MERGE per micro-batch; the store epoch is derived
    from the streaming batch id (``base + batch_id + 1`` with base captured at
    query start), so a replayed micro-batch maps to an epoch that is either
    already committed (skip — the no-op replay of the Iceberg-foreachBatch
    exactly-once pattern) or aborted mid-write (re-commit clobbers the
    manifest-less orphan). Idempotent sink, T8."""
    return (
        sdf.writeStream.foreachBatch(batch_merge_sink(store, table, keys))
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def interval_join_streams(
    probes: DataFrame,
    confirms: DataFrame,
    key: str = "user_id",
    window_s: int = 600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Native stream-stream INTERVAL join — the one temporal join Spark
    ships (the as-of twin lives in asofstream.py precisely because Spark
    does NOT ship that one): pair every probe with each same-key confirm
    landing within ``window_s`` seconds AFTER it. Crawl shape: a HEAD
    probe (S4) paired with the GET that confirmed it, a fetch paired with
    its retry — "did the follow-up happen, and how fast".

    Both sides are watermarked so the state store can EVICT: a probe
    older than watermark + window can never match a future confirm and
    is dropped — without the time bound the join state grows without
    limit, which is why Spark refuses unbounded stream-stream joins in
    append mode. Inner join: emitted pairs are exactly the batch
    inequality join's rows under ANY micro-batch split (late data inside
    the watermark allowance included), so the lane shares a plain DuckDB
    inequality-join oracle."""
    p = probes.select(
        F.col(key).alias("p_key"),
        F.col("event_id").alias("probe_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    c = confirms.select(
        F.col(key).alias("c_key"),
        F.col("event_id").alias("confirm_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    cond = (
        (F.col("p_key") == F.col("c_key"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {int(window_s)} SECONDS"))
    )
    return p.join(c, cond, "inner").select(
        F.col("p_key").alias(key),
        "probe_id",
        "confirm_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("p_ts")).alias("lag_s"),
    )


def drain_interval_join(
    spark,
    probes_dir: str,
    confirms_dir: str,
    checkpoint: str,
    name: str,
    key: str = "user_id",
    window_s: int = 600,
    watermark: str = "1 hour",
    schema: str = "event_id long, user_id long, ts timestamp",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-stream both sides → watermarked interval join → memory sink,
    availableNow; returns the drained pair set."""
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(probes_dir)
    )
    cs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(confirms_dir)
    )
    joined = interval_join_streams(
        ps, cs, key=key, window_s=window_s, watermark=watermark
    )
    run_available_now(joined, name, checkpoint, output_mode="append")
    return spark.table(name)


def drain_windowed_counts(
    spark,
    src_dir: str,
    checkpoint: str,
    watermark: str = "40 days",
    schema: str = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Tumbling-hour windowed aggregation drained from a file stream (the
    T11 watermark surface as a value-checked catalog lane, not just a
    pytest): counts and exact integer cents per (hour, type). Update-mode
    emissions are merged by LAST emission per (window, type) — each
    foreachBatch tags its rows with the micro-batch id and the drain keeps
    the row with the highest id per key. (An earlier version merged with
    max(), which is only correct while every value is nonnegative — sum
    monotone; a negative event value would have silently surfaced an
    intermediate, too-high sum. Last-emission-wins is correct for any
    values, matching what an idempotent-upsert sink would hold.) The
    bounded replay passes a wider-than-corpus watermark so eviction timing
    cannot drop a late file; production uses a real allowance and accepts
    the documented drop-after-watermark contract.

    Emissions accumulate in ``<checkpoint>_emissions``. A checkpoint with
    no committed batch starts the query from scratch, so any emissions
    left there by an earlier run (a deleted checkpoint) are cleared first —
    otherwise they would mix with the fresh ones and, at higher batch ids,
    win the last-emission merge."""
    cents = F.round(F.col("value") * F.lit(100)).cast("long")
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    agg = (
        sdf.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
    )
    emissions_dir = checkpoint.rstrip("/") + "_emissions"
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits) or not any(map(str.isdigit, os.listdir(commits))):
        shutil.rmtree(emissions_dir, ignore_errors=True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(emissions_dir)
        )

    q = (
        agg.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = Window.partitionBy("win", "event_type").orderBy(
        F.col("_batch").desc()
    )
    return (
        spark.read.parquet(emissions_dir)
        .withColumn("_rn", F.row_number().over(last))
        .where(F.col("_rn") == 1)
        .select(
            F.col("win.start").alias("hour"), "event_type", "n", "cents"
        )
    )
