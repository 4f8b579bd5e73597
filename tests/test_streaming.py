"""Structured Streaming: windowed counts w/ watermark, stateful politeness."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from europarl_crawler_spark.sources.schema import REQUESTS
from europarl_crawler_spark.streaming import stream as S


@pytest.fixture(scope="module")
def requests_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("reqstream")
    rows = []
    for i in range(200):
        host = 1 if i % 2 == 0 else 2
        status = [200, 404, 503, 200][i % 4] if host == 1 else [200, 429][i % 2]
        rows.append(
            (
                i, i, i, host,
                datetime(2024, 1, 1, i % 24, (i * 7) % 60),
                status, None, 1, i + 1,
            )
        )
    spark.createDataFrame(rows, REQUESTS).write.parquet(str(root / "requests"))
    return str(root / "requests"), str(root)


def test_windowed_status_counts(spark, requests_dir):
    path, root = requests_dir
    sdf = S.windowed_status_counts(S.requests_stream(spark, path), "1 hour")
    S.run_available_now(sdf, "wincounts", root + "/ckpt1", output_mode="append")
    # append-mode output only emits closed windows; re-read as batch to check
    batch = (
        spark.read.parquet(path)
        .groupBy(F.window("requested_at", "1 hour"), "status_code")
        .count()
    )
    got = spark.sql("SELECT * FROM wincounts")
    # watermark holds back the final window in append mode: emitted ⊆ batch
    assert got.count() <= batch.count()
    joined = got.join(
        batch.select(
            F.col("window.start").alias("window_start"),
            "status_code",
            F.col("count").alias("n_batch"),
        ),
        ["window_start", "status_code"],
    )
    assert joined.count() == got.count()
    assert joined.filter(F.col("n") != F.col("n_batch")).count() == 0


def test_stateful_politeness(spark, requests_dir):
    path, root = requests_dir
    sdf = S.politeness_query(S.requests_stream(spark, path))
    S.run_available_now(sdf, "politeness", root + "/ckpt2", output_mode="update")
    rows = {r.host_hash: r for r in spark.sql(
        "SELECT * FROM politeness"
    ).collect()}
    # host 1 saw 503 (server error) → throttled at least once: interval > min
    # host 2 saw 429 (rate limit) → throttled
    assert rows[1].interval_secs > 3.0 or rows[2].interval_secs > 3.0
    for r in rows.values():
        assert r.n_events > 0


def test_foreach_batch_merge_replay_idempotent(spark, requests_dir, tmp_path):
    """A redelivered micro-batch (same batch id, the sink-committed-but-
    checkpoint-didn't-advance crash window) must leave the store unchanged —
    its epoch is already on the chain, so the replay is a no-op skip (the
    Iceberg foreachBatch pattern; ADVICE r1) — and must not open a new
    epoch. Committed epochs are immutable under the parent-CAS commit."""
    from europarl_crawler_spark.sources.epochstore import EpochStore

    path, _ = requests_dir
    store = EpochStore(tmp_path / "store")
    df = spark.read.parquet(path).select("request_id", "host_hash", "status_code")

    sink = S.batch_merge_sink(store, "reqmerge", ["request_id"])
    sink(df, 0)
    epochs_first = [m["epoch"] for m in store.manifests("reqmerge")]
    n_first = store.read("reqmerge", spark).count()
    sink(df, 0)  # redelivery of the same batch id
    assert [m["epoch"] for m in store.manifests("reqmerge")] == epochs_first
    assert store.read("reqmerge", spark).count() == n_first
    sink(df.limit(10), 1)  # next batch opens the next epoch
    assert [m["epoch"] for m in store.manifests("reqmerge")] == epochs_first + [
        epochs_first[-1] + 1
    ]


def test_drain_windowed_counts_negative_values(spark, tmp_path):
    """Last-emission-wins merge: with NEGATIVE event values the per-window
    sum is non-monotone across micro-batch emissions, so the old
    max-over-emissions merge would return an intermediate, too-high sum.
    Feed 4 single-file micro-batches whose later files subtract value from
    an already-emitted window and pin the drain to the batch GROUP BY."""
    import pandas as pd

    src = tmp_path / "neg_events"
    src.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # 4 files = 4 micro-batches (maxFilesPerTrigger=1). File 0 puts +10.00
    # into hour 0; files 1-3 each subtract from that SAME hour, so every
    # later emission for the window is smaller than an earlier one.
    vals = [10.0, -3.0, -4.0, -2.5]
    for i, v in enumerate(vals):
        pdf = pd.DataFrame(
            {
                "event_id": [i],
                "ts": [pd.Timestamp(2024, 1, 1, 0, 5 + i)],
                "user_id": [1],
                "event_type": ["view"],
                "value": [v],
                "props": [None],
            }
        )
        spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(
            str(src / f"f{i}"), mode="overwrite"
        )
    # flatten: move part files up so each file is its own source file
    flat = tmp_path / "flat"
    flat.mkdir()
    import shutil

    n = 0
    for sub in sorted(src.iterdir()):
        for p in sorted(sub.glob("*.parquet")):
            shutil.copy(p, flat / f"{sub.name}.parquet")
            n += 1
    assert n == 4
    got = S.drain_windowed_counts(
        spark, str(flat), checkpoint=str(tmp_path / "ckpt")
    ).collect()
    assert len(got) == 1
    row = got[0]
    # batch truth: 4 events, cents = 1000 - 300 - 400 - 250 = 50
    assert row["n"] == 4
    assert row["cents"] == 50


def test_drain_windowed_counts_fresh_checkpoint_ignores_stale_emissions(
    spark, tmp_path
):
    """Rerunning with the checkpoint deleted but its emissions directory
    left behind must return the fresh source's counts: the old run's
    emissions carry batch ids the fresh run never reaches, and would win
    the last-emission merge."""
    import shutil

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def source(name, values):
        src = tmp_path / name
        src.mkdir()
        for i, v in enumerate(values):
            row = (i, datetime(2024, 1, 1, 0, 5 + i), 1, "view", v, None)
            spark.createDataFrame([row], schema).coalesce(1).write.parquet(
                str(tmp_path / f"{name}-{i}")
            )
            (part,) = (tmp_path / f"{name}-{i}").glob("*.parquet")
            shutil.copy(part, src / f"f{i}.parquet")
        return str(src)

    ckpt = str(tmp_path / "ckpt")
    old = S.drain_windowed_counts(spark, source("old", [1.0] * 4), checkpoint=ckpt)
    assert [(r["n"], r["cents"]) for r in old.collect()] == [(4, 400)]
    shutil.rmtree(ckpt)
    assert (tmp_path / "ckpt_emissions").exists()
    fresh = S.drain_windowed_counts(spark, source("new", [2.0]), checkpoint=ckpt)
    assert [(r["n"], r["cents"]) for r in fresh.collect()] == [(1, 200)]
