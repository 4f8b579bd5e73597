"""operators/zorder.py + EpochStore.rewrite_sorted/prune_files and
predicated reads — Z-order layout, footer-stat recording, and
manifest-pruned reads."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F

from europarl_crawler_spark.operators import zorder
from europarl_crawler_spark.sources.epochstore import EpochStore


def _interleave_py(x: int, y: int) -> int:
    z = 0
    for b in range(16):
        z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zvalue_matches_bitwise_reference(spark):
    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
    df = spark.createDataFrame(pts, "x long, y long").withColumn(
        "z", zorder.zvalue(F.col("x"), F.col("y"))
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    assert got == {(x, y): _interleave_py(x, y) for x, y in pts}


def test_grid_cell_exact_and_clamped(spark):
    df = spark.createDataFrame(
        [(-5,), (0,), (99,), (100,), (250,)], "v long"
    ).withColumn("c", zorder.grid_cell(F.col("v"), 0, 99))
    got = [r.c for r in df.orderBy("v").collect()]
    # below-range clamps to 0, above-range to 2^16-1; in-range is exact
    assert got[0] == 0 and got[-1] == 65535 and got[3] == 65535
    assert got[1] == 0 and got[2] == (99 * 65536) // 100


def test_layout_matches_duckdb_mirror(spark, tmp_path):
    import duckdb

    rows = [(i, (i * 7919) % 1000, (i * 104729) % 3600) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    laid = zorder.zorder_layout(df, "x", (0, 999), "y", (0, 3599), shard_bits=4)
    got = sorted((r.id, r._z, r._zshard) for r in laid.collect())
    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    sql = zorder.zorder_layout_sql(
        f"SELECT * FROM '{p}/*.parquet'", "x", (0, 999), "y", (0, 3599), 4
    )
    want = sorted(
        (a, b, c)
        for a, b, c in duckdb.connect()
        .execute(f"SELECT id, _z, _zshard FROM ({sql})")
        .fetchall()
    )
    assert got == want


def test_commit_records_footer_stats(spark):
    store = EpochStore(tempfile.mkdtemp(prefix="stats-"))
    df = spark.createDataFrame(
        [(1, "alpha", 10.5), (9, "zeta", -2.0)], "k long, s string, v double"
    ).coalesce(1)
    m = store.append("t", df, 1)
    (fstat,) = m["file_stats"].values()
    assert fstat["k"] == [1, 9]
    assert fstat["s"] == ["alpha", "zeta"]
    assert fstat["v"] == [-2.0, 10.5]
    # manifest round-trips through JSON
    assert json.loads(json.dumps(m)) == m


def test_rewrite_sorted_clusters_and_prunes(spark):
    store = EpochStore(tempfile.mkdtemp(prefix="zorder-"))
    n = 4000
    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(n)],
        "id long, x long, y long",
    )
    store.overwrite("pts", df, 1)
    store.rewrite_sorted(
        "pts", spark, 2, "x", (0, 999), "y", (0, 999), n_files=8
    )
    m = store.manifests("pts")[-1]
    assert m["files"] >= 4
    # clustered layout ⇒ per-file x-spans well below the full range
    spans = [b["x"][1] - b["x"][0] for b in m["file_stats"].values() if "x" in b]
    assert sum(spans) / len(spans) < 700
    # a narrow x slice must prune files AND agree with the unpruned read
    kept, total = store.prune_files("pts", "x", 0, 99)
    assert 0 < len(kept) < total
    got = sorted(r.id for r in store.read("pts", spark, predicates=[("x", 0, 99)]).collect())
    want = sorted(
        r.id
        for r in store.read("pts", spark).filter(F.col("x").between(0, 99)).collect()
    )
    assert got == want and len(got) > 0


def test_scan_keyed_deltas_fall_back_without_resurrection(spark):
    store = EpochStore(tempfile.mkdtemp(prefix="scanfb-"))
    df1 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    store.merge("t", df1, 1, keys=["k"])
    # epoch 2 moves k=1 OUT of the scanned range — the old version must not
    # resurrect even though its file alone would survive the prune
    store.merge(
        "t", spark.createDataFrame([(1, 999)], "k long, v long"), 2, keys=["k"]
    )
    got = sorted(
        (r.k, r.v) for r in store.read("t", spark, predicates=[("v", 0, 100)]).collect()
    )
    assert got == [(2, 20)]


def test_scan_append_table_prunes_across_epochs(spark):
    store = EpochStore(tempfile.mkdtemp(prefix="scanapp-"))
    store.append("log", spark.createDataFrame([(i,) for i in range(100)], "v long").coalesce(1), 1)
    store.append("log", spark.createDataFrame([(i,) for i in range(1000, 1100)], "v long").coalesce(1), 2)
    kept, total = store.prune_files("log", "v", 1000, 2000)
    assert total == 2 and len(kept) == 1
    assert store.read("log", spark, predicates=[("v", 1000, 2000)]).count() == 100


def test_conjunction_prunes_strictly_more(spark):
    store = EpochStore(tempfile.mkdtemp(prefix="zorder2-"))
    n = 4000
    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(n)],
        "id long, x long, y long",
    )
    store.overwrite("pts", df, 1)
    store.rewrite_sorted("pts", spark, 2, "x", (0, 999), "y", (0, 999), n_files=16)
    kept_x, total = store.prune_files("pts", "x", 0, 249)
    kept_xy, _ = store.prune_files("pts", "x", 0, 249, extra=[("y", 0, 249)])
    # the z-layout makes the (x AND y) rectangle keep strictly fewer files
    assert len(kept_xy) < len(kept_x) < total
    got = sorted(
        r.id
        for r in store.read(
            "pts", spark, predicates=[("x", 0, 249), ("y", 0, 249)]
        ).collect()
    )
    want = sorted(
        r.id
        for r in store.read("pts", spark)
        .filter(F.col("x").between(0, 249) & F.col("y").between(0, 249))
        .collect()
    )
    assert got == want and len(got) > 0


def test_maintenance_job_rewrite_zorder(spark):
    from europarl_crawler_spark.jobs import maintenance_job

    store = EpochStore(tempfile.mkdtemp(prefix="zorder3-"))
    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(2000)],
        "id long, x long, y long",
    )
    store.overwrite("pts", df, 1)
    out = maintenance_job.main(
        ["--store", str(store.root), "rewrite-zorder", "--table", "pts",
         "--x-col", "x", "--x-lo", "0", "--x-hi", "999",
         "--y-col", "y", "--y-lo", "0", "--y-hi", "999",
         "--n-files", "8"]
    )
    assert out["kind"] == "base" and out["rows"] == 2000
    kept, total = store.prune_files("pts", "x", 0, 99)
    assert 0 < len(kept) < total


def test_timestamp_prune_boundary_tz_normalized(spark):
    """ADVICE r4: Spark writes UTC-adjusted parquet timestamps, so pyarrow
    footer stats come back tz-AWARE while a caller's naive predicate bound
    stringifies without the '+00:00' suffix. At exact boundary equality
    the aware string sorts greater and _cmp_gt would wrongly prune the
    file. _stat_value now normalizes both sides to naive UTC: a predicate
    whose hi equals the file's max (and whose lo equals the min) must keep
    the file, and the predicated read must return the boundary rows."""
    import datetime as dt

    store = EpochStore(tempfile.mkdtemp(prefix="tsprune-"))
    lo = dt.datetime(2024, 1, 1, 0, 0, 0)
    hi = dt.datetime(2024, 1, 2, 0, 0, 0)
    df = spark.createDataFrame(
        [(1, lo), (2, hi)], "k long, ts timestamp"
    ).coalesce(1)
    store.append("t", df, 1)
    (fstat,) = store.manifests("t")[-1]["file_stats"].values()
    # recorded bounds must be naive ISO strings (no tz suffix)
    assert "ts" in fstat, fstat
    assert "+" not in fstat["ts"][0] and "+" not in fstat["ts"][1]
    # exact-boundary predicate: naive bounds equal to the file's min/max
    kept, total = store.prune_files("t", "ts", lo, hi)
    assert total == 1 and len(kept) == 1
    assert store.read("t", spark, predicates=[("ts", lo, hi)]).count() == 2
    # and a genuinely disjoint window still prunes
    kept2, _ = store.prune_files(
        "t", "ts", dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)
    )
    assert kept2 == []
