"""Portable HyperLogLog distinct-count sketch (Flajolet et al. 2007) —
the mergeable cardinality estimator a crawl/curation platform runs
everywhere (distinct URLs per host, distinct n-grams, vocabulary growth)
when exact groupBy-distinct is too expensive to ship between stages.

Spark's builtin ``approx_count_distinct`` is HLL++ over xxhash64 and
DuckDB's ``approx_count_distinct`` is its own HLL — the two never agree,
so the builtin is rows-only-checkable.  This module builds the sketch
from the PORTABLE hash family (functions/porthash.py) so the DuckDB
oracle recomputes every register bit-for-bit — the same
portable-for-verification / builtin-for-production split the minhash and
simhash lanes declare.

Register math, exact in both engines:

    h      = poly_hash(key)           ∈ [0, 2^31-1)   (exact int64 algebra)
    bucket = affine_1(h) % m          (m = 2^p registers, p = 8)
    w      = affine_2(h) % 2^23       (23 payload bits)
    rho(w) = 1 + #{t ∈ [0, 23) : w < 2^t}             (= leading zeros + 1;
             pure integer comparisons, no log/float — w = 0 gives 24)
    M[b]   = max rho over keys in bucket b            (groupBy max)

The two affine members scramble the raw polynomial hash: Rabin-Karp has no
avalanche, so SHORT structured keys ("url-1", "url-2", …) leave the raw
bucket/payload split badly biased (a 5x cardinality underestimate in
testing); passing h through independent members of the affine family
restores register uniformity while staying exact int64 algebra.

The lane returns all m registers (dense: missing buckets as 0) — exact
integers, fully value-checked.  The ESTIMATE alpha_m * m^2 / Σ 2^-M[b]
(+ linear counting below the 2.5m cut) is a float summary computed from
the registers; ``hll_estimate`` derives it driver-side from the checked
registers and pytest pins its accuracy against the exact distinct count.

Plan shape at 100 TB: one projection + one 256-key groupBy max —
map-side combinable, registers mergeable across shards/epochs by
element-wise max (the property that makes HLL the right sketch for a
distributed frontier; the cuckoo seen-sketch answers membership,
this answers "how many").

Reference analog: the reference counts distincts exactly in Postgres
(europarl/db/url.py count queries); at 10^10 URLs those become sketches.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import porthash

P_BITS = 8
M = 1 << P_BITS  # registers
W_BITS = 31 - P_BITS  # poly_hash is < 2^31-1; 23 payload bits
ALPHA = 0.7213 / (1.0 + 1.079 / M)  # standard alpha_256


def _rho(w):
    """1 + leading zeros of w in W_BITS bits — integer compares only."""
    acc = F.lit(1).cast("long")
    for t in range(W_BITS):
        acc = acc + F.when(w < F.lit(1 << t), F.lit(1)).otherwise(F.lit(0))
    return acc


def hll_projection(df: DataFrame, key_col: str = "url") -> DataFrame:
    """The per-row sketch projection (bucket, rho) — shared by the batch
    lane and the streaming twin (the groupBy-max downstream is identical;
    HLL's element-wise-max mergeability is what makes the streaming
    aggregate equal the batch one under ANY micro-batch split)."""
    h = porthash.poly_hash(F.col(key_col))
    bucket = porthash.affine(h, 1) % M
    w = porthash.affine(h, 2) % F.lit(1 << W_BITS)
    return df.select(
        bucket.cast("long").alias("bucket"), _rho(w).alias("rho")
    )


def hll_registers(df: DataFrame, key_col: str = "url") -> DataFrame:
    """Dense (bucket, r_max) register table, one row per bucket ∈ [0, M)."""
    spark = df.sparkSession
    regs = (
        hll_projection(df, key_col)
        .groupBy("bucket")
        .agg(F.max("rho").alias("r_max"))
    )
    dense = spark.range(M).select(F.col("id").alias("bucket"))
    return (
        dense.join(regs, "bucket", "left")
        .select(
            "bucket", F.coalesce(F.col("r_max"), F.lit(0)).cast("long").alias("r_max")
        )
    )


def hll_registers_by_group(
    df: DataFrame, group_col: str, key_col: str = "url"
) -> DataFrame:
    """Per-GROUP register tables — the realistic deployment shape
    ("distinct URLs per host", "vocabulary per language"): one 2^p-register
    sketch per group from a single (group, bucket)-keyed groupBy max.
    Sparse output (only touched buckets appear — a dense per-group join
    would manufacture |groups|·M rows); registers merge across shards by
    (group, bucket)-wise max exactly as the global sketch does."""
    h = porthash.poly_hash(F.col(key_col))
    bucket = porthash.affine(h, 1) % M
    w = porthash.affine(h, 2) % F.lit(1 << W_BITS)
    return (
        df.select(
            F.col(group_col).alias("g"),
            bucket.cast("long").alias("bucket"),
            _rho(w).alias("rho"),
        )
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("r_max"))
        .select(F.col("g").alias(group_col), "bucket", "r_max")
    )


def hll_registers_by_group_sql(
    group_expr: str, table: str = "urls", key_expr: str = "url"
) -> str:
    """DuckDB mirror of ``hll_registers_by_group`` (sparse)."""
    h = porthash.poly_hash_sql(key_expr)
    rho = "1 + " + " + ".join(
        f"(CASE WHEN w < {1 << t} THEN 1 ELSE 0 END)" for t in range(W_BITS)
    )
    b_sql = porthash.affine_sql("h", 1)
    w_sql = porthash.affine_sql("h", 2)
    return f"""
WITH hs AS (SELECT {group_expr} AS g, CAST({h} AS BIGINT) AS h FROM {table}),
sp AS (SELECT g, {b_sql} % {M} AS bucket, {w_sql} % {1 << W_BITS} AS w FROM hs)
SELECT g AS {group_expr}, CAST(bucket AS BIGINT) AS bucket,
       CAST(MAX({rho}) AS BIGINT) AS r_max
FROM sp GROUP BY g, bucket
"""


def hll_estimate(registers: list[tuple[int, int]]) -> float:
    """Cardinality estimate from a collected register table (bucket, r_max),
    with the standard small-range linear-counting correction."""
    rmax = {b: r for b, r in registers}
    inv = sum(2.0 ** -rmax.get(b, 0) for b in range(M))
    est = ALPHA * M * M / inv
    zeros = sum(1 for b in range(M) if rmax.get(b, 0) == 0)
    if est <= 2.5 * M and zeros:
        est = M * math.log(M / zeros)
    return est


CM_D = 4  # count-min depth (affine family members 3..6)
CM_W = 1024  # count-min width
CM_MEMBERS = (3, 4, 5, 6)


def countmin_estimates(
    df: DataFrame, keys: list[str], key_col: str = "tok"
) -> DataFrame:
    """Count-min sketch point estimates (Cormode & Muthukrishnan 2005) for
    ``keys``: build the d×w counter table from the portable hash family,
    answer each query with min over the d rows — the one-sided (est ≥
    exact) frequency estimator used for heavy-hitter screens when an exact
    per-key groupBy is too wide to materialize.  Exact integer algebra
    end-to-end; the DuckDB oracle rebuilds every counter.

    Plan shape at 100 TB: one projection computing the d bucket ids per
    row, then d (row, bucket)-keyed groupBy counts — map-side combinable,
    d·w result rows total, mergeable across shards by element-wise ADD
    (vs HLL's max).  Queries join against the d·w table, never the corpus.

    Output: (tok, n_est) for each queried key, BIGINT."""
    spark = df.sparkSession
    h = porthash.poly_hash(F.col(key_col))
    rows = [
        df.select(
            F.lit(d).alias("row"),
            (porthash.affine(h, m) % CM_W).cast("long").alias("bucket"),
        )
        for d, m in enumerate(CM_MEMBERS)
    ]
    allrows = rows[0]
    for r in rows[1:]:
        allrows = allrows.unionAll(r)
    table = allrows.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    kdf = spark.createDataFrame([(k,) for k in sorted(set(keys))], "tok string")
    kh = porthash.poly_hash(F.col("tok"))
    probes = kdf.select(
        "tok",
        *[
            (porthash.affine(kh, m) % CM_W).cast("long").alias(f"b{d}")
            for d, m in enumerate(CM_MEMBERS)
        ],
    )
    # a missed bucket is a zero counter — coalesce BEFORE the min, or a
    # single empty row would be skipped (least/LEAST ignore NULLs in both
    # engines) and the estimate would lose its one-sided-error guarantee
    # direction for absent keys
    est = F.least(
        *[F.coalesce(F.col(f"c{d}"), F.lit(0).cast("long")) for d in range(CM_D)]
    )
    joined = probes
    for d in range(CM_D):
        t = table.filter(F.col("row") == d).select(
            F.col("bucket").alias(f"b{d}"), F.col("cnt").alias(f"c{d}")
        )
        joined = joined.join(F.broadcast(t), f"b{d}", "left")
    return joined.select("tok", est.cast("long").alias("n_est"))


def countmin_estimates_sql(
    keys: list[str], table: str = "toks", key_expr: str = "tok"
) -> str:
    """DuckDB mirror: same hashes, same counters, same min-over-rows."""
    h = porthash.poly_hash_sql(key_expr)
    kvals = ", ".join(f"('{k}')" for k in sorted(set(keys)))
    buckets = ", ".join(
        f"{porthash.affine_sql('h', m)} % {CM_W} AS b{d}"
        for d, m in enumerate(CM_MEMBERS)
    )
    rows_union = " UNION ALL ".join(
        f"SELECT {d} AS row, b{d} AS bucket FROM hb"
        for d in range(CM_D)
    )
    qh = porthash.poly_hash_sql("tok")
    joins = " ".join(
        f"LEFT JOIN (SELECT bucket, cnt FROM cm WHERE row = {d}) t{d} "
        f"ON t{d}.bucket = qb.b{d}"
        for d in range(CM_D)
    )
    least = ", ".join(f"COALESCE(t{d}.cnt, 0)" for d in range(CM_D))
    return f"""
WITH hb AS (SELECT h, {buckets} FROM
            (SELECT CAST({h} AS BIGINT) AS h FROM {table})),
cm AS (SELECT row, bucket, count(*) AS cnt FROM ({rows_union}) GROUP BY 1, 2),
q(tok) AS (VALUES {kvals}),
qb AS (SELECT tok,
              {", ".join(f"{porthash.affine_sql(f'CAST({qh} AS BIGINT)', m)} % {CM_W} AS b{d}" for d, m in enumerate(CM_MEMBERS))}
       FROM q)
SELECT tok, CAST(COALESCE(LEAST({least}), 0) AS BIGINT) AS n_est
FROM qb {joins}
"""


def hll_registers_sql(
    table: str = "urls", key_expr: str = "url"
) -> str:
    """DuckDB mirror — same hash, same bucket/payload split, same
    comparison-ladder rho, same dense left join."""
    h = porthash.poly_hash_sql(key_expr)
    rho = "1 + " + " + ".join(
        f"(CASE WHEN w < {1 << t} THEN 1 ELSE 0 END)" for t in range(W_BITS)
    )
    b_sql = porthash.affine_sql("h", 1)
    w_sql = porthash.affine_sql("h", 2)
    return f"""
WITH hs AS (SELECT CAST({h} AS BIGINT) AS h FROM {table}),
sp AS (SELECT {b_sql} % {M} AS bucket, {w_sql} % {1 << W_BITS} AS w FROM hs),
regs AS (SELECT bucket, MAX({rho}) AS r_max FROM sp GROUP BY bucket)
SELECT CAST(r.range AS BIGINT) AS bucket,
       CAST(COALESCE(regs.r_max, 0) AS BIGINT) AS r_max
FROM range({M}) r LEFT JOIN regs ON regs.bucket = r.range
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k theta) sketch — set OVERLAP estimation
# ---------------------------------------------------------------------------
# The sketch family HLL cannot provide: HLL answers |A| but not |A ∩ B|
# (register max loses membership). KMV (Bar-Yossef et al. 2002; the
# DataSketches "theta" family) keeps each set's k SMALLEST portable hashes:
#
#     est(|A|)      = (k-1) * P // h_k          (h_k = k-th smallest hash;
#                      exact size when the sketch holds the whole set)
#     K(A ∪ B)      = k smallest of K(A) ∪ K(B) (mergeable: the k smallest
#                      of a union are always within each side's k smallest)
#     Jaccard ρ     = |{h ∈ K(A∪B) : h ∈ K(A) ∧ h ∈ K(B)}| / |K(A∪B)|
#     est(|A ∩ B|)  = ρ * est(|A ∪ B|)
#
# Crawl/curation uses: train↔eval corpus overlap rate (the decontamination
# DENOMINATOR), URL overlap between two crawl epochs, host-set overlap
# between two frontiers — all without shipping either set.  Everything
# before the final divisions is exact int64 algebra on the portable hash
# family, so the DuckDB oracle reproduces every sketch entry and every
# estimate integer bit-for-bit.

KMV_K = 128
KMV_MEMBER = 50  # unused affine member (hll: 1-2, countmin: 3-6, sampling: 40s)


def kmv_hash(key_col: str):
    """Portable uniform hash in [0, P) for KMV ordering."""
    return F.pmod(
        porthash.affine(
            porthash.poly_hash(F.col(key_col).cast("string")), KMV_MEMBER
        ),
        F.lit(porthash.P),
    )


def kmv_hash_sql(key_expr: str) -> str:
    h = porthash.poly_hash_sql(f"CAST({key_expr} AS VARCHAR)")
    return f"({porthash.affine_sql(h, KMV_MEMBER)} % {porthash.P})"


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    set_col: str,
    k: int = KMV_K,
    n_salts: int = 8,
) -> DataFrame:
    """(set_id, h): per set, the k smallest DISTINCT portable hashes.

    Scale shape — the frontier's two-level prune, not a per-set sort of
    everything: distinct (map-side combinable), then k smallest per
    (set, salt) in parallel windows, then k smallest of the ≤ k·n_salts
    survivors. Correct because the k smallest of a set are always within
    the union of each salt-shard's k smallest."""
    from pyspark.sql.window import Window

    d = (
        df.select(F.col(set_col).alias("set_id"), kmv_hash(key_col).alias("h"))
        .distinct()
    )
    salt = F.pmod(F.col("h"), F.lit(int(n_salts)))
    w1 = Window.partitionBy(F.col("set_id"), salt).orderBy("h")
    pruned = (
        d.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    w2 = Window.partitionBy("set_id").orderBy("h")
    return (
        pruned.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .drop("_r2")
    )


def kmv_stats(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """(set_id, size, kth, est): integer KMV cardinality estimate —
    ``(k-1)·P // kth`` when the sketch is full, the exact size when the
    sketch holds the whole set (size < k)."""
    return sketch.groupBy("set_id").agg(
        F.count(F.lit(1)).alias("size"), F.max("h").alias("kth")
    ).select(
        "set_id",
        "size",
        "kth",
        F.when(
            F.col("size") < k, F.col("size")
        ).otherwise(
            F.floor((F.col("size") - 1) * F.lit(porthash.P) / F.col("kth")).cast("long")
        ).alias("est"),
    )


def kmv_stats_sql(sets_sql: str, key_expr: str, k: int = KMV_K) -> str:
    """DuckDB mirror: ``sets_sql`` must yield (set_id, {key_expr}); emits
    (set_id, size, kth, est) identically to kmv_sketch → kmv_stats.
    (No salt pass needed — two-level pruning returns exactly the k
    smallest, which ORDER BY h LIMIT k computes directly.)"""
    return f"""
SELECT set_id, size, kth,
       CASE WHEN size < {k} THEN size
            ELSE CAST(floor((size - 1) * {porthash.P} / kth) AS BIGINT)
       END AS est
FROM (
  SELECT set_id, count(*) AS size, max(h) AS kth FROM (
    SELECT set_id, h, row_number() OVER (PARTITION BY set_id ORDER BY h) AS r
    FROM (SELECT DISTINCT set_id, {kmv_hash_sql(key_expr)} AS h FROM ({sets_sql}))
  ) WHERE r <= {k} GROUP BY set_id
)"""
