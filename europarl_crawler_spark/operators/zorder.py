"""Z-order (Morton) clustering — the data-layout lever behind multi-column
file skipping, as Iceberg/Delta expose in ``rewrite_data_files``'s sort
strategy (strategy => 'sort', sort_order => 'zorder(a, b)').

Why a crawl store wants it: the documents table is probed by BOTH
host-hash (dedup, politeness audits) and time/length (epoch slices,
length-bucketed batching). Sorting files by either column alone makes the
other's min-max stats useless — every file spans the full range of the
second column. Interleaving the bits of both (z = x₀y₀x₁y₁…) gives every
file a small RECTANGLE of the (x, y) grid, so per-file min/max footer
stats prune scans filtered on either column (or both). That pruning is
what a predicated `EpochStore.read` consumes — at 10^10 rows the
difference between "open 40 of 4,000 footer-pruned files" and "open all".

Everything here is exact int64 algebra (the classic mask-spread ladder),
expressed twice — Catalyst Columns and a textual DuckDB mirror — so the
layout lane is value-checked end to end like every other lane.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bit-spread ladder: 16-bit value -> its bits at even positions of 32
_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)

GRID_BITS = 16  #: per-dimension resolution; z fits in 32 bits


def _spread16(c: Column) -> Column:
    for sh, mask in _SPREAD:
        c = (c.bitwiseOR(F.shiftleft(c, sh))).bitwiseAND(F.lit(mask))
    return c


def _spread16_sql(e: str) -> str:
    for sh, mask in _SPREAD:
        e = f"((({e}) | (({e}) << {sh})) & {mask})"
    return e


def grid_cell(c: Column, lo: int, hi: int) -> Column:
    """value in [lo, hi] → cell in [0, 2^16): exact integer scaling
    ``((v - lo) * 2^16) div (hi - lo + 1)``, clamped. Bounds are FIXED
    spec constants of the layout (recorded with it), not data-derived at
    write time — two epochs written under the same bounds interleave
    consistently, which is what makes incremental rewrites sane."""
    span = int(hi) - int(lo) + 1
    num = (c.cast("long") - F.lit(int(lo))) * F.lit(1 << GRID_BITS)
    # exact integral division (num is clamped nonnegative first so the
    # subtract-mod trick matches DuckDB's floor-division on every input,
    # and the double division below is exact: both operands < 2^53)
    num = F.greatest(F.lit(0), num)
    cell = ((num - F.pmod(num, F.lit(span))) / F.lit(span)).cast("long")
    return F.least(F.lit((1 << GRID_BITS) - 1), cell)


def grid_cell_sql(e: str, lo: int, hi: int) -> str:
    span = int(hi) - int(lo) + 1
    raw = f"(((CAST({e} AS BIGINT) - {int(lo)}) * {1 << GRID_BITS}) // {span})"
    return f"greatest(0, least({(1 << GRID_BITS) - 1}, {raw}))"


def zvalue(x: Column, y: Column) -> Column:
    """Interleave two 16-bit cells into the 32-bit Morton code."""
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1))


def zvalue_sql(xe: str, ye: str) -> str:
    return f"({_spread16_sql(xe)} | ({_spread16_sql(ye)} << 1))"


def zorder_layout(
    df: DataFrame,
    x_col: str,
    x_bounds: tuple[int, int],
    y_col: str,
    y_bounds: tuple[int, int],
    shard_bits: int,
) -> DataFrame:
    """Assign every row its Morton code and target shard (the z-value's
    top ``shard_bits`` bits — deterministic, no sampling pass), the
    file-assignment rule `EpochStore.rewrite_sorted` materializes.
    Adds ``_z`` and ``_zshard``."""
    z = zvalue(
        grid_cell(F.col(x_col), *x_bounds), grid_cell(F.col(y_col), *y_bounds)
    )
    return df.withColumn("_z", z).withColumn(
        "_zshard", F.shiftright(F.col("_z"), 2 * GRID_BITS - int(shard_bits))
    )


def zorder_layout_sql(
    from_sql: str,
    x_expr: str,
    x_bounds: tuple[int, int],
    y_expr: str,
    y_bounds: tuple[int, int],
    shard_bits: int,
) -> str:
    z = zvalue_sql(
        grid_cell_sql(x_expr, *x_bounds), grid_cell_sql(y_expr, *y_bounds)
    )
    return (
        f"SELECT t.*, {z} AS _z, ({z} >> {2 * GRID_BITS - int(shard_bits)}) "
        f"AS _zshard FROM ({from_sql}) t"
    )
