"""Z-order (Morton-curve) data layout — multi-dimensional clustering so
file-level min/max statistics prune scans on EVERY clustered column, not
just the sort leader.

A 100 TB table sorted by `ts` answers time-range queries from a handful
of files but full-scans for any `user_id` predicate. Interleaving the
bits of both columns into one Morton key and range-partitioning on it
gives every file a tight bounding box in (ts, user_id) space — the
layout trick behind Delta's OPTIMIZE ZORDER BY and ClickHouse/DuckDB
space-filling-curve indexes. Readers need nothing new: parquet
min/max footer stats + ordinary predicate pushdown do the skipping.

Everything here is exact integer arithmetic (shifts / masks / integer
division), so the Morton key is reproducible bit-for-bit on any engine
— the DuckDB oracle for the `events_zorder` gate builds the SAME
expression from `spread_sql()`.

Scale shape: two scalar aggregates (global min/max per clustered
column — bounded control material, inlined as literals), one JVM-only
projection for the key, one range-partitioned shuffle-write. No UDFs,
no driver data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Morton spreading masks (16 -> 32 bits, one zero bit between each):
# the standard "spread bits" ladder — each step doubles the gap.
_SPREAD_STEPS = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def spread_bits16(col: Column) -> Column:
    """Spread a 16-bit non-negative int so its bits occupy the even
    positions of a 32-bit value (b15..b0 -> b30,b28,..,b0)."""
    x = col.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def spread_sql(expr: str) -> str:
    """The identical spreading ladder as a SQL string (for oracles /
    other engines). ``expr`` must be a non-negative integer expression
    already masked to 16 bits."""
    e = f"({expr} & 65535)"
    for shift, mask in _SPREAD_STEPS:
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def normalize16(col_name: str, mn: int, mx: int) -> Column:
    """Map an integer column with known [mn, mx] range onto [0, 65535]
    by exact integer scaling — `(col - mn) * 65535 div (mx - mn)`.
    Integer div on both engines (Spark `div`, DuckDB `//`), so no
    float rounding can diverge."""
    if mx <= mn:
        return F.lit(0)
    return F.expr(f"((`{col_name}` - {mn}) * 65535) div {mx - mn}")


def zvalue2(x16: Column, y16: Column) -> Column:
    """Morton-interleave two 16-bit values: x takes the even bits, y the
    odd — a 32-bit key where nearby (x, y) points share prefixes."""
    return spread_bits16(x16).bitwiseOR(F.shiftleft(spread_bits16(y16), 1))


def zvalue2_sql(x_expr: str, y_expr: str) -> str:
    return f"({spread_sql(x_expr)} | ({spread_sql(y_expr)} << 1))"


def zorder_key(
    df: DataFrame, col_x: str, col_y: str, bounds: dict | None = None
) -> DataFrame:
    """Attach ``_z`` = the Morton key of two integer columns. ``bounds``
    ({col: (min, max)}) skips the stats pass when the caller already
    knows the ranges (e.g. partition metadata at 100 TB)."""
    if bounds is None:
        r = df.agg(
            F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
        ).collect()[0]
        bounds = {col_x: (r[0], r[1]), col_y: (r[2], r[3])}
    x = normalize16(col_x, *bounds[col_x])
    y = normalize16(col_y, *bounds[col_y])
    return df.withColumn("_z", zvalue2(x, y))


def zorder_write(
    df: DataFrame,
    col_x: str,
    col_y: str,
    path: str,
    n_files: int = 16,
    bounds: dict | None = None,
) -> None:
    """Write ``df`` parquet laid out along the Morton curve of
    (col_x, col_y): range-partition on the key (each output file owns a
    contiguous curve segment = a tight bounding box in both columns)
    and sort within files so row-group stats are tight too. The key is
    layout-only — it is dropped from the written schema."""
    keyed = zorder_key(df, col_x, col_y, bounds)
    (
        keyed.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
