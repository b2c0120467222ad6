"""Z-order (Morton) layout for multi-column data skipping.

Sorting a table by one key gives perfect row-group pruning on that key
and none on any other. Interleaving the bits of two keys into a Morton
code and sorting by THAT gives both columns locality: each parquet
row-group covers a small rectangle of the (a, b) space, so min/max
row-group stats prune scans filtered on EITHER column — Delta's
OPTIMIZE ZORDER BY, expressed with plain Spark expressions.

Scale shape: one map-side aggregation of the bounds and the row count
(a few scalars, collected at call time and inlined as literals), a
pure-map Morton expression, then repartitionByRange + local sort —
Spark's sampled range partitioner does the only shuffle. No global
window, no single-reducer sort. ``zorder_by`` buckets uniformly over
[min, max]; ``zorder_by_quantile`` pre-maps each column through
approx-quantile boundaries (literal arrays) before interleaving, which
keeps file-level stats tight under heavy key skew — the Morton stage is
shared.

The file count is the row count over ``ROWS_PER_FILE``, so the same data
gets the same files, and the same pruning power, on any number of cores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Rows per output file of a Z-ordered layout. Fewer rows per file buy
# finer pruning at the cost of more files. The value spreads a table of
# 10^4 rows over a dozen or more files; a multi-TB table would raise it.
ROWS_PER_FILE = 1024


def _interleave_bits(a: Column, b: Column, bits: int) -> Column:
    """Morton code of two ``bits``-wide non-negative ints (a even bit
    positions, b odd)."""
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        out = (
            out
            + (abit * F.lit(1 << (2 * i))).cast("bigint")
            + (bbit * F.lit(1 << (2 * i + 1))).cast("bigint")
        )
    return out


def _bucket(col: str, lo, hi, n: int) -> Column:
    """Uniform bucket 0..n-1 of ``col`` within [lo, hi]."""
    lo_c, hi_c = F.lit(lo).cast("double"), F.lit(hi).cast("double")
    span = hi_c - lo_c
    frac = (F.col(col).cast("double") - lo_c) / F.when(span > 0, span).otherwise(F.lit(1.0))
    return F.least(F.floor(frac * n).cast("bigint"), F.lit(n - 1))


def _morton_layout(df: DataFrame, z: Column, rows: int) -> DataFrame:
    """Shared tail: attach the Morton code, range-partition on it into
    ``ceil(rows / ROWS_PER_FILE)`` files (the only shuffle — Spark's
    sampled range partitioner), local sort, strip the work column."""
    files = max(1, -(-rows // ROWS_PER_FILE))
    return (
        df.withColumn("__z", z)
        .repartitionByRange(files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def zorder_by(df: DataFrame, col_a: str, col_b: str, bits: int = 10) -> DataFrame:
    """Return ``df`` ordered by the Morton code of the two columns'
    bucket indices. Write the result with ``.write.parquet`` (or per
    partition) so row-group min/max stats cover tight ranges of both
    columns.

    Buckets are UNIFORM over [min, max]: correct for evenly spread keys,
    degenerate under heavy skew (a hot range collapses into one bucket,
    so files there cannot discriminate it — use ``zorder_by_quantile``)."""
    n = 1 << bits
    alo, ahi, blo, bhi, rows = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b), F.count(F.lit(1))
    ).first()
    z = _interleave_bits(_bucket(col_a, alo, ahi, n), _bucket(col_b, blo, bhi, n), bits)
    return _morton_layout(df, z, rows)


def _q_bucket(col: str, boundaries: list) -> Column:
    """Bucket index = number of quantile boundaries <= value: an O(n)
    fold over a literal array — map-side, no per-row lookup join. With
    n = 2^bits <= 1024 boundaries this is cheap relative to the scan."""
    return F.size(F.filter(F.lit(boundaries), lambda x: x <= F.col(col))).cast("bigint")


def zorder_by_quantile(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 8,
    accuracy: int = 10_000,
) -> DataFrame:
    """Skew-robust Z-order: each column is pre-mapped through its own
    ``2^bits - 1`` approx-quantile boundaries before Morton interleave,
    so every bucket holds ~equal ROW MASS instead of equal value range.

    Under heavy skew (zipf keys, hot tenants, power-law doc lengths)
    uniform bucketing collapses the hot range into one bucket — files
    covering it span the whole hot region and a point query there scans
    nearly every file. Quantile mapping spends bucket resolution where
    the rows are: hot values get buckets to themselves (ties share one
    bucket — indistinguishable values cannot be split), and file min/max
    stats over the hot range stay tight. Cost: one extra pass computing
    two ``percentile_approx`` sketches (mergeable, map-side partials —
    the same aggregate shape as any other agg) collected with the row
    count and inlined as two literal arrays; the Morton stage is
    unchanged."""
    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    qa, qb, rows = df.agg(
        F.percentile_approx(col_a, probs, F.lit(accuracy)),
        F.percentile_approx(col_b, probs, F.lit(accuracy)),
        F.count(F.lit(1)),
    ).first()
    if rows == 0:
        return df  # no quantiles to bucket by, and nothing to lay out
    z = _interleave_bits(_q_bucket(col_a, qa), _q_bucket(col_b, qb), bits)
    return _morton_layout(df, z, rows)
