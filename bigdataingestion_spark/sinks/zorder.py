"""Z-order keys: multi-column data skipping for the lake.

A lexicographic sort prunes scans on the LEADING key only — a filter on
the second column still reads every file. Z-ordering interleaves the bits
of per-column *rank* buckets into one space-filling-curve key;
``TxLogTable.compact(zorder_by=...)`` range-partitions + sorts by it, so
parquet row-group min/max statistics stay narrow on EVERY clustered column
at once. This is the maintenance job a 100 TB lake runs on its hottest
filter columns (Delta OPTIMIZE ZORDER BY, built here from DataFrame
primitives). With a single column the key is that column's rank bucket,
so the rewrite is a plain range clustering.

Design for scale:
  * Bucket boundaries are rank-based (``approxQuantile``, one pass, all
    columns in a single job), not min/max equal-width — skewed columns get
    balanced cells instead of one hot bucket.
  * Bucket assignment + bit interleave are pure JVM column expressions
    (O(2^bits) comparisons per row per column, bits<=6); no Python, no
    window, no extra shuffle beyond the one ``repartitionByRange`` any
    clustered rewrite needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: Column, boundaries: list[float]) -> Column:
    """Rank bucket index in [0, len(boundaries)]: the count of interior
    boundaries <= value. NULLs sort into bucket 0."""
    acc = F.lit(0)
    for b in boundaries:
        acc = acc + F.when(col >= F.lit(b), 1).otherwise(0)
    return F.when(col.isNull(), F.lit(0)).otherwise(acc)


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 4,
    rel_err: float = 0.01,
) -> Column:
    """Build the interleaved Z-value column for ``cols``.

    Runs one ``approxQuantile`` job (all columns at once) to get 2^bits
    rank buckets per column, then interleaves bucket bits round-robin:
    bit b of column d lands at position b*len(cols)+d of the key.
    """
    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    numeric = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    bnds = numeric.approxQuantile(cols, probs, rel_err)
    z = F.lit(0).cast("long")
    for d, (c, b) in enumerate(zip(cols, bnds)):
        # dedupe equal quantiles so constant-ish columns don't over-count
        interior = sorted(set(b))
        bucket = _bucket(F.col(c).cast("double"), interior).cast("long")
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                    bit * len(cols) + d,
                )
            )
    return z
