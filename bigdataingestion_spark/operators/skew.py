"""[EXT] Skew handling: the salt column for a two-phase aggregate.

AQE's skew-join splitting (enabled in the session factory) handles most
shuffle skew automatically, but a skewed aggregation does not split: a
single hot group key (one user producing 10% of all events) lands on one
reducer. ``with_salt`` attaches a salt column so the caller can aggregate
in two phases: phase 1 groups by (key, salt) and spreads the hot key over
``buckets`` reducers; phase 2 groups by key and merges the per-salt
partials. This works for any algebraic aggregate (count/sum/min/max);
``catalog.orders_salted_totals`` is the in-tree use.

Salt derivation is ``pmod(hash(monotonically_increasing_id()), B)`` — no
user-visible randomness, stable within a run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Attach a uniform salt in [0, buckets) derived from the row identity."""
    return df.withColumn(
        salt_col, F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(buckets))
    )
