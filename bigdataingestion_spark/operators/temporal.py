"""[EXT] Temporal joins Spark lacks as primitives: as-of join and bounded
range join, plus multi-resolution (hypertable-style) rollups.

All three are *compositions of built-in operators* chosen for their shuffle
shape at 100 TB — no nested-loop joins anywhere:

  * **As-of join** (each left row matched to the latest right row at or
    before its timestamp, per key): union the two tagged streams, one
    shuffle+sort by (key, ts), carry the right columns forward with
    ``last_value(..., ignoreNulls)``. Cost = one sort-shuffle of |L|+|R| —
    the canonical distributed as-of (vs. the O(|L|·|R|) nested loop a naive
    inequality join plans to).
  * **Bounded range join** (pairs within a time window, per key): join on
    (key, time_bucket) for the 2 buckets a window can span, then filter the
    exact predicate. Pair cost is per-bucket-quadratic, not global.
  * **Multi-resolution rollup**: GROUPING SETS computes hour + day + total
    aggregates in one pass over the input (one shuffle), the way a
    hypertable continuous aggregate maintains its levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row: the latest right row with
    ``right_ts <= left_ts`` and the same key (backward as-of, ties included).

    ``right`` must be unique per (key, right_ts) — pre-aggregate if not (the
    match would otherwise be ambiguous; engines disagree on the pick).
    Returns all left columns plus ``{col}{suffix}`` for each value column
    (NULL when no prior right row exists).
    """
    lcols = left.columns
    tagged_l = left.select(
        *lcols,
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
    )
    tagged_r = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            if c != key
            else F.col(key)
            for c in lcols
        ],
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    unioned = tagged_l.unionByName(tagged_r)
    # right rows sort before left rows at equal timestamps so a tie matches
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "_is_left",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("_is_left") == 1).drop("_is_left")


def range_join_bucketed(
    df: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    window_seconds: int = 60,
) -> DataFrame:
    """All ordered pairs (a, b) with the same key and
    ``0 < b.ts - a.ts <= window``.

    Equi-join on (key, bucket) — each left row probes its own and the next
    bucket — then exact filter. The shuffle key carries the bucket, so pair
    blowup is bounded per (key, bucket) cell instead of per key.
    """
    # exact integer microseconds: casting timestamps to double loses
    # precision at epoch scale (1.7e9 s + 6 fractional digits = 16 sig digits).
    # The LTZ cast keeps unix_micros legal on TIMESTAMP_NTZ columns
    # (wall-clock preserving under the session's pinned UTC zone).
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = F.floor(micros / (window_seconds * 1_000_000))
    a = df.select(
        F.col(key).alias("_k"),
        F.col(id_col).alias("id_a"),
        micros.alias("us_a"),
        bucket.alias("_b"),
    )
    b = df.select(
        F.col(key).alias("_k"),
        F.col(id_col).alias("id_b"),
        micros.alias("us_b"),
        bucket.alias("_b0"),
    )
    probes = a.withColumn("_probe", F.explode(F.array(F.col("_b"), F.col("_b") + 1)))
    joined = probes.join(
        b, (probes._k == b._k) & (probes._probe == b._b0), "inner"
    )
    dt_us = F.col("us_b") - F.col("us_a")
    return (
        joined.filter((dt_us > 0) & (dt_us <= window_seconds * 1_000_000))
        .select(
            probes._k.alias(key),
            "id_a",
            "id_b",
            # exact integer microseconds — float seconds round differently
            # across engines at the 6th decimal
            dt_us.alias("delta_us"),
        )
    )


def multires_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Hour + day + grand-total aggregates in ONE pass via GROUPING SETS —
    the continuous-aggregate ladder of a time-series store. Output carries a
    ``grain`` discriminator ('hour' | 'day' | 'total')."""
    df = df.select(
        F.date_trunc("hour", F.col(ts_col)).alias("bucket_hour"),
        F.date_trunc("day", F.col(ts_col)).alias("bucket_day"),
        F.col(value_col).alias("_v"),
    )
    out = df.groupingSets(
        [["bucket_hour", "bucket_day"], ["bucket_day"], []],
        "bucket_hour",
        "bucket_day",
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("_v"), 4).alias("total"),
    )
    grain = (
        F.when(F.col("bucket_hour").isNotNull(), F.lit("hour"))
        .when(F.col("bucket_day").isNotNull(), F.lit("day"))
        .otherwise(F.lit("total"))
    )
    return out.select(
        grain.alias("grain"),
        F.coalesce(F.col("bucket_hour"), F.col("bucket_day")).alias("bucket"),
        "cnt",
        "total",
    )


def gapfill_locf(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    step: str = "1 hour",
) -> DataFrame:
    """TimescaleDB-style ``time_bucket_gapfill`` + last-observation-carried-
    forward: one row per (key, bucket) for EVERY bucket between the global
    min and max, missing buckets filled with cnt=0 and the previous bucket's
    average carried forward.

    Shuffle shape at 100 TB: ONE raw scan aggregates down to (keys x
    buckets) rows in a map-side-combined shuffle; the bucket spine (1-row
    min/max exploded via ``sequence``) and the distinct-key list are both
    derived from that cached aggregate, not from re-scans of the raw table —
    both broadcast-sized. The LOCF window partitions by key over an
    already-tiny frame.

    The carried value is the ROUNDED per-bucket average, so downstream
    equality is engine-portable (the repo's float policy applied before the
    carry, not after).
    """
    from bigdataingestion_spark.caching import cache_tracked

    bucket = F.date_trunc("hour", F.col(ts_col))
    agg = cache_tracked(
        df.groupBy(F.col(key_col).alias("key"), bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg(value_col), 6).alias("avg_value"),
        )
    )
    bounds = agg.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr(f"INTERVAL {step}"))
        ).alias("bucket")
    )
    keys = agg.select("key").distinct()
    grid = keys.crossJoin(F.broadcast(spine))
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(agg, ["key", "bucket"], "left")
        .select(
            "key",
            "bucket",
            F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt"),
            F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_locf"),
        )
    )


def retention_cohorts(
    df: DataFrame,
    ts_col: str,
    user_col: str,
) -> DataFrame:
    """Cohort retention: users grouped by first-activity day; for each
    (cohort_day, day_offset) the number of distinct cohort users active that
    many days later — the training-data freshness/engagement matrix.

    Two shuffles, both on ``user_col`` (the first-seen aggregate and the
    activity join are co-partitioned; AQE plans the join after the
    first-seen side has collapsed to |users| rows), then one count-distinct
    shuffle on (cohort, offset) — bounded by users x days.
    """
    day = F.col(ts_col).cast("date")
    first_seen = df.groupBy(F.col(user_col).alias("user")).agg(
        F.min(day).alias("cohort_day")
    )
    activity = df.select(
        F.col(user_col).alias("user"), day.alias("active_day")
    ).distinct()
    return (
        activity.join(first_seen, "user")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user").alias("n_users"))
    )


def window_funnel(
    df: DataFrame,
    steps: list[str],
    window: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """ClickHouse-``windowFunnel``-style ordered conversion depth: per user,
    how deep into ``steps`` they progressed, where step i+1 must occur
    strictly after step i and the whole chain within ``window`` of step 1.
    Returns (funnel_depth, n_users) — depth 0 = active users with no step-1
    event.

    One shuffle by user; each step's anchor timestamp is a conditional-min
    window over the SAME partitioning (Catalyst reuses the exchange for the
    chained window projections), so the funnel never rescans the raw table
    per step — the trap in the self-join formulation, which at k steps is k
    scans + k shuffles.
    """
    w = Window.partitionBy("user")
    ev = df.select(
        F.col(user_col).alias("user"),
        F.col(type_col).alias("etype"),
        F.col(ts_col).alias("ts"),
    )
    t1 = F.min(F.when(F.col("etype") == steps[0], F.col("ts"))).over(w)
    ev = ev.withColumn("t1", t1)
    deadline = F.col("t1") + F.expr(f"INTERVAL {window}")
    prev = "t1"
    for i, step in enumerate(steps[1:], start=2):
        ti = F.min(
            F.when(
                (F.col("etype") == step)
                & (F.col("ts") > F.col(prev))
                & (F.col("ts") <= deadline),
                F.col("ts"),
            )
        ).over(w)
        ev = ev.withColumn(f"t{i}", ti)
        prev = f"t{i}"
    depth = F.lit(0)
    for i in range(1, len(steps) + 1):
        depth = F.when(F.col(f"t{i}").isNotNull(), F.lit(i)).otherwise(depth)
    per_user = ev.select("user", *[f"t{i}" for i in range(1, len(steps) + 1)]).distinct()
    return (
        per_user.select("user", depth.alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.countDistinct("user").alias("n_users"))
    )


def latest_state(
    df: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    payload_cols: tuple[str, ...] = ("event_type", "value"),
) -> DataFrame:
    """CDC latest-wins compaction: one row per key holding the most recent
    payload (the materialized "current state" view of a change stream —
    what a MERGE-based mirror table converges to, computed in one pass).

    Implemented as a struct-max aggregate, NOT a row_number window: max of
    struct(order_cols..., payload_cols...) compares lexicographically, so
    the order columns dominate and the payload rides along. Unlike the
    window formulation this gets map-side partial aggregation — at 100 TB
    the shuffle carries one pre-reduced row per key per map task instead of
    the full sorted change log.
    """
    s = F.max(F.struct(*order_cols, *payload_cols)).alias("_s")
    out = df.groupBy(key_col).agg(s)
    cols = [F.col(key_col)]
    cols += [F.col(f"_s.{c}").alias(f"last_{c}") for c in (*order_cols, *payload_cols)]
    return out.select(*cols)


def interval_concurrency_daily(
    df: DataFrame,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Sweep-line concurrency: for each day where the count changes, how
    many [start, end] intervals (inclusive, day granularity) cover it —
    e.g. shipments simultaneously in transit.

    Shape matters at scale: the +1/-1 deltas are aggregated PER DAY first,
    so the full-size shuffle is an ordinary groupBy; the cumulative sum
    then runs over the bounded day table (a few thousand rows for decades
    of data, regardless of row count). The unpartitioned running-sum
    window — normally a single-partition scale-killer — therefore operates
    on an aggregate, not the raw data.
    """
    starts = df.select(
        F.to_date(F.col(start_col)).alias("day"), F.lit(1).alias("delta")
    )
    ends = df.select(
        F.date_add(F.to_date(F.col(end_col)), 1).alias("day"),
        F.lit(-1).alias("delta"),
    )
    deltas = (
        starts.unionAll(ends)
        .groupBy("day")
        .agg(F.sum("delta").alias("delta"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day", F.sum("delta").over(w).alias("concurrent")
    )
