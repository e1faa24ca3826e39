"""As-of join, bounded range join, multi-resolution rollup."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from bigdataingestion_spark.operators import temporal


def ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_backward_with_ties(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", ts("2024-01-01 10:00:00")),
            (2, "u1", ts("2024-01-01 10:05:00")),
            (3, "u1", ts("2024-01-01 09:00:00")),  # before any right row
            (4, "u2", ts("2024-01-01 10:00:00")),  # tie with right row
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01 09:30:00"), 100),
            ("u1", ts("2024-01-01 10:02:00"), 200),
            ("u2", ts("2024-01-01 10:00:00"), 300),
        ],
        ["user_id", "ts", "pe_id"],
    )
    out = {
        r.event_id: r.pe_id_asof
        for r in temporal.asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            value_cols=["pe_id"],
        ).collect()
    }
    assert out[1] == 100  # latest right <= 10:00 is 09:30
    assert out[2] == 200  # 10:02 < 10:05
    assert out[3] is None  # nothing before 09:00
    assert out[4] == 300  # tie (==) matches


def test_asof_join_matches_duckdb_asof_oracle(spark, sf_smoke_dir):
    """The window as-of join agrees with DuckDB's native ASOF LEFT JOIN
    (the ``asof_last_purchase`` oracle) on real data."""
    import os

    import duckdb

    from bigdataingestion_spark.catalog import oracle_sql
    from bigdataingestion_spark.functions.io import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("pe_id"))
    )
    got = temporal.asof_join(
        ev.select("event_id", "user_id", "ts"), purchases,
        key="user_id", left_ts="ts", right_ts="ts", value_cols=["pe_id"],
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf_smoke_dir, 'events.parquet')}'"
    )
    want = con.execute(
        f"SELECT event_id, pe_id_asof FROM ({oracle_sql()['asof_last_purchase']})"
    ).fetchall()
    assert any(pe is not None for _, pe in want)
    assert {(r.event_id, r.pe_id_asof) for r in got.collect()} == set(want)


def test_range_join_bucketed_exact_window(spark):
    rows = [
        (1, "u1", ts("2024-01-01 10:00:00")),
        (2, "u1", ts("2024-01-01 10:00:30")),  # +30s from 1
        (3, "u1", ts("2024-01-01 10:01:00")),  # +60s from 1 (boundary, incl)
        (4, "u1", ts("2024-01-01 10:02:30")),  # out of window from all
        (5, "u2", ts("2024-01-01 10:00:10")),  # other key
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    pairs = {
        (r.id_a, r.id_b): r.delta_us
        for r in temporal.range_join_bucketed(
            df, key="user_id", ts_col="ts", id_col="event_id", window_seconds=60
        ).collect()
    }
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    assert pairs[(1, 3)] == 60_000_000  # inclusive boundary
    # no duplicate pairs despite the two-bucket probe
    assert len(pairs) == 3


def test_multires_rollup_ladder(spark):
    rows = [
        (ts("2024-01-01 10:10:00"), 1.0),
        (ts("2024-01-01 10:50:00"), 2.0),
        (ts("2024-01-01 11:10:00"), 4.0),
        (ts("2024-01-02 00:10:00"), 8.0),
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = temporal.multires_rollup(df, "ts", "value").collect()
    by_grain = {}
    for r in out:
        by_grain.setdefault(r.grain, []).append(r)
    assert len(by_grain["hour"]) == 3
    assert len(by_grain["day"]) == 2
    assert len(by_grain["total"]) == 1
    assert by_grain["total"][0].total == 15.0
    day1 = [r for r in by_grain["day"] if r.bucket == ts("2024-01-01 00:00:00")][0]
    assert day1.cnt == 3 and day1.total == 7.0


def test_gapfill_locf_fills_missing_buckets(spark):
    from datetime import datetime

    rows = [
        ("a", datetime(2024, 1, 1, 0, 10), 10.0),
        ("a", datetime(2024, 1, 1, 3, 20), 40.0),  # hours 1, 2 missing
        ("b", datetime(2024, 1, 1, 1, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = {
        (r.key, r.bucket.hour): (r.cnt, r.avg_value_locf)
        for r in temporal.gapfill_locf(
            df, ts_col="ts", key_col="event_type", value_col="value"
        ).collect()
    }
    # spine spans global min..max hour (0..3) for BOTH keys
    assert len(out) == 8
    assert out[("a", 0)] == (1, 10.0)
    assert out[("a", 1)] == (0, 10.0)  # gap: cnt 0, LOCF carries 10.0
    assert out[("a", 2)] == (0, 10.0)
    assert out[("a", 3)] == (1, 40.0)
    assert out[("b", 0)] == (0, None)  # before b's first observation
    assert out[("b", 1)] == (1, 5.0)
    assert out[("b", 3)] == (0, 5.0)


def test_retention_cohorts_offsets(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 9)),
        (1, datetime(2024, 1, 3, 9)),   # offset 2
        (2, datetime(2024, 1, 1, 12)),  # same cohort as 1
        (3, datetime(2024, 1, 2, 8)),   # its own cohort
        (1, datetime(2024, 1, 3, 23)),  # same (user, day): counted once
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (str(r.cohort_day), r.day_offset): r.n_users
        for r in temporal.retention_cohorts(df, "ts", "user_id").collect()
    }
    assert out[("2024-01-01", 0)] == 2
    assert out[("2024-01-01", 2)] == 1
    assert out[("2024-01-02", 0)] == 1
    assert len(out) == 3


def test_window_funnel_depths(spark):
    from datetime import datetime

    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def at(minutes):
        return datetime(2024, 1, 1, 10, minutes)

    rows = [
        # user 1: full funnel inside the hour
        (1, "view", at(0)), (1, "click", at(10)), (1, "purchase", at(20)),
        # user 2: click BEFORE the view -> depth 1
        (2, "click", at(0)), (2, "view", at(5)),
        # user 3: purchase outside the 1h window -> depth 2
        (3, "view", at(0)), (3, "click", at(30)),
        (3, "purchase", datetime(2024, 1, 1, 11, 30)),
        # user 4: no view at all -> depth 0
        (4, "signup", at(0)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {
        r.funnel_depth: r.n_users
        for r in temporal.window_funnel(
            df, steps=["view", "click", "purchase"], window="1 hour"
        ).collect()
    }
    assert out == {3: 1, 1: 1, 2: 1, 0: 1}
