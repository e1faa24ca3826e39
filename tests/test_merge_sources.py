"""File sources: non-parquet formats and watermark increments."""

from __future__ import annotations

from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdataingestion_spark.sources.files import FileSource
from bigdataingestion_spark.sources.querygen import resolve_table


def test_csv_and_json_file_sources(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.5)], ["id", "name", "v"]
    )
    csv_dir = tmp_path / "csvdb" / "db"
    json_dir = tmp_path / "jsondb" / "db"
    df.write.option("header", True).csv(str(csv_dir / "t.csv"))
    df.write.json(str(json_dir / "t.json"))

    addr = resolve_table("t", task="x")
    csv_src = FileSource(spark, str(tmp_path / "csvdb"), fmt="csv")
    got = csv_src.read_table("db", addr)
    assert got.count() == 2
    assert set(got.columns) == {"id", "name", "v"}
    json_src = FileSource(spark, str(tmp_path / "jsondb"), fmt="json")
    out = json_src.read_table("db", addr)
    assert out.count() == 2
    assert set(out.columns) == {"id", "name", "v"}


def test_orc_file_source_roundtrip(spark, tmp_path):
    """ORC is a first-class Spark format; FileSource passes fmt through."""
    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.5), (3, "z", 3.5)], ["id", "name", "v"]
    )
    orc_dir = tmp_path / "orcdb" / "db"
    df.write.orc(str(orc_dir / "t.orc"))
    addr = resolve_table("t", task="x")
    got = FileSource(spark, str(tmp_path / "orcdb"), fmt="orc").read_table("db", addr)
    assert got.count() == 3
    assert set(got.columns) == {"id", "name", "v"}
    assert {r["name"] for r in got.collect()} == {"x", "y", "z"}


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_read_increment_loads_table_once(spark, tmp_path, unit):
    """Building an increment frame loads the table once: one Spark job (its
    schema inference) for a µs and for an ns watermark table, and rows
    exactly at the watermark survive the filter."""
    bound = datetime(2024, 1, 2)
    us = timedelta(microseconds=1)
    rows = [  # (id, updated, created); watermark = COALESCE(updated, created)
        (1, None, bound - us),
        (2, bound, bound - timedelta(days=1)),
        (3, None, bound),
        (4, bound + timedelta(hours=1), None),
        (5, bound - us, bound + timedelta(days=1)),
    ]
    tbl = pa.table({
        "id": [r[0] for r in rows],
        "updated": pa.array([r[1] for r in rows], pa.timestamp(unit)),
        "created": pa.array([r[2] for r in rows], pa.timestamp(unit)),
    })
    path = tmp_path / "db" / "t.parquet"
    path.mkdir(parents=True)
    pq.write_table(tbl.slice(0, 2), str(path / "part-0.parquet"))
    pq.write_table(tbl.slice(2), str(path / "part-1.parquet"))

    src = FileSource(spark, str(tmp_path))
    sc = spark.sparkContext
    group = f"read-increment-{unit}"
    sc.setJobGroup(group, group)
    try:
        df = src.read_increment(
            "db", resolve_table("t", task="x"), ["updated", "created"], str(bound)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert dict(df.dtypes)["updated"].startswith("timestamp")
    assert sorted(r.id for r in df.collect()) == [2, 3, 4]


def test_probe_and_increment_share_one_load_per_listing(spark, tmp_path):
    """The schema probe and the increment read of an unchanged directory
    load the table once: one Spark job. A file added afterwards changes the
    listing, so the next read loads again and sees the new rows."""
    path = tmp_path / "db" / "t.parquet"
    path.mkdir(parents=True)
    day = datetime(2024, 1, 1)
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array([day, day], pa.timestamp("us"))}),
        str(path / "part-0.parquet"),
    )
    src = FileSource(spark, str(tmp_path))
    addr = resolve_table("t", task="x")
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    def probe_and_read():
        src.probe_table("db", addr)
        return src.read_increment("db", addr, ["ts"], str(day))

    n, df = jobs("probe-and-read", probe_and_read)
    assert n == 1
    assert sorted(r.id for r in df.collect()) == [1, 2]

    pq.write_table(
        pa.table({"id": [3], "ts": pa.array([day], pa.timestamp("us"))}),
        str(path / "part-1.parquet"),
    )
    n, df = jobs(
        "read-after-add", lambda: src.read_increment("db", addr, ["ts"], str(day))
    )
    assert n == 1  # a fresh load
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]
