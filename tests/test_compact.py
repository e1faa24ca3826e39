"""Compaction and clustered rewrites: ``TxLogTable.compact`` on plain
parquet directories adopted with ``convert_from_parquet``."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdataingestion_spark.sinks.txlog import TxLogTable


def _adopt(spark, path):
    t = TxLogTable.convert_from_parquet(spark, path)
    size = sum(os.path.getsize(os.path.join(path, f)) for f in t.snapshot().files)
    return t, size


def _live_files(t):
    return [os.path.join(t.path, f) for f in t.snapshot().files]


def test_compact_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "many")
    spark.range(10_000).repartition(20).write.parquet(path)
    t, _ = _adopt(spark, path)
    assert len(_live_files(t)) == 20
    before = t.read(spark).agg(F.sum("id")).first()[0]
    t.compact(spark, full=True)
    assert t.history()[-1]["op"] == "compact"
    assert len(_live_files(t)) == 1
    assert t.read(spark).agg(F.sum("id")).first()[0] == before


def test_single_key_zorder_range_clusters_files(spark, tmp_path):
    path = str(tmp_path / "clustered")
    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 10_000).alias("key"), F.col("id").alias("v")
    )
    df.repartition(8).write.parquet(path)
    t, size = _adopt(spark, path)
    t.compact(spark, target_file_bytes=size // 4, zorder_by=["key"])
    out = t.read(spark)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # range clustering: per-file key ranges must be disjoint
    spans = []
    for f in _live_files(t):
        meta = pq.ParquetFile(f)
        stats = [
            meta.metadata.row_group(i).column(0).statistics
            for i in range(meta.metadata.num_row_groups)
        ]
        lo = min(s.min for s in stats)
        hi = max(s.max for s in stats)
        spans.append((lo, hi))
    assert len(spans) > 1
    spans.sort()
    overlaps = sum(
        1 for (a, b) in zip(spans, spans[1:]) if a[1] > b[0]
    )
    assert overlaps == 0, f"file key ranges overlap: {spans}"


def test_zorder_skewed_column_stays_balanced(spark, tmp_path):
    """90% of x mass on one value: rank-based (approxQuantile) boundaries
    collapse x's hot buckets, but the interleaved y bits still spread rows
    so no output file becomes a hot blob."""
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, 0.0)
        .otherwise((F.col("id") % 1000).cast("double"))
        .alias("x"),
        (F.col("id") % 251).cast("double").alias("y"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "zskew")
    df.repartition(4).write.parquet(path)
    t, size = _adopt(spark, path)
    t.compact(spark, target_file_bytes=size // 8, zorder_by=["x", "y"])
    out = t.read(spark)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    rows_per_file = [
        pq.ParquetFile(f).metadata.num_rows for f in _live_files(t)
    ]
    assert max(rows_per_file) < 10_000 * 0.5, rows_per_file


def test_auto_compact_triggers_on_small_file_threshold(spark, tmp_path):
    """auto.compact.min.files: after a write leaves >= N small files, an
    incremental compact runs post-commit; unset, nothing happens."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(0, "x")], ["id", "v"]).coalesce(1))
    t.alter_properties({"auto.compact.min.files": "5"})
    for i in range(1, 4):
        t.append(
            spark.createDataFrame([(i, "x")], ["id", "v"]).coalesce(1)
        )
    assert len(t.snapshot().files) == 4  # below threshold: untouched
    assert not any(e["op"] == "compact" for e in t.history())
    t.append(spark.createDataFrame([(9, "x")], ["id", "v"]).coalesce(1))
    # the 5th small file crossed the threshold: ONE compacted file now
    assert t.history()[-1]["op"] == "compact"
    assert len(t.snapshot().files) == 1
    assert t.read(spark).count() == 5

    # opt-out: unset the property, fragmentation accumulates again
    t.alter_properties({"auto.compact.min.files": None})
    for i in range(10, 16):
        t.append(
            spark.createDataFrame([(i, "x")], ["id", "v"]).coalesce(1)
        )
    assert len(t.snapshot().files) == 7
