"""SCD2 (slowly-changing-dimension type 2) history tracking over parquet.

CDC-style ingestion keeps full history: instead of updating a changed row in
place (SCD1 = ``TxLogTable.merge_upsert``), the current version is closed
out (``valid_to`` set) and a new version row opened. Delta implements this
with MERGE; without table-format jars we emulate with joins + an atomic
staging swap (same pattern as ``sinks.merge.merge_upsert_ordered``):

  * unchanged current rows            -> kept as-is
  * current rows whose source differs -> closed (valid_to = change ts)
  * changed + brand-new source rows   -> inserted open (valid_to = NULL)
  * already-closed history            -> untouched

Change detection compares a md5 over the tracked columns (never shuffles the
full row content).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _open_marker():
    # built lazily: Column construction needs an active SparkContext
    return F.lit(None).cast("timestamp")


def _with_hash(df: DataFrame, tracked: list[str]) -> DataFrame:
    # per-column NULL sentinels: concat_ws silently SKIPS nulls, so ('x',
    # NULL) and (NULL, 'x') would otherwise collide to the same hash and a
    # NULL-shift change would be classified 'unchanged'
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00")) for c in tracked
    ]
    return df.withColumn("_row_hash", F.md5(F.concat_ws("\x1f", *parts)))


def apply_scd2(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    tracked: list[str],
    change_ts: str,
) -> None:
    """Fold one source snapshot into the SCD2 history at ``target_path``.

    ``tracked`` are the change-detected attribute columns; ``change_ts`` is
    the effective timestamp literal for this snapshot (ISO string).
    History schema = source columns + valid_from + valid_to.
    """
    ts = F.lit(change_ts).cast("timestamp")
    src = _with_hash(source, tracked)

    if not os.path.exists(target_path):
        src.drop("_row_hash").withColumn("valid_from", ts).withColumn(
            "valid_to", _open_marker()
        ).write.parquet(target_path)
        return

    hist = spark.read.parquet(target_path)
    closed = hist.filter(F.col("valid_to").isNotNull())
    current = _with_hash(hist.filter(F.col("valid_to").isNull()), tracked)

    src_keyed = src.select(
        *[F.col(k).alias(f"_src_{k}") for k in keys],
        F.col("_row_hash").alias("_src_hash"),
    )
    cond = [current[k] == src_keyed[f"_src_{k}"] for k in keys]
    cmp = current.join(src_keyed, cond, "left")

    unchanged = cmp.filter(
        F.col("_src_hash").isNotNull() & (F.col("_src_hash") == F.col("_row_hash"))
    ).select(hist.columns)
    # vanished from source OR changed -> close out
    to_close = cmp.filter(
        F.col("_src_hash").isNull() | (F.col("_src_hash") != F.col("_row_hash"))
    ).select(hist.columns)
    closed_now = to_close.withColumn("valid_to", ts)

    cur_keyed = current.select(
        *[F.col(k).alias(f"_cur_{k}") for k in keys],
        F.col("_row_hash").alias("_cur_hash"),
    )
    cond2 = [src[k] == cur_keyed[f"_cur_{k}"] for k in keys]
    src_cmp = src.join(cur_keyed, cond2, "left")
    new_versions = (
        src_cmp.filter(
            F.col("_cur_hash").isNull() | (F.col("_cur_hash") != F.col("_row_hash"))
        )
        .select(source.columns)
        .withColumn("valid_from", ts)
        .withColumn("valid_to", _open_marker())
    )

    merged = (
        closed.unionByName(unchanged)
        .unionByName(closed_now)
        .unionByName(new_versions)
    )
    staging = f"{target_path}.staging-{uuid.uuid4().hex[:8]}"
    merged.write.parquet(staging)
    backup = f"{target_path}.old-{uuid.uuid4().hex[:8]}"
    os.rename(target_path, backup)
    os.rename(staging, target_path)
    shutil.rmtree(backup)


def current_view(spark: SparkSession, target_path: str) -> DataFrame:
    """The SCD1 projection of the history: open rows only."""
    return spark.read.parquet(target_path).filter(F.col("valid_to").isNull())
