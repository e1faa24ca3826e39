"""Data-level latest-wins MERGE (upsert) for parquet lake tables.

The reference's only MERGE is its state-table upsert
(``PostgresToDataLake_Ingestion_Notebook.py:373-415``, rebuilt in
``config.state``); its *data* writes are append/overwrite with documented
duplicate risk. ``merge_upsert_ordered`` extends the engine with a
delta-style deduplicated ``MERGE INTO`` over plain parquet, the sink of
``streaming.ingest.stream_cdc_upsert``:

  per key, keep the row with the greatest order columns across
  target UNION source

One key-partitioned window over target ∪ source, written to a staging
directory and atomically swapped into place (classic copy-on-write merge).
Transactional key-matching upserts with file-level pruning live in
``TxLogTable.merge_upsert``.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def merge_upsert_ordered(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> int:
    """Latest-wins upsert: per key, keep the row with the greatest
    ``order_cols`` across target UNION source (delta's "deduplicated
    upsert" / WHEN MATCHED AND s.ord >= t.ord THEN UPDATE).

    The source row does not win unconditionally, so this is correct when
    deliveries are out of order — a micro-batch carrying an OLDER version
    of a key cannot regress the stored row, and the final state is
    independent of arrival order. Idempotent by construction: re-applying
    any already-merged batch is a no-op. One key-partitioned window over
    target ∪ batch — at 100 TB, pair with partitioned tables so only the
    affected partitions are rewritten.
    """
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if not os.path.exists(target_path):
        latest(source).write.parquet(target_path)
        return spark.read.parquet(target_path).count()

    target = spark.read.parquet(target_path)
    merged = latest(target.unionByName(source))
    staging = f"{target_path}.staging-{uuid.uuid4().hex[:8]}"
    merged.write.parquet(staging)
    n = spark.read.parquet(staging).count()
    backup = f"{target_path}.old-{uuid.uuid4().hex[:8]}"
    os.rename(target_path, backup)
    os.rename(staging, target_path)
    shutil.rmtree(backup)
    return n
