"""SparkSession factory.

The reference runs on Databricks and relies on the platform session. Here the
session is built explicitly, with the scale-relevant settings the reference's
README *claims* but never configures (dynamic shuffle partitions -> AQE;
cf. reference README.md:32): adaptive query execution, skew-join handling,
Arrow transfer for pandas UDFs, and shuffle-partition sizing.

On a real cluster the same factory is used with ``master=None`` (inherit from
spark-submit); tests pass ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "bigdataingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for the ingestion/analytics engine.

    Scale posture (100 TB / 1000 executors):
      - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
        and dynamic join-strategy switching replace any hand-tuned plan.
      - ``spark.sql.files.maxPartitionBytes`` left at default 128m so a scan of
        100 TB yields ~800k input splits — fine; AQE coalesces post-shuffle.
      - Arrow enabled so the pandas-UDF operators (dedup/similarity) move data
        in columnar batches, not pickled rows.
      - Persisted plans coalesce: AQE may change a cached plan's output
        partitioning, so ``.persist()`` of a shuffled frame keeps the
        coalesced partition count instead of every shuffle partition.
        Without it every later stage and write over a small persisted
        frame (a MERGE resolution, a view refresh's delta) runs that
        many tasks and can stage one file per partition. Spark reads the
        setting only when planning a persisted frame, so plans that
        persist nothing are unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata fixtures carry TIMESTAMP(NANOS) parquet columns, which
        # Spark rejects natively; read them as long and let functions.io
        # convert (truncation to micros, matching DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # partitionBy writes from the chunk writer can touch many date
        # partitions in one job; don't let the per-task file limit bite.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # write TIMESTAMP(MICROS), not the deprecated INT96: INT96 column
        # chunks carry no min/max statistics, which blinds parquet
        # row-group pruning AND the txlog's log-held data-skipping stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if rocksdb_state:
        # Streaming state off-heap in local RocksDB instead of the
        # executor-heap HDFS-backed map: at 100 TB stream scale, stateful
        # operators (sessionization, stream-stream joins, dedup) hold
        # state bounded by disk, not executor memory, and changelog
        # checkpointing keeps commits incremental. The provider conf is
        # also settable per-query before ``start()`` (dynamic SQLConf).
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
            ".enabled",
            "true",
        )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
