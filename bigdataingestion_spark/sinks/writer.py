"""Datalake writer — format, mode, and file-sizing policy.

Reference behavior (``PostgresToDataLake_Ingestion_Notebook.py:302-306,
:460``):
  - format: delta by default; parquet for domain prefixes
    ``reliefvet``/``appointmentwaitlist`` (a sink-policy keyed on task)
  - every write is ``coalesce(1)`` (one output file per chunk)
  - path: ``{base}/{table_dir}/{yyyy}/{mm}/{dd}`` where yyyy/mm/dd is the
    RUN date (not the data date)
  - ``mergeSchema=true`` on every write (additive schema evolution)

Scale redesign: ``coalesce(1)`` serializes the entire write through one task —
correct for tiny dimension tables, catastrophic at 100 TB. The writer keeps
single-file output only below ``SMALL_FILE_ROWS`` and otherwise lets AQE size
the files, bounded by ``maxRecordsPerFile``. No delta-spark in this
environment, so 'delta' maps to parquet physically while preserving the
format-policy seam (SURVEY.md §7 fallback); the logical format is recorded in
the audit log so a delta-enabled deployment flips one line.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

PARQUET_DOMAINS = ("reliefvet", "appointmentwaitlist")  # reference ING:303
SMALL_FILE_ROWS = 1_000_000  # below this, compact to one file
MAX_RECORDS_PER_FILE = 5_000_000


@dataclass
class SinkPolicy:
    # opt-in: back 'delta'-format tables with the repo's own transaction
    # log (sinks/txlog.py) instead of bare parquet — restores the atomic
    # replace / idempotent replay / snapshot read semantics the reference
    # gets from Delta (no delta-spark jars in this environment)
    use_txlog: bool = False

    def format_for(self, task: str) -> str:
        return "parquet" if task in PARQUET_DOMAINS else "delta"


@dataclass
class DatalakeWriter:
    base_path: str
    policy: SinkPolicy = field(default_factory=SinkPolicy)

    def run_path(self, lake_dir: str, run_date: str) -> str:
        """``{base}/{dir}/{yyyy}/{mm}/{dd}`` (reference ING:460)."""
        y, m, d = run_date.split("-")
        return f"{self.base_path}/{lake_dir}/{y}/{m}/{d}"

    def write(
        self,
        df: DataFrame,
        task: str,
        path: str,
        mode: str,
        approx_rows: int | None = None,
    ) -> str:
        """Write one table/chunk. Returns the physical format used."""
        fmt = self.policy.format_for(task)
        out = df
        if approx_rows is not None and approx_rows <= SMALL_FILE_ROWS:
            out = df.coalesce(1)
        if fmt == "delta" and self.policy.use_txlog:
            from bigdataingestion_spark.sinks.txlog import TxLogTable

            table = TxLogTable(path)
            if mode == "append":
                table.append(out)
            else:
                table.overwrite(out)
            return "txlog"
        physical = "parquet" if fmt == "delta" else fmt  # no delta jars here
        writer = (
            out.write.format(physical)
            .mode(mode)
            .option("mergeSchema", "true")
            .option("maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
        )
        writer.save(path)
        return fmt

    def write_partitioned(
        self, df: DataFrame, task: str, path: str, partition_cols: list[str]
    ) -> str:
        """One-job partitioned write honoring the same format/schema policy
        as chunk writes (mode=overwrite + dynamic partition overwrite ->
        idempotent re-runs)."""
        fmt = self.policy.format_for(task)
        if fmt == "delta" and self.policy.use_txlog:
            from bigdataingestion_spark.sinks.txlog import TxLogTable

            # same dynamic-partition-overwrite semantics, one atomic commit
            TxLogTable(path).overwrite_partitions(df, partition_cols)
            return "txlog"
        physical = "parquet" if fmt == "delta" else fmt
        (
            df.write.format(physical)
            .mode("overwrite")
            .partitionBy(*partition_cols)
            .option("mergeSchema", "true")
            .option("maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
            .save(path)
        )
        return fmt

    def read_back(self, spark, task: str, path: str) -> DataFrame:
        """Re-read a written path (reference ING:346-349) for the watermark
        max computation."""
        fmt = self.policy.format_for(task)
        if fmt == "delta" and self.policy.use_txlog:
            import os

            from bigdataingestion_spark.sinks.txlog import TxLogTable

            table = TxLogTable(path)
            if os.path.isdir(table.log_dir):
                return table.read(spark)
            # table predates the txlog flag (or was written by a plain
            # parquet deployment): fall back rather than refuse to read
        physical = "parquet" if fmt == "delta" else fmt
        return spark.read.format(physical).load(path)
