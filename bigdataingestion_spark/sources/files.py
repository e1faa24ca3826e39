"""File-backed source (parquet/csv/json directory standing in for a database).

Used by tests and by any lake-to-lake ingestion. The watermark increment is a
plain DataFrame filter — Catalyst pushes ``>=`` comparisons on the individual
columns into the parquet scan where possible, and the COALESCE itself is
evaluated in whole-stage codegen (JVM-side, no Python).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataingestion_spark.functions.io import (
    convert_ns_long_columns,
    ns_timestamp_columns,
)
from bigdataingestion_spark.sources.querygen import TableAddress


@dataclass
class FileSource:
    spark: SparkSession
    base_path: str  # {base_path}/{database}/{table}.{fmt} or {base_path}/{table}.{fmt}
    fmt: str = "parquet"
    options: dict | None = None  # e.g. {"header": "true", "inferSchema": "true"} for csv

    def _path(self, database: str, table: str) -> str:
        candidates = [
            os.path.join(self.base_path, database, f"{table}.{self.fmt}"),
            os.path.join(self.base_path, f"{table}.{self.fmt}"),
            os.path.join(self.base_path, database, table),
            os.path.join(self.base_path, table),
        ]
        for c in candidates:
            if os.path.exists(c):
                return c
        return candidates[0]

    def _load(self, database: str, addr: TableAddress) -> tuple[DataFrame, list[str]]:
        """The table as Spark loads it, and its TIMESTAMP(NANOS) columns,
        which a parquet load leaves as raw-nanos longs."""
        path = self._path(database, addr.table)
        reader = self.spark.read.format(self.fmt)
        defaults = (
            {"header": "true", "inferSchema": "true"} if self.fmt == "csv" else {}
        )
        for k, v in {**defaults, **(self.options or {})}.items():
            reader = reader.option(k, v)
        df = reader.load(path)
        if self.fmt != "parquet":
            return df, []
        return df, ns_timestamp_columns(path, df.dtypes)

    def read_table(self, database: str, addr: TableAddress) -> DataFrame:
        return convert_ns_long_columns(*self._load(database, addr))

    def probe_table(self, database: str, addr: TableAddress) -> DataFrame:
        return self.read_table(database, addr)

    def read_increment(
        self,
        database: str,
        addr: TableAddress,
        watermark_cols: list[str],
        last_load_date: str,
    ) -> DataFrame:
        df, ns_cols = self._load(database, addr)
        if watermark_cols and set(ns_cols).issuperset(watermark_cols):
            # push a raw-nanos pre-filter for ns-timestamp columns: a
            # predicate on timestamp_micros(raw div 1000) cannot reach the
            # parquet scan, but raw >= watermark_ns can (row-group stats
            # prune). Exact integer bound: micros*1000 (double math would
            # round at epoch-nanos scale and could exclude boundary rows)
            ts_ns = (
                F.unix_micros(F.lit(str(last_load_date)).cast("timestamp"))
                * F.lit(1000)
            )
            df = df.filter(F.coalesce(*[F.col(c) for c in watermark_cols]) >= ts_ns)
        df = convert_ns_long_columns(df, ns_cols)
        if not watermark_cols:
            return df
        # the exact check, in timestamp space (the ns pre-filter only prunes)
        wm = F.coalesce(*[F.col(c) for c in watermark_cols])
        return df.filter(wm >= F.lit(str(last_load_date)).cast("timestamp"))
