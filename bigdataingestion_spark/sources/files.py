"""File-backed source (parquet/csv/json directory standing in for a database).

Used by tests and by any lake-to-lake ingestion. The watermark increment is a
plain DataFrame filter — Catalyst pushes ``>=`` comparisons on the individual
columns into the parquet scan where possible, and the COALESCE itself is
evaluated in whole-stage codegen (JVM-side, no Python).

A load runs a schema-inference job and opens the parquet footers, so each
path's load is memoised against its file listing (relative names, sizes and
mtimes): the orchestrator's schema probe and its read then share one load,
and so do runs that find a table unchanged. A new or rewritten file changes
the listing and misses the memo.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

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
    # path -> (file listing, frame, ns columns) of its last load
    _loads: dict = field(default_factory=dict, init=False, repr=False, compare=False)

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
        which a parquet load leaves as raw-nanos longs. Memoised per path
        while the path's file listing is unchanged."""
        path = self._path(database, addr.table)
        # listed before the load: a file landing during it only makes the
        # next call miss
        listing = _listing(path)
        hit = self._loads.get(path)
        if hit is not None and hit[0] == listing:
            return hit[1], hit[2]
        reader = self.spark.read.format(self.fmt)
        defaults = (
            {"header": "true", "inferSchema": "true"} if self.fmt == "csv" else {}
        )
        for k, v in {**defaults, **(self.options or {})}.items():
            reader = reader.option(k, v)
        df = reader.load(path)
        ns_cols = ns_timestamp_columns(path, df.dtypes) if self.fmt == "parquet" else []
        self._loads[path] = (listing, df, ns_cols)
        return df, ns_cols

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


def _listing(path: str) -> list[tuple[str, int, int]]:
    """(relative name, size, mtime in ns) of every file under ``path``, or
    of ``path`` itself when it is a file."""
    if os.path.isfile(path):
        st = os.stat(path)
        return [("", st.st_size, st.st_mtime_ns)]
    out = []
    for root, _, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return sorted(out)
