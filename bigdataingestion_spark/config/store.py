"""The single-parquet-file store under the config and state tables.

Both tables are metadata (O(configured tables) rows), so they live in one
parquet file read and written driver-side with pandas; a write goes to a
temporary file in the same directory and is renamed over the old one, so a
reader sees the old or the new table, never a partial file.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


class ParquetFileStore:
    """A table of ``DTYPES`` columns in the parquet file at ``path``;
    ``SPARK_SCHEMA`` (DDL) types the empty table's DataFrame."""

    DTYPES: dict[str, str] = {}
    SPARK_SCHEMA: str = ""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _read(self) -> pd.DataFrame:
        if os.path.exists(self.path):
            return pd.read_parquet(self.path)
        return pd.DataFrame(
            {c: pd.Series(dtype=t) for c, t in self.DTYPES.items()}
        )

    def _write_atomic(self, df: pd.DataFrame) -> None:
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(self.path) or ".", suffix=".parquet.tmp"
        )
        os.close(fd)
        try:
            df.to_parquet(tmp, index=False)
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def to_spark(self, spark: SparkSession) -> DataFrame:
        pdf = self._read()
        if pdf.empty:
            return spark.createDataFrame([], self.SPARK_SCHEMA)
        return spark.createDataFrame(pdf)
