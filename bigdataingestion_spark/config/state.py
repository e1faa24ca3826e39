"""Watermark state table — ``TableLoadDetails``.

Reference model (``PostgresToDataLake_Ingestion_Notebook.py:366-415``): a
Delta table ``configurations.TableLoadDetails`` holding one row per
(SystemType, DatabaseName, lower(TableName)) with the last successfully
loaded watermark, upserted via MERGE after every table load; surrogate key is
``MAX(tableloaddetailsid) + 1`` computed driver-side (the reference is
single-writer).

This environment has no delta-spark, so the state store is a tiny parquet
table updated by atomic write-then-rename (SURVEY.md §7 fallback —
semantically identical for a single writer). The orchestrator loads tables
on several threads, so each MERGE's read-modify-write holds a process-wide
lock: concurrent merges of different rows cannot lose an update, and the
surrogate keys stay unique. Separate processes are still single-writer.
The table is metadata (O(number of configured tables) rows), so driver-side
pandas/pyarrow I/O is the right tool; Spark jobs for 50-row state would be
pure overhead. ``to_spark`` exposes it as a DataFrame/view for SQL access.

MERGE semantics reproduced exactly:
  - match on (SystemType, DatabaseName, lower(TableName))  (ING:387-389)
  - WHEN MATCHED: update LastLoadDate + SqlUpdatedDate      (ING:390-393)
  - WHEN NOT MATCHED AND insert_allowed: insert with SqlUpdatedDate=NULL
    (the reference inserts NULL there despite computing a value, ING:413)
"""

from __future__ import annotations

import threading
from datetime import datetime, timezone

import pandas as pd

from bigdataingestion_spark.config.store import ParquetFileStore


class TableLoadDetails(ParquetFileStore):
    """Watermark state with reference-MERGE semantics; thread-safe within
    one process, single-writer across processes."""

    DTYPES = {
        "tableloaddetailsid": "int64",
        "SystemType": "object",
        "DatabaseName": "object",
        "TableName": "object",
        "LastLoadDate": "datetime64[ns]",
        "SqlCreatedDate": "datetime64[ns]",
        "SqlUpdatedDate": "datetime64[ns]",
    }
    SPARK_SCHEMA = (
        "tableloaddetailsid int, SystemType string, DatabaseName string, "
        "TableName string, LastLoadDate timestamp, SqlCreatedDate timestamp, "
        "SqlUpdatedDate timestamp"
    )
    _merge_lock = threading.Lock()  # serialises every merge's read-modify-write

    def get_last_load_date(
        self, system_type: str, database: str, table: str
    ) -> str | None:
        """Reference ``GetMaxTimestampUsingPython`` equivalent (ING:456-459):
        returns the stored LastLoadDate as a string, or None."""
        df = self._read()
        hit = df[
            (df["SystemType"] == system_type)
            & (df["DatabaseName"] == database)
            & (df["TableName"].str.lower() == table.lower())
        ]
        if hit.empty or pd.isna(hit.iloc[0]["LastLoadDate"]):
            return None
        return str(hit.iloc[0]["LastLoadDate"])

    def merge(
        self,
        system_type: str,
        database: str,
        table: str,
        last_load_date,
        insert_allowed: bool = False,
    ) -> None:
        """Upsert one state row (reference MERGE, ING:373-415)."""
        with self._merge_lock:
            df = self._read()
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            mask = (
                (df["SystemType"] == system_type)
                & (df["DatabaseName"] == database)
                & (df["TableName"].str.lower() == table.lower())
            )
            ts = pd.Timestamp(last_load_date)
            if mask.any():
                df.loc[mask, "LastLoadDate"] = ts
                df.loc[mask, "SqlUpdatedDate"] = pd.Timestamp(now)
            elif insert_allowed:
                next_id = int(df["tableloaddetailsid"].max()) + 1 if len(df) else 1
                row = pd.DataFrame(
                    [
                        {
                            "tableloaddetailsid": next_id,
                            "SystemType": system_type,
                            "DatabaseName": database,
                            "TableName": table.lower(),
                            "LastLoadDate": ts,
                            "SqlCreatedDate": pd.Timestamp(now),
                            # reference inserts NULL on the insert branch (ING:413)
                            "SqlUpdatedDate": pd.NaT,
                        }
                    ]
                )
                df = pd.concat([df, row], ignore_index=True)
            else:
                return
            self._write_atomic(df)
