"""Config repository — the ``configurations.configvalues`` key-value model.

Reference model: rows (group_name, config_name, config_value, is_active,
IsEncrypt) read with small SQL queries all over the pipeline
(``PostgresToDataLake_Ingestion_Notebook.py:68-144``) and inserted/updated by
the registrar notebook (``insert_Postgres_Configs.py:106-146``).

The rebuild keeps the identical logical model over the same parquet-backed
atomic store as the watermark state, and collapses the reference's repeated
single-value scans (4x ``.collect()`` over the same 4-row result, ING:136-139)
into one dict read. Registrar semantics (existence-checked insert, CSV
table-list merge) are reproduced in :class:`ConfigRepository` methods.
"""

from __future__ import annotations

import pandas as pd

from bigdataingestion_spark.config.store import ParquetFileStore


class ConfigRepository(ParquetFileStore):
    DTYPES = {
        "group_name": "object",
        "config_name": "object",
        "config_value": "object",
        "is_active": "bool",
        "IsEncrypt": "object",
    }
    SPARK_SCHEMA = (
        "group_name string, config_name string, config_value string, "
        "is_active boolean, IsEncrypt string"
    )

    # -- reads ---------------------------------------------------------------

    def get_group(self, group_name: str, active_only: bool = True) -> dict[str, str]:
        """All (config_name -> config_value) in a group — the reference's
        ``collectAsMap`` pattern (ING:97, :104)."""
        df = self._read()
        m = df["group_name"] == group_name
        if active_only:
            m &= df["is_active"]
        return dict(zip(df.loc[m, "config_name"], df.loc[m, "config_value"]))

    def get_value(
        self, group_name: str, config_name: str, active_only: bool = True
    ) -> str | None:
        """Single value or None — the reference's LIMIT-1-then-first pattern
        (ING:68-80). Like the reference's LIMIT 1 without ORDER BY, any
        active row satisfies; we return the first stored."""
        df = self._read()
        m = (df["group_name"] == group_name) & (df["config_name"] == config_name)
        if active_only:
            m &= df["is_active"]
        hits = df.loc[m, "config_value"]
        return None if hits.empty else str(hits.iloc[0])

    def exists(self, group_name: str, config_name: str) -> bool:
        """Case-insensitive existence check (insert_Postgres_Configs.py:114)."""
        df = self._read()
        m = (df["group_name"].str.lower() == group_name.lower()) & (
            df["config_name"].str.lower() == config_name.lower()
        )
        return bool(m.any())

    # -- writes (registrar semantics) -----------------------------------------

    def insert(
        self,
        group_name: str,
        config_name: str,
        config_value: str,
        is_encrypt: str = "No",
        is_active: bool = True,
    ) -> bool:
        """Existence-checked insert (insert_Postgres_Configs.py:106-126).
        Returns True if inserted, False if the config already existed."""
        if self.exists(group_name, config_name):
            return False
        df = self._read()
        row = pd.DataFrame(
            [
                {
                    "group_name": group_name,
                    "config_name": config_name,
                    "config_value": config_value,
                    "is_active": is_active,
                    "IsEncrypt": is_encrypt,
                }
            ]
        )
        self._write_atomic(pd.concat([df, row], ignore_index=True))
        return True

    def update_value(self, group_name: str, config_name: str, config_value: str) -> None:
        """UPDATE ... SET config_value (insert_Postgres_Configs.py:136-140)."""
        df = self._read()
        m = (df["group_name"] == group_name) & (df["config_name"] == config_name)
        df.loc[m, "config_value"] = config_value
        self._write_atomic(df)


def merge_tables_list(
    existing_csv: str | None,
    new_tables: str,
    task: str,
    known_source_tables: list[str],
) -> str:
    """Reference ``getUpdatedTablesList`` (insert_Postgres_Configs.py:76-90):
    widget tables are appended to the existing CSV list; a new table whose
    bare name collides with a known source table gets the ``{task}_`` prefix.
    """
    existing = existing_csv.split(",") if existing_csv else []
    merged = list(existing)
    for new_tbl in [t.strip() for t in new_tables.split(",")]:
        if new_tbl.split(".")[-1] in known_source_tables:
            merged.append(f"{task}_{new_tbl}")
        else:
            merged.append(new_tbl)
    return ",".join(merged)
