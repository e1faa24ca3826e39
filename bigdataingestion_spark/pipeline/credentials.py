"""Credential bootstrap — parity with the reference's secret/config chain.

Reference flow (``PostgresToDataLake_Ingestion_Notebook.py:64-144``):
  1. scope-name lookup from configvalues (LIMIT 1, guard on missing)
  2. secret fetched from a vault by scope name
  3. credentials query: plain rows UNION a ``decrypt(secret, value)`` row
     for the password, guard on any empty value
  4. password base64-decoded driver-side

Rebuild: the vault becomes a pluggable callable (the reference's
``dbutils.secrets.get`` is Databricks-only); the UNION+decrypt runs as real
Spark SQL over the configvalues view so the registered ``decrypt`` UDF path
(SURVEY §2.8 F7) is exercised exactly as in the reference.
"""

from __future__ import annotations

import base64
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession

from bigdataingestion_spark.config.crypto import register_crypto_udfs
from bigdataingestion_spark.config.repository import ConfigRepository


@dataclass(frozen=True)
class SourceCredentials:
    server: str
    user: str
    password: str
    filepath: str


def get_scope_name(repo: ConfigRepository) -> str:
    """Reference ING:64-85: scope-name lookup with missing-config guard."""
    scope = repo.get_value("keyvault settings", "config scopename")
    if scope is None:
        raise RuntimeError("scope_name is not defined in configuration")
    return scope


def load_credentials(
    spark: SparkSession,
    repo: ConfigRepository,
    secret_provider: Callable[[str, str], str],
    settings_group: str = "urgentcare settings",
    name_prefix: str = "urgentcare",
) -> SourceCredentials:
    """Reference ING:117-144: UNION of plain + decrypted config rows via the
    SQL ``decrypt`` UDF, empty-value guard, base64 password decode."""
    scope_name = get_scope_name(repo)
    secret = secret_provider(scope_name, "config")

    register_crypto_udfs(spark)
    repo.to_spark(spark).createOrReplaceTempView("configvalues")
    secret_lit = secret.replace("'", "''")
    conf = spark.sql(
        f"""
        SELECT * FROM (
          SELECT config_name, config_value
          FROM configvalues
          WHERE group_name = '{settings_group}'
            AND config_name IN ('{name_prefix} server name',
                                '{name_prefix} userid',
                                '{name_prefix} filepath')
        )
        UNION
        SELECT config_name, decrypt('{secret_lit}', config_value) AS config_value
        FROM configvalues
        WHERE group_name = '{settings_group}'
          AND config_name = '{name_prefix} pass' AND is_active = TRUE
        """
    )
    rows = {r["config_name"]: r["config_value"] for r in conf.collect()}
    if any(v == "" for v in rows.values()):
        raise RuntimeError("credential values are not defined in configuration")
    for key in ("server name", "userid", "pass", "filepath"):
        if f"{name_prefix} {key}" not in rows:
            raise RuntimeError(f"missing credential config '{name_prefix} {key}'")
    password = base64.b64decode(
        rows[f"{name_prefix} pass"].encode("ascii")
    ).decode("utf-8")
    return SourceCredentials(
        server=rows[f"{name_prefix} server name"],
        user=rows[f"{name_prefix} userid"],
        password=password,
        filepath=rows[f"{name_prefix} filepath"],
    )
