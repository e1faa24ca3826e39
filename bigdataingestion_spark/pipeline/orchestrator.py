"""Ingestion orchestrator — the reference's main loop, Spark-first.

Reproduces the observable semantics of the reference main command
(``PostgresToDataLake_Ingestion_Notebook.py:442-485``) and
``readingSourceDataAndWritingToFilepath`` (ING:420-437):

  per (db-config x table-config) pair matched on task prefix, per table in
  the comma-separated list:
    1. resolve names/paths (ING:452, getFilePath)
    2. look up last watermark state (ING:453-459)
    3. read source; resolve watermark columns (config override else dtype
       heuristic); re-read with source-side watermark filter if state exists
       (ING:462-466)
    4. count -> volume gate (ING:469, :422):
         count < limit            -> single overwrite write; update state
                                     (no insert — the reference only inserts
                                     state rows on the chunked path, ING:426)
         count >= limit, wm cols  -> chunked append writes; update state
                                     (insert allowed, ING:431)
         count >= limit, no wm    -> bulk overwrite + missing-watermark alert
                                     (ING:432-437)
    5. new state = MAX(COALESCE(wm)) of WRITTEN data minus 80 hours
       (late-data lookback, ING:345-361); fall back to previous state if null
    6. per-table error isolation: log + alert + continue (ING:472-477)

Efficiency redesign vs the reference (SURVEY.md §4):
  - the staged increment is read ONCE and cached; the reference builds an
    unfiltered DataFrame it discards, then triggers a full source read for
    ``.count()`` and more full scans per chunk-planning query
  - chunk profile computed in one aggregation pass (see plans.chunker)
  - ``write_strategy='partitioned'`` writes all chunks in ONE job via
    ``partitionBy`` on derived date columns — at 100 TB this is the only
    sane strategy (the per-chunk loop is kept as ``'chunked'`` for strict
    write-set parity testing; the written *content* is identical)
  - watermark max is computed from the cached staged data in the same
    aggregate as the row count, not from a re-read of the written files
    (the written rows are the staged rows)
  - a run's tables load concurrently on a thread pool of
    ``min(#groups, defaultParallelism)`` workers; each load is a handful
    of tiny Spark jobs, so the serial loop mostly waited on scheduler and
    driver round trips. Entries that share a lake directory or a state
    row form one group, run in config order on one worker, so a later
    entry still sees the earlier one's state and writes. Results come
    back in config order; each table's audit records and alerts are
    buffered and replayed in config order after the pool drains, so the
    audit file holds the same records in the same order as a serial run
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from bigdataingestion_spark.config.repository import ConfigRepository
from bigdataingestion_spark.config.state import TableLoadDetails
from bigdataingestion_spark.plans.chunker import chunk_predicate, plan_chunks, profile_chunks
from bigdataingestion_spark.plans.watermark import resolve_watermark_columns, watermark_expr
from bigdataingestion_spark.sinks.audit import (
    AlertSink,
    AuditLog,
    LogAlertSink,
    failure_alert_body,
    missing_watermark_alert_body,
)
from bigdataingestion_spark.sinks.writer import DatalakeWriter
from bigdataingestion_spark.sources.base import Source
from bigdataingestion_spark.sources.querygen import TableAddress, resolve_table

WATERMARK_LAG_HOURS = 80  # reference ING:350
DB_SETTINGS_GROUP = "dcx_postgresql_db_settings"
TABLE_SETTINGS_GROUP = "dcx_postgresql_table_settings"
WATERMARK_SETTINGS_GROUP = "dcx_postgresql_watermark_settings"


@dataclass
class IngestionResult:
    table: str
    path: str | None
    rows: int
    strategy: str  # 'small-overwrite' | 'chunked' | 'bulk-no-watermark' | 'empty' | 'failed'
    chunks: int = 0
    new_watermark: str | None = None
    error: str | None = None


@dataclass
class _TableLog:
    """One table load's audit records and alerts, in the order the load
    made them, kept until ``Orchestrator.run`` replays them in config
    order. Stands in for the orchestrator's alert sink during the load."""

    audit: AuditLog
    # (number of audit records made before the alert, subject, body)
    alerts: list[tuple[int, str, str]] = field(default_factory=list)

    def alert(self, subject: str, body: str) -> None:
        self.alerts.append((len(self.audit.records), subject, body))

    def replay(self, audit: AuditLog, sink: AlertSink) -> None:
        done = 0
        for pos, subject, body in self.alerts:
            audit.records.extend(self.audit.records[done:pos])
            done = pos
            sink.alert(subject, body)
        audit.records.extend(self.audit.records[done:])


@dataclass
class Orchestrator:
    spark: SparkSession
    source: Source
    writer: DatalakeWriter
    config: ConfigRepository
    state: TableLoadDetails
    audit: AuditLog = field(default_factory=AuditLog)
    alerts: AlertSink = None  # type: ignore[assignment]
    single_batch_limit: int = 1_000_000  # reference default (ING:54)
    write_strategy: str = "chunked"  # 'chunked' (parity) | 'partitioned' (scale)
    state_database: str = "sharestory"  # the reference hardcodes this (ING:381)
    # optional per-table data-quality gates (lowercased table name ->
    # expectations), evaluated on the staged increment before any write;
    # a failed hard expectation aborts THIS table only (error isolation)
    quality_checks: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.alerts is None:
            self.alerts = LogAlertSink(audit=self.audit)

    # -- helpers --------------------------------------------------------------

    @staticmethod
    def system_type_for(task: str, tbl: str) -> str:
        """Reference special case (ING:454-458): scribe AuditLog tracks state
        under a different system type."""
        if task == "scribe" and tbl == "AuditLog":
            return "databricks"
        return "databricks_prod_new_workspace"

    def _watermark_override(self, task: str, addr: TableAddress) -> str | None:
        """Config key ``{task}_{table}_watermarks`` (ING:151-154)."""
        return self.config.get_value(
            WATERMARK_SETTINGS_GROUP, f"{task.lower()}_{addr.table.lower()}_watermarks"
        )

    def _update_state(
        self,
        system_type: str,
        addr: TableAddress,
        load_date,
        previous: str | None,
        insert_allowed: bool,
    ) -> str | None:
        """MERGE the new watermark state (ING:345-361). ``load_date`` is
        MAX(COALESCE(wm)) − 80h of the staged increment, which the caller
        computes in its fused volume-gate aggregate."""
        if load_date is None:
            load_date = previous  # reference fallback (ING:357-360)
        if load_date is None and not insert_allowed:
            return None
        self.state.merge(
            system_type,
            self.state_database,
            addr.state_key,
            load_date,
            insert_allowed=insert_allowed,
        )
        return str(load_date) if load_date is not None else None

    def _write_chunked(
        self,
        staged: DataFrame,
        watermark_cols: list[str],
        task: str,
        path: str,
        n_partitions: int | None = None,
    ) -> int:
        """Big-volume chunked load. Returns number of chunks/partitions
        written. ``n_partitions``: distinct (year, month) count already
        computed by the caller's fused volume-gate aggregate — passing it
        skips the post-write counting job on the partitioned path."""
        wm = watermark_expr(watermark_cols)
        if self.write_strategy == "partitioned":
            # ONE write job: derive the date-part columns once and let the
            # committer lay out directories; identical row content. Dynamic
            # partition overwrite (session factory) replaces only the
            # partitions present in this batch -> chunk re-runs are
            # idempotent, an upgrade over the reference's at-least-once
            # appends (documented deviation, SURVEY §2.9). The full chunk
            # profile is NOT computed here (the write does its own
            # partitioning); the reported count is a cheap distinct over the
            # month partitions, fused into the volume-gate aggregate when
            # the caller provides it.
            out = staged.withColumn("_ingest_year", F.year(wm)).withColumn(
                "_ingest_month", F.month(wm)
            )
            self.writer.write_partitioned(
                out, task, path, ["_ingest_year", "_ingest_month"]
            )
            if n_partitions is not None:
                return n_partitions
            n = out.select("_ingest_year", "_ingest_month").distinct().count()
            return n
        profile = profile_chunks(staged, watermark_cols)
        chunks = plan_chunks(profile, self.single_batch_limit)
        for chunk in chunks:
            part = staged.filter(chunk_predicate(chunk, watermark_cols))
            self.writer.write(part, task, path, mode="append")
        return len(chunks)

    # -- per-table load --------------------------------------------------------

    def load_table(
        self, db_name: str, task: str, tbl: str, run_date: str | None = None
    ) -> IngestionResult:
        addr = resolve_table(tbl, task)
        run_date = run_date or datetime.now(timezone.utc).strftime("%Y-%m-%d")
        system_type = self.system_type_for(task, tbl)
        last = self.state.get_last_load_date(
            system_type, self.state_database, addr.state_key
        )
        self.audit.add(f"Processing started for table {addr.table}")

        # schema probe only (no partition-bounds side effects), then ONE
        # real read: the watermark-filtered increment if state exists
        override = self._watermark_override(task, addr)
        watermark_cols = resolve_watermark_columns(
            self.source.probe_table(db_name, addr), override
        )
        if last is not None and str(last) != "None":
            staged = self.source.read_increment(db_name, addr, watermark_cols, last)
        else:
            staged = self.source.read_table(db_name, addr)

        staged = staged.cache()
        try:
            # fused volume-gate aggregate (one job, one pass that also
            # materializes the cache): row count + the lagged watermark max
            # the state MERGE needs + the distinct (year, month) partition
            # count the partitioned write reports. The r13 shape ran these
            # as three separate jobs (count, post-write distinct-count, max
            # aggregate) over the same cached increment.
            aggs = [F.count(F.lit(1)).alias("_n")]
            if watermark_cols:
                wm = watermark_expr(watermark_cols)
                aggs.append(
                    (
                        F.max(wm)
                        - F.expr(f"INTERVAL {WATERMARK_LAG_HOURS} HOURS")
                    ).alias("_load_date")
                )
                aggs.append(
                    F.countDistinct(
                        F.struct(F.year(wm).alias("y"), F.month(wm).alias("m"))
                    ).alias("_n_parts")
                )
            stats = staged.agg(*aggs).first()
            count = stats["_n"]
            self.audit.add(f"Data Load Count From Source - {count}", count)
            if count == 0:
                self.audit.add(f"No Records to load for {addr.table}")
                return IngestionResult(addr.table, None, 0, "empty")

            expectations = self.quality_checks.get(addr.state_key)
            if expectations:
                from bigdataingestion_spark.pipeline.quality import check

                report = check(staged, expectations)  # raises QualityError on hard fail
                for r in report.results:
                    self.audit.add(
                        f"Quality[{addr.table}] {r['name']}: "
                        f"{r['violations']} violations ({r['ratio']})",
                        r["violations"],
                    )

            path = self.writer.run_path(addr.lake_dir, run_date)
            if count < self.single_batch_limit:
                self.writer.write(staged, task, path, "overwrite", approx_rows=count)
                new_wm = None
                if watermark_cols:
                    new_wm = self._update_state(
                        system_type, addr, stats["_load_date"],
                        previous=last, insert_allowed=False,
                    )
                return IngestionResult(
                    addr.table, path, count, "small-overwrite", new_watermark=new_wm
                )
            if watermark_cols:
                n = self._write_chunked(
                    staged, watermark_cols, task, path,
                    n_partitions=(
                        int(stats["_n_parts"])
                        if self.write_strategy == "partitioned"
                        else None
                    ),
                )
                new_wm = self._update_state(
                    system_type, addr, stats["_load_date"],
                    previous=last, insert_allowed=True,
                )
                return IngestionResult(
                    addr.table, path, count, "chunked", chunks=n, new_watermark=new_wm
                )
            # big volume, no watermark -> bulk overwrite + alert (ING:432-437)
            self.writer.write(staged, task, path, "overwrite")
            self.alerts.alert(
                "missing-watermark", missing_watermark_alert_body(addr.table)
            )
            return IngestionResult(addr.table, path, count, "bulk-no-watermark")
        finally:
            staged.unpersist()
            self.audit.add(f"Processing completed for table {addr.table}")

    # -- whole-run loop ---------------------------------------------------------

    def _load_group(
        self, entries: list[tuple[str, str, str]], run_date: str | None
    ) -> list[tuple[IngestionResult, _TableLog]]:
        """``load_table`` for each entry in order, with per-table error
        isolation (ING:472-477). Each load's audit records and alerts go to
        a private log, not to the run's."""
        out = []
        for db_name, task, tbl in entries:
            log = _TableLog(AuditLog(notebook=self.audit.notebook))
            try:
                orch = replace(self, audit=log.audit, alerts=log)
                result = orch.load_table(db_name, task, tbl, run_date)
            except Exception as e:  # noqa: BLE001 — per-table isolation (ING:472-477)
                msg = str(e)
                log.audit.add(
                    f"Task Failed while executing for Table: {tbl}, "
                    f"with ERROR: {msg[:500]}"
                )
                log.alert("table-failure", failure_alert_body(tbl, msg))
                result = IngestionResult(tbl, None, 0, "failed", error=msg[:500])
            out.append((result, log))
        return out

    def _groups(self, entries: list[tuple[str, str, str]]) -> list[list[int]]:
        """Entry indices grouped so that entries sharing a lake directory or
        a state row are in one group; groups and their members in config
        order."""
        groups: list[tuple[set, list[int]]] = []  # (targets, members)
        for i, (_, task, tbl) in enumerate(entries):
            addr = resolve_table(tbl, task)
            targets = {
                ("lake", addr.lake_dir),
                ("state", self.system_type_for(task, tbl), addr.state_key),
            }
            members = [i]
            # an entry can join several earlier groups: merge them all
            for g in [g for g in groups if g[0] & targets]:
                groups.remove(g)
                targets |= g[0]
                members = g[1] + members
            groups.append((targets, sorted(members)))
        return sorted((m for _, m in groups), key=lambda m: m[0])

    def run(self, run_date: str | None = None) -> list[IngestionResult]:
        """The reference main loop (ING:442-485): db-configs x table-configs
        matched on task prefix, per-table error isolation, one audit flush.
        Tables load concurrently (module docstring); results, audit records
        and alerts keep config order."""
        dbs = self.config.get_group(DB_SETTINGS_GROUP)
        if not dbs:
            raise RuntimeError("No databases detail available in the config table")
        tbls = self.config.get_group(TABLE_SETTINGS_GROUP)
        if not tbls:
            raise RuntimeError("No tables detail available in the config table")

        entries = [
            (dbs_name, tbl_config.split("_")[0], tbl)
            for dbs_config, dbs_name in dbs.items()
            for tbl_config, tbl_csv in tbls.items()
            if dbs_config.split("_")[0] == tbl_config.split("_")[0]
            for tbl in tbl_csv.split(",")
        ]
        groups = self._groups(entries)
        done: list[tuple[IngestionResult, _TableLog] | None] = [None] * len(entries)
        try:
            if groups:
                workers = min(len(groups), self.spark.sparkContext.defaultParallelism)
                with ThreadPoolExecutor(max_workers=workers) as pool:
                    futures = [
                        pool.submit(
                            self._inheriting(self._load_group),
                            [entries[i] for i in g],
                            run_date,
                        )
                        for g in groups
                    ]
                    for g, fut in zip(groups, futures):
                        for i, out in zip(g, fut.result()):
                            done[i] = out
        finally:
            for out in done:
                if out is not None:
                    out[1].replay(self.audit, self.alerts)
            self.audit.flush()
        return [out[0] for out in done]

    def _inheriting(self, fn):
        """``fn`` set up to run with the calling thread's job group, job tags
        and scheduler pool. The copy is taken now, so wrap once per task:
        each worker then sets properties on a copy of its own."""
        wrap = inheritable_thread_target(self.spark)
        # without pinned threads there is nothing to copy, and PySpark
        # hands back the session instead of a decorator
        return fn if wrap is self.spark else wrap(fn)
