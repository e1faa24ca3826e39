"""End-to-end ingestion pipeline tests on the driver's `events` fixture.

Scenario map (FIXTURES.md §C): incremental watermark load, chunk-tree descent,
no-watermark bulk path, format policy — all against a parquet FileSource
standing in for Postgres (the source protocol makes JDBC vs files a config
choice; orchestration logic is identical).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdataingestion_spark.config.repository import ConfigRepository
from bigdataingestion_spark.config.state import TableLoadDetails
from bigdataingestion_spark.pipeline.orchestrator import Orchestrator
from bigdataingestion_spark.sinks.audit import AuditLog, LogAlertSink
from bigdataingestion_spark.sinks.writer import DatalakeWriter, SinkPolicy
from bigdataingestion_spark.sources.files import FileSource

RUN_DATE = "2026-08-13"


@pytest.fixture()
def pipeline(spark, tmp_path, sf_smoke_dir):
    """A FileSource 'database' with an events table carrying heuristic
    watermark columns (createddate dense, modifieddate sparse with NULLs in
    createddate to exercise COALESCE)."""
    src_dir = tmp_path / "source" / "analytics"
    os.makedirs(src_dir)
    from bigdataingestion_spark.functions.io import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    ev = (
        ev.withColumn(
            "createddate",
            F.when(F.col("event_id") % 10 != 0, F.col("ts")).cast("timestamp"),
        )
        .withColumn(
            "modifieddate",
            F.when(F.col("event_id") % 10 == 0, F.col("ts")).cast("timestamp"),
        )
    )
    ev.write.parquet(str(src_dir / "events.parquet"))

    # a no-watermark table (part: no timestamp/date heuristic columns)
    part = spark.read.parquet(os.path.join(sf_smoke_dir, "part.parquet"))
    part.write.parquet(str(src_dir / "part.parquet"))

    config = ConfigRepository(str(tmp_path / "meta" / "configvalues.parquet"))
    config.insert("dcx_postgresql_db_settings", "analytics_db_name", "analytics")
    config.insert("dcx_postgresql_table_settings", "analytics_tables", "events,part")

    state = TableLoadDetails(str(tmp_path / "meta" / "state.parquet"))
    audit = AuditLog(path=str(tmp_path / "audit" / "logs.jsonl"))
    orch = Orchestrator(
        spark=spark,
        source=FileSource(spark, str(tmp_path / "source")),
        writer=DatalakeWriter(str(tmp_path / "lake"), SinkPolicy()),
        config=config,
        state=state,
        audit=audit,
        alerts=LogAlertSink(audit=audit),
        single_batch_limit=300,  # events sf0.001 has 1000 rows -> forces chunking
    )
    return orch, ev, tmp_path


def test_chunked_first_load_writes_all_rows(spark, pipeline):
    orch, ev, tmp_path = pipeline
    results = {r.table: r for r in orch.run(run_date=RUN_DATE)}

    assert results["events"].strategy == "chunked"
    assert results["events"].rows == 1000
    assert results["events"].chunks > 0

    # written content == source content (chunk union is an exact partition)
    written = spark.read.parquet(str(tmp_path / "lake" / "events" / "2026" / "08" / "13"))
    assert written.count() == 1000
    assert set(written.columns) == set(ev.columns)
    src_sum = ev.agg(F.sum("event_id")).first()[0]
    assert written.agg(F.sum("event_id")).first()[0] == src_sum

    # part: 200 rows < limit... sf0.001 part is small; whichever gate it hit,
    # content must match
    part_written = spark.read.parquet(str(tmp_path / "lake" / "part" / "2026" / "08" / "13"))
    assert part_written.count() == results["part"].rows


def test_watermark_state_written_with_80h_lag(spark, pipeline):
    orch, ev, _ = pipeline
    orch.run(run_date=RUN_DATE)
    last = orch.state.get_last_load_date(
        "databricks_prod_new_workspace", "sharestory", "events"
    )
    assert last is not None
    expected = ev.agg(
        (
            F.max(F.coalesce("createddate", "modifieddate"))
            - F.expr("INTERVAL 80 HOURS")
        ).alias("d")
    ).first()["d"]
    assert str(expected) == str(last)


def test_second_run_loads_only_overlap_window(spark, pipeline):
    orch, ev, tmp_path = pipeline
    orch.run(run_date=RUN_DATE)
    last = orch.state.get_last_load_date(
        "databricks_prod_new_workspace", "sharestory", "events"
    )
    results2 = {r.table: r for r in orch.run(run_date="2026-08-14")}
    expected = ev.filter(
        F.coalesce("createddate", "modifieddate")
        >= F.lit(last).cast("timestamp")
    ).count()
    assert results2["events"].rows == expected
    assert 0 < expected < 1000  # the 80h overlap, not a full reload


def test_no_watermark_big_table_bulk_path_and_alert(spark, pipeline):
    orch, _, tmp_path = pipeline
    orch.single_batch_limit = 50  # part (200 rows) now exceeds the limit
    results = {r.table: r for r in orch.run(run_date=RUN_DATE)}
    assert results["part"].strategy == "bulk-no-watermark"
    assert any(s[0] == "missing-watermark" for s in orch.alerts.sent)
    # no state row for a table without watermark columns
    assert (
        orch.state.get_last_load_date("databricks_prod_new_workspace", "sharestory", "part")
        is None
    )


def test_partitioned_write_strategy_same_content(spark, pipeline):
    orch, ev, tmp_path = pipeline
    orch.write_strategy = "partitioned"
    results = {r.table: r for r in orch.run(run_date=RUN_DATE)}
    assert results["events"].strategy == "chunked"
    written = spark.read.parquet(str(tmp_path / "lake" / "events" / "2026" / "08" / "13"))
    assert written.count() == 1000
    assert written.agg(F.sum("event_id")).first()[0] == ev.agg(F.sum("event_id")).first()[0]


def test_small_table_overwrite_is_idempotent(spark, pipeline):
    orch, _, tmp_path = pipeline
    orch.single_batch_limit = 10_000  # everything takes the small path now
    orch.run(run_date=RUN_DATE)
    orch.run(run_date=RUN_DATE)  # overwrite -> no duplication
    written = spark.read.parquet(str(tmp_path / "lake" / "events" / "2026" / "08" / "13"))
    assert written.count() == 1000


def test_sink_format_seam_passes_orc_through(spark, tmp_path):
    """The format policy is an open seam, not a parquet/delta enum: a
    policy electing ORC (Spark-native columnar alternative) round-trips
    through write and read_back with no writer changes."""
    from dataclasses import dataclass

    from bigdataingestion_spark.sinks.writer import DatalakeWriter, SinkPolicy

    @dataclass
    class OrcPolicy(SinkPolicy):
        def format_for(self, task: str) -> str:
            return "orc"

    writer = DatalakeWriter(str(tmp_path / "lake"), OrcPolicy())
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    fmt = writer.write(df, "dcx", str(tmp_path / "lake" / "t"), "overwrite", 2)
    assert fmt == "orc"
    back = writer.read_back(spark, "dcx", str(tmp_path / "lake" / "t"))
    assert sorted((r.id, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]
    import os

    files = os.listdir(str(tmp_path / "lake" / "t"))
    assert any(f.endswith(".orc") for f in files), files


def _small_orchestrator(spark, root, tasks: dict[str, tuple[str, str]]):
    """An orchestrator over ``{root}/source``: ``tasks`` maps each task to
    its (database, comma list of tables)."""
    config = ConfigRepository(str(root / "meta" / "configvalues.parquet"))
    for task, (db, tables) in tasks.items():
        config.insert("dcx_postgresql_db_settings", f"{task}_db_name", db)
        config.insert("dcx_postgresql_table_settings", f"{task}_tables", tables)
    audit = AuditLog(path=str(root / "audit" / "logs.jsonl"))
    return Orchestrator(
        spark=spark,
        source=FileSource(spark, str(root / "source")),
        writer=DatalakeWriter(str(root / "lake"), SinkPolicy()),
        config=config,
        state=TableLoadDetails(str(root / "meta" / "state.parquet")),
        audit=audit,
        alerts=LogAlertSink(audit=audit),
    )


def _write_source(path, ids, created):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True)
    pq.write_table(
        pa.table({"id": ids, "createddate": pa.array(created, pa.timestamp("us"))}),
        str(path / "part-0.parquet"),
    )


def test_run_isolates_failures_and_keeps_config_order_in_audit(spark, tmp_path):
    """Four tables, two without a source: two failed results and two
    failure alerts, results in config order, and the audit file holds each
    table's records together, in config order, exactly as a one-by-one run
    writes them."""
    import json
    from datetime import datetime

    from bigdataingestion_spark.sinks.audit import failure_alert_body

    src = tmp_path / "source" / "analytics"
    _write_source(src / "t1.parquet", [1, 2], [datetime(2024, 1, 1)] * 2)
    _write_source(src / "t3.parquet", [1, 2, 3], [datetime(2024, 1, 1)] * 3)
    orch = _small_orchestrator(
        spark, tmp_path, {"analytics": ("analytics", "t1,gone2,t3,gone4")}
    )
    results = orch.run(run_date=RUN_DATE)

    assert [r.table for r in results] == ["t1", "gone2", "t3", "gone4"]
    assert [r.strategy for r in results] == [
        "small-overwrite", "failed", "small-overwrite", "failed",
    ]
    assert [r.rows for r in results] == [2, 0, 3, 0]
    err2, err4 = results[1].error, results[3].error
    assert "gone2" in err2 and "gone4" in err4
    assert orch.alerts.sent == [
        ("table-failure", failure_alert_body("gone2", err2)),
        ("table-failure", failure_alert_body("gone4", err4)),
    ]

    def loaded(t, n):
        return [
            (f"Processing started for table {t}", 0),
            (f"Data Load Count From Source - {n}", n),
            (f"Processing completed for table {t}", 0),
        ]

    def failed(t, err):
        return [
            (f"Processing started for table {t}", 0),
            (f"Task Failed while executing for Table: {t}, with ERROR: {err}", 0),
            (f"ALERT [table-failure]: {failure_alert_body(t, err)}", 0),
        ]

    with open(tmp_path / "audit" / "logs.jsonl", encoding="utf-8") as f:
        records = [json.loads(line) for line in f]
    assert {r["notebook"] for r in records} == {"bigdataingestion-spark"}
    assert [(r["message"], r["record_count"]) for r in records] == (
        loaded("t1", 2) + failed("gone2", err2) + loaded("t3", 3) + failed("gone4", err4)
    )


def test_entries_sharing_a_lake_dir_and_state_row_load_in_config_order(
    spark, tmp_path
):
    """``a__s.t`` and ``b__u.t`` share the lake directory ``t`` and the state
    row ``t``: the second entry reads its increment from the state the first
    one left and its overwrite is the one that stays, as in a one-by-one
    run."""
    from datetime import datetime

    day = [datetime(2024, 1, d) for d in range(1, 13)]
    root = tmp_path
    _write_source(root / "source" / "dba" / "t.parquet", [1, 2, 3, 4],
                  [day[0], day[1], day[2], day[9]])
    _write_source(root / "source" / "dbb" / "t.parquet", [101, 102, 103, 104, 105],
                  [day[4], day[6], day[7], day[8], day[11]])
    orch = _small_orchestrator(
        spark, root, {"a": ("dba", "a__s.t"), "b": ("dbb", "b__u.t")}
    )
    system = "databricks_prod_new_workspace"
    orch.state.merge(system, "sharestory", "t", day[1], insert_allowed=True)

    results = orch.run(run_date=RUN_DATE)

    # a: rows at or after Jan 2 (2, 3, 4); state -> Jan 10 - 80 h.
    # b: rows at or after Jan 6 16:00 (102..105); state -> Jan 12 - 80 h.
    assert [(r.strategy, r.rows) for r in results] == [
        ("small-overwrite", 3), ("small-overwrite", 4),
    ]
    assert [r.new_watermark for r in results] == [
        "2024-01-06 16:00:00", "2024-01-08 16:00:00",
    ]
    lake = spark.read.parquet(str(root / "lake" / "t" / "2026" / "08" / "13"))
    assert sorted(r.id for r in lake.collect()) == [102, 103, 104, 105]
    assert orch.state.get_last_load_date(system, "sharestory", "t") == (
        "2024-01-08 16:00:00"
    )
