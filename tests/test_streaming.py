"""Structured Streaming ingestion tests (availableNow micro-batch)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdataingestion_spark.functions.io import load_table
from bigdataingestion_spark.streaming import stream_file_ingest, stream_windowed_counts


@pytest.fixture()
def landing(spark, tmp_path, sf_smoke_dir):
    src = str(tmp_path / "landing")
    ev = load_table(spark, sf_smoke_dir, "events")
    ev.write.parquet(src)
    return src, ev


def test_stream_file_ingest_moves_all_rows(spark, tmp_path, landing):
    src, ev = landing
    target = str(tmp_path / "lake")
    q = stream_file_ingest(
        spark, src, target, str(tmp_path / "ckpt"), ts_col="ts"
    )
    q.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == ev.count()
    assert "_ingest_date" in out.columns
    # date partitioning materialized on disk
    assert any(p.startswith("_ingest_date=") for p in os.listdir(target))

    # second catch-up run: checkpoint prevents reprocessing (exactly-once)
    q2 = stream_file_ingest(spark, src, target, str(tmp_path / "ckpt"), ts_col="ts")
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == ev.count()


def test_stream_windowed_counts_matches_batch(spark, tmp_path, landing):
    src, ev = landing
    q = stream_windowed_counts(
        spark, src, str(tmp_path / "ckpt2"), queryName="wc_test"
    )
    q.awaitTermination(120)
    # update-mode sink: reduce re-emissions to the latest state per key
    streamed = (
        spark.sql("SELECT * FROM wc_test")
        .groupBy("window_start", "event_type")
        .agg(F.max("cnt").alias("cnt"))
    )
    batch = ev.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    assert streamed.count() == batch.count()
    assert streamed.agg(F.sum("cnt")).first()[0] == ev.count()


def test_stream_stream_join_matches_batch(spark, tmp_path, landing):
    """Watermarked click->purchase interval join equals the batch join,
    including when the file source splits input across micro-batches."""
    from bigdataingestion_spark.streaming.ingest import stream_stream_join

    src, ev = landing
    q = stream_stream_join(
        spark, src, str(tmp_path / "ckpt_ssj"), queryName="ssj_test"
    )
    q.awaitTermination(120)
    streamed = spark.table("ssj_test")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 minutes")),
    )
    assert streamed.count() == batch.count()
    s_pairs = {
        (r.click_id, r.purchase_id) for r in streamed.collect()
    }
    b_pairs = {(r.c_id, r.p_id) for r in batch.collect()}
    assert s_pairs == b_pairs


def test_stream_static_enrich_matches_batch(spark, tmp_path, landing, sf_smoke_dir):
    """Per-batch broadcast enrichment equals the batch join."""
    from bigdataingestion_spark.streaming.ingest import stream_static_enrich

    src, ev = landing
    dim = load_table(spark, sf_smoke_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    q = stream_static_enrich(
        spark,
        src,
        dim,
        on=F.col("user_id") == F.col("c_custkey"),
        select_cols=[F.col("event_id"), F.col("c_nationkey")],
        row_filter=F.col("event_type") == "purchase",
        queryName="enrich_test",
    )
    q.awaitTermination(120)
    batch_n = (
        ev.filter("event_type = 'purchase'")
        .join(dim, F.col("user_id") == F.col("c_custkey"))
        .count()
    )
    assert spark.table("enrich_test").count() == batch_n


def test_stream_cdc_upsert_converges_out_of_order(spark, tmp_path):
    """foreachBatch ordered merge: newest version per key wins even when
    micro-batches deliver versions out of time order, and redelivery is
    idempotent."""
    from bigdataingestion_spark.sinks.txlog import TxLogTable
    from bigdataingestion_spark.streaming.ingest import stream_cdc_upsert

    src = tmp_path / "cdc_src"
    # version 2 rows land in the FIRST file, version 1 in the second —
    # maxFilesPerTrigger=1 streams them as separate, out-of-order batches
    v2 = spark.range(50).select(
        F.col("id").alias("k"),
        F.lit(2).alias("version"),
        F.expr("timestamp_micros(cast(1700000200000000 + id as long))").alias("ts"),
    )
    v1 = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(1).alias("version"),
        F.expr("timestamp_micros(cast(1700000100000000 + id as long))").alias("ts"),
    )
    v2.coalesce(1).write.parquet(str(src))
    v1.coalesce(1).write.mode("append").parquet(str(src))
    target = str(tmp_path / "cdc_state")
    q = stream_cdc_upsert(
        spark,
        str(src),
        target,
        str(tmp_path / "cdc_ckpt"),
        keys=["k"],
        order_cols=["ts"],
    )
    q.awaitTermination(120)
    out = TxLogTable(target).read(spark)
    assert out.count() == 100
    # keys 0-49 must hold version 2 (newer ts) even if v1's batch ran later
    assert out.filter("k < 50").filter("version <> 2").count() == 0
    assert out.filter("k >= 50").filter("version <> 1").count() == 0

    # catch-up rerun: checkpoint skips processed files, state unchanged
    q2 = stream_cdc_upsert(
        spark, str(src), target, str(tmp_path / "cdc_ckpt"),
        keys=["k"], order_cols=["ts"],
    )
    q2.awaitTermination(120)
    assert TxLogTable(target).read(spark).count() == 100


def test_rocksdb_state_store_windowed_counts(spark, tmp_path, landing):
    """Stateful windowed agg with the RocksDB state store provider (the
    bounded-memory state backend for 100 TB streams) matches the event
    count — provider conf is dynamic, set per-query before start()."""
    src, ev = landing
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = stream_windowed_counts(
            spark, src, str(tmp_path / "ckpt_rocks"), queryName="wc_rocks"
        )
        q.awaitTermination(120)
        streamed = (
            spark.table("wc_rocks")
            .groupBy("window_start", "event_type")
            .agg(F.max("cnt").alias("cnt"))
        )
        assert streamed.agg(F.sum("cnt")).first()[0] == ev.count()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_listener_audits_progress(spark, tmp_path, landing):
    """AuditStreamingListener lands start/progress/termination records in
    the same JSONL audit trail the batch pipeline writes."""
    import json
    import time

    from bigdataingestion_spark.sinks.audit import AuditLog
    from bigdataingestion_spark.streaming import AuditStreamingListener

    src, ev = landing
    audit_path = str(tmp_path / "audit" / "stream_audit.jsonl")
    listener = AuditStreamingListener(AuditLog(path=audit_path))
    spark.streams.addListener(listener)
    try:
        q = stream_windowed_counts(
            spark, src, str(tmp_path / "ckpt_lst"), queryName="wc_audited"
        )
        q.awaitTermination(120)
        # listener-bus delivery is async; poll briefly for the records
        records = []
        for _ in range(40):
            if os.path.exists(audit_path):
                with open(audit_path, encoding="utf-8") as f:
                    records = [json.loads(line) for line in f]
                if any("progress" in r["message"] for r in records) and any(
                    "started" in r["message"] for r in records
                ):
                    break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert any("started" in r["message"] for r in records)
    progress = [r for r in records if "progress" in r["message"]]
    assert progress
    assert sum(r["record_count"] for r in progress) == ev.count()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids across micro-batch files collapse to one row."""
    import pyspark.sql.functions as F

    from bigdataingestion_spark.streaming.ingest import stream_dedup_to_lake

    src = tmp_path / "dup_src"
    base = spark.range(100).select(
        F.col("id").alias("event_id"),
        F.expr("timestamp_micros(cast(1700000000000000 + id * 1000000 as long))").alias("ts"),
        (F.col("id") % 3).alias("kind"),
    )
    base.write.parquet(str(src))  # original batch
    base.filter(F.col("event_id") < 40).write.mode("append").parquet(
        str(src)
    )  # redelivered duplicates, same ids/timestamps
    q = stream_dedup_to_lake(
        spark,
        str(src),
        str(tmp_path / "dup_lake"),
        str(tmp_path / "dup_ckpt"),
        id_cols=["event_id"],
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "dup_lake"))
    assert out.count() == 100
    assert out.select("event_id").distinct().count() == 100


def test_stream_quality_gate_splits_clean_and_quarantine(spark, tmp_path):
    from bigdataingestion_spark.pipeline.quality import Expectation
    from bigdataingestion_spark.streaming.quality_gate import stream_quality_gate

    landing = tmp_path / "landing"
    rows = [
        (1, "ok", 10.0),
        (2, "ok", -3.0),       # violates value_positive
        (3, None, 5.0),        # violates name_not_null
        (4, "ok", None),       # NULL predicate result -> NOT a violation
        (5, "bad", -1.0),      # violates value_positive only
    ]
    spark.createDataFrame(rows, ["id", "name", "value"]).coalesce(1).write.parquet(
        str(landing)
    )
    rules = [
        Expectation("value_positive", F.col("value") > 0),
        Expectation("name_not_null", F.col("name").isNotNull()),
    ]
    q = stream_quality_gate(
        spark,
        str(landing),
        str(tmp_path / "lake"),
        str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"),
        rules,
    )
    q.awaitTermination(120)
    clean = spark.read.parquet(str(tmp_path / "lake"))
    assert sorted(r["id"] for r in clean.collect()) == [1, 4]
    dlq = {r["id"]: r["_violations"] for r in spark.read.parquet(
        str(tmp_path / "dlq")).collect()}
    assert set(dlq) == {2, 3, 5}
    assert dlq[2] == "value_positive"
    assert dlq[3] == "name_not_null"
    assert dlq[5] == "value_positive"


def test_gate_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once; replaying the same batch_id must not
    duplicate rows in either sink (per-batch overwrite directories)."""
    from bigdataingestion_spark.pipeline.quality import Expectation
    from bigdataingestion_spark.streaming.quality_gate import gate_batch

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 2.0)], ["id", "value"]
    )
    rules = [Expectation("value_positive", F.col("value") > 0)]
    lake, dlq = str(tmp_path / "lake"), str(tmp_path / "dlq")
    gate_batch(df, 0, lake, dlq, rules)
    gate_batch(df, 0, lake, dlq, rules)  # replay after a simulated crash
    assert spark.read.parquet(lake).count() == 2
    assert spark.read.parquet(dlq).count() == 1
    # a NEW batch id still appends alongside
    df2 = spark.createDataFrame([(4, 7.0)], ["id", "value"])
    gate_batch(df2, 1, lake, dlq, rules)
    assert spark.read.parquet(lake).count() == 3


def test_stream_starts_on_empty_landing_zone_with_schema(spark, tmp_path):
    """A 24/7 gate usually starts BEFORE the first file drop: with an
    explicit schema the stream starts against an empty dir, and a probe
    without one fails with an actionable error."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructType

    from bigdataingestion_spark.streaming.ingest import (
        _open_file_stream,
        stream_txlog_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = StructType().add("id", LongType()).add("v", StringType())

    with pytest.raises(ValueError, match="explicit schema"):
        _open_file_stream(spark, str(landing), "parquet")

    q = stream_txlog_ingest(
        spark, str(landing), str(tmp_path / "t"), str(tmp_path / "ckpt"),
        schema=schema,
    )
    q.awaitTermination(60)  # zero batches: no commits, no error

    # first drop arrives; a catch-up run on the same checkpoint lands it
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(landing))
    q2 = stream_txlog_ingest(
        spark, str(landing), str(tmp_path / "t"), str(tmp_path / "ckpt"),
        schema=schema,
    )
    q2.awaitTermination(120)
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    assert TxLogTable(str(tmp_path / "t")).read(spark).count() == 2


def test_stream_cdc_upsert_crash_between_merge_and_checkpoint(
    spark, tmp_path, monkeypatch
):
    """Failure injection at the at-least-once hazard: the worker dies AFTER
    a batch's merge committed but BEFORE the checkpoint recorded the
    batch. The restart re-delivers that batch under the same txn id; the
    replay must be absorbed, never duplicate or regress keys."""
    from bigdataingestion_spark.sinks.txlog import TxLogTable
    from bigdataingestion_spark.streaming.ingest import stream_cdc_upsert

    src = tmp_path / "cdc_src"
    v1 = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(1).alias("version"),
        F.expr("timestamp_micros(cast(1700000100000000 + id as long))").alias("ts"),
    )
    v2 = spark.range(50).select(
        F.col("id").alias("k"),
        F.lit(2).alias("version"),
        F.expr("timestamp_micros(cast(1700000200000000 + id as long))").alias("ts"),
    )
    v1.coalesce(1).write.parquet(str(src))
    v2.coalesce(1).write.mode("append").parquet(str(src))
    target = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "cdc_ckpt")

    real_merge = TxLogTable.merge_upsert
    crashed = []

    def crash_after_merge(*args, **kwargs):
        out = real_merge(*args, **kwargs)
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash: merge landed, checkpoint not")
        return out

    monkeypatch.setattr(TxLogTable, "merge_upsert", crash_after_merge)
    q = stream_cdc_upsert(
        spark, str(src), target, ckpt, keys=["k"], order_cols=["ts"]
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
        raise q.exception() or AssertionError("query did not fail")
    monkeypatch.undo()

    # hazard is real: the first batch's merge IS on disk
    assert crashed and TxLogTable(target).read(spark).count() > 0

    # restart with the same checkpoint: the crashed batch's replay is a
    # txn-id no-op, remaining batches apply once — state converges exactly
    q2 = stream_cdc_upsert(
        spark, str(src), target, ckpt, keys=["k"], order_cols=["ts"]
    )
    q2.awaitTermination(300)
    out = TxLogTable(target).read(spark)
    assert out.count() == 100  # one row per key, no replay duplicates
    assert out.filter("k < 50").filter("version <> 2").count() == 0
    assert out.filter("k >= 50").filter("version <> 1").count() == 0
