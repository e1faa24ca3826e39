"""txlog-backed streaming sinks (round-6): CDC upsert as atomic
merge commits and the dead-letter quality gate with txn-id exactly-once
on both sides — `stream_cdc_upsert` and the transactional upgrade of
`stream_quality_gate`."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from bigdataingestion_spark.sinks.txlog import TxLogTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_cdc_upsert_txlog_converges_and_replay_noops(spark, tmp_path):
    from bigdataingestion_spark.streaming.ingest import stream_cdc_upsert

    src = tmp_path / "src"
    # version 2 lands FIRST, version 1 second; maxFilesPerTrigger=1 makes
    # them separate out-of-order micro-batches
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

    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    q = stream_cdc_upsert(
        spark, str(src), target, ckpt, keys=["k"], order_cols=["ts"]
    )
    assert q.awaitTermination(180)
    t = TxLogTable(target)
    out = t.read(spark)
    assert out.count() == 100
    assert out.filter("k < 50").filter("version <> 2").count() == 0
    assert out.filter("k >= 50").filter("version <> 1").count() == 0
    assert all(h["op"] == "merge" for h in t.history())
    merged_version = t.version()

    # checkpoint loss replays every batch: the txn log no-ops each one —
    # NO new commits, not merely a convergent re-merge
    shutil.rmtree(ckpt)
    q2 = stream_cdc_upsert(
        spark, str(src), target, ckpt, keys=["k"], order_cols=["ts"]
    )
    assert q2.awaitTermination(180)
    assert t.version() == merged_version
    assert t.read(spark).count() == 100


def test_stream_quality_gate_txlog_routes_both_sides(spark, tmp_path):
    from bigdataingestion_spark.pipeline.quality import Expectation
    from bigdataingestion_spark.streaming.quality_gate import (
        stream_quality_gate_txlog,
    )

    landing = tmp_path / "landing"
    rows = [
        (1, "ok", 10.0),
        (2, "ok", -3.0),  # violates value_positive
        (3, None, 5.0),   # violates name_not_null
        (4, "ok", None),  # NULL predicate -> NOT a violation
    ]
    spark.createDataFrame(rows, ["id", "name", "value"]).coalesce(1).write.parquet(
        str(landing)
    )
    rules = [
        Expectation("value_positive", F.col("value") > 0),
        Expectation("name_not_null", F.col("name").isNotNull()),
    ]
    lake, dlq = str(tmp_path / "lake"), str(tmp_path / "dlq")
    q = stream_quality_gate_txlog(
        spark, str(landing), lake, dlq, str(tmp_path / "ckpt"), rules
    )
    assert q.awaitTermination(180)
    clean = TxLogTable(lake).read(spark)
    assert sorted(r["id"] for r in clean.collect()) == [1, 4]
    assert "_violations" not in clean.columns
    bad = {
        r["id"]: r["_violations"]
        for r in TxLogTable(dlq).read(spark).collect()
    }
    assert bad == {2: "value_positive", 3: "name_not_null"}


def test_gate_batch_txlog_crash_between_sinks_is_exactly_once(spark, tmp_path):
    """The dead-letter gate's worst case: crash AFTER the lake append,
    BEFORE the quarantine append. The replayed batch must no-op the lake
    (txn id already in its log) and commit the quarantine — each sink
    exactly once, no layout convention involved."""
    from bigdataingestion_spark.pipeline.quality import Expectation
    from bigdataingestion_spark.streaming.quality_gate import gate_batch_txlog

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 2.0)], ["id", "value"]
    )
    rules = [Expectation("value_positive", F.col("value") > 0)]
    lake = TxLogTable(str(tmp_path / "lake"))
    dlq = TxLogTable(str(tmp_path / "dlq"))

    # simulate the crash: the lake half of batch 0 committed, then death
    clean = df.filter("value > 0")
    lake.append(clean, txn_id="scope:0")

    # restart replays batch 0 through the real module-level batch fn
    gate_batch_txlog(df, 0, lake, dlq, rules, scope="scope")
    assert _rows(lake.read(spark)) == [(1, 5.0), (3, 2.0)]  # not doubled
    assert lake.version() == 0  # replay no-op, no second commit
    assert _rows(dlq.read(spark)) == [(2, -1.0, "value_positive")]

    # full replay of batch 0 (both sides committed): both no-op
    gate_batch_txlog(df, 0, lake, dlq, rules, scope="scope")
    assert lake.version() == 0 and dlq.version() == 0

    # a new batch appends alongside
    gate_batch_txlog(
        spark.createDataFrame([(4, 7.0)], ["id", "value"]),
        1,
        lake,
        dlq,
        rules,
        scope="scope",
    )
    assert _rows(lake.read(spark)) == [(1, 5.0), (3, 2.0), (4, 7.0)]


def test_stream_cdc_apply_ops_full_idu_lifecycle(spark, tmp_path):
    """Op-coded CDC apply: one conditional-MERGE commit per micro-batch
    handles inserts, updates AND deletes atomically; a tombstone for an
    absent key is ignored; checkpoint-loss replay no-ops via txn ids."""
    import shutil as _sh

    from bigdataingestion_spark.streaming.ingest import stream_cdc_apply_ops

    src = tmp_path / "src"
    # batch 1: initial inserts k=0..9
    b1 = spark.range(10).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    b1.coalesce(1).write.parquet(str(src))
    # batch 2: update k=3, delete k=5, tombstone for ABSENT k=99,
    # multi-event key k=7 (update seq=2 then delete seq=3 -> net delete)
    b2 = spark.createDataFrame(
        [
            (3, "v3-new", "U", 2),
            (5, None, "D", 2),
            (99, None, "D", 2),
            (7, "v7-new", "U", 2),
            (7, None, "D", 3),
        ],
        "k bigint, val string, op string, seq int",
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))

    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    q = stream_cdc_apply_ops(
        spark, str(src), target, ckpt,
        keys=["k"], op_col="op", order_cols=["seq"],
    )
    assert q.awaitTermination(180)
    t = TxLogTable(target)
    got = {r["k"]: r["val"] for r in t.read(spark).collect()}
    assert len(got) == 8  # 10 inserted, k=5 and k=7 deleted, 99 ignored
    assert got[3] == "v3-new"
    assert 5 not in got and 7 not in got and 99 not in got
    assert "op" not in t.read(spark).columns  # op never lands
    # v0 is the schema bootstrap; every data batch is one merge commit
    ops = [h["op"] for h in t.history()]
    assert ops[0] == "append" and set(ops[1:]) == {"merge"}
    v = t.version()

    # replay after checkpoint loss: txn ids no-op every batch
    _sh.rmtree(ckpt)
    q2 = stream_cdc_apply_ops(
        spark, str(src), target, ckpt,
        keys=["k"], op_col="op", order_cols=["seq"],
    )
    assert q2.awaitTermination(180)
    assert t.version() == v


def test_stream_cdc_apply_ops_maintains_views(spark, tmp_path):
    """Continuously-maintained aggregate views over a CDC-ingested
    table (r10): each micro-batch's merge commit is followed by an
    incremental view refresh; after the stream drains, the view equals
    a from-scratch GROUP BY of the final table, and a checkpoint-loss
    replay moves NEITHER the table nor the view (merge txn ids no-op,
    refresh cursor already current)."""
    from bigdataingestion_spark.sinks.matview import IncrementalAggView
    from bigdataingestion_spark.streaming.ingest import stream_cdc_apply_ops

    src = tmp_path / "src"
    b1 = spark.createDataFrame(
        [(k, f"g{k % 3}", float(k), "I", 1) for k in range(12)],
        "k bigint, grp string, amt double, op string, seq int",
    )
    b1.coalesce(1).write.parquet(str(src))
    b2 = spark.createDataFrame(
        [
            (3, "g0", 300.0, "U", 2),   # in-place update
            (2, "g2", None, "D", 2),    # delete all four g2 members
            (5, "g2", None, "D", 2),
            (8, "g2", None, "D", 2),
            (11, "g2", None, "D", 2),   # -> group g2 vanishes
            (50, "g3", 7.0, "I", 2),    # brand-new group
        ],
        "k bigint, grp string, amt double, op string, seq int",
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))

    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    table = TxLogTable(target)
    table.append(
        spark.createDataFrame([], "k bigint, grp string, amt double")
    )
    table.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        table,
        str(tmp_path / "mv"),
        ["grp"],
        {"n": ("count", "1"), "sum_amt": ("sum", "amt")},
    )
    mv.build(spark)  # empty anchor at v1

    q = stream_cdc_apply_ops(
        spark, str(src), target, ckpt,
        keys=["k"], op_col="op", order_cols=["seq"],
        max_files_per_trigger=1, views=[mv],
    )
    assert q.awaitTermination(180)
    got = {
        r["grp"]: (r["n"], r["sum_amt"]) for r in mv.read(spark).collect()
    }
    oracle = {
        r["grp"]: (r["n"], r["sum_amt"])
        for r in table.read(spark)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("sum_amt"))
        .collect()
    }
    assert got == oracle
    assert "g2" not in got and got["g3"] == (1, 7.0)
    t_v, mv_v = table.version(), mv.view.version()

    shutil.rmtree(ckpt)
    q2 = stream_cdc_apply_ops(
        spark, str(src), target, ckpt,
        keys=["k"], op_col="op", order_cols=["seq"],
        max_files_per_trigger=1, views=[mv],
    )
    assert q2.awaitTermination(180)
    assert table.version() == t_v and mv.view.version() == mv_v


def test_stream_ingest_maintains_join_view(spark, tmp_path):
    """A JOIN view (r11) rides the same ``views=`` hook: each
    micro-batch merge is followed by an incremental refresh that
    enriches the batch's CDF window against the version-pinned
    broadcast dimension; after the stream drains the view equals a
    from-scratch fact⋈dim aggregation — dimensions never move during
    the stream, so the pin check is a no-op, and the refresh never
    scans the fact."""
    from bigdataingestion_spark.sinks.matview import (
        DimJoin,
        IncrementalJoinAggView,
    )
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    src = tmp_path / "src"
    for base in (0, 20):
        spark.createDataFrame(
            [(base + i, (base + i) % 4, float(base + i)) for i in range(20)],
            "id bigint, cat bigint, amt double",
        ).coalesce(1).write.mode("append").parquet(str(src))

    dim = TxLogTable(str(tmp_path / "dim"))
    dim.append(
        spark.createDataFrame(
            [(c, f"C{c % 2}") for c in range(4)],
            "cat_id bigint, bucket string",
        )
    )
    target, ckpt = str(tmp_path / "fact"), str(tmp_path / "ckpt")
    fact = TxLogTable(target)
    fact.append(spark.createDataFrame([], "id bigint, cat bigint, amt double"))
    fact.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalJoinAggView(
        fact,
        str(tmp_path / "mv"),
        ["bucket"],
        {"n": ("count", "1"), "s": ("sum", "amt")},
        dims=[DimJoin(dim, on=[("cat", "cat_id")], select=["bucket"])],
        rebuild_ratio=None,
    )
    mv.build(spark)  # empty anchor

    q = stream_txlog_ingest(
        spark, str(src), target, ckpt,
        max_files_per_trigger=1, views=[mv],
    )
    assert q.awaitTermination(180)
    got = {r["bucket"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    oracle = {
        r["bucket"]: (r["n"], r["s"])
        for r in fact.read(spark)
        .join(dim.read(spark), F.col("cat") == F.col("cat_id"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
        .collect()
    }
    assert got == oracle and len(got) == 2


def test_stream_ingest_maintains_topk_view(spark, tmp_path):
    """A TOP-K view (r11) rides the ``views=`` hook: a pure-append
    stream keeps every per-batch refresh on the insert-only fold
    (stored top-k ∪ batch inserts, fact never scanned — pinned by
    last_recompute_files staying None); after the stream drains the
    leaderboard equals a from-scratch ranked window over the table."""
    from pyspark.sql.window import Window

    from bigdataingestion_spark.sinks.matview import IncrementalTopKView
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    src = tmp_path / "src"
    for base in (0, 20):
        spark.createDataFrame(
            [
                (base + i, f"g{(base + i) % 3}", float((base + i) * 7 % 31))
                for i in range(20)
            ],
            "id bigint, grp string, score double",
        ).coalesce(1).write.mode("append").parquet(str(src))

    target, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    table = TxLogTable(target)
    table.append(
        spark.createDataFrame([], "id bigint, grp string, score double")
    )
    table.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalTopKView(
        table,
        str(tmp_path / "mv"),
        ["grp"],
        order_by="score",
        k=3,
        payload=["id"],
        order_name="score",
        rebuild_ratio=None,
    )
    mv.build(spark)  # empty anchor

    q = stream_txlog_ingest(
        spark, str(src), target, ckpt,
        max_files_per_trigger=1, views=[mv],
    )
    assert q.awaitTermination(180)
    assert mv.last_recompute_files is None  # every batch used the fold
    got = sorted(
        (r["grp"], r["rank"], r["score"], r["id"])
        for r in mv.read(spark).collect()
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    want = sorted(
        (r["grp"], r["rank"], r["score"], r["id"])
        for r in table.read(spark)
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 3")
        .collect()
    )
    assert got == want and len({g for g, *_ in got}) == 3


def test_stream_ingest_maintains_union_view(spark, tmp_path):
    """A UNION view (r11) rides the ``views=`` hook on a stream feeding
    ONE of its shards: each micro-batch refresh folds only that shard's
    window (the other shard's cursor component is untouched); after the
    stream drains the view equals a from-scratch union aggregate."""
    from bigdataingestion_spark.sinks.matview import IncrementalUnionAggView
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    src = tmp_path / "src"
    for base in (0, 20):
        spark.createDataFrame(
            [(base + i, f"g{(base + i) % 3}", float(base + i)) for i in range(20)],
            "id bigint, grp string, val double",
        ).coalesce(1).write.mode("append").parquet(str(src))

    hot, ckpt = str(tmp_path / "hot"), str(tmp_path / "ckpt")
    hot_t = TxLogTable(hot)
    hot_t.append(
        spark.createDataFrame([], "id bigint, grp string, val double")
    )
    hot_t.alter_properties({"cdf.enabled": "true"})
    cold = TxLogTable(str(tmp_path / "cold"))
    cold.append(
        spark.createDataFrame(
            [(1000 + i, f"g{i % 3}", float(i)) for i in range(12)],
            "id bigint, grp string, val double",
        )
    )
    cold.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalUnionAggView(
        [cold, hot_t],
        str(tmp_path / "mv"),
        ["grp"],
        {"n": ("count", "1"), "s": ("sum", "val")},
        rebuild_ratio=None,
    )
    mv.build(spark)

    q = stream_txlog_ingest(
        spark, str(src), hot, ckpt,
        max_files_per_trigger=1, views=[mv],
    )
    assert q.awaitTermination(180)
    got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in cold.read(spark)
        .unionByName(hot_t.read(spark))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
        .collect()
    }
    assert got == want and len(got) == 3
