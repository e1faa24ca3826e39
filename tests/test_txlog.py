"""Transactional guarantees of the txlog table format (sinks/txlog.py):
the Delta-DML semantics (reference ING:302-306, 366-415) that the plain
parquet stand-in cannot provide — atomic replace, snapshot isolation via
the log, time travel, idempotent replays, optimistic concurrency, additive
schema evolution."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdataingestion_spark.sinks.txlog import (
    ConcurrentWriteError,
    SchemaEvolutionError,
    TxLogTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    df2 = spark.createDataFrame([(3, "c")], ["id", "v"])

    assert t.append(df1) == 0
    assert t.append(df2) == 1
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b"), (3, "c")]

    df3 = spark.createDataFrame([(9, "z")], ["id", "v"])
    assert t.overwrite(df3) == 2
    assert _rows(t.read(spark)) == [(9, "z")]
    # time travel: every prior version still readable (files not vacuumed)
    assert _rows(t.read(spark, version=0)) == [(1, "a"), (2, "b")]
    assert _rows(t.read(spark, version=1)) == [(1, "a"), (2, "b"), (3, "c")]
    ops = [e["op"] for e in t.history()]
    assert ops == ["append", "append", "overwrite"]


def test_plain_parquet_reader_never_sees_the_log(spark, tmp_path):
    """The commit log lives under an underscore dir, so a vanilla parquet
    read of the table root still works (it just lacks snapshot semantics)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    raw = spark.read.parquet(str(tmp_path / "t"))
    assert _rows(raw) == [(1, "a")]


def test_txn_id_replay_is_noop(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    batch = spark.createDataFrame([(1, 10.0)], ["id", "value"])
    v1 = t.append(batch, txn_id="stream-batch-0")
    v2 = t.append(batch, txn_id="stream-batch-0")  # redelivery
    assert v1 == v2 == 0
    assert t.read(spark).count() == 1


def test_merge_upsert_source_wins_and_latest_wins(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "old", 100), (2, "keep", 100)], ["id", "v", "ts"]
        )
    )
    # source-wins: id=1 replaced, id=3 inserted
    t.merge_upsert(
        spark,
        spark.createDataFrame([(1, "new", 50), (3, "ins", 50)], ["id", "v", "ts"]),
        keys=["id"],
    )
    assert _rows(t.read(spark).select("id", "v")) == [
        (1, "new"), (2, "keep"), (3, "ins"),
    ]
    # latest-wins: a STALE update (ts=10 < 50) cannot regress the row
    t.merge_upsert(
        spark,
        spark.createDataFrame([(1, "stale", 10)], ["id", "v", "ts"]),
        keys=["id"],
        order_cols=["ts"],
    )
    assert _rows(t.read(spark).filter(F.col("id") == 1).select("v")) == [("new",)]
    # merges are single atomic commits (add rewritten, remove touched)
    assert [e["op"] for e in t.history()][-2:] == ["merge", "merge"]


def test_merge_upsert_rewrites_only_files_with_matching_keys(spark, tmp_path):
    """The MERGE file-pruning contract: a source touching keys in ONE of
    three files rewrites that file alone; the other two carry into the
    new version by reference (same physical file names)."""
    t = TxLogTable(str(tmp_path / "t"))
    for lo in (0, 10, 20):  # three single-file commits, disjoint key ranges
        t.append(
            spark.createDataFrame(
                [(lo + i, "old") for i in range(3)], ["id", "v"]
            ).coalesce(1)
        )
    before = set(t.snapshot().files)
    assert len(before) == 3

    t.merge_upsert(
        spark,
        spark.createDataFrame([(11, "new"), (99, "ins")], ["id", "v"]),
        keys=["id"],
    )
    entry = t.history()[-1]
    assert entry["op"] == "merge"
    assert len(entry["remove"]) == 1  # only the file holding id=11
    # source key span [11, 99]: the [0,2] file is skipped by log-held
    # min/max stats before the finding scan; [10,12] and [20,22] overlap
    # the span so they are scanned, and only [10,12] actually matches
    assert entry["op_metrics"] == {
        "files_rewritten": 1,
        "files_carried": 2,
        "files_stat_skipped": 1,
        "files_bloom_skipped": 0,
    }
    # the two untouched files are carried by reference
    assert len(set(t.snapshot().files) & before) == 2
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got[11] == "new" and got[99] == "ins"
    assert sum(1 for v in got.values() if v == "old") == 8

    # pure inserts above every range: stats skip ALL files, the finding
    # scan reads nothing, zero files rewritten
    n_before = len(t.snapshot().files)
    t.merge_upsert(
        spark, spark.createDataFrame([(100, "x")], ["id", "v"]), keys=["id"]
    )
    m = t.history()[-1]["op_metrics"]
    assert m["files_rewritten"] == 0
    assert m["files_stat_skipped"] == n_before
    assert t.read(spark).count() == 11


def test_commit_records_file_stats_and_checkpoint_roundtrips_them(spark, tmp_path):
    """Every commit records per-file column min/max/null stats from the
    parquet footers (Delta's data-skipping stats); checkpoints carry them
    so skip decisions stay O(interval) log reads."""
    t = TxLogTable(str(tmp_path / "t"), checkpoint_interval=2)
    t.append(spark.createDataFrame([(1, "a"), (5, None)], ["id", "v"]).coalesce(1))
    snap = t.snapshot()
    (stats,) = snap.file_stats.values()
    assert stats["id"] == {"k": "num", "min": 1, "max": 5, "nulls": 0}
    assert stats["v"] == {"k": "str", "min": "a", "max": "a", "nulls": 1}

    t.append(spark.createDataFrame([(9, "z")], ["id", "v"]).coalesce(1))
    t.append(spark.createDataFrame([(12, "y")], ["id", "v"]).coalesce(1))
    assert t._checkpoint_files()  # interval hit: checkpoint written
    snap2 = t.snapshot()
    assert len(snap2.file_stats) == 3  # stats survive the checkpoint path
    assert {s["id"]["min"] for s in snap2.file_stats.values()} == {1, 9, 12}


def test_merge_skips_null_key_files_only_when_safe(spark, tmp_path):
    """Source-wins mode: NULL keys never match, so an all-null-key file
    is skippable and its rows survive untouched. Latest-wins mode with a
    NULL-key source row must NOT skip that file — the dedup window groups
    NULL keys together."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(None, "nk", 100)], "id int, v string, ts int").coalesce(1)
    )
    t.append(spark.createDataFrame([(1, "a", 100)], "id int, v string, ts int").coalesce(1))

    # source-wins with a NULL-key row: file of NULL keys untouched,
    # source NULL row appended alongside (SQL equality semantics)
    t.merge_upsert(
        spark,
        spark.createDataFrame([(None, "nk2", 200)], "id int, v string, ts int"),
        keys=["id"],
    )
    assert t.history()[-1]["op_metrics"]["files_rewritten"] == 0
    assert sorted(r.v for r in t.read(spark).collect()) == ["a", "nk", "nk2"]

    # latest-wins: NULL-key rows dedupe as one group -> newest ts survives
    t.merge_upsert(
        spark,
        spark.createDataFrame([(None, "nk3", 300)], "id int, v string, ts int"),
        keys=["id"],
        order_cols=["ts"],
    )
    out = sorted(r.v for r in t.read(spark).collect())
    assert out == ["a", "nk3"]


def test_merge_stats_skip_timestamp_keys(spark, tmp_path):
    """Timestamp min/max normalize to order-faithful ISO strings on both
    the footer side and the source-agg side."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.sql(
            "select timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
            " as ts, id from range(3)"
        ).coalesce(1)
    )
    t.append(
        spark.sql(
            "select timestamp'2024-06-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
            " as ts, id from range(3)"
        ).coalesce(1)
    )
    src = spark.sql(
        "select timestamp'2024-06-01 00:00:01' as ts, cast(99 as bigint) as id"
    )
    t.merge_upsert(spark, src, keys=["ts"])
    m = t.history()[-1]["op_metrics"]
    assert m["files_stat_skipped"] == 1  # the January file
    assert m["files_rewritten"] == 1  # June file holds the matching ts
    assert t.read(spark).count() == 6  # 5 survivors + upserted row


def test_zorder_compact_then_merge_skips_most_files(spark, tmp_path):
    """The features compose: OPTIMIZE/ZORDER rewrites the table into
    key-clustered files, the rewrite commit records fresh stats, and a
    narrow merge then stat-skips every file outside the batch's key span
    — the Delta maintenance loop (cluster, then cheap CDC) end to end."""
    t = TxLogTable(str(tmp_path / "t"))
    # keys arrive shuffled: each append mixes ranges, so pre-compaction
    # every file spans most of the key space and nothing can be skipped
    rows = [(i, f"v{i}") for i in range(400)]
    shuffled = rows[::4] + rows[1::4] + rows[2::4] + rows[3::4]
    for part in range(4):
        t.append(
            spark.createDataFrame(shuffled[part::4], ["id", "v"]).coalesce(1)
        )
    src = spark.createDataFrame([(7, "new"), (9, "new")], ["id", "v"])
    t.merge_upsert(spark, src, keys=["id"])
    # unclustered files span most of the key space: stats can exclude at
    # most an odd straggler, not the bulk of the table
    assert t.history()[-1]["op_metrics"]["files_stat_skipped"] <= 1

    t.compact(spark, target_file_bytes=4096, zorder_by=["id"])
    n_files = len(t.snapshot().files)
    assert n_files > 1  # clustered into multiple range-disjoint files

    t.merge_upsert(spark, spark.createDataFrame([(8, "x")], ["id", "v"]), keys=["id"])
    m = t.history()[-1]["op_metrics"]
    assert m["files_stat_skipped"] >= n_files - 1  # only the id~8 file scanned
    assert m["files_rewritten"] == 1
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got[7] == "new" and got[8] == "x" and len(got) == 400


def test_merge_upsert_latest_wins_across_files(spark, tmp_path):
    """Latest-wins dedup must see every file holding the key, even when
    the key's rows are spread over multiple commits."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a", 100)], ["id", "v", "ts"]).coalesce(1))
    t.append(spark.createDataFrame([(1, "b", 200)], ["id", "v", "ts"]).coalesce(1))
    t.merge_upsert(
        spark,
        spark.createDataFrame([(1, "stale", 50)], ["id", "v", "ts"]),
        keys=["id"],
        order_cols=["ts"],
    )
    # both files held id=1 -> both rewritten; newest ts wins
    assert t.history()[-1]["op_metrics"]["files_rewritten"] == 2
    assert _rows(t.read(spark)) == [(1, "b", 200)]


def test_merge_upsert_resolves_data_and_cdf_once(spark, tmp_path):
    """The staged rows and the CDF classes are filters of ONE latest-wins
    resolution, so every update_postimage / insert row is exactly the row
    read back for its key. The batch carries a key twice, a stale row, a
    NULL key matching the table's NULL-key row and a new key; the table
    spreads over a touched file (with a passthrough row), a NULL-key file
    and a stat-skipped file."""
    schema = "id int, v string, ts int"
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a", 10), (4, "keep4", 10)], schema).coalesce(1))
    t.append(spark.createDataFrame([(2, "b", 100), (None, "nk", 10)], schema).coalesce(1))
    t.append(spark.createDataFrame([(9, "keep9", 10)], schema).coalesce(1))
    t.alter_properties({"cdf.enabled": "true"})
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [
                (1, "a1", 20),
                (1, "a2", 30),  # same key twice: the later ts wins
                (2, "stale", 50),  # loses to the table's ts=100
                (None, "nk2", 20),  # matches the NULL-key row
                (3, "new", 5),
            ],
            schema,
        ),
        keys=["id"],
        order_cols=["ts"],
    )
    m = t.history()[-1]["op_metrics"]
    assert (m["files_rewritten"], m["files_carried"], m["files_stat_skipped"]) == (2, 1, 1)
    final = {r["id"]: tuple(r) for r in t.read(spark).collect()}
    assert sorted(final.values(), key=lambda r: (r[0] is not None, r[0] or 0)) == [
        (None, "nk2", 20),
        (1, "a2", 30),
        (2, "b", 100),
        (3, "new", 5),
        (4, "keep4", 10),
        (9, "keep9", 10),
    ]
    changes = {}
    for r in t.read_cdf(spark, t.version() - 1).collect():
        changes.setdefault(r["_change_type"], []).append((r["id"], r["v"], r["ts"]))
    assert sorted(changes["update_preimage"], key=str) == sorted(
        [(1, "a", 10), (2, "b", 100), (None, "nk", 10)], key=str
    )
    assert len(changes["update_postimage"]) == 3
    assert changes["insert"] == [(3, "new", 5)]
    for row in changes["update_postimage"] + changes["insert"]:
        assert row == final[row[0]]


def test_delete_matching_is_a_matched_delete_merge(spark, tmp_path):
    """A key delete runs as MERGE … WHEN MATCHED THEN DELETE over the
    batch's distinct keys: a key the batch names twice still gives each
    removed row one CDF delete record, NULL and absent keys commit
    nothing, and a partitioned table keeps its partition directories."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (2, "b2")], ["id", "v"]).coalesce(1)
    )
    t.append(spark.createDataFrame([(3, "c")], ["id", "v"]).coalesce(1))
    t.alter_properties({"cdf.enabled": "true"})
    batch = spark.createDataFrame([(2, "x"), (2, "y"), (99, "z")], ["id", "v"])
    v = t.delete_matching(spark, batch, keys=["id"])
    assert _rows(t.read(spark)) == [(1, "a"), (3, "c")]
    e = t.history()[-1]
    assert e["op"] == "merge" and e["op_metrics"]["clauses"] == ["matched:delete"]
    assert e["op_metrics"]["rows_deleted"] == 2
    assert sorted(
        (r["_change_type"], r["id"], r["v"]) for r in t.read_cdf(spark, v - 1, v).collect()
    ) == [("delete", 2, "b"), ("delete", 2, "b2")]
    for absent in (
        spark.createDataFrame([(None,)], "id bigint"),
        spark.createDataFrame([(42,)], ["id"]),
    ):
        assert t.delete_matching(spark, absent, keys=["id"]) == v
    assert t.version() == v

    p = TxLogTable(str(tmp_path / "p"))
    p.overwrite_partitions(
        spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], ["id", "part"]),
        partition_cols=["part"],
    )
    p.delete_matching(spark, spark.createDataFrame([(2,)], ["id"]), keys=["id"])
    assert _rows(p.read(spark)) == [(1, "x"), (3, "y")]
    assert sorted({f.split("/")[0] for f in p.snapshot().files}) == ["part=x", "part=y"]


def test_delete_matching_auto_compacts(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(
            spark.createDataFrame([(i, "x"), (i + 10, "x")], ["id", "v"]).coalesce(1)
        )
    t.alter_properties({"auto.compact.min.files": "2"})
    t.delete_matching(spark, spark.createDataFrame([(1,)], ["id"]), keys=["id"])
    assert [e["op"] for e in t.history()[-2:]] == ["merge", "compact"]
    assert len(t.snapshot().files) == 1
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 2, 10, 11, 12]


def test_delete_only_merge_stages_one_cdf_class(spark, tmp_path, monkeypatch):
    """CDF classes whose row count is 0 stage no file (and run no job)."""
    from bigdataingestion_spark.sinks.merge_clauses import when_matched_delete

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    t.alter_properties({"cdf.enabled": "true"})
    staged = []
    real = TxLogTable._stage_cdf

    def counting(self, df):
        staged.append(1)
        return real(self, df)

    monkeypatch.setattr(TxLogTable, "_stage_cdf", counting)
    v = t.merge(
        spark, spark.createDataFrame([(2,)], ["id"]), ["id"], [when_matched_delete()]
    )
    assert len(staged) == 1
    assert [
        (r["_change_type"], r["id"]) for r in t.read_cdf(spark, v - 1, v).collect()
    ] == [("delete", 2)]


def test_concurrent_writer_conflict(spark, tmp_path):
    t1 = TxLogTable(str(tmp_path / "t"))
    t2 = TxLogTable(str(tmp_path / "t"))
    t1.append(spark.createDataFrame([(1,)], ["id"]))
    # both see version 0; t2 commits first, t1 must fail (not overwrite)
    df = spark.createDataFrame([(2,)], ["id"])
    files2, _ = t2._stage_files(df)
    t2._commit(files2, [], df.schema, "append", None, 0)
    with pytest.raises(ConcurrentWriteError):
        files1, _ = t1._stage_files(df)
        t1._commit(files1, [], df.schema, "append", None, 0)
    # the losing writer's data files were cleaned up; table state is t2's
    assert t1.read(spark).count() == 2
    live = {f for f in os.listdir(str(tmp_path / "t")) if f.endswith(".parquet")}
    assert live == set(t1.snapshot().files)


def test_schema_evolution_additive_only(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    t.append(spark.createDataFrame([(2, "b", 5.0)], ["id", "v", "score"]))
    out = t.read(spark)
    assert [f.name for f in out.schema.fields] == ["id", "v", "score"]
    got = {r["id"]: r["score"] for r in out.collect()}
    assert got[1] is None and got[2] == 5.0  # old files read NULL for new col
    # type conflict refused
    with pytest.raises(SchemaEvolutionError):
        t.append(spark.createDataFrame([(3, 7)], ["id", "v"]))


def test_vacuum_keeps_latest_only(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], ["id"]))
    t.overwrite(spark.createDataFrame([(2,)], ["id"]))
    # default retention (7 days) keeps everything just written: time travel
    # still works — the concurrent-writer safety window
    assert t.vacuum() == []
    assert _rows(t.read(spark, version=0)) == [(1,)]
    deleted = t.vacuum(retention_seconds=0)
    assert deleted  # version-0 files gone
    assert _rows(t.read(spark)) == [(2,)]
    with pytest.raises(Exception):
        t.read(spark, version=0).collect()  # time travel ends after vacuum


def test_vacuum_skips_staging_dirs(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], ["id"]))
    # simulate another writer's in-flight staging output: must survive
    # vacuum even with zero retention
    staging = tmp_path / "t" / "_staging-deadbeef"
    staging.mkdir()
    (staging / "part-0000.parquet").write_bytes(b"in-flight")
    assert t.vacuum(retention_seconds=0) == []
    assert (staging / "part-0000.parquet").read_bytes() == b"in-flight"


def test_overwrite_crash_before_commit_is_invisible(spark, tmp_path):
    """Staged-but-uncommitted files must not change what readers see: the
    snapshot is defined by the log, not the directory."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], ["id"]))
    # simulate a writer that staged data files and crashed pre-commit
    t._stage_files(spark.createDataFrame([(99,)], ["id"]))
    assert _rows(t.read(spark)) == [(1,)]


def test_orchestrator_with_txlog_sink_matches_parquet_lake(
    spark, tmp_path, sf_smoke_dir
):
    """End-to-end: the chunked ingest run over a txlog-backed lake lands
    exactly the same rows as the parquet-backed run, and every lake table
    is a committed snapshot (readable through the log with history)."""
    from bigdataingestion_spark.config.repository import ConfigRepository
    from bigdataingestion_spark.config.state import TableLoadDetails
    from bigdataingestion_spark.functions.io import load_table
    from bigdataingestion_spark.pipeline.orchestrator import Orchestrator
    from bigdataingestion_spark.sinks.writer import DatalakeWriter, SinkPolicy
    from bigdataingestion_spark.sources.files import FileSource

    src = tmp_path / "source" / "db"
    os.makedirs(src)
    ev = load_table(spark, sf_smoke_dir, "events").withColumn(
        "createddate", F.col("ts")
    )
    ev.write.parquet(str(src / "events.parquet"))

    def run(lake_name, use_txlog):
        config = ConfigRepository(str(tmp_path / lake_name / "c.parquet"))
        config.insert("dcx_postgresql_db_settings", "db_db_name", "db")
        config.insert("dcx_postgresql_table_settings", "db_tables", "events")
        orch = Orchestrator(
            spark=spark,
            source=FileSource(spark, str(tmp_path / "source")),
            writer=DatalakeWriter(
                str(tmp_path / lake_name), SinkPolicy(use_txlog=use_txlog)
            ),
            config=config,
            state=TableLoadDetails(str(tmp_path / lake_name / "s.parquet")),
            single_batch_limit=300,  # forces the chunked path
        )
        results = orch.run(run_date="2026-01-01")
        assert all(r.strategy != "failed" for r in results)
        return results

    run("lake_pq", use_txlog=False)
    run("lake_tx", use_txlog=True)

    pq = spark.read.option("recursiveFileLookup", "true").parquet(
        str(tmp_path / "lake_pq" / "events")
    )
    table = TxLogTable(str(tmp_path / "lake_tx" / "events" / "2026" / "01" / "01"))
    tx = table.read(spark)
    assert tx.count() == pq.count() == ev.count()
    assert _rows(tx.select("event_id")) == _rows(pq.select("event_id"))
    # chunked loads produced one append commit per chunk, all in the log
    assert {e["op"] for e in table.history()} <= {"append", "overwrite"}
    assert table.version() >= 0


def test_concurrent_commit_during_staging_reconciles(spark, tmp_path, monkeypatch):
    """Lost-update guard through the PUBLIC API: writer B commits while
    writer A is staging an overwrite. A must NOT clobber B's commit with a
    stale remove-list; with conflict reconciliation it re-commits in
    serial order — B's append lands at v2, A's overwrite at v3 removes
    EVERYTHING present at commit time (including B's file), exactly the
    serial schedule append-then-overwrite."""
    path = str(tmp_path / "t")
    a, b = TxLogTable(path), TxLogTable(path)
    a.append(spark.createDataFrame([(1,)], ["id"]))

    real_stage = TxLogTable._stage_files

    def stage_and_race(self, df, partition_cols=None, **kw):
        files = real_stage(self, df, partition_cols, **kw)
        # B sneaks in a commit after A read its snapshot
        if not getattr(stage_and_race, "raced", False):
            stage_and_race.raced = True
            monkeypatch.undo()
            b.append(spark.createDataFrame([(99,)], ["id"]))
        return files

    monkeypatch.setattr(TxLogTable, "_stage_files", stage_and_race)
    v = a.overwrite(spark.createDataFrame([(2,)], ["id"]))
    # serial order: v0 append(1), v1 append(99), v2 overwrite(2)
    assert v == 2
    assert [e["op"] for e in a.history()] == ["append", "append", "overwrite"]
    assert _rows(a.read(spark)) == [(2,)]
    # time travel still sees B's append — it was never lost
    assert sorted(_rows(a.read(spark, version=1))) == [(1,), (99,)]
    # no unreferenced-by-any-version orphan data files
    referenced = set()
    for ver in range(a.version() + 1):
        referenced.update(os.path.basename(f) for f in a.snapshot(ver).files)
    live = set()
    for root, _d, fs in os.walk(path):
        if "_txlog" in root:
            continue
        live.update(f for f in fs if f.endswith(".parquet"))
    assert live == referenced


def test_partitioned_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame(
        [(1, "2024", "a"), (2, "2025", "b")], ["id", "yr", "v"]
    )
    t.overwrite_partitions(df1, ["yr"])
    # re-load 2025 only: 2024 untouched, 2025 replaced (dynamic overwrite)
    df2 = spark.createDataFrame([(3, "2025", "c")], ["id", "yr", "v"])
    t.overwrite_partitions(df2, ["yr"])
    out = t.read(spark)
    assert sorted((r["id"], r["yr"], r["v"]) for r in out.collect()) == [
        (1, "2024", "a"), (3, "2025", "c"),
    ]
    # partition column resolves from dir names; time travel still works
    assert t.read(spark, version=0).count() == 2
    # replay with the same txn id is a no-op
    v = t.overwrite_partitions(df2, ["yr"], txn_id="day-2025")
    assert t.overwrite_partitions(df2, ["yr"], txn_id="day-2025") == v
    # layouts cannot mix, in either direction
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(9, "x", "z")], ["id", "yr", "v"]))
    t2 = TxLogTable(str(tmp_path / "flat"))
    t2.append(spark.createDataFrame([(1,)], ["id"]))
    with pytest.raises(ValueError):
        t2.overwrite_partitions(df2, ["yr"])


def test_orchestrator_partitioned_strategy_with_txlog(spark, tmp_path, sf_smoke_dir):
    """The partitioned write strategy (the 100 TB path) goes through a
    single overwrite_partitions commit; read_back resolves via the log."""
    from bigdataingestion_spark.config.repository import ConfigRepository
    from bigdataingestion_spark.config.state import TableLoadDetails
    from bigdataingestion_spark.functions.io import load_table
    from bigdataingestion_spark.pipeline.orchestrator import Orchestrator
    from bigdataingestion_spark.sinks.writer import DatalakeWriter, SinkPolicy
    from bigdataingestion_spark.sources.files import FileSource

    src = tmp_path / "source" / "db"
    os.makedirs(src)
    ev = load_table(spark, sf_smoke_dir, "events").withColumn(
        "createddate", F.col("ts")
    )
    ev.write.parquet(str(src / "events.parquet"))
    config = ConfigRepository(str(tmp_path / "c.parquet"))
    config.insert("dcx_postgresql_db_settings", "db_db_name", "db")
    config.insert("dcx_postgresql_table_settings", "db_tables", "events")
    orch = Orchestrator(
        spark=spark,
        source=FileSource(spark, str(tmp_path / "source")),
        writer=DatalakeWriter(str(tmp_path / "lake"), SinkPolicy(use_txlog=True)),
        config=config,
        state=TableLoadDetails(str(tmp_path / "s.parquet")),
        single_batch_limit=300,
        write_strategy="partitioned",
    )
    results = orch.run(run_date="2026-01-01")
    assert all(r.strategy != "failed" for r in results)
    table = TxLogTable(str(tmp_path / "lake" / "events" / "2026" / "01" / "01"))
    assert table.version() >= 0
    assert table.read(spark).count() == ev.count()
    ops = {e["op"] for e in table.history()}
    assert ops == {"overwrite_partitions"}


def test_checkpointed_snapshot_equals_full_replay(spark, tmp_path):
    """25 commits with checkpoint_interval=10: snapshots resolved through
    checkpoints must equal the model at every version, including versions
    before/between checkpoints, and txn-id dedup must survive a checkpoint."""
    t = TxLogTable(str(tmp_path / "t"), checkpoint_interval=10)
    expect: dict[int, list] = {}
    rows: list = []
    for i in range(25):
        if i % 7 == 3:
            rows = [(i, "ow")]
            t.overwrite(spark.createDataFrame(rows, ["id", "v"]))
        else:
            rows = rows + [(i, "ap")]
            t.append(
                spark.createDataFrame([(i, "ap")], ["id", "v"]), txn_id=f"b{i}"
            )
        expect[i] = sorted(rows)
    ckpts = [f for f in os.listdir(str(tmp_path / "t" / "_txlog")) if f.endswith(".ckpt")]
    assert len(ckpts) == 2  # versions 10 and 20
    for v in (0, 5, 9, 10, 11, 19, 20, 24):
        got = sorted(tuple(r) for r in t.read(spark, version=v).collect())
        assert got == expect[v], v
    # txn-id replay recorded before the checkpoint is still a no-op after it
    n = t.read(spark).count()
    t.append(spark.createDataFrame([(99, "dup")], ["id", "v"]), txn_id="b2")
    assert t.read(spark).count() == n


def test_stream_txlog_ingest_exactly_once(spark, tmp_path, sf_smoke_dir):
    """Streaming foreachBatch append with txn ids: batch redelivery is a
    table-level no-op, and incremental restarts ingest only new files."""
    from bigdataingestion_spark.functions.io import load_table
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    landing = tmp_path / "landing"
    ev = load_table(spark, sf_smoke_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    first = ev.filter(F.col("event_id") % 2 == 0)
    first.coalesce(2).write.parquet(str(landing))

    q = stream_txlog_ingest(
        spark, str(landing), str(tmp_path / "t"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    t = TxLogTable(str(tmp_path / "t"))
    assert t.read(spark).count() == first.count()

    # crash-redelivery: re-applying an already-committed batch id is a no-op
    done_ids = [e["txn_id"] for e in t.history() if e["txn_id"]]
    assert done_ids
    t.append(first.limit(5), txn_id=done_ids[0])
    assert t.read(spark).count() == first.count()

    # restart with the same checkpoint after new files land: only the new
    # file is processed, under a NEW batch id
    second = ev.filter(F.col("event_id") % 2 == 1)
    second.coalesce(1).write.mode("append").parquet(str(landing))
    q2 = stream_txlog_ingest(
        spark, str(landing), str(tmp_path / "t"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert t.read(spark).count() == ev.count()
    assert len(set(e["txn_id"] for e in t.history() if e["txn_id"])) == len(
        [e for e in t.history() if e["txn_id"]]
    )


def test_stream_txlog_ingest_app_id_scopes_batch_ids(spark, tmp_path, sf_smoke_dir):
    """Two queries (distinct checkpoints) feeding ONE table: the second
    query's batch 0 must not be deduplicated against the first's."""
    from bigdataingestion_spark.functions.io import load_table
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    ev = load_table(spark, sf_smoke_dir, "events").select("event_id", "event_type")
    a, b = ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.parquet(str(tmp_path / "landing_a"))
    b.coalesce(1).write.parquet(str(tmp_path / "landing_b"))
    for name in ("a", "b"):
        q = stream_txlog_ingest(
            spark,
            str(tmp_path / f"landing_{name}"),
            str(tmp_path / "t"),
            str(tmp_path / f"ckpt_{name}"),
        )
        q.awaitTermination(120)
    t = TxLogTable(str(tmp_path / "t"))
    assert t.read(spark).count() == ev.count()
    ids = [e["txn_id"] for e in t.history() if e["txn_id"]]
    # default scope = short hash of the checkpoint dir's absolute path
    import hashlib

    for name in ("a", "b"):
        scope = hashlib.sha256(
            os.path.abspath(str(tmp_path / f"ckpt_{name}")).encode()
        ).hexdigest()[:12]
        assert any(i.startswith(f"{scope}:") for i in ids)


def test_stream_txlog_ingest_same_basename_checkpoints_do_not_collide(
    spark, tmp_path, sf_smoke_dir
):
    """Regression (ADVICE r5): two queries whose checkpoint dirs share a
    basename ('checkpoint' is a common convention) must still get distinct
    txn scopes — a basename-derived default silently dropped the second
    query's batches as replays."""
    from bigdataingestion_spark.functions.io import load_table
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    ev = load_table(spark, sf_smoke_dir, "events").select("event_id", "event_type")
    a, b = ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.parquet(str(tmp_path / "landing_a"))
    b.coalesce(1).write.parquet(str(tmp_path / "landing_b"))
    for name in ("a", "b"):
        q = stream_txlog_ingest(
            spark,
            str(tmp_path / f"landing_{name}"),
            str(tmp_path / "t"),
            str(tmp_path / name / "checkpoint"),  # same basename, both queries
        )
        q.awaitTermination(120)
    t = TxLogTable(str(tmp_path / "t"))
    assert t.read(spark).count() == ev.count()  # second query NOT dropped
    scopes = {e["txn_id"].split(":")[0] for e in t.history() if e["txn_id"]}
    assert len(scopes) == 2


def test_corrupt_checkpoint_falls_back_to_log_replay(spark, tmp_path):
    """A torn/corrupt .ckpt is derived data and must not brick the table."""
    t = TxLogTable(str(tmp_path / "t"), checkpoint_interval=3)
    for i in range(7):
        t.append(spark.createDataFrame([(i,)], ["id"]))
    ckpts = sorted(
        f for f in os.listdir(str(tmp_path / "t" / "_txlog")) if f.endswith(".ckpt")
    )
    assert ckpts == ["00000003.ckpt", "00000006.ckpt"]
    # corrupt the newest checkpoint: reads fall back to the older one
    open(str(tmp_path / "t" / "_txlog" / ckpts[-1]), "w").write("")
    assert t.read(spark).count() == 7
    # corrupt both: full log replay still serves every version
    open(str(tmp_path / "t" / "_txlog" / ckpts[0]), "w").write("{bad")
    assert t.read(spark).count() == 7
    assert t.read(spark, version=4).count() == 5
    # and the next interval commit writes a fresh usable checkpoint
    for i in range(7, 10):
        t.append(spark.createDataFrame([(i,)], ["id"]))
    assert t.read(spark).count() == 10


def _data_files(root: str) -> list[str]:
    out = []
    for r, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != "_txlog" and not d.startswith("_")]
        out.extend(
            os.path.relpath(os.path.join(r, f), root)
            for f in files
            if f.endswith(".parquet")
        )
    return sorted(out)


def test_compact_is_atomic_and_content_preserving(spark, tmp_path):
    """OPTIMIZE: many small appends -> one commit swapping in few files;
    rows identical at HEAD, all prior versions still time-travelable."""
    t = TxLogTable(str(tmp_path / "t"))
    for i in range(8):
        t.append(spark.createDataFrame([(i, f"v{i}")], ["id", "v"]))
    before_files = _data_files(str(tmp_path / "t"))
    before_rows = sorted(_rows(t.read(spark)))
    v = t.compact(spark)
    assert v == 8
    assert t.history()[-1]["op"] == "compact"
    snap = t.snapshot()
    assert len(snap.files) < len(before_files)  # actually compacted (1 file)
    assert sorted(_rows(t.read(spark))) == before_rows
    # time travel across the compaction boundary still serves every version
    assert t.read(spark, version=3).count() == 4
    # an already-packed table: incremental OPTIMIZE no-ops, no commit
    assert t.compact(spark) == 8
    assert t.version() == 8
    # replay idempotence: fresh fragment gives the maintenance run work,
    # then the same txn_id is a no-op
    t.append(spark.createDataFrame([(99, "v99")], ["id", "v"]))
    v2 = t.compact(spark, txn_id="maint:1")
    assert v2 == 10
    assert t.compact(spark, txn_id="maint:1") == 10
    assert t.version() == 10


def test_compact_preserves_partitioned_layout(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    rows = [(i, 2024 + i % 2, f"v{i}") for i in range(10)]
    # two appends per partition -> multiple files per partition dir
    for half in (rows[:5], rows[5:]):
        t.overwrite_partitions(
            spark.createDataFrame(half, ["id", "yr", "v"]).repartition(3), ["yr"]
        )
    # second overwrite only replaced partitions it contained; re-add all
    t.overwrite_partitions(spark.createDataFrame(rows, ["id", "yr", "v"]), ["yr"])
    before = sorted(_rows(t.read(spark)))
    v = t.compact(spark)
    snap = t.snapshot()
    assert snap.partition_cols == ("yr",)
    assert sorted(_rows(t.read(spark))) == before
    # one compacted file per hive partition dir
    dirs = {os.path.dirname(f) for f in snap.files}
    assert dirs == {"yr=2024", "yr=2025"}
    per_dir = {d: sum(1 for f in snap.files if os.path.dirname(f) == d) for d in dirs}
    assert all(n == 1 for n in per_dir.values()), per_dir
    assert t.read(spark, version=v - 1).count() == 10  # pre-compact intact


def test_compact_zorder_clusters_rowgroups(spark, tmp_path):
    """ZORDER BY: content invariant, and each output file's min/max range
    on the leading cluster column is narrower than the full span (the
    data-skipping property the rewrite exists for)."""
    import pyarrow.parquet as pq

    t = TxLogTable(str(tmp_path / "t"))
    n = 4000
    df = spark.range(n).select(
        F.col("id").cast("int").alias("a"),
        (F.col("id") * 7919 % n).cast("int").alias("b"),  # decorrelated
    )
    t.append(df.repartition(8))
    before = sorted(_rows(t.read(spark)))
    t.compact(spark, target_file_bytes=2 * 1024, zorder_by=["a", "b"])
    snap = t.snapshot()
    assert len(snap.files) > 8  # small target -> many clustered files
    assert sorted(_rows(t.read(spark))) == before
    spans = {"a": [], "b": []}
    for f in snap.files:
        md = pq.read_metadata(os.path.join(str(tmp_path / "t"), f))
        for ci, cname in enumerate(("a", "b")):
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(ci)
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            spans[cname].append(max(maxs) - min(mins))
    # clustered on BOTH columns: a hash-shuffled layout gives per-file
    # spans ~= n on each; the Z-curve bounds each at ~n/sqrt(k) for k
    # files. Assert both averages are well under the full range.
    for cname, s in spans.items():
        assert sum(s) / len(s) < 0.6 * n, (cname, s)


def test_compact_reconciles_over_concurrent_append(spark, tmp_path, monkeypatch):
    """An append landing between compact's snapshot and its commit must
    not force the compaction to redo its rewrite (at 100 TB that livelocks
    OPTIMIZE against steady ingest): the compaction re-commits its staged
    files at the next version and the appended file carries through."""
    t = TxLogTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], ["id"]))
    real_stage = TxLogTable._stage_files
    fired = []  # the interloper's own append re-enters _stage_files: fire once

    def stage_then_interleave(self, df, partition_cols=None, **kw):
        files = real_stage(self, df, partition_cols, **kw)
        if not fired:
            fired.append(True)
            # another writer commits AFTER compact snapshotted, BEFORE it
            # commits
            other = TxLogTable(self.path)
            other.append(spark.createDataFrame([(99,)], ["id"]))
        return files

    monkeypatch.setattr(TxLogTable, "_stage_files", stage_then_interleave)
    v = t.compact(spark)
    monkeypatch.undo()
    # serial order: appends v0..v2, interloper v3, compact v4 — the
    # interloper's row survived WITHOUT the compaction redoing its work
    assert v == 4
    assert [e["op"] for e in t.history()] == ["append"] * 4 + ["compact"]
    assert sorted(_rows(t.read(spark))) == [(0,), (1,), (2,), (99,)]
    # the compact removed only the files it actually rewrote: the
    # interloper's file is still in the live snapshot
    interloper_files = set(t.history()[3]["add"])
    assert interloper_files <= set(t.snapshot().files)


def test_compact_conflicts_with_concurrent_delete(spark, tmp_path, monkeypatch):
    """A concurrent commit that REMOVED a file being compacted is a true
    conflict: the compacted output contains rows the delete removed, so
    re-committing it would resurrect them. The compaction must raise and
    clean up its staged files."""
    import pytest

    from bigdataingestion_spark.sinks import txlog as txmod

    t = TxLogTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], ["id"]))
    real_stage = TxLogTable._stage_files
    fired = []

    def stage_then_delete(self, df, partition_cols=None, **kw):
        files = real_stage(self, df, partition_cols, **kw)
        if not fired:
            fired.append(True)
            other = TxLogTable(self.path)
            other.delete(spark, "id = 1")  # rewrites one compacted file
        return files

    monkeypatch.setattr(TxLogTable, "_stage_files", stage_then_delete)
    with pytest.raises(txmod.ConcurrentWriteError, match="rewrote or masked"):
        t.compact(spark)
    monkeypatch.undo()
    # the delete's result stands; the failed compaction left no orphans
    assert sorted(_rows(t.read(spark))) == [(0,), (2,)]
    referenced = set()
    for ver in range(t.version() + 1):
        referenced.update(os.path.basename(f) for f in t.snapshot(ver).files)
    live = set()
    for root, _d, fs in os.walk(str(tmp_path / "t")):
        if "_txlog" in root:
            continue
        live.update(f for f in fs if f.endswith(".parquet"))
    assert live == referenced
    # and a fresh compact over the post-delete snapshot succeeds
    t.compact(spark)
    assert sorted(_rows(t.read(spark))) == [(0,), (2,)]


def test_stream_txlog_ingest_crash_between_sink_and_checkpoint(
    spark, tmp_path, sf_smoke_dir, monkeypatch
):
    """Failure injection at the exactly-once hazard window: the worker dies
    AFTER the txlog append committed but BEFORE the streaming checkpoint
    recorded the batch. foreachBatch is at-least-once, so the restart
    re-delivers the same batch id — the table's txn-id log must make that
    replay a no-op, leaving exactly one copy of every source row."""
    from bigdataingestion_spark.functions.io import load_table
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    landing = tmp_path / "landing"
    ev = load_table(spark, sf_smoke_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.parquet(str(landing))

    real_append = TxLogTable.append
    crashed = []

    def crash_after_commit(self, df, txn_id=None, merge_schema=True):
        version = real_append(self, df, txn_id=txn_id, merge_schema=merge_schema)
        if not crashed:
            crashed.append(version)
            raise RuntimeError("injected crash: sink committed, checkpoint not")
        return version

    monkeypatch.setattr(TxLogTable, "append", crash_after_commit)
    q = stream_txlog_ingest(
        spark, str(landing), str(tmp_path / "t"), str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
        raise q.exception() or AssertionError("query did not fail")
    monkeypatch.undo()

    # the hazard is real: the batch IS committed on disk, the streaming
    # checkpoint is not — a naive sink would double-append on restart
    t = TxLogTable(str(tmp_path / "t"))
    assert crashed and t.version() == crashed[0]
    assert t.read(spark).count() == first.count()

    # land new data, then restart with the same checkpoint: the crashed
    # batch is re-delivered under the SAME txn id and deduplicated, the new
    # file is processed under the next id
    second.coalesce(1).write.mode("append").parquet(str(landing))
    q2 = stream_txlog_ingest(
        spark, str(landing), str(tmp_path / "t"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination(300)
    assert t.read(spark).count() == ev.count()  # exactly once, no dup batch
    txns = [e["txn_id"] for e in t.history() if e["txn_id"]]
    assert len(txns) == len(set(txns)) == 2  # batch 0 committed ONCE


# ---------------------------------------------------------------- DML --


def test_delete_rewrites_only_files_with_matches(spark, tmp_path):
    """Copy-on-write DELETE with file-level pruning: the file whose rows
    all survive is carried by REFERENCE (same name in the new snapshot),
    not rewritten — the property that makes DELETE O(matched files) at
    100 TB (Delta's DML shape; reference ING:366-415 leans on Delta DML)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    low_files = set(t.snapshot().files)
    t.append(spark.createDataFrame([(10, "x"), (11, "y")], ["id", "v"]))

    v = t.delete(spark, "id >= 10 and v = 'x'")
    assert v == 2
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b"), (11, "y")]
    # pruning: every file of the untouched first append survives unrenamed
    assert low_files <= set(t.snapshot().files)
    # time travel across the delete
    assert _rows(t.read(spark, version=1)) == [
        (1, "a"), (2, "b"), (10, "x"), (11, "y")
    ]
    e = t.history()[-1]
    assert e["op"] == "delete"
    assert e["op_metrics"]["files_carried"] >= len(low_files)


def test_delete_null_predicate_rows_are_kept(spark, tmp_path):
    """SQL three-valued logic: DELETE removes rows where the predicate is
    TRUE; NULL-evaluating rows stay."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 20.0)], "id int, score double"
        )
    )
    t.delete(spark, "score > 10")
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]


def test_delete_no_match_is_noop_and_replay_idempotent(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    assert t.delete(spark, "id = 999") == 0  # no commit
    assert t.version() == 0
    v = t.delete(spark, "id = 1", txn_id="purge-1")
    assert t.delete(spark, "id = 1", txn_id="purge-1") == v  # replay no-op
    assert t.read(spark).count() == 0


def test_update_sets_values_and_casts_to_committed_type(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 10.0, "a"), (2, 20.0, "b")],
                              "id int, score double, v string")
    )
    untouched = spark.createDataFrame([(3, 30.0, "c")],
                                      "id int, score double, v string")
    t.append(untouched)
    carried = set(t.snapshot().files)

    t.update(spark, "id = 1", {"score": "score * 2 + 1", "v": "upper(v)"})
    assert _rows(t.read(spark)) == [(1, 21.0, "A"), (2, 20.0, "b"), (3, 30.0, "c")]
    # the int literal in 'score * 2 + 1' came back as the committed double
    assert dict(t.read(spark).dtypes)["score"] == "double"
    # file pruning: append #2 had no matches, its files are carried
    assert any(f in set(t.snapshot().files) for f in carried)
    with pytest.raises(ValueError):
        t.update(spark, "id = 2", {"nope": "1"})


def test_update_partition_column_moves_rows_between_partitions(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "2024", "a"), (2, "2025", "b")], ["id", "yr", "v"]
    )
    t.overwrite_partitions(df, ["yr"])
    t.update(spark, "id = 1", {"yr": "'2025'"})
    out = {(r["id"], r["yr"]) for r in t.read(spark).collect()}
    assert out == {(1, "2025"), (2, "2025")}
    # the row physically moved into the 2025 hive dir
    assert any(f.startswith("yr=2025/") for f in t.snapshot().files)
    assert t.read(spark, version=0).filter("yr = '2024'").count() == 1


def test_restore_is_metadata_only_and_time_travelable(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    v0_files = set(t.snapshot().files)
    t.overwrite(spark.createDataFrame([(9, "z")], ["id", "v"]))

    v = t.restore(0)
    assert v == 2
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b")]
    # metadata only: the restored snapshot references v0's files verbatim
    assert set(t.snapshot().files) == v0_files
    # the overwrite is still in history and still readable
    assert [e["op"] for e in t.history()] == ["append", "overwrite", "restore"]
    assert _rows(t.read(spark, version=1)) == [(9, "z")]


def test_restore_refuses_after_vacuum(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    t.overwrite(spark.createDataFrame([(2, "b")], ["id", "v"]))
    t.vacuum(retention_seconds=0)  # reclaims v0's files
    with pytest.raises(FileNotFoundError):
        t.restore(0)
    with pytest.raises(ValueError):
        t.restore(99)


def test_read_by_timestamp(spark, tmp_path):
    import time as _time

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    _time.sleep(0.05)
    mid = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2, "b")], ["id", "v"]))

    assert _rows(t.read(spark, timestamp=mid)) == [(1, "a")]
    assert _rows(t.read(spark, timestamp=_time.time())) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError):
        t.read(spark, timestamp=mid - 3600)
    with pytest.raises(ValueError):
        t.read(spark, version=0, timestamp=mid)


def test_read_changes_incremental_consumption(spark, tmp_path):
    """Downstream incremental ETL: remember the last processed version,
    read only the delta — never a full re-scan (Delta streaming-source
    semantics for append-only ranges; compact commits are transparent)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))          # v0
    t.append(spark.createDataFrame([(2, "b"), (3, "c")], ["id", "v"]))  # v1
    t.compact(spark)                                                   # v2
    t.append(spark.createDataFrame([(4, "d")], ["id", "v"]))          # v3

    assert _rows(t.read_changes(spark, from_version=-1)) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    ]
    assert _rows(t.read_changes(spark, from_version=0, to_version=1)) == [
        (2, "b"), (3, "c")
    ]
    # compact in range adds nothing (layout-only)
    assert _rows(t.read_changes(spark, from_version=1, to_version=2)) == []
    assert _rows(t.read_changes(spark, from_version=2)) == [(4, "d")]
    with pytest.raises(ValueError):
        t.read_changes(spark, from_version=0, to_version=99)


def test_read_changes_refuses_rewrites_unless_opted_in(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    # one physical file, so the delete must rewrite it (carrying (2,'b'))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).coalesce(1))  # v0
    t.delete(spark, "id = 1")                                           # v1
    with pytest.raises(ValueError):
        t.read_changes(spark, from_version=0)
    # opt-in: rewritten files' rows, at-least-once
    assert _rows(t.read_changes(spark, from_version=0, allow_rewrites=True)) == [
        (2, "b")
    ]


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """Delta-style table CHECKs: carried in the log, validated on add,
    enforced on append/overwrite/merge/update; NULL passes (SQL CHECK
    three-valued logic); drop lifts enforcement; restore restores the
    constraint set with the data."""
    from bigdataingestion_spark.sinks.txlog import ConstraintViolationError

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 10.0)], "id int, score double"))
    t.add_constraint(spark, "score_pos", "score > 0")

    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(2, -1.0)], "id int, score double"))
    with pytest.raises(ConstraintViolationError):
        t.overwrite(spark.createDataFrame([(2, -1.0)], "id int, score double"))
    with pytest.raises(ConstraintViolationError):
        t.merge_upsert(
            spark,
            spark.createDataFrame([(1, -5.0)], "id int, score double"),
            keys=["id"],
        )
    with pytest.raises(ConstraintViolationError):
        t.update(spark, "id = 1", {"score": "-1.0"})
    # nothing committed by the failed writes
    assert _rows(t.read(spark)) == [(1, 10.0)]

    # NULL evaluates as pass (SQL CHECK semantics)
    t.append(spark.createDataFrame([(3, None)], "id int, score double"))
    # a valid write carries the constraint forward
    t.append(spark.createDataFrame([(4, 1.0)], "id int, score double"))
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(5, -9.0)], "id int, score double"))

    # existing data failing the CHECK refuses the add
    with pytest.raises(ConstraintViolationError):
        t.add_constraint(spark, "id_small", "id < 2")
    with pytest.raises(ValueError):
        t.add_constraint(spark, "score_pos", "score > 1")  # duplicate name

    t.drop_constraint("score_pos")
    t.append(spark.createDataFrame([(6, -2.0)], "id int, score double"))
    with pytest.raises(ValueError):
        t.drop_constraint("nope")


def test_constraints_survive_checkpoint_and_restore(spark, tmp_path):
    from bigdataingestion_spark.sinks.txlog import ConstraintViolationError

    t = TxLogTable(str(tmp_path / "t"), checkpoint_interval=3)
    t.append(spark.createDataFrame([(1,)], "id int"))          # v0
    t.add_constraint(spark, "id_pos", "id > 0")                # v1
    for i in range(2, 6):
        t.append(spark.createDataFrame([(i,)], "id int"))      # v2..v5 (ckpt at v3)
    # a fresh handle resolves from the checkpoint: constraint still enforced
    t2 = TxLogTable(str(tmp_path / "t"), checkpoint_interval=3)
    with pytest.raises(ConstraintViolationError):
        t2.append(spark.createDataFrame([(-1,)], "id int"))
    # restore to the pre-constraint version drops enforcement with the data
    t2.restore(0)
    t2.append(spark.createDataFrame([(-1,)], "id int"))
    assert sorted(r["id"] for r in t2.read(spark).collect()) == [-1, 1]


def test_compact_incremental_packs_only_small_files(spark, tmp_path):
    """Delta OPTIMIZE semantics: only files below min_file_bytes are
    bin-packed; an already-compact file carries through BY REFERENCE (the
    identical physical file stays in the snapshot — at 100 TB that is the
    difference between rewriting the fragmented 0.5% and the whole
    table). Content is invariant, metrics record the split."""
    t = TxLogTable(str(tmp_path / "t"))
    # one "big" file and three small fragments
    t.append(spark.createDataFrame([(i, "x" * 50) for i in range(500)], ["id", "pad"]).coalesce(1))
    big = set(t.snapshot().files)
    for i in range(3):
        t.append(spark.createDataFrame([(1000 + i, "y")], ["id", "pad"]).coalesce(1))
    before = _rows(t.read(spark))

    big_size = max(
        os.path.getsize(os.path.join(str(tmp_path / "t"), f)) for f in big
    )
    v = t.compact(spark, min_file_bytes=big_size)  # big file is NOT small
    assert v == 4
    snap = t.snapshot()
    assert big <= set(snap.files)  # carried by reference, not rewritten
    # the three fragments became one packed file
    assert len(snap.files) == len(big) + 1
    m = t.history()[-1]["op_metrics"]
    assert m["files_compacted"] == 3 and m["files_carried"] == len(big)
    assert _rows(t.read(spark)) == before

    # nothing left to pack: a re-run is a no-op, no new commit
    assert t.compact(spark, min_file_bytes=big_size) == v
    assert t.version() == v

    # full=True still rewrites everything (the ZORDER path's shape)
    v2 = t.compact(spark, full=True)
    assert v2 == v + 1
    assert not (big & set(t.snapshot().files))
    assert _rows(t.read(spark)) == before


def test_convert_from_parquet_flat(spark, tmp_path):
    """CONVERT TO DELTA shape: adopt an existing plain-parquet dir with a
    metadata-only commit — files referenced in place, footer stats
    harvested, full ACID surface afterwards."""
    src = str(tmp_path / "plain")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], ["id", "v"]
    ).repartition(2).write.parquet(src)
    before = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )

    t = TxLogTable.convert_from_parquet(spark, src)
    assert t.version() == 0
    assert t.history()[0]["op"] == "convert"
    assert sorted(t.snapshot().files) == before  # in place, no rewrite
    assert t.snapshot().file_stats  # footer stats harvested
    assert _rows(t.read(spark).select("id")) == [(i,) for i in range(10)]

    # the adopted table is fully transactional from here on
    t.append(spark.createDataFrame([(99, "z")], ["id", "v"]))
    t.delete(spark, "id = 0")
    assert t.read(spark).count() == 10
    assert t.read(spark, version=0).count() == 10  # time travel to adoption

    with pytest.raises(ValueError, match="already a txlog table"):
        TxLogTable.convert_from_parquet(spark, src)


def test_convert_from_parquet_partitioned(spark, tmp_path):
    src = str(tmp_path / "hive")
    spark.createDataFrame(
        [(i, 2024 + i % 2, f"v{i}") for i in range(8)], ["id", "yr", "v"]
    ).write.partitionBy("yr").parquet(src)

    t = TxLogTable.convert_from_parquet(spark, src)
    snap = t.snapshot()
    assert snap.partition_cols == ("yr",)
    assert t.read(spark).count() == 8
    assert set(r.yr for r in t.read(spark).collect()) == {2024, 2025}
    # partition-aware DML keeps working on the adopted layout (cast to
    # the inferred partition type — Spark infers yr as int)
    t.overwrite_partitions(
        spark.createDataFrame([(100, 2024, "new")], ["id", "yr", "v"])
        .selectExpr("id", "cast(yr as int) yr", "v"),
        ["yr"],
    )
    got = _rows(t.read(spark).select("id", "yr"))
    assert (100, 2024) in got
    assert all(yr != 2024 or i == 100 for i, yr in got)

    # explicit partition_cols must match the detected hive layout
    src2 = str(tmp_path / "hive2")
    spark.createDataFrame([(1, 2024, "a")], ["id", "yr", "v"]).write.partitionBy(
        "yr"
    ).parquet(src2)
    with pytest.raises(ValueError, match="detected"):
        TxLogTable.convert_from_parquet(spark, src2, partition_cols=["nope"])
