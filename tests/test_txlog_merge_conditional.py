"""Conditional MERGE (sinks/txlog.py Table.merge + sinks/merge_clauses):
Delta's full MergeBuilder surface — ordered WHEN MATCHED UPDATE/DELETE,
WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE UPDATE/DELETE with
per-clause conditions — generalizing the reference's fixed merge shapes
(ING:366-415)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataingestion_spark.sinks.merge_clauses import (
    MergeCardinalityError,
    MergeClauseError,
    when_matched_delete,
    when_matched_update,
    when_not_matched_by_source_delete,
    when_not_matched_by_source_update,
    when_not_matched_insert,
)
from bigdataingestion_spark.sinks.txlog import (
    ConstraintViolationError,
    TxLogTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _base(spark, tmp_path, name="t"):
    t = TxLogTable(str(tmp_path / name))
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "v", "n"]
        )
    )
    return t


def test_classic_upsert_via_clauses(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame([(2, "B", 99), (4, "d", 40)], ["id", "v", "n"])
    t.merge(
        spark, src, ["id"],
        [when_matched_update(), when_not_matched_insert()],
    )
    assert _rows(t.read(spark)) == [
        (1, "a", 10), (2, "B", 99), (3, "c", 30), (4, "d", 40),
    ]
    m = t.history()[-1]["op_metrics"]
    assert m["rows_updated"] == 1 and m["rows_inserted"] == 1
    assert m["rows_deleted"] == 0


def test_clause_order_first_hit_wins_and_conditions_gate(spark, tmp_path):
    """Also pins an update-only merge (a left join): the source-only key
    9 changes nothing."""
    t = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "x", 5), (2, "y", 200), (3, "z", 30), (9, "q", 1)],
        ["id", "v", "n"],
    )
    t.merge(
        spark, src, ["id"],
        [
            # first clause: source n bigger -> take source value
            when_matched_update(
                set={"v": "s.v", "n": "s.n"}, condition="s.n > t.n"
            ),
            # second: otherwise mark the row stale, keep target n
            when_matched_update(set={"v": "concat(t.v, '!')"}),
        ],
    )
    assert _rows(t.read(spark)) == [
        (1, "a!", 10),  # s.n=5 < 10: second clause
        (2, "y", 200),  # s.n=200 > 20: first clause
        (3, "c!", 30),  # s.n=30 == 30: second clause (strict >)
    ]
    m = t.history()[-1]["op_metrics"]
    assert (m["rows_updated"], m["rows_inserted"]) == (3, 0)


def test_matched_delete_with_condition(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame([(1,), (2,)], ["id"])
    t.merge(
        spark, src, ["id"],
        [when_matched_delete(condition="t.n < 15")],
    )
    # only id=1 (n=10) deleted; id=2 matched but condition false -> carry
    assert _rows(t.read(spark).select("id")) == [(2,), (3,)]
    m = t.history()[-1]["op_metrics"]
    assert m["rows_deleted"] == 1 and m["rows_updated"] == 0


def test_by_source_update_and_delete(spark, tmp_path):
    """The 'expire what the feed stopped mentioning' clauses: target rows
    whose key the source does NOT carry."""
    t = _base(spark, tmp_path)
    src = spark.createDataFrame([(1, "A", 10)], ["id", "v", "n"])
    t.merge(
        spark, src, ["id"],
        [
            when_matched_update(),
            when_not_matched_by_source_update(
                set={"v": "concat(t.v, '-stale')"}, condition="n >= 30"
            ),
            when_not_matched_by_source_delete(condition="n < 30"),
        ],
    )
    # id=1 updated from source; id=2 (n=20) deleted; id=3 (n=30) marked
    assert _rows(t.read(spark)) == [(1, "A", 10), (3, "c-stale", 30)]


def test_insert_only_merge_ignores_unmatched_targets(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [(3, "dup", 0), (5, "e", 50), (6, "f", 0)], ["id", "v", "n"]
    )
    t.merge(
        spark, src, ["id"],
        [when_not_matched_insert(condition="n > 0")],
    )
    # id=3 matched -> ignored; id=5 inserted; id=6 fails the condition
    assert _rows(t.read(spark).select("id")) == [(1,), (2,), (3,), (5,)]


def test_insert_values_and_update_set_expressions(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame([(2, 7), (9, 9)], ["id", "delta"])
    t.merge(
        spark, src, ["id"],
        [
            when_matched_update(set={"n": "t.n + s.delta"}),
            when_not_matched_insert(
                values={"id": "s.id", "v": "'new'", "n": "s.delta * 10"}
            ),
        ],
    )
    assert _rows(t.read(spark)) == [
        (1, "a", 10), (2, "b", 27), (3, "c", 30), (9, "new", 90),
    ]


def test_cardinality_error_with_matched_clauses(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "x", 1), (2, "y", 2)], ["id", "v", "n"]
    )
    with pytest.raises(MergeCardinalityError):
        t.merge(spark, src, ["id"], [when_matched_update()])
    # insert-only merges tolerate duplicate source keys (both insert)
    src2 = spark.createDataFrame(
        [(7, "x", 1), (7, "y", 2)], ["id", "v", "n"]
    )
    t.merge(spark, src2, ["id"], [when_not_matched_insert()])
    assert t.read(spark).filter("id = 7").count() == 2


def test_null_keys_never_match(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(None, "tnull"), (1, "a")], "id int, v string")
    )
    src = spark.createDataFrame([(None, "snull"), (1, "A")], "id int, v string")
    t.merge(
        spark, src, ["id"],
        [when_matched_update(), when_not_matched_insert()],
    )
    got = {tuple(r) for r in t.read(spark).collect()}
    # target NULL row untouched; source NULL row INSERTED (matched nothing)
    assert (None, "tnull") in got and (None, "snull") in got
    assert (1, "A") in got and len(got) == 3


def test_clause_validation_errors(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame([(1, "x", 1)], ["id", "v", "n"])
    # unconditional clause before another in the same category
    with pytest.raises(MergeClauseError, match="unconditional"):
        t.merge(
            spark, src, ["id"],
            [when_matched_update(), when_matched_delete()],
        )
    # insert condition referencing the target side
    with pytest.raises(MergeClauseError, match="bare source"):
        t.merge(
            spark, src, ["id"],
            [when_not_matched_insert(condition="t.n > 0")],
        )
    # by-source condition referencing the source side
    with pytest.raises(MergeClauseError, match="bare target"):
        t.merge(
            spark, src, ["id"],
            [when_not_matched_by_source_delete(condition="s.n > 0")],
        )
    # assignment to a column the table does not have
    with pytest.raises(MergeClauseError, match="unknown column"):
        t.merge(
            spark, src, ["id"],
            [when_matched_update(set={"nope": "1"})],
        )
    with pytest.raises(MergeClauseError, match="at least one clause"):
        t.merge(spark, src, ["id"], [])


def test_file_pruning_and_carry_semantics(spark, tmp_path):
    """A merge whose source keys live in ONE of three files rewrites only
    it; a matched row whose clause conditions all evaluate FALSE leaves
    its file carried by reference."""
    t = TxLogTable(str(tmp_path / "t"))
    for lo in (0, 10, 20):
        t.append(
            spark.createDataFrame(
                [(lo + i, "old", lo) for i in range(3)], ["id", "v", "n"]
            ).coalesce(1)
        )
    before = set(t.snapshot().files)
    t.merge(
        spark,
        spark.createDataFrame([(11, "new", 1)], ["id", "v", "n"]),
        ["id"],
        [when_matched_update(set={"v": "s.v"}, condition="s.n > 0")],
    )
    m = t.history()[-1]["op_metrics"]
    assert m["files_rewritten"] == 1 and m["files_carried"] == 2
    assert len(set(t.snapshot().files) & before) == 2
    assert t.read(spark).filter("id = 11").first()["v"] == "new"

    # same shape, but the clause condition is false for the matched row:
    # the candidate file is NOT rewritten and no commit happens
    v = t.snapshot().version
    v2 = t.merge(
        spark,
        spark.createDataFrame([(12, "x", -1)], ["id", "v", "n"]),
        ["id"],
        [when_matched_update(set={"v": "s.v"}, condition="s.n > 0")],
    )
    assert v2 == v  # no-op: no rewrite, no insert, no commit


def test_by_source_condition_prunes_files(spark, tmp_path):
    """A conditioned by-source clause goes through data skipping: files
    whose stats cannot satisfy the condition are never scanned."""
    t = TxLogTable(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, "old", lo) for i in range(3)], ["id", "v", "n"]
            ).coalesce(1)
        )
    # source mentions nothing; by-source delete only where n >= 200
    t.merge(
        spark,
        spark.createDataFrame([(999, "x", 0)], ["id", "v", "n"]),
        ["id"],
        [
            when_matched_update(),
            when_not_matched_by_source_delete(condition="n >= 200"),
        ],
    )
    m = t.history()[-1]["op_metrics"]
    assert m["rows_deleted"] == 3 and m["rows_inserted"] == 0
    assert m["files_rewritten"] == 1  # only the n=200 file
    assert t.read(spark).count() == 6


def test_schema_evolution_adds_source_columns(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "B", 20, "x2"), (5, "e", 50, "x5")], ["id", "v", "n", "extra"]
    )
    t.merge(
        spark, src, ["id"],
        [when_matched_update(), when_not_matched_insert()],
        schema_evolution=True,
    )
    got = {r["id"]: r["extra"] for r in t.read(spark).collect()}
    assert got == {1: None, 2: "x2", 3: None, 5: "x5"}

    # without evolution the extra column is ignored by SET*/INSERT* but
    # stays usable inside expressions
    t2 = _base(spark, tmp_path, "t2")
    t2.merge(
        spark, src, ["id"],
        [when_matched_update(set={"v": "s.extra"})],
    )
    assert "extra" not in t2.read(spark).columns
    assert t2.read(spark).filter("id = 2").first()["v"] == "x2"


def test_generated_columns_recomputed_never_assigned(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([], "id bigint, n bigint, bucket bigint")
    )
    t.add_generated_column(spark, "bucket", "n % 10")
    t.append(spark.createDataFrame([(1, 14), (2, 27)], ["id", "n"]))
    src = spark.createDataFrame([(1, 99), (3, 55)], ["id", "n"])
    t.merge(
        spark, src, ["id"],
        [when_matched_update(set={"n": "s.n"}), when_not_matched_insert()],
    )
    got = {r["id"]: (r["n"], r["bucket"]) for r in t.read(spark).collect()}
    assert got == {1: (99, 9), 2: (27, 7), 3: (55, 5)}
    with pytest.raises(MergeClauseError, match="generated"):
        t.merge(
            spark, src, ["id"],
            [when_matched_update(set={"bucket": "1"})],
        )


def test_constraints_checked_on_modified_rows(spark, tmp_path):
    t = _base(spark, tmp_path)
    t.add_constraint(spark, "n_pos", "n > 0")
    src = spark.createDataFrame([(2, "B", -5)], ["id", "v", "n"])
    with pytest.raises(ConstraintViolationError):
        t.merge(spark, src, ["id"], [when_matched_update()])


def test_cdf_classes_materialized(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "v", "n"]
        )
    )
    t.alter_properties({"cdf.enabled": "true"})
    src = spark.createDataFrame([(1, "A", 11), (4, "d", 40)], ["id", "v", "n"])
    v = t.merge(
        spark, src, ["id"],
        [
            when_matched_update(),
            when_not_matched_insert(),
            when_not_matched_by_source_delete(condition="n = 20"),
        ],
    )
    cdf = t.read_cdf(spark, v - 1, v)
    by_type = {
        r["_change_type"]: r["id"]
        for r in cdf.select("_change_type", "id").collect()
    }
    assert by_type["update_preimage"] == 1
    assert by_type["update_postimage"] == 1
    assert by_type["insert"] == 4
    assert by_type["delete"] == 2


def test_txn_id_replay_is_noop(spark, tmp_path):
    t = _base(spark, tmp_path)
    src = spark.createDataFrame([(1, "X", 1)], ["id", "v", "n"])
    clauses = [when_matched_update()]
    v1 = t.merge(spark, src, ["id"], clauses, txn_id="m-1")
    v2 = t.merge(spark, src, ["id"], clauses, txn_id="m-1")
    assert v1 == v2
    assert t.read(spark).filter("id = 1").count() == 1


def test_merge_on_partitioned_table(spark, tmp_path):
    """Conditional MERGE on a hive-partitioned table: rewritten rows
    re-stage into their partition dirs, inserts land in the dir their
    source values dictate, untouched partitions carry by reference."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite_partitions(
        spark.createDataFrame(
            [(1, "a", "px"), (2, "b", "py"), (3, "c", "pz")],
            ["id", "v", "p"],
        ),
        ["p"],
    )
    before = set(t.snapshot().files)
    src = spark.createDataFrame(
        [(1, "A", "px"), (9, "new", "pw")], ["id", "v", "p"]
    )
    t.merge(
        spark, src, ["id"],
        [
            when_matched_update(set={"v": "s.v"}),
            when_not_matched_insert(),
            when_not_matched_by_source_delete(condition="v = 'c'"),
        ],
    )
    got = _rows(t.read(spark))
    assert got == [(1, "A", "px"), (2, "b", "py"), (9, "new", "pw")]
    after = set(t.snapshot().files)
    # py partition untouched: carried by reference
    assert any(f in after for f in before if "p=py" in f)
    # the insert landed in a NEW hive dir
    assert any("p=pw" in f for f in after)
    m = t.history()[-1]["op_metrics"]
    assert m["rows_updated"] == 1
    assert m["rows_deleted"] == 1
    assert m["rows_inserted"] == 1


def test_merge_on_column_mapped_table_after_rename(spark, tmp_path):
    """Clause resolution lives in logical space; staging under the frozen
    physical names. A rename before the merge must not disturb either."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["id", "v", "n"])
    )
    t.enable_column_mapping()
    t.rename_column("v", "label")
    src = spark.createDataFrame([(2, "B2"), (4, "d4")], ["id", "label"])
    t.merge(
        spark, src, ["id"],
        [when_matched_update(), when_not_matched_insert()],
    )
    got = {r["id"]: r["label"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B2", 4: "d4"}
    # time travel still reads the pre-merge state under the OLD mapping
    assert t.read(spark, version=0).columns == ["id", "v", "n"]


def test_merge_does_not_resurrect_dv_masked_rows(spark, tmp_path):
    """Touched files are read under their deletion vectors: a masked row
    must not reappear in the rewrite, match the source, or fire a
    by-source clause."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, "old") for i in range(6)], ["id", "v"]
        ).coalesce(1)
    )
    t.delete(spark, "id = 3", deletion_vectors=True)
    assert t.read(spark).count() == 5
    src = spark.createDataFrame([(3, "back?")], ["id", "v"])
    t.merge(
        spark, src, ["id"],
        [
            when_matched_update(),
            when_not_matched_insert(),
            when_not_matched_by_source_update(set={"v": "'seen'"}),
        ],
    )
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    # id=3 was dv-deleted -> source row is NOT MATCHED -> inserts fresh
    assert got[3] == "back?"
    # every surviving pre-merge row fired the by-source clause exactly once
    assert all(v == "seen" for k, v in got.items() if k != 3)
    assert len(got) == 6


def test_merge_insert_cdf_carries_allocated_identity(spark, tmp_path):
    """Identity fill runs BEFORE CDF staging: the insert change rows must
    carry the allocated ids, not NULL slots."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([], "rid bigint, v string"))
    t.add_identity_column(spark, "rid")
    t.alter_properties({"cdf.enabled": "true"})
    t.append(spark.createDataFrame([("a",)], ["v"]))
    src = spark.createDataFrame([("a", "A"), ("b", "B")], ["v", "v2"])
    v = t.merge(
        spark, src, ["v"],
        [
            when_matched_update(set={"v": "s.v2"}),
            when_not_matched_insert(values={"v": "s.v2"}),
        ],
    )
    ins = (
        t.read_cdf(spark, v - 1, v)
        .filter("_change_type = 'insert'")
        .collect()
    )
    assert len(ins) == 1 and ins[0]["rid"] is not None
    table_ids = {r["rid"] for r in t.read(spark).collect()}
    assert ins[0]["rid"] in table_ids


def _stale_once(t):
    """Freeze the table handle's NEXT snapshot() call at the current
    state (the op-entry read), leaving reconcile re-snapshots live —
    the deterministic stand-in for a writer that raced."""
    stale = t.snapshot()
    real = t.snapshot
    flag = {"pending": True}

    def fake(version=None):
        if version is None and flag["pending"]:
            flag["pending"] = False
            return stale
        return real(version)

    t.snapshot = fake
    return lambda: setattr(t, "snapshot", real)


def test_merge_reconciles_over_disjoint_concurrent_append(spark, tmp_path):
    """A winner append whose key range is provably disjoint from the
    merge's source bounds reconciles: the staged merge re-commits at the
    next version, no restage."""
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    path = str(tmp_path / "t")
    t1, t2 = TxLogTable(path), TxLogTable(path)
    t1.append(
        spark.createDataFrame([(i, "old") for i in range(5)], ["id", "v"])
        .coalesce(1)
    )
    undo = _stale_once(t1)
    try:
        t2.append(
            spark.createDataFrame([(1000, "w")], ["id", "v"]).coalesce(1)
        )
        t1.merge(
            spark,
            spark.createDataFrame([(2, "new")], ["id", "v"]),
            ["id"],
            [when_matched_update()],
        )
    finally:
        undo()
    got = {r["id"]: r["v"] for r in t1.read(spark).collect()}
    assert got[2] == "new" and got[1000] == "w"


def test_merge_conflicts_with_intersecting_concurrent_rewrite(
    spark, tmp_path
):
    """A winner that REWROTE a file the merge also touches is a true
    conflict: the merge raises instead of clobbering the winner's
    output."""
    from bigdataingestion_spark.sinks.txlog import (
        ConcurrentWriteError,
        TxLogTable,
    )

    path = str(tmp_path / "t")
    t1, t2 = TxLogTable(path), TxLogTable(path)
    t1.append(
        spark.createDataFrame([(i, "old") for i in range(5)], ["id", "v"])
        .coalesce(1)
    )
    undo = _stale_once(t1)
    try:
        t2.update(spark, "id = 2", {"v": "'winner'"})
        with pytest.raises(ConcurrentWriteError):
            t1.merge(
                spark,
                spark.createDataFrame([(2, "loser")], ["id", "v"]),
                ["id"],
                [when_matched_update()],
            )
    finally:
        undo()
    # redo against the fresh snapshot applies cleanly
    t1.merge(
        spark,
        spark.createDataFrame([(2, "redo")], ["id", "v"]),
        ["id"],
        [when_matched_update()],
    )
    assert t1.read(spark).filter("id = 2").first()["v"] == "redo"


def test_unconditional_by_source_conflicts_with_any_concurrent_add(
    spark, tmp_path
):
    """An unconditional by-source clause reads the WHOLE table: under
    ``serializable`` isolation any winner-added file intersects its read
    set and conflicts. (Under the default ``write_serializable``, winner
    BLIND APPENDS are exempt by design — ingest never starves DML — so
    the appended row simply survives the by-source clause.)"""
    from bigdataingestion_spark.sinks.txlog import (
        ConcurrentWriteError,
        TxLogTable,
    )

    path = str(tmp_path / "t")
    t1, t2 = TxLogTable(path), TxLogTable(path)
    t1.append(
        spark.createDataFrame([(1, "a")], ["id", "v"]).coalesce(1)
    )
    t1.alter_properties({"isolation.level": "serializable"})
    undo = _stale_once(t1)
    try:
        t2.append(
            spark.createDataFrame([(999, "w")], ["id", "v"]).coalesce(1)
        )
        with pytest.raises(ConcurrentWriteError):
            t1.merge(
                spark,
                spark.createDataFrame([(5, "s")], ["id", "v"]),
                ["id"],
                [
                    when_matched_update(),
                    when_not_matched_by_source_delete(),
                ],
            )
    finally:
        undo()


def test_merge_schema_evolution_cdf_preimages_read_null(spark, tmp_path):
    """Evolution + CDF interplay: pre-image change rows carry the
    evolved schema with NULL for columns the old row never had; the
    post-image carries the source value."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    t.alter_properties({"cdf.enabled": "true"})
    src = spark.createDataFrame([(1, "A", "x")], ["id", "v", "extra"])
    ver = t.merge(
        spark, src, ["id"],
        [when_matched_update()],
        schema_evolution=True,
    )
    cdf = {
        r["_change_type"]: r
        for r in t.read_cdf(spark, ver - 1, ver).collect()
    }
    assert cdf["update_preimage"]["extra"] is None
    assert cdf["update_postimage"]["extra"] == "x"


def test_merge_by_source_condition_consults_stats_across_rename(
    spark, tmp_path
):
    """A by-source condition over a RENAMED column: the skipping consult
    translates logical names through the mapping, so files provably
    disjoint from the condition stay un-rewritten even though their
    parquet holds the old physical name."""
    t = TxLogTable(str(tmp_path / "t"))
    for lo in (0, 100):
        t.append(
            spark.createDataFrame(
                [(lo + i, lo) for i in range(3)], ["id", "n"]
            ).coalesce(1)
        )
    t.enable_column_mapping()
    t.rename_column("n", "amount")
    t.merge(
        spark,
        spark.createDataFrame([(999, 0)], ["id", "amount"]),
        ["id"],
        [
            when_matched_update(),
            when_not_matched_by_source_delete(condition="amount >= 100"),
        ],
    )
    m = t.history()[-1]["op_metrics"]
    assert m["rows_deleted"] == 3 and m["files_rewritten"] == 1
    assert t.read(spark).count() == 3
    assert t.read(spark).columns == ["id", "amount"]


def test_auto_compact_on_partitioned_table_packs_per_partition(
    spark, tmp_path
):
    """Auto-compaction after partitioned writes packs per hive dir (the
    compact() hash-on-partition-cols shape), never across dirs."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite_partitions(
        spark.createDataFrame([(0, "a", "p1")], ["id", "v", "p"]), ["p"]
    )
    t.alter_properties({"auto.compact.min.files": "4"})
    for i in range(1, 5):
        t.overwrite_partitions(
            spark.createDataFrame(
                [(i, "a", f"q{i}")], ["id", "v", "p"]
            ),
            ["p"],
        )
    assert t.history()[-1]["op"] == "compact"
    files = t.snapshot().files
    # one file per hive partition, each still under its own dir
    assert len(files) == 5
    assert len({f.split("/")[0] for f in files}) == 5
    assert t.read(spark).count() == 5
