"""Incremental materialized aggregate views (sinks/matview.py).

The contract under test: after any DML sequence on the source,
``refresh()`` leaves the view EQUAL to a from-scratch aggregation of the
current source snapshot — additively (O(|changes|), source never read)
when all aggregates are count/sum/avg, by affected-group recompute when
min/max are present — with exactly-once refresh under the
txn-id-recovered cursor and SQL NULL semantics preserved.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdataingestion_spark.sinks.matview import (
    IncrementalAggView,
    MatviewDefinitionError,
)
from bigdataingestion_spark.sinks.txlog import TxLogTable


def _source(spark, tmp_path, rows=None):
    t = TxLogTable(str(tmp_path / "src"))
    rows = rows if rows is not None else [
        (i, f"g{i % 3}", float(i)) for i in range(1, 31)
    ]
    t.append(spark.createDataFrame(rows, "id long, grp string, val double"))
    t.alter_properties({"cdf.enabled": "true"})
    return t


def _additive(spark, tmp_path, src):
    return IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {
            "n": ("count", "1"),
            "s": ("sum", "val"),
            "a": ("avg", "val"),
        },
    )


def _rows(df, cols):
    out = {}
    for r in df.collect():
        out[r["grp"]] = tuple(
            round(r[c], 6) if isinstance(r[c], float) else r[c] for c in cols
        )
    return out


def _oracle(spark, src, aggs):
    return _rows(
        src.read(spark).groupBy("grp").agg(
            *[e.alias(n) for n, e in aggs.items()]
        ),
        list(aggs),
    )


def _add_oracle():
    # built lazily: Column constructors need an active SparkContext
    return {
        "n": F.count(F.lit(1)),
        "s": F.sum("val"),
        "a": F.avg("val"),
    }


def test_additive_refresh_matches_full_recompute(spark, tmp_path):
    """Insert + in-group update + group-vanishing delete + brand-new
    group, one window: the additive view equals a from-scratch GROUP BY
    of the final source."""
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    src.append(
        spark.createDataFrame(
            [(100, "g0", 50.0), (101, "g3", 7.0)],
            "id long, grp string, val double",
        )
    )
    src.update(spark, "id % 10 = 0", {"val": "val * 2"})
    src.delete(spark, "grp = 'g2'")
    mv.refresh(spark)
    got = _rows(mv.read(spark), ["n", "s", "a"])
    assert got == _oracle(spark, src, _add_oracle())
    assert "g2" not in got  # vanished group's row deleted
    assert got["g3"] == (1, 7.0, 7.0)  # new group inserted


def test_additive_multiple_windows(spark, tmp_path):
    """Each refresh applies exactly its own window; three windows in
    sequence stay equal to the from-scratch aggregate."""
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    src.update(spark, "id <= 5", {"val": "val + 100"})
    assert mv.refresh(spark) == src.version()
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )
    src.delete(spark, "id % 2 = 0")
    src.append(
        spark.createDataFrame(
            [(500, "g1", 9.0)], "id long, grp string, val double"
        )
    )
    assert mv.refresh(spark) == src.version()
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


def test_additive_never_reads_source(spark, tmp_path):
    """The additive cost claim, structurally: refresh never calls
    source.read — deltas come from the CDF alone. rebuild_ratio=None
    pins the incremental path: at this toy scale the update's rewrite
    churn exceeds the table's bytes, so the (correct, r11) cost-based
    fallback would otherwise legitimately choose build() — which reads
    the source by design (see test_churn_heavy_window_triggers_rebuild
    in test_matview_join.py)."""
    import unittest.mock as mock

    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.rebuild_ratio = None
    mv.build(spark)
    src.update(spark, "id % 3 = 0", {"val": "val + 1"})
    boom = AssertionError("additive refresh must not read source")
    # read() guards a direct source scan; _stats_candidates is the
    # recompute path's first step, so mocking it catches a silent
    # fallback to recompute (whose scan goes through _read_files, which
    # can NOT be mocked here — read_cdf's window read shares it)
    with mock.patch.object(src, "read", side_effect=boom), \
         mock.patch.object(src, "_stats_candidates", side_effect=boom):
        mv.refresh(spark)
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


def test_sum_null_semantics_through_transitions(spark, tmp_path):
    """A group whose values are all NULL reports NULL sum/avg (SQL
    semantics), including TRANSITIONS: gaining its first non-null value
    and losing its last one again."""
    rows = [(1, "g0", None), (2, "g0", None), (3, "g1", 5.0)]
    src = _source(spark, tmp_path, rows)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    got = _rows(mv.read(spark), ["n", "s", "a"])
    assert got["g0"] == (2, None, None)
    src.append(
        spark.createDataFrame(
            [(4, "g0", 8.0)], "id long, grp string, val double"
        )
    )
    mv.refresh(spark)
    assert _rows(mv.read(spark), ["n", "s", "a"])["g0"] == (3, 8.0, 8.0)
    src.delete(spark, "id = 4")
    mv.refresh(spark)
    got = _rows(mv.read(spark), ["n", "s", "a"])
    assert got["g0"] == (2, None, None)  # back to all-NULL: sum NULL, not 0
    assert got == _oracle(spark, src, _add_oracle())


def test_minmax_recompute_after_extreme_delete(spark, tmp_path):
    """Deleting the current max is the canonical non-additive case: the
    recompute path re-derives affected groups from the source and the
    max DROPS; a fully-deleted group vanishes."""
    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {"mx": ("max", "val"), "mn": ("min", "val"), "n": ("count", "1")},
    )
    assert not mv.additive
    mv.build(spark)
    before = _rows(mv.read(spark), ["mx", "mn", "n"])
    src.delete(spark, "val >= 25")  # removes every group's top values
    src.delete(spark, "grp = 'g1'")
    mv.refresh(spark)
    got = _rows(mv.read(spark), ["mx", "mn", "n"])
    oracle = _oracle(
        spark,
        src,
        {"mx": F.max("val"), "mn": F.min("val"), "n": F.count(F.lit(1))},
    )
    assert got == oracle
    assert got["g0"][0] < before["g0"][0]  # max genuinely lowered
    assert "g1" not in got


def test_refresh_noop_when_source_unchanged(spark, tmp_path):
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    v_view = mv.view.version()
    assert mv.refresh(spark) == src.version()
    assert mv.view.version() == v_view  # no commit written


def test_crash_recovered_cursor_never_double_applies(spark, tmp_path):
    """The exactly-once story: a refresh whose MERGE committed but whose
    cursor-property advance was lost (simulated by rewinding the
    property) must NOT re-apply the window — the committed txn id
    recovers the cursor, and the next window starts after it."""
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    src.update(spark, "id <= 10", {"val": "val + 1000"})
    applied_to = mv.refresh(spark)
    # simulate the crash: rewind the property as if alter_properties
    # never ran; the merge txn id matview.cursor.<applied_to> remains
    mv.view.alter_properties(
        {"matview.source.version": str(applied_to - 1)}
    )
    assert mv.refresh(spark) == applied_to  # recovered, no-op
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )
    # and a LATER window starts after the recovered cursor, not the
    # rewound property (double-applying +1000 would be visible)
    mv.view.alter_properties(
        {"matview.source.version": str(applied_to - 1)}
    )
    src.delete(spark, "id = 1")
    mv.refresh(spark)
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


def test_definition_mismatch_refuses(spark, tmp_path):
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    other = IncrementalAggView(
        src, str(tmp_path / "mv"), ["grp"], {"n": ("count", "1")}
    )
    with pytest.raises(MatviewDefinitionError, match="different"):
        other.refresh(spark)
    with pytest.raises(MatviewDefinitionError, match="different"):
        other.read(spark)


def test_pending_rebuild_refuses_refresh(spark, tmp_path):
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    mv.view.alter_properties({"matview.rebuild.pending": "true"})
    with pytest.raises(MatviewDefinitionError, match="interrupted"):
        mv.refresh(spark)
    # build() clears the flag and re-anchors
    mv.build(spark)
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


def test_rebuild_reanchors_and_keeps_refreshing(spark, tmp_path):
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    src.delete(spark, "id < 5")
    mv.build(spark)  # rebuild instead of refresh
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )
    src.update(spark, "id = 20", {"val": "0.0"})
    mv.refresh(spark)  # incremental continues from the rebuild's anchor
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


def test_null_group_key_refused(spark, tmp_path):
    src = _source(
        spark, tmp_path, [(1, None, 1.0), (2, "g0", 2.0)]
    )
    mv = _additive(spark, tmp_path, src)
    with pytest.raises(ValueError, match="NULL group key"):
        mv.build(spark)


def test_bad_definitions_rejected(spark, tmp_path):
    src = _source(spark, tmp_path)
    with pytest.raises(ValueError, match="unsupported aggregate"):
        IncrementalAggView(
            src, str(tmp_path / "m1"), ["grp"], {"x": ("median", "val")}
        )
    with pytest.raises(ValueError, match="identifier"):
        IncrementalAggView(
            src, str(tmp_path / "m2"), ["grp"], {"bad name": ("sum", "val")}
        )
    with pytest.raises(ValueError, match="collides"):
        IncrementalAggView(
            src, str(tmp_path / "m3"), ["grp"], {"grp": ("sum", "val")}
        )
    with pytest.raises(ValueError, match="at least one"):
        IncrementalAggView(src, str(tmp_path / "m4"), [], {"n": ("count", "1")})
    # group columns are interpolated into merge SQL — same identifier
    # rule as aggregate names (r10 second review pass)
    with pytest.raises(ValueError, match="identifier"):
        IncrementalAggView(
            src, str(tmp_path / "m5"), ["order status"], {"n": ("count", "1")}
        )
    with pytest.raises(ValueError, match="identifier"):
        IncrementalAggView(
            src, str(tmp_path / "m6"), ["a.b"], {"n": ("count", "1")}
        )


def test_read_before_build_raises(spark, tmp_path):
    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    with pytest.raises(FileNotFoundError, match="build"):
        mv.read(spark)
    with pytest.raises(FileNotFoundError, match="build"):
        mv.refresh(spark)


def test_minmax_recompute_prunes_scan_by_affected_bounds(spark, tmp_path):
    """The recompute path stats-prunes the source scan to files that can
    hold an affected group (r10 second review follow-up): on a
    key-clustered multi-file layout, a window touching one group still
    recomputes exactly, a window touching only since-deleted groups
    leaves an exact view, and the candidate set really shrinks."""
    src = TxLogTable(str(tmp_path / "src"))
    # three key-disjoint files: g0 | g1 | g2
    for g, base in (("g0", 0), ("g1", 100), ("g2", 200)):
        src.append(
            spark.createDataFrame(
                [(base + i, g, float(base + i)) for i in range(5)],
                "id long, grp string, val double",
            ).coalesce(1)
        )
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {"mx": ("max", "val"), "n": ("count", "1")},
    )
    mv.build(spark)
    src.delete(spark, "grp = 'g1' AND val >= 103")  # touches ONE group
    # the pruning machinery itself: only g1's file is a candidate
    snap = src.snapshot()
    aff = spark.createDataFrame([("g1",)], ["grp"])
    cand = src._stats_candidates(
        snap, src._source_key_bounds(aff, ["grp"]), ["grp"], False
    )
    assert len(cand) < len(snap.files)
    mv.refresh(spark)
    got = _rows(mv.read(spark), ["mx", "n"])
    oracle = _oracle(
        spark, src, {"mx": F.max("val"), "n": F.count(F.lit(1))}
    )
    assert got == oracle and got["g1"] == (102.0, 3)
    # a window that only VANISHES a group (empty candidate scan path)
    src.delete(spark, "grp = 'g2'")
    mv.refresh(spark)
    got = _rows(mv.read(spark), ["mx", "n"])
    assert got == _oracle(
        spark, src, {"mx": F.max("val"), "n": F.count(F.lit(1))}
    )
    assert "g2" not in got


def test_minmax_insert_only_window_is_additive(spark, tmp_path):
    """Append-only windows keep even min/max views source-read-free: the
    metadata proof sees pure adds, extremes fold with greatest/least,
    and the result equals a from-scratch aggregate — including a NULL
    delta keeping the stored extreme and a new all-NULL group."""
    import unittest.mock as mock

    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {"mx": ("max", "val"), "mn": ("min", "val"), "n": ("count", "1")},
    )
    mv.build(spark)
    src.append(
        spark.createDataFrame(
            [
                (100, "g0", 999.0),   # new max for g0
                (101, "g1", -5.0),    # new min for g1
                (102, "g2", None),    # NULL: extremes unchanged
                (103, "g9", None),    # brand-new all-NULL group
            ],
            "id long, grp string, val double",
        )
    )
    boom = AssertionError("insert-only min/max refresh must not read source")
    # read() guards a direct scan; _stats_candidates guards a silent
    # fallback to the recompute path (its first step — the pruned scan
    # itself shares _read_files with read_cdf, so that can't be mocked)
    with mock.patch.object(src, "read", side_effect=boom), \
         mock.patch.object(src, "_stats_candidates", side_effect=boom):
        mv.refresh(spark)
    got = _rows(mv.read(spark), ["mx", "mn", "n"])
    assert got == _oracle(
        spark,
        src,
        {"mx": F.max("val"), "mn": F.min("val"), "n": F.count(F.lit(1))},
    )
    assert got["g0"][0] == 999.0 and got["g1"][1] == -5.0
    assert got["g9"] == (None, None, 1)


def test_minmax_delete_window_still_recomputes(spark, tmp_path):
    """A window containing ANY delete fails the insert-only proof and
    falls back to affected-group recompute — appending then deleting the
    new max in one window must not leave the folded (stale) extreme."""
    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {"mx": ("max", "val"), "n": ("count", "1")},
    )
    mv.build(spark)
    src.append(
        spark.createDataFrame(
            [(100, "g0", 999.0)], "id long, grp string, val double"
        )
    )
    src.delete(spark, "id = 100")  # the appended max is gone again
    mv.refresh(spark)
    got = _rows(mv.read(spark), ["mx", "n"])
    assert got == _oracle(
        spark, src, {"mx": F.max("val"), "n": F.count(F.lit(1))}
    )
    assert got["g0"][0] < 999.0  # folding would have kept 999


def test_insert_only_proof_is_metadata_only(spark, tmp_path):
    """window_is_insert_only judges commit entries, not data: appends
    and compaction pass; any remove/DV/non-insert change map fails; and
    a SCHEMA CHANGE inside the window fails too (mixed schemas would
    NULL-pad one side of read_cdf's union and feed the monotone fold
    NULLs where a renamed/dropped column held data)."""
    src = _source(spark, tmp_path)
    v0 = src.version()
    src.append(
        spark.createDataFrame(
            [(50, "g0", 1.0)], "id long, grp string, val double"
        )
    )
    assert src.window_is_insert_only(v0, src.version())
    src.compact(spark)  # layout-only: exempt
    assert src.window_is_insert_only(v0, src.version())
    v1 = src.version()
    src.enable_column_mapping()  # schema serialization changes
    src.append(
        spark.createDataFrame(
            [(51, "g0", 3.0)], "id long, grp string, val double"
        )
    )
    # a window whose DATA commits span both schemas: refused — their
    # CDF parts would union under mixed schemas (the NULL-pad hazard)
    assert not src.window_is_insert_only(v0, src.version())
    # a window where the schema change precedes every data commit is
    # SOUND to pass: metadata commits emit no CDF part, so all parts
    # carry one schema — a view definition naming a column the change
    # removed fails loudly at the delta aggregation, never silently
    assert src.window_is_insert_only(v1, src.version())
    src.delete(spark, "id = 50")
    assert not src.window_is_insert_only(v1 + 1, src.version())


def test_approx_distinct_additive_equals_rebuild(spark, tmp_path):
    """approx_distinct views: insert-only windows union HLL sketches
    additively (source-read-free) and land the EXACT estimate a full
    rebuild computes (register-max union is order-independent); small
    cardinalities make the estimate exact, so it also equals
    countDistinct."""
    import unittest.mock as mock

    rows = [(i, f"g{i % 2}", f"u{i % 7}") for i in range(1, 29)]
    src = TxLogTable(str(tmp_path / "src2"))
    src.append(
        spark.createDataFrame(rows, "id long, grp string, u string")
    )
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv2"),
        ["grp"],
        {"users": ("approx_distinct", "u"), "n": ("count", "1")},
    )
    assert not mv.additive  # sketches are insert-only-additive
    mv.build(spark)
    src.append(
        spark.createDataFrame(
            [(100, "g0", "u-new"), (101, "g2", "u1"), (102, "g2", None)],
            "id long, grp string, u string",
        )
    )
    boom = AssertionError("insert-only sketch refresh must not read source")
    with mock.patch.object(src, "read", side_effect=boom), \
         mock.patch.object(src, "_stats_candidates", side_effect=boom):
        mv.refresh(spark)
    got = _rows(mv.read(spark), ["users", "n"])
    # rebuild into a second view: estimates must MATCH the additive ones
    mv2 = IncrementalAggView(
        src,
        str(tmp_path / "mv3"),
        ["grp"],
        {"users": ("approx_distinct", "u"), "n": ("count", "1")},
    )
    mv2.build(spark)
    assert got == _rows(mv2.read(spark), ["users", "n"])
    # and at this cardinality the estimate is exact
    exact = _oracle(
        spark, src,
        {"users": F.countDistinct("u"), "n": F.count(F.lit(1))},
    )
    assert got == exact
    assert got["g0"] == (8, 15)  # u0..u6 + u-new
    assert got["g2"] == (1, 2)  # NULL ignored by distinct, counted by n


def test_approx_distinct_delete_window_recomputes(spark, tmp_path):
    """A delete window rebuilds the affected groups' sketches from the
    source — removing the only row carrying a value must DROP it from
    the distinct estimate (a fold could never subtract it)."""
    src = TxLogTable(str(tmp_path / "src"))
    src.append(
        spark.createDataFrame(
            [(1, "g0", "a"), (2, "g0", "b"), (3, "g0", "b")],
            "id long, grp string, u string",
        )
    )
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src, str(tmp_path / "mv"), ["grp"],
        {"users": ("approx_distinct", "u")},
    )
    mv.build(spark)
    assert _rows(mv.read(spark), ["users"])["g0"] == (2,)
    src.delete(spark, "id = 1")  # the only 'a'
    mv.refresh(spark)
    assert _rows(mv.read(spark), ["users"])["g0"] == (1,)


# ------------------------------------------------------------------ #
# time-travel interaction (r11): RESTORE / VACUUM across the cursor  #
# ------------------------------------------------------------------ #


def test_restore_in_window_raises_with_rebuild_hint(spark, tmp_path):
    """A RESTORE commit inside the refresh window is unreplayable (its
    logical diff spans arbitrary history — read_cdf refuses it); refresh
    must surface that LOUDLY with the build() hint and must NOT advance
    the view — a silent skip would desynchronize the additive state
    forever."""
    from bigdataingestion_spark.sinks.matview import (
        MatviewWindowUnreadableError,
    )

    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.rebuild_ratio = None  # pin the incremental path: the fallback
    # would LEGITIMATELY heal a churn-heavy restore window via build()
    mv.build(spark)
    before = _rows(mv.read(spark), ["n", "s", "a"])
    src.delete(spark, "id <= 3")
    src.restore(src.version() - 1)  # undo the delete
    with pytest.raises(MatviewWindowUnreadableError, match="build\\(\\)"):
        mv.refresh(spark)
    # untouched: same state, same cursor — and build() heals
    assert _rows(mv.read(spark), ["n", "s", "a"]) == before
    mv.build(spark)
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )
    src.append(
        spark.createDataFrame(
            [(600, "g0", 6.0)], "id long, grp string, val double"
        )
    )
    mv.refresh(spark)  # incremental resumes past the restore
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


def test_vacuumed_window_raises_with_rebuild_hint(spark, tmp_path):
    """Change files vacuumed out from under the cursor window: refresh
    must raise (never silently skip the lost changes), leave the view
    untouched, and build() must re-anchor it."""
    from bigdataingestion_spark.sinks.matview import (
        MatviewWindowUnreadableError,
    )

    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.rebuild_ratio = None
    mv.build(spark)
    before = _rows(mv.read(spark), ["n", "s", "a"])
    src.delete(spark, "id % 2 = 0")  # materializes _cdf delete rows
    src.compact(spark)  # rewrites layout so the deleted-window files age out
    src.vacuum(retention_seconds=0.0)
    with pytest.raises(MatviewWindowUnreadableError, match="build\\(\\)"):
        mv.refresh(spark)
    assert _rows(mv.read(spark), ["n", "s", "a"]) == before
    mv.build(spark)
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


# ------------------------------------------------------------------ #
# filtered views (r11): WHERE predicate on the view definition       #
# ------------------------------------------------------------------ #


def _flt_oracle(spark, src, where):
    return _rows(
        src.read(spark).filter(where).groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
        ),
        ["n", "s"],
    )


def test_filtered_view_tracks_boundary_crossing_updates(spark, tmp_path):
    """A WHERE'd view under updates that move rows ACROSS the predicate
    boundary in both directions: the change-row filter nets exactly (a
    passing preimage is -1, a failing postimage adds nothing), and the
    view equals a from-scratch filtered aggregation after every
    window."""
    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src, str(tmp_path / "mv"), ["grp"],
        {"n": ("count", "1"), "s": ("sum", "val")},
        rebuild_ratio=None,
        where="val < 20",
    )
    mv.build(spark)
    assert _rows(mv.read(spark), ["n", "s"]) == _flt_oracle(
        spark, src, "val < 20"
    )
    # push some in-rows out and some out-rows in, plus inserts each side
    src.update(spark, "id <= 5", {"val": "val + 100"})   # leave the view
    src.update(spark, "id >= 25", {"val": "val - 25"})   # enter the view
    src.append(
        spark.createDataFrame(
            [(500, "g0", 3.0), (501, "g1", 999.0)],
            "id long, grp string, val double",
        )
    )
    src.delete(spark, "id % 7 = 0")
    mv.refresh(spark)
    assert _rows(mv.read(spark), ["n", "s"]) == _flt_oracle(
        spark, src, "val < 20"
    )
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 1  # incremental, not rebuilt


def test_filtered_minmax_recompute_and_insert_only_fold(spark, tmp_path):
    """Min/max + WHERE: the recompute scan applies the filter (a delete
    of the in-filter max drops it to the next IN-FILTER value, never to
    an excluded row's), and the insert-only fold filters the appended
    rows without reading the source back."""
    import unittest.mock as mock

    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src, str(tmp_path / "mv"), ["grp"],
        {"mx": ("max", "val"), "n": ("count", "1")},
        rebuild_ratio=None,
        where="val <= 25",
    )
    mv.build(spark)

    def oracle():
        return _rows(
            src.read(spark).filter("val <= 25").groupBy("grp").agg(
                F.max("val").alias("mx"), F.count(F.lit(1)).alias("n")
            ),
            ["mx", "n"],
        )

    # insert-only window: one row inside the filter, one outside
    src.append(
        spark.createDataFrame(
            [(600, "g0", 24.5), (601, "g0", 9e9)],
            "id long, grp string, val double",
        )
    )
    boom = AssertionError("insert-only filtered refresh must not scan")
    with mock.patch.object(src, "read", side_effect=boom), \
         mock.patch.object(src, "_stats_candidates", side_effect=boom):
        mv.refresh(spark)
    got = _rows(mv.read(spark), ["mx", "n"])
    assert got == oracle()
    assert got["g0"][0] == 24.5  # the 9e9 row never entered
    src.delete(spark, "val = 24.5")  # in-filter max gone -> recompute
    mv.refresh(spark)
    assert _rows(mv.read(spark), ["mx", "n"]) == oracle()


def test_where_is_part_of_the_definition(spark, tmp_path):
    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src, str(tmp_path / "mv"), ["grp"], {"n": ("count", "1")},
        where="val < 20",
    )
    mv.build(spark)
    other = IncrementalAggView(
        src, str(tmp_path / "mv"), ["grp"], {"n": ("count", "1")},
        where="val < 10",
    )
    with pytest.raises(MatviewDefinitionError):
        other.refresh(spark)


def test_unfiltered_definition_format_is_unchanged(spark, tmp_path):
    """Backward compat: an UNFILTERED view's stored definition carries
    no "where" key (exact-string compare — views persisted before the
    filter feature must keep refreshing without a rebuild)."""
    import json as _json

    src = _source(spark, tmp_path)
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    stored = _json.loads(
        mv.view.snapshot().properties["matview.definition"]
    )
    assert "where" not in stored
    src.append(
        spark.createDataFrame(
            [(700, "g0", 1.0)], "id long, grp string, val double"
        )
    )
    mv.refresh(spark)  # still accepted
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )


# ------------------------------------------------- "sql" aggregates --
def test_sql_aggregate_median_through_dml(spark, tmp_path):
    """("sql", percentile(...)) maintains an exact median through
    append + update + delete windows — recompute-only, equal to a
    from-scratch aggregation after every refresh."""
    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {
            "n": ("count", "1"),
            "med": ("sql", "percentile(val, 0.5)"),
            "sd": ("sql", "stddev_pop(val)"),
        },
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(
        spark.createDataFrame(
            [(200, "g0", 3.5), (201, "g5", 9.0)],
            "id long, grp string, val double",
        )
    )
    mv.refresh(spark)
    src.update(spark, "id % 4 = 0", {"val": "val * 3"})
    src.delete(spark, "grp = 'g1'")
    mv.refresh(spark)
    want = _oracle(
        spark,
        src,
        {
            "n": F.count(F.lit(1)),
            "med": F.expr("percentile(val, 0.5)"),
            "sd": F.stddev_pop("val"),
        },
    )
    assert _rows(mv.read(spark), ["n", "med", "sd"]) == want


def test_sql_aggregate_insert_only_still_recomputes(spark, tmp_path):
    """A percentile can't fold: even a pure-append window routes to the
    affected-group recompute (the insert-only fold would corrupt it)."""
    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {"med": ("sql", "percentile(val, 0.5)")},
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(
        spark.createDataFrame(
            [(300, "g0", 100.0)], "id long, grp string, val double"
        )
    )
    mv.refresh(spark)
    assert mv.last_recompute_files is not None  # recompute path ran
    want = _oracle(spark, src, {"med": F.expr("percentile(val, 0.5)")})
    assert _rows(mv.read(spark), ["med"]) == want


def test_sql_aggregate_all_null_group_yields_null(spark, tmp_path):
    rows = [(1, "g0", None), (2, "g0", None), (3, "g1", 4.0)]
    src = _source(spark, tmp_path, rows)
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        ["grp"],
        {"med": ("sql", "percentile(val, 0.5)")},
        rebuild_ratio=None,
    )
    mv.build(spark)
    got = {r["grp"]: r["med"] for r in mv.read(spark).collect()}
    assert got == {"g0": None, "g1": 4.0}


def test_sql_aggregate_non_aggregate_expr_fails_loudly(spark, tmp_path):
    from pyspark.errors import AnalysisException

    src = _source(spark, tmp_path)
    mv = IncrementalAggView(
        src,
        str(tmp_path / "mv2"),
        ["grp"],
        {"bad": ("sql", "val + 1")},
    )
    with pytest.raises(AnalysisException):
        mv.build(spark)


def test_refresh_of_few_groups_commits_at_most_parallelism_files(spark, tmp_path):
    """Persisted plans coalesce (session.get_spark): a refresh whose
    window moves ~15 groups stages its view rows from small persisted
    frames, and AQE coalesces those like any other shuffle. With the
    shuffle-partition count kept, the write would stage up to one file
    per non-empty shuffle partition."""
    src = _source(
        spark, tmp_path,
        rows=[(i, f"g{i % 60:02d}", float(i)) for i in range(600)],
    )
    mv = _additive(spark, tmp_path, src)
    mv.build(spark)
    src.merge_upsert(
        spark,
        spark.createDataFrame(
            [(i, f"g{i:02d}", -1.0) for i in range(15)],  # 15 groups
            "id long, grp string, val double",
        ),
        keys=["id"],
    )
    mv.refresh(spark)
    refresh = mv.view.history()[-1]
    assert refresh["op"] == "merge"
    assert 0 < len(refresh["add"]) <= spark.sparkContext.defaultParallelism
    assert _rows(mv.read(spark), ["n", "s", "a"]) == _oracle(
        spark, src, _add_oracle()
    )
