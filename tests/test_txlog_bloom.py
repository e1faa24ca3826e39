"""Per-file bloom indexes (Delta's bloom-filter index): point-lookup data
skipping for merge_upsert/delete_matching finding scans on
high-cardinality UNCLUSTERED keys, where every file's [min, max] spans
the key space and range stats prove nothing."""

from __future__ import annotations

import hashlib
import os

import pytest

from bigdataingestion_spark.sinks.txlog import TxLogTable


def _uuidish(i: int) -> str:
    return hashlib.md5(str(i).encode()).hexdigest()


def _seed(spark, path, n_files=4, rows_per_file=200, bloom=True):
    """Every file's keys are md5 hexes — uniform over the hex space, so
    each file's [min, max] covers ~the whole range and min/max skipping
    is provably blind."""
    t = TxLogTable(path)
    t.append(
        spark.createDataFrame([("8seed", 0)], ["key", "n"]).coalesce(1)
    )  # v0: pre-index file (NO bloom: must stay candidate), key chosen
    # INSIDE the md5-hex range so min/max can't skip it either
    if bloom:
        t.alter_properties({"bloom.columns": "key"})
    groups = []
    for g in range(n_files):
        rows = [
            (_uuidish(g * rows_per_file + i), g)
            for i in range(rows_per_file)
        ]
        t.append(spark.createDataFrame(rows, ["key", "n"]).coalesce(1))
        groups.append(rows)
    return t, groups


def test_minmax_is_blind_but_bloom_skips(spark, tmp_path):
    t, groups = _seed(spark, str(tmp_path / "t"))
    # control first: WITHOUT blooms, range stats skip nothing (the seed
    # file can't be judged and every indexed file's range overlaps)
    ctl, cgroups = _seed(spark, str(tmp_path / "ctl"), bloom=False)
    batch = spark.createDataFrame(cgroups[1][:20], ["key", "n"])
    ctl.delete_matching(spark, batch, keys=["key"])
    assert ctl.history()[-1]["op_metrics"]["files_stat_skipped"] == 0
    assert ctl.history()[-1]["op_metrics"]["files_bloom_skipped"] == 0

    # with blooms: the same narrow batch proves the other files disjoint
    batch = spark.createDataFrame(groups[1][:20], ["key", "n"])
    before = sorted(r.key for r in t.read(spark).collect())
    t.delete_matching(spark, batch, keys=["key"])
    m = t.history()[-1]["op_metrics"]
    assert m["files_stat_skipped"] >= 2, m  # 3 foreign files minus ~1% fpp
    assert m["files_bloom_skipped"] == m["files_stat_skipped"]  # all bloom-proven
    assert m["files_rewritten"] == 1
    gone = {k for k, _ in groups[1][:20]}
    assert sorted(r.key for r in t.read(spark).collect()) == sorted(
        k for k in before if k not in gone
    )


def _upsert_by_clauses(t, spark, source, keys):
    from bigdataingestion_spark.sinks.merge_clauses import (
        when_matched_update,
        when_not_matched_insert,
    )

    return t.merge(
        spark, source, keys, [when_matched_update(), when_not_matched_insert()]
    )


@pytest.mark.parametrize(
    "upsert",
    [
        lambda t, spark, source, keys: t.merge_upsert(spark, source, keys=keys),
        _upsert_by_clauses,
    ],
    ids=["merge_upsert", "merge"],
)
def test_bloom_skips_merge_and_result_is_exact(spark, tmp_path, upsert):
    """Both key merges prune with the same bloom probe."""
    t, groups = _seed(spark, str(tmp_path / "t"))
    ups = [(k, 999) for k, _ in groups[2][:10]] + [(_uuidish(10**6), 777)]
    upsert(t, spark, spark.createDataFrame(ups, ["key", "n"]), ["key"])
    m = t.history()[-1]["op_metrics"]
    assert m["files_stat_skipped"] >= 2, m
    assert m["files_bloom_skipped"] == m["files_stat_skipped"], m
    got = {r.key: r.n for r in t.read(spark).collect()}
    for k, _ in groups[2][:10]:
        assert got[k] == 999
    assert got[_uuidish(10**6)] == 777
    # untouched groups intact
    for k, g in groups[0]:
        assert got[k] == g


def test_bloom_never_wrongly_skips_a_match(spark, tmp_path):
    """Absence proofs must be exact for hashed values: deleting EVERY
    seeded key (across all files) leaves only the pre-index seed row."""
    t, groups = _seed(spark, str(tmp_path / "t"), rows_per_file=50)
    allrows = [r for g in groups for r in g]
    t.delete_matching(
        spark, spark.createDataFrame(allrows, ["key", "n"]), keys=["key"]
    )
    assert [r.key for r in t.read(spark).collect()] == ["8seed"]


def test_bloom_type_mismatch_is_conservative(spark, tmp_path):
    """xxhash64 is physical-type-sensitive; a probe whose column dtype
    differs from the hashed type must not consult the bloom (no skip),
    and the operation still applies correctly."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]).coalesce(1))
    t.alter_properties({"bloom.columns": "id"})
    t.append(
        spark.createDataFrame([(10, "x"), (11, "y")], ["id", "v"]).coalesce(1)
    )
    t.append(
        spark.createDataFrame([(20, "p"), (21, "q")], ["id", "v"]).coalesce(1)
    )
    batch = spark.createDataFrame([(10,)], "id int")  # int, table is bigint
    t.delete_matching(spark, batch, keys=["id"])
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 11, 20, 21]


def test_vacuum_keeps_live_blooms_reclaims_superseded(spark, tmp_path):
    path = str(tmp_path / "t")
    t, groups = _seed(spark, path, n_files=2, rows_per_file=30)

    def blooms_on_disk():
        return {f for f in os.listdir(path) if f.startswith("bloom-")}

    live_before = blooms_on_disk()
    assert len(live_before) == 2
    # rewrite one file (delete a key from it): its bloom is superseded by
    # the rewritten file's fresh bloom
    t.delete_matching(
        spark,
        spark.createDataFrame(groups[0][:1], ["key", "n"]),
        keys=["key"],
    )
    reclaimed = t.vacuum(retention_seconds=0.0)
    live = {
        st["__bloom__"]
        for st in t.snapshot().file_stats.values()
        if isinstance(st, dict) and st.get("__bloom__")
    }
    assert len(live) == 2  # untouched file's + the rewrite's fresh bloom
    assert live <= blooms_on_disk()
    assert any(f.startswith("bloom-") for f in reclaimed)
    # the surviving blooms still skip
    t.delete_matching(
        spark,
        spark.createDataFrame(groups[1][:5], ["key", "n"]),
        keys=["key"],
    )
    assert t.history()[-1]["op_metrics"]["files_stat_skipped"] >= 1


def test_bloom_skips_predicate_point_deletes(spark, tmp_path):
    """DELETE/UPDATE WHERE key = '<uuid>' — the predicate twin of the
    key-batch path: eq/IN literals hashed under each bloom's recorded
    type (by Spark's own cast) prove foreign files disjoint where
    min/max cannot."""
    t, groups = _seed(spark, str(tmp_path / "t"))
    k0 = groups[3][7][0]
    t.delete(spark, f"key = '{k0}'")
    m = t.history()[-1]["op_metrics"]
    assert m["files_stat_skipped"] >= 2, m
    assert m["files_rewritten"] == 1
    assert k0 not in {r.key for r in t.read(spark).collect()}

    # IN-list across two files: both kept, others skipped
    k1, k2 = groups[0][0][0], groups[2][3][0]
    t.delete(spark, f"key IN ('{k1}', '{k2}')", deletion_vectors=True)
    m = t.history()[-1]["op_metrics"]
    assert m["files_stat_skipped"] >= 1, m
    assert m["files_masked"] == 2
    got = {r.key for r in t.read(spark).collect()}
    assert k1 not in got and k2 not in got

    # UPDATE point-lookup goes through the same finding pass
    k3 = groups[1][5][0]
    t.update(spark, f"key = '{k3}'", {"n": "777"})
    m = t.history()[-1]["op_metrics"]
    assert m["files_stat_skipped"] >= 2, m
    assert {r.n for r in t.read(spark).filter(f"key = '{k3}'").collect()} == {777}


def test_bloom_predicate_absent_key_is_noop_without_commit(spark, tmp_path):
    t, _groups = _seed(spark, str(tmp_path / "t"), n_files=2)
    v = t.version()
    t.delete(spark, f"key = '{'0' * 32}'")
    assert t.version() == v  # no matching rows -> no commit


def test_distributed_probe_path_matches_driver_path(spark, tmp_path, monkeypatch):
    """Above _BLOOM_DRIVER_PROBE_MAX candidates the probe runs as a Spark
    job (sidecars read executor-side); forcing the threshold to 0 must
    give identical skipping and identical results."""
    monkeypatch.setattr(TxLogTable, "_BLOOM_DRIVER_PROBE_MAX", 0)
    t, groups = _seed(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame(groups[1][:20], ["key", "n"])
    before = sorted(r.key for r in t.read(spark).collect())
    t.delete_matching(spark, batch, keys=["key"])
    m = t.history()[-1]["op_metrics"]
    assert m["files_bloom_skipped"] >= 2, m
    assert m["files_rewritten"] == 1
    gone = {k for k, _ in groups[1][:20]}
    assert sorted(r.key for r in t.read(spark).collect()) == sorted(
        k for k in before if k not in gone
    )


def test_distributed_probe_path_for_predicates(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(TxLogTable, "_BLOOM_DRIVER_PROBE_MAX", 0)
    t, groups = _seed(spark, str(tmp_path / "t"))
    k0 = groups[2][9][0]
    t.delete(spark, f"key = '{k0}'")
    m = t.history()[-1]["op_metrics"]
    assert m["files_bloom_skipped"] >= 2, m
    assert k0 not in {r.key for r in t.read(spark).collect()}


def test_bloom_refs_survive_commit_race_reconciliation(
    spark, tmp_path, monkeypatch
):
    """A merge racing a disjoint append reconciles by re-committing its
    already-staged files; the staged files' bloom sidecar refs must ride
    the retry into the final snapshot, and skipping must keep working."""
    path = str(tmp_path / "t")
    t, groups = _seed(spark, path, n_files=2, rows_per_file=40)

    real_write = TxLogTable._write_bloom
    fired = []

    def write_then_race(self, cols):
        out = real_write(self, cols)
        if not fired and os.path.abspath(self.path) == os.path.abspath(path):
            fired.append(True)
            # a DISJOINT writer wins the version first
            TxLogTable(path).append(
                spark.createDataFrame(
                    [("zzz-disjoint", 1)], ["key", "n"]
                ).coalesce(1)
            )
        return out

    monkeypatch.setattr(TxLogTable, "_write_bloom", write_then_race)
    ups = [(groups[0][0][0], 999)]
    v = t.merge_upsert(
        spark, spark.createDataFrame(ups, ["key", "n"]), keys=["key"]
    )
    monkeypatch.undo()
    assert fired and v == t.version()
    got = {r.key: r.n for r in t.read(spark).collect()}
    assert got[groups[0][0][0]] == 999 and got["zzz-disjoint"] == 1
    # every data file staged under the bloom property still references a
    # live sidecar (the racing append's file included)
    snap = t.snapshot()
    blooms = {
        f: st.get("__bloom__")
        for f, st in snap.file_stats.items()
        if isinstance(st, dict)
    }
    assert sum(1 for b in blooms.values() if b) >= 3
    for b in blooms.values():
        if b:
            assert os.path.exists(os.path.join(path, b))
    # and skipping still fires on the reconciled table
    t.delete_matching(
        spark,
        spark.createDataFrame(groups[1][:3], ["key", "n"]),
        keys=["key"],
    )
    assert t.history()[-1]["op_metrics"]["files_bloom_skipped"] >= 1


def test_compact_refreshes_blooms(spark, tmp_path):
    """OPTIMIZE rewrites files through the same staging path, so a table
    that enables bloom.columns AFTER its data landed gets backfilled by
    the next compact."""
    path = str(tmp_path / "t")
    t = TxLogTable(path)
    for g in range(3):
        t.append(
            spark.createDataFrame(
                [(_uuidish(g * 50 + i), g) for i in range(50)], ["key", "n"]
            ).coalesce(1)
        )
    # no blooms yet: property enabled after the fact
    t.alter_properties({"bloom.columns": "key"})
    assert not any(
        isinstance(st, dict) and st.get("__bloom__")
        for st in t.snapshot().file_stats.values()
    )
    t.compact(spark)
    snap = t.snapshot()
    assert all(
        snap.file_stats.get(f, {}).get("__bloom__") for f in snap.files
    )
    # and the backfilled index skips (single compacted file: probe keeps
    # it only when it genuinely holds the key)
    probe = spark.createDataFrame([(_uuidish(10**7), 0)], ["key", "n"])
    v = t.version()
    t.delete_matching(spark, probe, keys=["key"])
    assert t.version() == v  # absent key: no matching file, no commit


def test_cdf_replica_with_bloom_index_converges_and_skips(spark, tmp_path):
    """Composition: a bloom-indexed REPLICA followed over the change feed
    — DML applies through the bloom-pruned finding pass and the replica
    still converges exactly."""
    from bigdataingestion_spark.streaming.ingest import stream_cdf_replicate

    src_path = str(tmp_path / "src")
    dst_path = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")

    src = TxLogTable(src_path)
    src.append(
        spark.createDataFrame(
            [(_uuidish(i), "a") for i in range(60)], ["key", "v"]
        )
    )
    src.alter_properties({"cdf.enabled": "true"})

    dst = TxLogTable(dst_path)
    dst.alter_properties({"bloom.columns": "key"})

    q = stream_cdf_replicate(spark, src_path, dst_path, ck, keys=["key"])
    assert q.awaitTermination(240)
    assert dst.read(spark).count() == 60

    src.delete(spark, f"key = '{_uuidish(7)}'")
    src.update(spark, f"key = '{_uuidish(8)}'", {"v": "'UP'"})
    q = stream_cdf_replicate(spark, src_path, dst_path, ck, keys=["key"])
    assert q.awaitTermination(240)
    want = sorted((r.key, r.v) for r in src.read(spark).collect())
    got = sorted((r.key, r.v) for r in dst.read(spark).collect())
    assert got == want
    assert len(got) == 59


def test_multi_column_bloom_index(spark, tmp_path):
    """bloom.columns with two UNCLUSTERED columns (both md5-scattered so
    min/max proves nothing): either column's bloom can prove a file
    disjoint on its own — the one-disjoint-column logic — including a
    probe whose first column matches real values but whose second pairs
    them with values no file holds."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([("8seed", "8seed", 0)], ["ka", "kb", "n"]).coalesce(1)
    )
    t.alter_properties({"bloom.columns": "ka, kb"})
    groups = []
    for g in range(3):
        rows = [
            (_uuidish(g * 100 + i), _uuidish(10_000 + g * 100 + i), i)
            for i in range(60)
        ]
        t.append(spark.createDataFrame(rows, ["ka", "kb", "n"]).coalesce(1))
        groups.append(rows)

    # real (ka, kb) pairs from ONE file: both columns' blooms exclude the
    # two foreign indexed files
    batch = spark.createDataFrame(groups[1][:5], ["ka", "kb", "n"])
    t.delete_matching(spark, batch, keys=["ka", "kb"])
    m = t.history()[-1]["op_metrics"]
    assert m["files_bloom_skipped"] >= 2, m
    assert m["files_rewritten"] == 1

    # real ka values paired with ABSENT kb values: kb's bloom alone
    # proves every file disjoint -> no matching file, no commit
    v = t.version()
    wrong_kb = spark.createDataFrame(
        [(ka, _uuidish(777_000 + i), 0) for i, (ka, _kb, _n) in enumerate(groups[2][:5])],
        ["ka", "kb", "n"],
    )
    t.delete_matching(spark, wrong_kb, keys=["ka", "kb"])
    assert t.version() == v
