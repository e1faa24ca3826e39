"""Regression tests for the code-review findings."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataingestion_spark.config.crypto import decrypt_value, encrypt_value
from bigdataingestion_spark.sinks.scd2 import apply_scd2, current_view
from bigdataingestion_spark.sources.jdbc import JdbcSource
from bigdataingestion_spark.sources.querygen import resolve_table


def test_crypto_nonce_prevents_keystream_reuse():
    a = encrypt_value("secret", "same-plaintext")
    b = encrypt_value("secret", "same-plaintext")
    assert a != b  # fresh nonce per value
    assert decrypt_value("secret", a) == "same-plaintext"
    assert decrypt_value("secret", b) == "same-plaintext"


def test_scd2_null_shift_detected(spark, tmp_path):
    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame([(1, "x", None)], "id int, a string, b string")
    apply_scd2(spark, path, v1, keys=["id"], tracked=["a", "b"],
               change_ts="2024-01-01 00:00:00")
    # NULL-shift: ('x', NULL) -> (NULL, 'x') must register as a change
    v2 = spark.createDataFrame([(1, None, "x")], "id int, a string, b string")
    apply_scd2(spark, path, v2, keys=["id"], tracked=["a", "b"],
               change_ts="2024-02-01 00:00:00")
    hist = spark.read.parquet(path)
    assert hist.count() == 2  # closed old version + open new version
    cur = current_view(spark, path).collect()
    assert len(cur) == 1 and cur[0].a is None and cur[0].b == "x"


def test_jdbc_partitioned_read_empty_increment_no_crash(spark, tmp_path):
    """NULL bounds (empty increment) must fall back to the plain reader."""
    url = f"jdbc:derby:{tmp_path}/pdb;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate('CREATE TABLE "t" ("id" INT, "createddate" TIMESTAMP)')
    st.executeUpdate(
        'INSERT INTO "t" VALUES (1, TIMESTAMP(\'2024-01-01 00:00:00\'))'
    )
    conn.close()
    src = JdbcSource(
        spark, host="unused",
        driver="org.apache.derby.jdbc.EmbeddedDriver", jdbc_url=url,
        partition_spec={"t": ("id", 4)},
    )
    addr = resolve_table("t", task="x")
    # increment beyond all data -> empty -> bounds probe returns NULL
    df = src.read_increment("pdb", addr, ["createddate"], "2030-01-01 00:00:00")
    assert df.count() == 0
    # non-empty partitioned read still works (bounds resolved)
    assert src.read_table("pdb", addr).count() == 1


def test_fingerprint_compare_tristate(tmp_path, monkeypatch):
    """ADVICE r5: 'not compared' must be distinguishable from 'verified
    unchanged' — compare() returns None when no baseline exists for the
    sf-dir, True/False only after a real comparison."""
    import json

    from bigdataingestion_spark.plans import fingerprint as fp

    base = tmp_path / "plans_baseline.json"
    monkeypatch.setattr(fp, "BASELINE_PATH", base)
    # no baseline at all -> None (not-checked), no changed names
    assert fp.compare({"q": "abc"}, "/sf0.1") == (None, [])
    # baseline for a DIFFERENT sf-dir -> also not-checked
    base.write_text(json.dumps({"sf_dir": "/sf0.01", "plans": {"q": "abc"}}))
    assert fp.compare({"q": "zzz"}, "/sf0.1") == (None, [])
    # matching sf-dir: real comparison, both outcomes
    base.write_text(json.dumps({"sf_dir": "/sf0.1", "plans": {"q": "abc"}}))
    assert fp.compare({"q": "abc"}, "/sf0.1") == (True, [])
    assert fp.compare({"q": "zzz"}, "/sf0.1") == (False, ["q"])


def test_quality_gate_refuses_legacy_append_layout(spark, tmp_path):
    """ADVICE r5: the batch_id={id} sink layout cannot extend a directory
    written by the old append-mode gate; refuse at start with an
    actionable error instead of failing in partition discovery."""
    import pytest

    from bigdataingestion_spark.pipeline.quality import Expectation
    from bigdataingestion_spark.streaming.quality_gate import stream_quality_gate

    landing = tmp_path / "landing"
    spark.createDataFrame([(1,)], ["id"]).coalesce(1).write.parquet(str(landing))
    legacy_target = tmp_path / "target"
    # legacy layout: data files at the dir root, no batch_id= subdirs
    spark.createDataFrame([(0,)], ["id"]).coalesce(1).write.parquet(
        str(legacy_target)
    )
    with pytest.raises(ValueError, match="legacy append-mode"):
        stream_quality_gate(
            spark,
            str(landing),
            str(legacy_target),
            str(tmp_path / "quarantine"),
            str(tmp_path / "ckpt"),
            [Expectation("pos", F.col("id") > 0)],
        )
    # a batch_id-layout dir (or a fresh one) is accepted
    q = stream_quality_gate(
        spark,
        str(landing),
        str(tmp_path / "target2"),
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt2"),
        [Expectation("pos", F.col("id") > 0)],
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "target2")).count() == 1
