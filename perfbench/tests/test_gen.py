"""The input generator is a pure function of the seed."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa

import gen

SF = 0.001


def _files(seed: int, out: str) -> dict[str, bytes]:
    tables = gen.make_tables(seed, SF)
    gen.write_tables(tables, out)
    events = gen.make_events(seed, 2_000, 120, 30)
    inputs = gen.ingest_inputs(tables, events, 3)
    gen.write_parquet(inputs.events_base, os.path.join(out, "ingest", "base.parquet"))
    for i, day in enumerate(inputs.events_days):
        gen.write_parquet(day, os.path.join(out, "ingest", f"day{i}.parquet"))
    base = gen.cdc_base(tables)
    for i, b in enumerate(gen.cdc_batches(seed, base, 3, 100, 20)):
        gen.write_parquet(pa.Table.from_pandas(b.upserts, preserve_index=False),
                          os.path.join(out, "cdc", f"up{i}.parquet"))
        gen.write_parquet(pa.Table.from_pandas(b.tombstones, preserve_index=False),
                          os.path.join(out, "cdc", f"del{i}.parquet"))
    found = {}
    for dirpath, _, names in os.walk(out):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                found[os.path.relpath(p, out)] = f.read()
    return found


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _files(7, str(tmp_path / "a"))
    b = _files(7, str(tmp_path / "b"))
    assert len(a) == 10 + 1 + 3 + 6
    assert a == b


def test_different_seed_gives_different_keys():
    a, b = gen.make_tables(7, SF), gen.make_tables(8, SF)
    assert a["orders"].column("o_custkey") != b["orders"].column("o_custkey")
    assert a["lineitem"].column("l_partkey") != b["lineitem"].column("l_partkey")
    base_a, base_b = gen.cdc_base(a), gen.cdc_base(b)
    ka = gen.cdc_batches(7, base_a, 2, 100, 20)
    kb = gen.cdc_batches(8, base_b, 2, 100, 20)
    for x, y in zip(ka, kb):
        assert set(x.upserts["o_orderkey"]) != set(y.upserts["o_orderkey"])
        assert set(x.tombstones["o_orderkey"]) != set(y.tombstones["o_orderkey"])


def test_ingest_days_partition_the_events():
    events = gen.make_events(3, 3_000, 120, 30)
    inputs = gen.ingest_inputs(gen.make_tables(3, SF), events, 4)
    parts = [inputs.events_base, *inputs.events_days]
    assert sum(p.num_rows for p in parts) == events.num_rows
    assert len(inputs.events_days) == 4
    # every held-back day is newer than the whole base
    base_max = pa.compute.max(inputs.events_base.column("ts")).as_py()
    assert all(pa.compute.min(d.column("ts")).as_py() > base_max for d in inputs.events_days)
    created = inputs.events_base.column("createddate").to_numpy(zero_copy_only=False)
    assert np.isnat(created).sum() > 0  # the COALESCE fallback is exercised


def test_cdc_batches_shape():
    base = gen.cdc_base(gen.make_tables(5, SF))
    hot = base["o_orderkey"].max() * 0.9
    (b,) = gen.cdc_batches(5, base, 1, 100, 20)
    keys = b.upserts["o_orderkey"]
    assert keys.duplicated().sum() == 10  # repeated keys within the batch
    assert (keys > base["o_orderkey"].max()).sum() == 20  # new-key inserts
    updates = keys[keys <= base["o_orderkey"].max()]
    assert (updates >= hot).all()  # updates skew to the newest keys
    assert len(b.tombstones) == 20


def test_replay_is_latest_wins_then_delete():
    base = pd.DataFrame({"o_orderkey": [1, 2, 3], "o_totalprice": [1.0, 2.0, 3.0],
                         "o_seq": [0, 0, 0]})
    ups = pd.DataFrame({"o_orderkey": [2, 4, 2], "o_totalprice": [20.0, 40.0, 21.0],
                        "o_seq": [10, 11, 12]})
    out = gen.replay(base, [gen.CdcBatch(ups, pd.DataFrame({"o_orderkey": [1]}))])
    assert out["o_orderkey"].tolist() == [2, 3, 4]
    assert out["o_totalprice"].tolist() == [21.0, 3.0, 40.0]
