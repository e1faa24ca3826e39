"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from ``--seed``:
the TPC-H-like star schema plus the ``events``, ``documents`` and
``embeddings`` tables the catalog queries use, the ``ingest`` source
increments and the ``cdc`` batches. The tables follow the shapes of the
repository's test fixtures (same columns, types and value domains), so
every catalog query and its DuckDB oracle run on them unchanged. The same
seed gives byte-identical parquet files; generation runs outside every
timed region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30
ORDERS_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDERS_START).astype(np.int64))
US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table: changing one table's size or
    # shape never shifts another table's values
    salt = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, salt])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor ``sf`` (sf 0.1 has 600k
    lineitem rows)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    })

    r = _rng(seed, "supplier")
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, "part")
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(r.choice(PART_ADJ, n_part), r.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })

    r = _rng(seed, "orders")
    odate = ORDERS_START + r.integers(0, ORDER_DAYS + 1, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_orders),
        "o_orderstatus": r.choice(["P", "O", "F"], n_orders),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_orders),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": r.choice(PRIORITIES, n_orders),
    })

    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(l_order)
    starts = np.cumsum(lines) - lines
    l_num = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    ship = odate[l_order] + r.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(r, 900.0, 2_000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["R", "A", "N"], n_li),
        "l_linestatus": r.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })

    events = make_events(seed, n_events, EVENT_DAYS, n_users)

    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            # near-duplicate of an earlier document: the dedup and
            # similarity queries need real candidate pairs
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(8, 90)))))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def make_events(seed: int, n: int, days: int, n_users: int) -> pa.Table:
    """``n`` events over ``days`` days from 2024-01-01, in time order."""
    r = _rng(seed, "events")
    offs = np.sort(r.integers(0, days * US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EVENTS_START + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n),
        "event_type": r.choice(EVENT_TYPES, n),
        "value": np.round(r.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one parquet file deterministically; returns its byte size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    for name, t in tables.items():
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))


# -- ingest ------------------------------------------------------------------


@dataclass
class IngestInputs:
    """Source tables for the ``ingest`` workload. ``events_base`` is what
    the full load sees; ``events_days[i]`` lands before incremental run
    ``i + 1``."""

    events_base: pa.Table
    events_days: list[pa.Table]
    lineitem: pa.Table
    orders: pa.Table


def ingest_inputs(
    tables: dict[str, pa.Table], events: pa.Table, held_days: int
) -> IngestInputs:
    """Split ``events`` into a base and its ``held_days`` newest whole
    days, and give it a sparse ``createddate`` (NULL on every tenth row,
    where the ``ts`` fallback of the watermark COALESCE applies)."""
    ids = events.column("event_id").to_numpy()
    ts = events.column("ts").to_numpy()
    created = pa.array(np.where(ids % 10 != 0, ts, np.datetime64("NaT")), pa.timestamp("us"))
    ev = events.append_column("createddate", created)
    day = ((ts - EVENTS_START) // np.timedelta64(1, "D")).astype(np.int64)
    first_held = int(day.max()) + 1 - held_days
    base = ev.filter(pa.array(day < first_held))
    days = [ev.filter(pa.array(day == d)) for d in range(first_held, first_held + held_days)]
    return IngestInputs(base, days, tables["lineitem"], tables["orders"])


# -- cdc ---------------------------------------------------------------------


@dataclass
class CdcBatch:
    upserts: pd.DataFrame  # orders rows plus o_seq; latest o_seq wins per key
    tombstones: pd.DataFrame  # one column, o_orderkey


def cdc_base(tables: dict[str, pa.Table]) -> pd.DataFrame:
    """The ``orders`` table the cdc workload starts from, with the
    ``o_seq`` ordering column the latest-wins upsert uses."""
    df = tables["orders"].to_pandas()
    df["o_seq"] = np.int64(0)
    return df


def cdc_batches(
    seed: int,
    base: pd.DataFrame,
    n_batches: int,
    upserts: int,
    tombstones: int,
) -> list[CdcBatch]:
    """Seeded CDC batches over ``base``. Each batch holds updates skewed
    to the newest tenth of the key space (some keys twice, the later
    ``o_seq`` winning), new-key inserts, and tombstones drawn uniformly
    over the whole key space. Keys are drawn from the generator's own
    replay of earlier batches, so updates and tombstones hit live rows."""
    r = _rng(seed, "cdc")
    live = set(base["o_orderkey"].tolist())
    next_key = int(base["o_orderkey"].max()) + 1
    statuses = np.array(["P", "O", "F"])
    prios = np.array(PRIORITIES)
    out: list[CdcBatch] = []
    for b in range(n_batches):
        keys_sorted = np.array(sorted(live), dtype=np.int64)
        hot = keys_sorted[-max(1, len(keys_sorted) // 10):]
        n_new = upserts // 5
        n_rep = upserts // 10
        n_upd = upserts - n_new - n_rep
        upd = r.choice(hot, n_upd, replace=False)
        rep = r.choice(upd, n_rep, replace=False)
        new = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
        keys = np.concatenate([upd, new, rep])
        n = len(keys)
        odate = ORDERS_START + r.integers(0, ORDER_DAYS + 1, n).astype("timedelta64[D]")
        ups = pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": r.integers(0, 1_000, n),
            "o_orderstatus": r.choice(statuses, n),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": r.choice(prios, n),
            "o_seq": (b + 1) * 1_000_000 + np.arange(n, dtype=np.int64),
        })
        live.update(new.tolist())
        dels = np.sort(r.choice(np.array(sorted(live), dtype=np.int64), tombstones, replace=False))
        live.difference_update(dels.tolist())
        out.append(CdcBatch(ups, pd.DataFrame({"o_orderkey": dels})))
    return out


def replay(base: pd.DataFrame, batches: list[CdcBatch]) -> pd.DataFrame:
    """Reference result of applying ``batches`` to ``base`` in order:
    latest-wins upsert by ``o_seq``, then delete of the tombstone keys."""
    cur = base.set_index("o_orderkey")
    for b in batches:
        latest = b.upserts.sort_values("o_seq").drop_duplicates("o_orderkey", keep="last")
        latest = latest.set_index("o_orderkey")
        cur_seq = cur["o_seq"].reindex(latest.index)
        wins = latest.index[(cur_seq.isna() | (latest["o_seq"] > cur_seq)).to_numpy()]
        cur = pd.concat([cur.drop(index=wins, errors="ignore"), latest.loc[wins]])
        cur = cur.drop(index=b.tombstones["o_orderkey"], errors="ignore")
    return cur.reset_index().sort_values("o_orderkey", ignore_index=True)
