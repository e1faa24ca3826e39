"""The benchmark's workloads. Each is one closed loop with one caller:
an operation starts only when the previous one has returned.

Every workload has the same life: ``setup`` (inputs, base tables and a
warm-up, not timed as work), ``measure``, then ``verify`` against a
reference computed outside Spark. A failed operation or a mismatch found
by ``verify`` counts in ``failed``.

``measure`` plans its operation count from ``--seconds`` alone, sized so
that the plan takes about that long on 4 cores: every run of one setting
does the same operations in the same order. The JVM keeps speeding up
for many operations after the warm-up, so a loop that ran until a
deadline would compare operations at different points of that curve.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from datetime import date, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa

import gen
import stats
from metrics import HEADLINE

LAG = pd.Timedelta(hours=80)  # the orchestrator's watermark look-back


def _now() -> float:
    return time.perf_counter()


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, rec):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.rec = rec
        self.attempted = 0
        self.failed_ops: set = set()
        self.errors: list[str] = []
        self.checks: dict[str, list[int]] = {}

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def fail(self, op, what: str) -> None:
        """Mark operation ``op`` failed (once, however many checks it
        fails)."""
        self.failed_ops.add(op)
        if len(self.errors) < 20:
            self.errors.append(what[-2000:])

    def check(self, name: str, op, ok: bool, what: str) -> None:
        """Record one correctness comparison about operation ``op``."""
        self.checks.setdefault(name, [0, 0])[0 if ok else 1] += 1
        if not ok:
            self.fail(op, f"{name}: {what}")

    def verdicts(self) -> dict:
        return {k: {"passed": p, "failed": f} for k, (p, f) in self.checks.items()}

    def tails(self) -> dict:
        """Tail percentiles, for information, where a sample list is
        long enough to have ten samples beyond one."""
        out = {}
        for k, v in self.samples().items():
            t = stats.tail_percentile(v)
            if t:
                out[k] = {"percentile": t[0], "value": t[1], "n": len(v)}
        return out

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# -- ingest ------------------------------------------------------------------


class Ingest(Workload):
    """Watermark-incremental ingestion through ``Orchestrator.run``.

    Task ``db`` loads ``events`` (watermark COALESCE(createddate, ts)) and
    ``lineitem`` (l_shipdate) as txlog-backed delta tables; task
    ``reliefvet`` loads ``orders`` (o_orderdate) as plain parquet. A cycle
    is a full load into an empty lake followed by scheduled incremental
    runs, each after one held-back day of ``events`` lands in the source.
    The full load puts the work in the source scan, chunk planning and
    bulk writes; the incremental runs are mostly per-job, state and config
    overhead plus the 80 h look-back re-read.
    """

    name = "ingest"
    # Sizes keep the full load near 18 chunks: ``events`` (spread over
    # 120 days so its base splits by month) in 4, ``lineitem`` and
    # ``orders`` in one per year.
    SF = 0.02
    EVENTS = 40_000
    EVENT_DAYS = 120
    LIMIT = 20_000  # single_batch_limit
    HELD_DAYS = 10
    INCR_EVERY_S = 2  # one incremental run per this many --seconds
    WARM = 0.1  # the warm-up cycle runs at this share of every size
    KEYS = {
        "events": ["event_id"],
        "lineitem": ["l_orderkey", "l_linenumber"],
        "orders": ["o_orderkey"],
    }
    WM = {
        "events": ["createddate", "ts"],
        "lineitem": ["l_shipdate"],
        "orders": ["o_orderdate"],
    }
    TASK = {"events": "db", "lineitem": "db", "orders": "reliefvet"}

    def setup(self) -> None:
        self.inputs = self._inputs(1.0, self.HELD_DAYS)
        warm = self._inputs(self.WARM, 1)
        self.cycles: list[dict] = []
        self.full_s: list[float] = []
        self.incr_s: list[float] = []
        self.read_s: list[float] = []
        # warm-up: one small cycle exercises every code path once
        self._cycle("warm", warm, int(self.LIMIT * self.WARM), 1, timed=False)

    def _inputs(self, share: float, held_days: int) -> gen.IngestInputs:
        n = int(self.EVENTS * share)
        events = gen.make_events(self.seed, n, self.EVENT_DAYS, max(15, n // 60))
        return gen.ingest_inputs(gen.make_tables(self.seed, self.SF * share), events, held_days)

    def _stage(self, src: str, inputs: gen.IngestInputs) -> None:
        gen.write_parquet(inputs.events_base, os.path.join(src, "sales", "events.parquet", "base.parquet"))
        gen.write_parquet(inputs.lineitem, os.path.join(src, "sales", "lineitem.parquet"))
        gen.write_parquet(inputs.orders, os.path.join(src, "sales", "orders.parquet"))

    def _orchestrator(self, root: str, limit: int):
        from bigdataingestion_spark.config.repository import ConfigRepository
        from bigdataingestion_spark.config.state import TableLoadDetails
        from bigdataingestion_spark.pipeline.orchestrator import Orchestrator
        from bigdataingestion_spark.sinks.audit import AuditLog, LogAlertSink
        from bigdataingestion_spark.sinks.writer import DatalakeWriter, SinkPolicy
        from bigdataingestion_spark.sources.files import FileSource

        config = ConfigRepository(os.path.join(root, "meta", "configvalues.parquet"))
        config.insert("dcx_postgresql_db_settings", "db_db_name", "sales")
        config.insert("dcx_postgresql_db_settings", "reliefvet_db_name", "sales")
        config.insert("dcx_postgresql_table_settings", "db_tables", "events,lineitem")
        config.insert("dcx_postgresql_table_settings", "reliefvet_tables", "orders")
        for table, cols in self.WM.items():
            config.insert(
                "dcx_postgresql_watermark_settings",
                f"{self.TASK[table]}_{table}_watermarks", ",".join(cols),
            )
        audit = AuditLog(path=os.path.join(root, "audit", "logs.jsonl"))
        return Orchestrator(
            spark=self.spark,
            source=FileSource(self.spark, os.path.join(root, "source")),
            writer=DatalakeWriter(os.path.join(root, "lake"), SinkPolicy(use_txlog=True)),
            config=config,
            state=TableLoadDetails(os.path.join(root, "meta", "state.parquet")),
            audit=audit,
            alerts=LogAlertSink(audit=audit),
            single_batch_limit=limit,
        )

    def _cycle(self, tag, inputs, limit, n_incr, timed=True) -> None:
        root = self.path(f"cycle-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        self._stage(os.path.join(root, "source"), inputs)
        orch = self._orchestrator(root, limit)
        runs: list[dict] = []
        day0 = date(2026, 1, 1)
        for i in range(n_incr + 1):
            if i > 0:
                gen.write_parquet(
                    inputs.events_days[i - 1],
                    os.path.join(root, "source", "sales", "events.parquet", f"day{i}.parquet"),
                )
            run_date = (day0 + timedelta(days=i)).isoformat()
            before = self._states(orch)
            self.attempted += timed
            t0 = _now()
            try:
                results = orch.run(run_date=run_date)
            except Exception:  # noqa: BLE001 — a failed run is counted and ends the cycle
                self.fail((root, i), traceback.format_exc())
                return
            dt = _now() - t0
            if timed:
                (self.incr_s if i else self.full_s).append(dt)
            bad = [r for r in results if r.strategy == "failed"]
            if bad and timed:
                self.fail((root, i), f"{tag}/{run_date}: {bad}")
            runs.append({"day": i, "results": results, "before": before, "after": self._states(orch)})
            if timed and i:
                self.rec.count("sources.input_rows", sum(r.rows for r in results))
                self.rec.count("sources.new_rows", inputs.events_days[i - 1].num_rows)
        if timed:
            self.cycles.append({"root": root, "inputs": inputs, "runs": runs, "orch": orch})

    def measure(self) -> None:
        """One cycle: the full load, then one incremental run per
        ``INCR_EVERY_S`` seconds (2 to ``HELD_DAYS``)."""
        n_incr = min(self.HELD_DAYS, max(2, int(self.seconds // self.INCR_EVERY_S)))
        self._cycle("0", self.inputs, self.LIMIT, n_incr)

    @staticmethod
    def _states(orch) -> dict:
        """Watermark state per table, read from the state file directly
        (outside the program, so a traced run does not count it)."""
        path = orch.state.path
        df = pd.read_parquet(path) if os.path.exists(path) else None
        out = {}
        for table in Ingest.KEYS:
            hit = None if df is None else df.loc[df["TableName"] == table, "LastLoadDate"]
            out[table] = None if hit is None or hit.empty or pd.isna(hit.iloc[0]) else pd.Timestamp(hit.iloc[0])
        return out

    def verify(self) -> None:
        """Each run's lake output holds exactly the source rows whose
        watermark is at or after the state the run started from, and the
        state it leaves is the written maximum minus 80 h."""
        for cyc in self.cycles:
            inputs, writer = cyc["inputs"], cyc["orch"].writer
            for run in cyc["runs"]:
                i = run["day"]
                src = {
                    "events": pa.concat_tables([inputs.events_base, *inputs.events_days[:i]]).to_pandas(),
                    "lineitem": inputs.lineitem.to_pandas(),
                    "orders": inputs.orders.to_pandas(),
                }
                for r in run["results"]:
                    table, keys = r.table, self.KEYS[r.table]
                    df = src[table]
                    wm = df[self.WM[table][0]]
                    for c in self.WM[table][1:]:
                        wm = wm.fillna(df[c])
                    prev = run["before"][table]
                    want = df if prev is None else df[wm >= prev]
                    t0 = _now()
                    got = writer.read_back(self.spark, self.TASK[table], r.path)
                    got = got.select(*keys).toPandas()
                    self.read_s.append(_now() - t0)
                    same = len(got) == len(want) == r.rows and got.sort_values(
                        keys, ignore_index=True
                    ).equals(want[keys].sort_values(keys, ignore_index=True))
                    where = f"{cyc['root']} day {i} {table}"
                    self.check("lake_rows_and_keys", (cyc["root"], i), same, f"{where}: lake rows {len(got)}, "
                               f"result rows {r.rows}, source rows {len(want)}")
                    after = run["after"][table]
                    expect = wm[want.index].max() - LAG
                    self.check(
                        "state_watermark", (cyc["root"], i),
                        after == expect if after is not None else r.strategy != "chunked",
                        f"{where}: state {after}, written max - 80h {expect}",
                    )

    def end_to_end(self) -> dict:
        return {
            "ingest_full_s": (stats.median(self.full_s), "s"),
            "ingest_incr_p50_s": (stats.median(self.incr_s), "s"),
            "ingest_readback_p50_s": (stats.median(self.read_s), "s"),
        }

    def generic(self) -> dict:
        return {"work_s": sum(self.full_s) + sum(self.incr_s), "op_p50_s": stats.median(self.incr_s)}

    def samples(self) -> dict:
        return {"full_s": self.full_s, "incr_s": self.incr_s}


# -- cdc ---------------------------------------------------------------------


class Cdc(Workload):
    """CDC apply on a txlog table with two incremental views over it.

    ``orders`` is built as a key-range-clustered txlog table with
    ``cdf.enabled`` and two ``IncrementalAggView``s grouped by
    (o_orderstatus, o_orderpriority): one additive (count/sum/avg), one
    with max, which deletes force to recompute. Each batch is a
    latest-wins ``merge_upsert`` (updates skewed to the newest keys, some
    keys twice, new-key inserts), a ``delete_matching`` of tombstones
    spread over the whole key space, a refresh of both views, then the
    reads: both views and a snapshot read of the recent key range. The
    upserts can prune files by key range and the tombstones cannot; the
    orchestrator and the operators do no work here.
    """

    name = "cdc"
    SF = 0.02  # 30k orders
    FILES = 8  # key-range clusters in the base table
    UPSERTS = 1_000
    TOMBSTONES = 200
    BATCH_EVERY_S = 6  # one batch per this many --seconds, at least 2
    WARM = 0.1  # the warm-up runs at this share of every size
    GROUPS = ["o_orderstatus", "o_orderpriority"]
    ADDITIVE = {"n": ("count", "1"), "total": ("sum", "o_totalprice"),
                "avg_price": ("avg", "o_totalprice")}
    RECOMPUTE = {"n": ("count", "1"), "max_price": ("max", "o_totalprice")}

    def setup(self) -> None:
        self.base = gen.cdc_base(gen.make_tables(self.seed, self.SF))
        self.n_batches = max(2, int(self.seconds // self.BATCH_EVERY_S))
        self.batches = gen.cdc_batches(self.seed, self.base, self.n_batches, self.UPSERTS, self.TOMBSTONES)
        self.batch_bytes = self._stage("in", self.base, self.batches)
        self.recent = int(self.base["o_orderkey"].max() * 0.9)
        self.build_s: list[float] = []
        self.apply_s: list[float] = []
        self.read_s: list[float] = []
        self.write_amp: list[float] = []
        self.applied: list[int] = []
        # warm-up: the same steps once on a tenth of the data
        warm = gen.cdc_base(gen.make_tables(self.seed, self.SF * self.WARM))
        self._stage("warm-in", warm, gen.cdc_batches(
            self.seed, warm, 1, int(self.UPSERTS * self.WARM), int(self.TOMBSTONES * self.WARM)))
        table, views = self._build("warm", "warm-in")
        self._apply(table, views, "warm-in", 0)
        self._read(table, views)

    def _stage(self, tag: str, base: pd.DataFrame, batches: list[gen.CdcBatch]) -> list[int]:
        """Write the base table and the batches as parquet; returns each
        batch's bytes."""
        def put(df, name):
            return gen.write_parquet(pa.Table.from_pandas(df, preserve_index=False), self.path(tag, name))

        put(base, "base.parquet")
        return [put(b.upserts, f"up{i}.parquet") + put(b.tombstones, f"del{i}.parquet")
                for i, b in enumerate(batches)]

    def _build(self, tag: str, inputs: str):
        from bigdataingestion_spark.sinks.matview import IncrementalAggView
        from bigdataingestion_spark.sinks.txlog import TxLogTable

        root = self.path(tag)
        shutil.rmtree(root, ignore_errors=True)
        table = TxLogTable(os.path.join(root, "orders"))
        df = self.spark.read.parquet(self.path(inputs, "base.parquet"))
        table.append(df.repartitionByRange(self.FILES, "o_orderkey").sortWithinPartitions("o_orderkey"))
        table.alter_properties({"cdf.enabled": "true"})
        views = [
            IncrementalAggView(table, os.path.join(root, "by_status_sum"), self.GROUPS, self.ADDITIVE),
            IncrementalAggView(table, os.path.join(root, "by_status_max"), self.GROUPS, self.RECOMPUTE),
        ]
        for v in views:
            v.build(self.spark)
        return table, views

    def _apply(self, table, views, inputs: str, i: int) -> None:
        ups = self.spark.read.parquet(self.path(inputs, f"up{i}.parquet"))
        table.merge_upsert(self.spark, ups, ["o_orderkey"], order_cols=["o_seq"])
        dels = self.spark.read.parquet(self.path(inputs, f"del{i}.parquet"))
        table.delete_matching(self.spark, dels, ["o_orderkey"])
        for v in views:
            v.refresh(self.spark)

    def _read(self, table, views) -> None:
        from pyspark.sql import functions as F

        for v in views:
            v.read(self.spark).collect()
        table.read(self.spark).filter(F.col("o_orderkey") >= self.recent).collect()

    def measure(self) -> None:
        """Build, then apply and read the planned batches."""
        self.attempted += 1
        t0 = _now()
        try:
            self.table, self.views = self._build("cdc", "in")
        except Exception:  # noqa: BLE001 — counted; nothing to apply to
            self.fail("build", traceback.format_exc())
            return
        self.build_s.append(_now() - t0)
        dirs = [self.table.path] + [v.path for v in self.views]
        for i in range(self.n_batches):
            before = sum(stats.dir_bytes(d) for d in dirs)
            self.attempted += 1
            t0 = _now()
            try:
                self._apply(self.table, self.views, "in", i)
                t1 = _now()
                self._read(self.table, self.views)
            except Exception:  # noqa: BLE001 — the table may be mid-batch: stop here
                self.fail(i, traceback.format_exc())
                return
            self.read_s.append(_now() - t1)
            self.apply_s.append(t1 - t0)
            self.applied.append(i)
            self.write_amp.append(
                stats.ratio(sum(stats.dir_bytes(d) for d in dirs) - before, self.batch_bytes[i])
            )

    def verify(self) -> None:
        """The table equals a pandas replay of the applied batches, and
        each view equals a from-scratch group-by of that replay."""
        if not self.applied:
            return
        last = self.applied[-1]
        want = gen.replay(self.base, [self.batches[i] for i in self.applied])
        got = self.table.read(self.spark).toPandas()
        got = got[want.columns].sort_values("o_orderkey", ignore_index=True)
        self.check("table_equals_replay", last, _frames_equal(got, want),
                   f"table {len(got)} rows, replay {len(want)} rows")
        g = want.groupby(self.GROUPS)["o_totalprice"]
        expected = [
            pd.DataFrame({"n": g.size(), "total": g.sum(), "avg_price": g.mean()}),
            pd.DataFrame({"n": g.size(), "max_price": g.max()}),
        ]
        for v, exp in zip(self.views, expected):
            got = v.read(self.spark).toPandas().set_index(self.GROUPS).sort_index()
            exp = exp.sort_index()
            self.check(f"view_equals_groupby.{os.path.basename(v.path)}", last,
                       _frames_equal(got[exp.columns], exp), f"{v.path}: {len(got)} groups")

    def end_to_end(self) -> dict:
        return {
            "cdc_build_s": (stats.median(self.build_s), "s"),
            "cdc_apply_p50_s": (stats.median(self.apply_s), "s"),
            "cdc_read_p50_s": (stats.median(self.read_s), "s"),
            "cdc_write_amp": (stats.median(self.write_amp), "ratio"),
        }

    def generic(self) -> dict:
        return {
            "work_s": sum(self.build_s) + sum(self.apply_s) + sum(self.read_s),
            "op_p50_s": stats.median(self.apply_s),
        }

    def samples(self) -> dict:
        return {"apply_s": self.apply_s, "read_s": self.read_s, "write_amp": self.write_amp}


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same shape, labels and values; floats to 1e-9 relative (engine
    summation order differs), timestamps at microsecond precision."""
    if a.shape != b.shape or list(a.columns) != list(b.columns) or not a.index.equals(b.index):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_datetime64_any_dtype(x) or pd.api.types.is_datetime64_any_dtype(y):
            if not (x.astype("datetime64[us]").to_numpy() == y.astype("datetime64[us]").to_numpy()).all():
                return False
        elif pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            if not np.allclose(x.to_numpy(float), y.to_numpy(float), rtol=1e-9, atol=1e-9):
                return False
        elif not (x.to_numpy() == y.to_numpy()).all():
            return False
    return True


# -- queries -----------------------------------------------------------------


class Queries(Workload):
    """The catalog's headline queries, read-only, each run as
    ``fn(spark, dir).collect()`` with ``release_caches()`` before it, in
    an order permuted by the seed. The only workload where the
    ``operators/`` layer (dedup, similarity, text, temporal) does work.
    """

    name = "queries"
    SF = 0.01
    WARM_SF = 0.001
    PASS_EVERY_S = 12

    def setup(self) -> None:
        from bigdataingestion_spark import catalog

        queries = catalog.queries()
        self.fns = {q: queries[q] for q in HEADLINE}
        self.oracles = catalog.oracle_sql()
        self.order = list(HEADLINE)
        random.Random(self.seed).shuffle(self.order)
        self.data = self.path("data")
        gen.write_tables(gen.make_tables(self.seed, self.SF), self.data)
        warm = self.path("warm")
        gen.write_tables(gen.make_tables(self.seed, self.WARM_SF), warm)
        self.per_query: dict[str, list[float]] = {q: [] for q in self.order}
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self._pass(warm, timed=False)

    def _pass(self, data: str, timed: bool = True) -> None:
        from bigdataingestion_spark.caching import release_caches

        for q in self.order:
            release_caches()
            self.attempted += timed
            t0 = _now()
            try:
                with self.rec.span(f"operators.{q}"):
                    df = self.fns[q](self.spark, data)
                    rows = df.collect()
            except Exception:  # noqa: BLE001 — counted; the pass goes on
                self.fail((q, self.attempted), traceback.format_exc())
                continue
            if timed:
                self.per_query[q].append(_now() - t0)
                self.results[q] = (df.columns, [tuple(r) for r in rows])

    def measure(self) -> None:
        """One pass per ``PASS_EVERY_S`` seconds, at least one."""
        for _ in range(max(1, int(self.seconds // self.PASS_EVERY_S))):
            self._pass(self.data)

    def verify(self) -> None:
        """Each query's last result against its DuckDB oracle twin: row
        count, column names and the order-insensitive value hash."""
        import duckdb

        import oracle

        con = duckdb.connect()
        try:
            for t in oracle.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for q, (cols, rows) in self.results.items():
                cur = con.execute(self.oracles[q])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                ok = (len(rows) == len(orows) and sorted(cols) == sorted(ocols)
                      and oracle.value_hash(cols, rows) == oracle.value_hash(ocols, orows))
                self.check("oracle_match", (q, "last"), ok,
                           f"{q}: spark {len(rows)} rows, duckdb {len(orows)} rows")
        finally:
            con.close()

    def end_to_end(self) -> dict:
        return {
            "queries_total_s": (self._total(), "s"),
            "query_p50_s": (self._p50(), "s"),
        }

    def _total(self) -> float:
        return sum(stats.median(v) for v in self.per_query.values())

    def _p50(self) -> float:
        return stats.median([x for v in self.per_query.values() for x in v])

    def generic(self) -> dict:
        return {
            "work_s": sum(x for v in self.per_query.values() for x in v),
            "op_p50_s": self._p50(),
        }

    def samples(self) -> dict:
        return {f"query.{q}": v for q, v in self.per_query.items()}


BY_NAME = {w.name: w for w in (Ingest, Cdc, Queries)}
