"""Traced-run recorder: spans around the program's layer boundaries.

The benchmark wraps the public functions of each layer where their
callers look them up (a module that imported a function by name is
patched in that module), so the program itself is unchanged. Each span
sets its own Spark job group; jobs, stages and stage metrics are read
back from ``statusTracker()`` and the status store, which work with the
UI off, and belong to the innermost span open when the job ran. Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_COUNTS = (
    "jobs", "stages", "tasks", "input_rows", "shuffle_bytes",
    "executor_ms", "output_bytes",
)


class Recorder:
    """Collects spans for one run. ``enabled=False`` makes every span a
    no-op, so untraced runs pay nothing but a function call."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans) + len(self._stack) + len(self._pending),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": None,
            "attrs": dict(attrs),
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._pending.append(rec)
            if not self._stack:
                self._resolve()

    def _resolve(self) -> None:
        """Attach Spark counts to the finished spans. Runs when the
        outermost span closes, after the listener bus has drained, so
        every job of the tree is in the status store."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        for rec in self._pending:
            counts = dict.fromkeys(SPARK_COUNTS, 0)
            seen: set[int] = set()
            for job in tracker.getJobIdsForGroup(rec["group"]):
                counts["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = store.lastStageAttempt(sid)
                    if stage.status().toString() == "SKIPPED":
                        continue
                    counts["stages"] += 1
                    counts["tasks"] += stage.numCompleteTasks()
                    counts["input_rows"] += stage.inputRecords()
                    counts["shuffle_bytes"] += stage.shuffleWriteBytes()
                    counts["executor_ms"] += stage.executorRunTime()
                    counts["output_bytes"] += stage.outputBytes()
            rec.update(counts)
            self.spans.append(rec)
        self._pending = []

    # -- aggregation -----------------------------------------------------

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, wall, self time (wall minus the time of
        child spans) and summed Spark counts and attributes."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(
                s["name"],
                {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "per_call": [],
                 **dict.fromkeys(SPARK_COUNTS, 0)},
            )
            wall = s["end"] - s["start"]
            agg["calls"] += 1
            agg["wall_s"] += wall
            agg["self_s"] += wall - child_s[s["id"]]
            for k in SPARK_COUNTS:
                agg[k] += s[k]
            for k, v in s["attrs"].items():
                if isinstance(v, (int, float)):
                    agg[k] = agg.get(k, 0) + v
            agg["per_call"].append(
                {k: s[k] for k in ("jobs", "stages")} | {
                    k: v for k, v in s["attrs"].items()
                    if isinstance(v, (int, float))
                }
            )
        return out

    def subtree_jobs(self, name: str) -> int:
        """Jobs of every span under (and including) the spans ``name``."""
        kids: dict[int | None, list[dict]] = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        total, todo = 0, [s for s in self.spans if s["name"] == name]
        seen: set[int] = set()
        while todo:
            s = todo.pop()
            if s["id"] in seen:
                continue
            seen.add(s["id"])
            total += s["jobs"]
            todo.extend(kids[s["id"]])
        return total

    def exact_repeats(self) -> dict[str, dict]:
        """Counts that read the same on every call of a span name: the
        counts a later change can cite as counts rather than timings."""
        out = {}
        for name, agg in self.by_name().items():
            calls = agg["per_call"]
            if len(calls) < 2:
                continue
            same = {
                k: calls[0][k] for k in calls[0]
                if all(c.get(k) == calls[0][k] for c in calls)
            }
            if same:
                out[name] = same
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _wrap(rec: Recorder, fn, name, on_exit=None):
    """``fn`` inside a span. ``name`` is a string or a function of the
    call's arguments; ``on_exit(span, args, kwargs, result)`` adds
    counts to the span."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        label = name(*args, **kwargs) if callable(name) else name
        with rec.span(label) as span:
            result = fn(*args, **kwargs)
            if on_exit is not None:
                on_exit(span, args, kwargs, result)
            return result

    return wrapper


def _files_under(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _op_files(span, args, kwargs, result):
    metrics = args[0].history()[-1].get("op_metrics") or {}
    span["attrs"]["files_rewritten"] = metrics.get("files_rewritten", 0)
    span["attrs"]["files_carried"] = metrics.get("files_carried", 0)
    span["attrs"]["files_skipped"] = (
        metrics.get("files_stat_skipped", 0) + metrics.get("files_bloom_skipped", 0)
    )


def _chunks(span, args, kwargs, result):
    span["attrs"]["chunks"] = len(result)


def instrument(rec: Recorder):
    """Patch the layer entry points for a traced run; returns the undo
    function. Does nothing when tracing is off."""
    if not rec.enabled:
        return lambda: None
    from bigdataingestion_spark.config import repository, state
    from bigdataingestion_spark.pipeline import orchestrator
    from bigdataingestion_spark.sinks import audit, matview, txlog, writer
    from bigdataingestion_spark.sources import files

    patches = [
        (repository.ConfigRepository, "get_group", "config", None),
        (repository.ConfigRepository, "get_value", "config", None),
        (state.TableLoadDetails, "get_last_load_date", "config", None),
        (state.TableLoadDetails, "merge", "config", None),
        (files.FileSource, "read_table", "sources", None),
        (files.FileSource, "read_increment", "sources", None),
        (orchestrator, "resolve_watermark_columns", "plans", None),
        (orchestrator, "profile_chunks", "plans", None),
        (orchestrator, "plan_chunks", "plans", _chunks),
        (orchestrator, "chunk_predicate", "plans", None),
        (orchestrator.Orchestrator, "run", "pipeline", None),
        (orchestrator.Orchestrator, "load_table", "pipeline", None),
        (writer.DatalakeWriter, "write_partitioned", "sinks.writer", None),
        (writer.DatalakeWriter, "read_back", "sinks.writer", None),
        (txlog.TxLogTable, "append", "sinks.txlog.append", None),
        (txlog.TxLogTable, "overwrite", "sinks.txlog.overwrite", None),
        (txlog.TxLogTable, "merge_upsert", "sinks.txlog.merge_upsert", _op_files),
        (txlog.TxLogTable, "delete_matching", "sinks.txlog.delete_matching", _op_files),
        (txlog.TxLogTable, "read", "sinks.txlog.read", None),
        (matview.IncrementalAggView, "build", "sinks.matview.build", None),
        (
            matview.IncrementalAggView, "refresh",
            lambda self, *a, **k: "sinks.matview.refresh."
            + ("additive" if self.additive else "recompute"),
            None,
        ),
        (matview.IncrementalAggView, "read", "sinks.matview.read", None),
        (audit.AuditLog, "add", "sinks.audit", None),
        (audit.AuditLog, "flush", "sinks.audit", None),
        (audit.LogAlertSink, "alert", "sinks.audit", None),
    ]
    undo = []
    for owner, attr, name, on_exit in patches:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, _wrap(rec, orig, name, on_exit))
        undo.append((owner, attr, orig))

    # the writer span counts the parquet files its call adds under the
    # target path, so it also needs the count from before the call
    orig_write = writer.DatalakeWriter.write

    @functools.wraps(orig_write)
    def write(self, df, task, path, *args, **kwargs):
        before = _files_under(path)
        with rec.span("sinks.writer") as span:
            result = orig_write(self, df, task, path, *args, **kwargs)
            span["attrs"]["files_written"] = _files_under(path) - before
        return result

    writer.DatalakeWriter.write = write
    undo.append((writer.DatalakeWriter, "write", orig_write))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore
