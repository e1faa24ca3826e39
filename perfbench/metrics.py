"""Metric names, units and the layer -> end-to-end map.

End-to-end metrics are the same three on every workload, so every run
reports all of them; what each measures on each workload is noted at
``END_TO_END``. Per-layer metrics come from a traced run; a layer that a
workload never calls reads 0 there.
"""

from __future__ import annotations

# the catalog's headline queries at the time the benchmark was defined;
# fixed here so the query set cannot move with the catalog's flags
HEADLINE = [
    "ingest_chunk_profile", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "top_customers_by_spend", "user_sessions",
    "text_quality_stats", "training_data_pipeline", "ngram_jaccard_pairs",
    "minhash_lsh_pairs", "asof_last_purchase", "embedding_cosine_topk",
    "q8_market_share", "q6_forecast_revenue",
]

# setup_s: session start, input staging, base tables and warm-up.
# work_s: wall of the run's operation plan: ingest = full load plus the
#   incremental runs; cdc = build, batch applies and reads; queries =
#   every query of the pass.
# op_p50_s: median operation: ingest = one incremental run; cdc = one
#   batch applied until the table and both views commit; queries = one
#   query.
END_TO_END = {"setup_s": "s", "work_s": "s", "op_p50_s": "s"}

_OPS = ("self_s", "jobs", "stages", "shuffle_bytes", "executor_ms",
        "files_rewritten", "files_carried", "files_skipped", "output_bytes")


def _unit(field: str) -> str:
    if field in ("self_s", "s"):
        return "s"
    if field == "executor_ms":
        return "ms"
    return "bytes" if field.endswith("bytes") else "count"


PER_LAYER = {
    "pipeline.self_s": "s",
    "pipeline.jobs_per_table": "count",
    "config.self_s": "s",
    "sinks.audit.self_s": "s",
    "sources.self_s": "s",
    "sources.input_rows": "count",
    "sources.new_row_ratio": "ratio",
    "plans.self_s": "s",
    "plans.chunks": "count",
    "sinks.writer.self_s": "s",
    "sinks.writer.jobs": "count",
    "sinks.writer.files_written": "count",
    "sinks.writer.output_bytes": "bytes",
    "sinks.txlog.append.self_s": "s",
    "sinks.txlog.append.jobs": "count",
    "sinks.txlog.overwrite.self_s": "s",
    "sinks.txlog.overwrite.jobs": "count",
    **{f"sinks.txlog.{op}.{k}": _unit(k)
       for op in ("merge_upsert", "delete_matching") for k in _OPS},
    **{f"sinks.matview.refresh.{kind}.{k}": _unit(k)
       for kind in ("additive", "recompute") for k in ("self_s", "jobs", "shuffle_bytes")},
    "sinks.matview.read.self_s": "s",
    "sinks.txlog.read.self_s": "s",
    **{f"operators.{q}.{k}": _unit(k)
       for q in HEADLINE for k in ("s", "jobs", "stages", "shuffle_bytes", "executor_ms")},
}

# (per-layer metric prefix, workload, end-to-end metric it should move,
# the name the workload's report gives that metric, prediction)
LAYER_MAP = [
    ("pipeline.", "ingest", "op_p50_s", "ingest_incr_p50_s", "per-job overhead dominates"),
    ("config.", "ingest", "op_p50_s", "ingest_incr_p50_s", "negligible share"),
    ("sinks.audit.", "ingest", "op_p50_s", "ingest_incr_p50_s", "negligible share"),
    ("sources.", "ingest", "op_p50_s", "ingest_incr_p50_s", "look-back re-reads"),
    ("plans.", "ingest", "work_s", "ingest_full_s", "one chunk per write"),
    ("sinks.writer.", "ingest", "work_s", "ingest_full_s", "bulk writes"),
    ("sinks.txlog.append.", "ingest", "work_s", "ingest_full_s", "bulk writes"),
    ("sinks.txlog.overwrite.", "ingest", "op_p50_s", "ingest_incr_p50_s", "small increments"),
    ("sinks.txlog.merge_upsert.", "cdc", "op_p50_s", "cdc_apply_p50_s and cdc_write_amp", ""),
    ("sinks.txlog.delete_matching.", "cdc", "op_p50_s", "cdc_apply_p50_s and cdc_write_amp", ""),
    ("sinks.matview.refresh.", "cdc", "op_p50_s", "cdc_apply_p50_s", ""),
    ("sinks.matview.read.", "cdc", "work_s", "cdc_read_p50_s", ""),
    ("sinks.txlog.read.", "cdc", "work_s", "cdc_read_p50_s", ""),
    ("operators.", "queries", "work_s", "queries_total_s",
     "no change on ingest and cdc, which never call it"),
]


def per_layer(rec) -> dict[str, float]:
    """Every per-layer metric from the recorder's spans and counters."""
    agg = rec.by_name()
    out: dict[str, float] = {}
    for name in PER_LAYER:
        layer, field = name.rsplit(".", 1)
        out[name] = agg.get(layer, {}).get("wall_s" if field == "s" else field, 0)
    # Orchestrator.load_table spans sit under the Orchestrator.run span
    tables = sum(1 for s in rec.spans if s["name"] == "pipeline" and s["parent"] is not None)
    out["pipeline.jobs_per_table"] = rec.subtree_jobs("pipeline") / tables if tables else 0
    staged = rec.counters.get("sources.input_rows", 0)
    out["sources.input_rows"] = staged
    out["sources.new_row_ratio"] = rec.counters.get("sources.new_rows", 0) / staged if staged else 0
    return out
