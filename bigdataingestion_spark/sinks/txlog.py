"""Minimal transaction-log table format: Delta-shaped ACID over parquet.

The reference writes Delta tables and relies on its transactional DML —
``format("delta")`` appends/overwrites with mergeSchema
(``PostgresToDataLake_Ingestion_Notebook.py:302-306``) and MERGE-into-state
(``:366-415``). delta-spark is uninstallable in this environment (COVERAGE
deviation #7), so the writer's default maps 'delta' to plain parquet.
That stand-in preserves RESULTS but not the transactional properties: a
crashed overwrite can leave a half-written table, a replayed micro-batch
double-appends, and readers racing a writer see partial data. Every
in-place replace of a lake table (merge, SCD2 fold, compaction) therefore
goes through this log.

``TxLogTable`` closes exactly that gap with the same architecture the open
Delta Lake protocol uses (ordered JSON commit log + immutable data files),
re-expressed minimally:

- data files are immutable parquet parts at the table root; a commit is a
  JSON file ``_txlog/{version:08d}.json`` listing files ADDED and REMOVED
  plus the post-commit schema. Readers resolve a snapshot by replaying the
  log — they never list the directory — so a reader always sees a complete
  committed version, never a partial write (snapshot isolation).
- commits are created with ``open(path, "x")`` (create-exclusive): two
  writers racing to the same version -> exactly one wins, the loser gets
  ``ConcurrentWriteError`` and can retry on the new snapshot (optimistic
  concurrency, the Delta protocol's put-if-absent contract; an object-store
  deployment would use its conditional-put primitive here).
- a lost version race does NOT force the loser to redo its (possibly
  hours-long) staging work: every DataFrame op re-commits its already
  staged files at the new version after a LOGICAL conflict check against
  the winning commits (Delta's ConflictChecker move). A winner that
  removed a file this op rewrites, changed the schema non-additively,
  altered constraints or the partition layout, or added files that
  intersect this op's read set is a true conflict and raises; anything
  else — the overwhelmingly common case of concurrent appends — is
  reconciled in place. Without this, a multi-minute ``compact``/``merge``
  on an actively-ingested table would lose every race and livelock.
  Isolation is ``write_serializable`` (Delta's default: winner BLIND
  APPENDS are invisible to a DML op's read-set check, so a delete racing
  an append keeps concurrently-appended rows even when they match its
  predicate); construct with ``isolation="serializable"`` to make such
  winners conflict too unless file stats prove them disjoint.
- ``append(df, txn_id=...)`` records the application transaction id; a
  replayed id is a silent no-op — the idempotent-sink contract Delta gives
  ``foreachBatch`` (txn appId/version), which upgrades the streaming
  ingest's at-least-once delivery to exactly-once table state.
- ``overwrite`` adds new files and removes all current ones IN ONE COMMIT
  (atomic replace; old files stay on disk for time travel until vacuum).
- ``merge_upsert(source, keys[, order_cols])`` is copy-on-write MERGE:
  snapshot ∪ source resolved per key (source-wins, or latest-wins by
  ``order_cols`` for out-of-order deliveries), rewritten and swapped in one
  commit. File-level pruning (rewriting only files whose key range
  intersects the source) is the 100 TB refinement of the same design.
- ``read(spark, version=N)`` / ``read(spark, timestamp=T)`` time-travel
  (commits carry a wall-clock ``ts``); ``history()`` is the audit log;
  ``vacuum()`` deletes files unreachable from the latest version.
- ``delete(spark, predicate)`` / ``update(spark, predicate, set)`` are
  copy-on-write row-level DML with FILE-LEVEL PRUNING: log-held per-file
  min/max stats first exclude files the predicate provably cannot match
  (``sinks/skipping.py``, conservative subset, bails to scan), then one
  scan over the candidates finds the files that contain matching rows
  (``input_file_name``), ONLY those files are rewritten, and the swap is
  one atomic commit. Untouched files are carried over by reference — at
  100 TB a DELETE hitting 0.1% of files rewrites 0.1% of the table,
  which is exactly Delta's copy-on-write DML shape. ``restore(version)``
  is a metadata-only commit that points the table back at an earlier
  version's file list (Delta RESTORE).
- ``add_constraint(name, sql)`` is a Delta-style table CHECK: carried in
  the log like the schema, validated against existing data when added,
  enforced on every subsequent write (NULL passes, FALSE violates).
- schema evolution is additive (mergeSchema): new columns extend the
  committed schema; readers apply the latest schema over old files (absent
  columns read as NULL). A type CONFLICT raises instead of corrupting.

Scale notes: the log is driver-side metadata — O(commits) tiny JSON files,
exactly like Delta's JSON actions (Delta adds parquet checkpoints past 10
commits; same move applies here). Data-plane work (the actual writes, the
merge join) is ordinary distributed Spark. Snapshot file lists are passed
explicitly to the parquet reader, so partition pruning/pushdown behave as
for any parquet scan.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

_LOG_DIR = "_txlog"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


class SchemaEvolutionError(ValueError):
    """Non-additive schema change (existing column changed type)."""


class ConstraintViolationError(ValueError):
    """A write contained rows failing a table CHECK constraint."""


class IdentityColumnViolationError(ValueError):
    """A write supplied values for a GENERATED ALWAYS AS IDENTITY column
    (its values are table-allocated), or declared identity on a column
    whose type/contents cannot carry it."""


class GeneratedColumnViolationError(ValueError):
    """A write supplied values for a generated column that disagree with
    its generation expression."""


class UnsupportedTableFeatureError(RuntimeError):
    """The table's log requires a feature this build does not implement.

    The Delta protocol's reader/writer-features contract: commits record
    which features a correct reader (``deletionVectors``: masked rows must
    be skipped; ``externalFiles``: the file list holds absolute paths
    outside the root; ``columnMapping``: parquet columns carry physical
    names) or writer (``changeDataFeed``: DML must materialize change
    rows; ``checkConstraints``: rows must be validated) MUST implement to
    interpret the table correctly. A build that does not know a required
    reader feature would silently return WRONG ROWS (e.g. deleted rows
    resurrected by ignoring deletion vectors), so it must refuse the read;
    an unknown writer-only feature still permits reads but refuses writes
    (which would corrupt the invariant the feature maintains). That
    failure mode is exactly what this error makes loud."""


# features THIS build implements. A future build that adds a new
# reader-required feature bumps these; tables it writes then refuse loudly
# under the present build instead of misreading.
SUPPORTED_READER_FEATURES = frozenset(
    {"deletionVectors", "externalFiles", "columnMapping"}
)
SUPPORTED_WRITER_FEATURES = SUPPORTED_READER_FEATURES | frozenset(
    {"changeDataFeed", "checkConstraints", "generatedColumns",
     "identityColumns"}
)


@dataclass(frozen=True)
class Snapshot:
    version: int
    files: tuple[str, ...]  # paths relative to the table root
    schema_json: str
    txn_ids: tuple[str, ...] = ()
    partition_cols: tuple[str, ...] = ()  # non-empty for partitioned tables
    constraints: tuple[tuple[str, str], ...] = ()  # (name, sql_expr) CHECKs
    # per-file column min/max/null stats recorded at commit time (Delta's
    # data-skipping stats): {rel_path: {col: {"k","min","max","nulls"}}}.
    # Missing entries (pre-stats commits, unreadable footers) simply mean
    # "cannot skip this file" — stats are an optimization, never load-bearing
    file_stats: dict = field(default_factory=dict)
    # last-seen commit wall-clock per txn id, feeding checkpoint-time txn
    # retention; ids absent here (pre-upgrade checkpoints) never expire
    txn_ts: dict = field(default_factory=dict)
    # deletion vectors (Delta's merge-on-read DELETE): {data_rel_path:
    # dv_rel_path}. The DV file holds row-position runs deleted from the
    # UNCHANGED parquet file; readers apply it, copy-on-write rewrites
    # materialize and drop it. A file absent here has no masked rows.
    dvs: dict = field(default_factory=dict)
    # table properties (Delta TBLPROPERTIES): log-carried, so they bind
    # to the TABLE, not to whichever writer instance touches it —
    # recognized keys: "txn.retention.seconds", "isolation.level".
    properties: dict = field(default_factory=dict)
    # required table features (Delta's reader/writer features): the UNION
    # of every commit's "features" deltas up to this version — monotone,
    # so concurrent enables merge without conflict. snapshot() refuses
    # unknown reader features; commits refuse unknown writer features.
    reader_features: tuple = ()
    writer_features: tuple = ()


_STATS_MAX_COLS = 32  # Delta's default: stats on the first 32 columns


def _norm_stat_value(v):
    """Normalize a stats value (from a parquet footer or a Spark collect)
    to a (kind, comparable) pair. ISO-8601 keeps dates/timestamps
    order-faithful as strings; unsupported types return None (no pruning
    on that column)."""
    import datetime as _dt

    if isinstance(v, bool):
        return ("num", int(v))
    if isinstance(v, (int, float)):
        return ("num", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return ("str", v.isoformat())
    if isinstance(v, _dt.date):
        return ("str", v.isoformat())
    return None  # Decimal, bytes, nested — skip


def _file_column_stats(full_path: str) -> dict:
    """{col: {"k": kind, "min", "max", "nulls"}} from one parquet footer.
    A column appears only if EVERY row group carries usable stats (else
    min/max would be partial and pruning unsound). All-null columns
    appear with min/max None."""
    import pyarrow.parquet as pq

    return _stats_from_metadata(pq.ParquetFile(full_path).metadata)


def _stats_from_metadata(md) -> dict:
    """Stats extraction from an already-parsed footer — lets staging
    compute them in the same pass as its empty-part check instead of
    re-opening every footer at commit time (2x driver metadata I/O, and
    2x GET-range requests on object stores)."""
    acc: dict[str, dict] = {}
    dropped: set[str] = set()
    # nested STRUCT leaves are harvested under their dotted parquet path
    # ("address.zip") — but ONLY paths reachable through pure struct
    # nesting: array/map element paths ("items.list.element.sku") can
    # never prune element-wise predicate semantics, so recording them
    # would be pure log bloat that also displaces flat columns from the
    # _STATS_MAX_COLS budget. The footer's own arrow schema decides.
    # Null counts at a nested leaf include parent-null rows, which
    # matches SQL: `s.a IS NULL` is true when s itself is NULL.
    allowed_nested: set[str] = set()
    try:
        import pyarrow.types as pt

        def _walk(struct_t, prefix: str) -> None:
            for fi in range(struct_t.num_fields):
                f = struct_t.field(fi)
                if pt.is_struct(f.type):
                    _walk(f.type, f"{prefix}{f.name}.")
                elif not (
                    pt.is_list(f.type)
                    or pt.is_large_list(f.type)
                    or pt.is_fixed_size_list(f.type)
                    or pt.is_map(f.type)
                ):
                    allowed_nested.add(f"{prefix}{f.name}")

        for top in md.schema.to_arrow_schema():
            if pt.is_struct(top.type):
                _walk(top.type, f"{top.name}.")
    except Exception:  # noqa: BLE001 - unconvertible schema: flat-only
        pass
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(g.num_columns):
            cc = g.column(i)
            name = cc.path_in_schema
            if name in dropped:
                continue
            if "." in name and name not in allowed_nested:
                continue  # array/map internals: never consultable
            st = cc.statistics
            if st is None or not st.has_null_count:
                dropped.add(name)
                acc.pop(name, None)
                continue
            nulls = st.null_count
            all_null = not st.has_min_max and nulls == g.num_rows
            if not all_null and not st.has_min_max:
                dropped.add(name)
                acc.pop(name, None)
                continue
            lo = _norm_stat_value(st.min) if not all_null else None
            hi = _norm_stat_value(st.max) if not all_null else None
            if not all_null and (lo is None or hi is None or lo[0] != hi[0]):
                dropped.add(name)
                acc.pop(name, None)
                continue
            cur = acc.get(name)
            if cur is None:
                acc[name] = {
                    "k": lo[0] if lo else None,
                    "min": lo[1] if lo else None,
                    "max": hi[1] if hi else None,
                    "nulls": nulls,
                }
            else:
                cur["nulls"] += nulls
                if lo is not None:
                    if cur["min"] is None or lo[1] < cur["min"]:
                        cur["min"] = lo[1]
                        cur["k"] = lo[0]
                    if cur["max"] is None or hi[1] > cur["max"]:
                        cur["max"] = hi[1]
    if len(acc) > _STATS_MAX_COLS:
        # FLAT columns keep priority under the budget: a wide nested
        # struct must not displace the flat keys every DML predicate and
        # conflict read-check leans on (pre-nested behavior preserved)
        flat = [k for k in acc if "." not in k]
        nested = [k for k in acc if "." in k]
        acc = {k: acc[k] for k in (flat + nested)[:_STATS_MAX_COLS]}
    return acc


def _keys_disjoint(
    src: dict, fstats: dict, keys: list[str], null_safe: bool
) -> bool:
    """True when log-held per-file stats PROVE the file shares no key
    tuple with a source whose per-key bounds are ``src`` (shape:
    ``{key: {"min","kind","max","nulls"}}``). A match needs equality on
    ALL keys, so any single provably-disjoint column suffices.
    Conservative by construction: a missing or incomparable stat proves
    nothing. Shared by MERGE data skipping and the commit-time conflict
    check (a winner-added file that is provably key-disjoint cannot have
    been part of this merge's read set)."""
    for k in keys:
        fs = fstats.get(k)
        if fs is None:
            continue  # no stats for this column: can't judge
        s = src[k]
        file_has_nulls = (fs.get("nulls") or 0) > 0
        if null_safe and s["nulls"] > 0 and file_has_nulls:
            continue  # NULL keys can match: column not usable
        if fs["min"] is None:  # file column is ALL null
            # nulls never match non-null source keys; in null-safe
            # mode a source null would have matched (handled above)
            return True
        if s["min"] is None:
            # source keys all null in this column: no value match
            # possible; null-safe null-match handled above
            return True
        if fs.get("k") != s["kind"]:
            continue  # incomparable normalizations: be safe
        if fs["max"] < s["min"] or fs["min"] > s["max"]:
            return True
    return False


# column mapping (Delta's "name" mode): when enabled, each field's
# StructField metadata carries the PHYSICAL parquet column name under this
# key. Logical names become pure metadata — rename/drop are one-commit
# metadata ops, no 100 TB rewrite. Physical names are frozen at enable
# time (= the then-current logical names, so existing files stay valid);
# columns added afterwards get fresh uuid names, which is what stops a
# drop+re-add of the same logical name resurrecting the old column's data.
# The literal lives in skipping.py (the stats translator) as the single
# source of truth — drifting copies would silently disable mapped-stats
# translation.
from bigdataingestion_spark.sinks.skipping import (  # noqa: E402
    NESTED_PHYS_KEY as _SKIP_NESTED_KEY,
)
from bigdataingestion_spark.sinks.skipping import (  # noqa: E402
    PHYS_NAME_KEY as _SKIP_PHYS_KEY,
)

_PHYS_KEY = _SKIP_PHYS_KEY


# generated columns (Delta's GENERATED ALWAYS AS): the generation SQL
# expression lives in the field's metadata; writers compute the column
# when a batch omits it and validate it when supplied.
_GEN_KEY = "txlog.generationExpression"


def _generated_of(schema: StructType | None) -> dict[str, str]:
    if schema is None:
        return {}
    return {
        f.name: (f.metadata or {})[_GEN_KEY]
        for f in schema.fields
        if _GEN_KEY in (f.metadata or {})
    }


# field-metadata key declaring a column GENERATED AS IDENTITY (Delta's
# delta.identity.* column metadata): {"start": int, "step": int,
# "always": bool}. The allocation HIGH-WATER MARK deliberately lives in
# the table PROPERTIES (``identity.hwm.<lower-name>``) rather than in
# schema metadata as Delta stores it: the conflict checker already
# treats a concurrent property change as a true conflict, so two
# writers racing to allocate from the same mark can never both commit —
# the loser re-allocates from the winner's mark. Schema-held marks would
# need a bespoke metadata-aware conflict rule to get the same guarantee.
_IDENT_KEY = "txlog.identityInfo"


def _identity_of(schema: StructType | None) -> dict[str, dict]:
    if schema is None:
        return {}
    return {
        f.name: json.loads((f.metadata or {})[_IDENT_KEY])
        for f in schema.fields
        if _IDENT_KEY in (f.metadata or {})
    }


def _l2p(schema: StructType) -> dict[str, str]:
    """logical -> physical column names (identity without mapping)."""
    return {
        f.name: (f.metadata or {}).get(_PHYS_KEY, f.name)
        for f in schema.fields
    }


# nested column mapping (rename-only): a top-level field whose type
# contains structs carries a JSON dict under this metadata key mapping
# each nested field's dotted LOGICAL path (relative to the top-level
# field; array elements and map values are addressed without an index,
# e.g. "items.sku" for array<struct<sku,...>>) to its frozen PHYSICAL
# leaf name. Kept OUTSIDE the dataType (StructField metadata at the top
# level) so nested freezing never perturbs dataType equality — the
# comparison every schema-evolution and stream-safety check relies on.
# Nested RENAME is metadata-only, exactly like top-level. Nested DROP is
# refused: the translations (field-extraction rebuild on reads, a
# positional struct cast on writes, an arrow view in the datasource) are
# only sound while logical and physical types keep the same shape —
# dropping a nested field would misalign every older file. (Delta
# rewrites nothing either; it carries per-field ids — this engine trades
# that generality for a translation Catalyst runs entirely JVM-side.)
_NESTED_KEY = _SKIP_NESTED_KEY


def _nested_struct_paths(dt, prefix: str = "") -> list[str]:
    """Dotted paths of every struct field nested inside ``dt``
    (descending through arrays and map values; map keys are atomic)."""
    if isinstance(dt, StructType):
        out = []
        for f in dt.fields:
            p = f"{prefix}{f.name}"
            out.append(p)
            out.extend(_nested_struct_paths(f.dataType, p + "."))
        return out
    if isinstance(dt, ArrayType):
        return _nested_struct_paths(dt.elementType, prefix)
    if isinstance(dt, MapType):
        return _nested_struct_paths(dt.valueType, prefix)
    return []


def _nested_map_of(field: StructField) -> dict[str, str]:
    raw = (field.metadata or {}).get(_NESTED_KEY)
    return dict(json.loads(raw)) if raw else {}


def _nested_map_diverged(field: StructField) -> dict[str, str]:
    """The field's nested map IF any entry diverges from identity, else
    {} — the gate for the read/write translations, so identity-frozen
    tables (and nested fields carrying incidental metadata) pay nothing
    per read/write until an actual nested rename happens."""
    nmap = _nested_map_of(field)
    return (
        nmap
        if any(p.rsplit(".", 1)[-1] != phys for p, phys in nmap.items())
        else {}
    )


def _phys_data_type(dt, nmap: dict[str, str], prefix: str = ""):
    """``dt`` with every nested struct field renamed to its frozen
    physical name (identity for paths absent from ``nmap``). Shape —
    field count, order, non-name type content, nested field metadata —
    is preserved by construction, which is what makes the
    logical<->physical translation positional."""
    if not nmap:
        return dt
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    nmap.get(f"{prefix}{f.name}", f.name),
                    _phys_data_type(
                        f.dataType, nmap, f"{prefix}{f.name}."
                    ),
                    f.nullable,
                    f.metadata,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(
            _phys_data_type(dt.elementType, nmap, prefix), dt.containsNull
        )
    if isinstance(dt, MapType):
        return MapType(
            dt.keyType,
            _phys_data_type(dt.valueType, nmap, prefix),
            dt.valueContainsNull,
        )
    return dt


def _rename_in_type(dt, path: str, new: str):
    """``dt`` with the nested struct field at dotted ``path`` renamed to
    ``new`` (traversing arrays and map values). Everything else — order,
    types, nullability, nested metadata — is untouched."""
    if isinstance(dt, StructType):
        head, _, tail = path.partition(".")
        fields = []
        for f in dt.fields:
            if f.name == head:
                f = (
                    StructField(
                        f.name,
                        _rename_in_type(f.dataType, tail, new),
                        f.nullable,
                        f.metadata,
                    )
                    if tail
                    else StructField(new, f.dataType, f.nullable, f.metadata)
                )
            fields.append(f)
        return StructType(fields)
    if isinstance(dt, ArrayType):
        return ArrayType(_rename_in_type(dt.elementType, path, new), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            dt.keyType,
            _rename_in_type(dt.valueType, path, new),
            dt.valueContainsNull,
        )
    return dt


def _freeze_nested_identity(dt) -> dict[str, str]:
    """Identity nested map for a field entering a mapped schema: each
    nested path's physical name is its then-current leaf name (the names
    already in the files), mirroring what enable does at the top level."""
    return {p: p.rsplit(".", 1)[-1] for p in _nested_struct_paths(dt)}


def _phys_dotted(schema: StructType, logical: str) -> str | None:
    """Physical dotted path for a (possibly dotted) LOGICAL column name,
    translated through both mapping levels (top-level physicalName +
    nestedPhysical leaf chain). None when the path doesn't resolve
    through pure struct nesting — arrays/maps stop the walk, exactly as
    in stats skipping."""
    top, _, rest = logical.partition(".")
    f = next((x for x in schema.fields if x.name == top), None)
    if f is None:
        return None
    ptop = (f.metadata or {}).get(_PHYS_KEY, f.name)
    if not rest:
        return ptop
    nmap = _nested_map_of(f)
    dt, lpath, phys = f.dataType, "", []
    for seg in rest.split("."):
        if not isinstance(dt, StructType):
            return None
        c = next((x for x in dt.fields if x.name == seg), None)
        if c is None:
            return None
        lpath = f"{lpath}{seg}"
        phys.append(nmap.get(lpath, seg))
        lpath += "."
        dt = c.dataType
    return ".".join([ptop, *phys])


def _to_logical_col(c, dt, nmap: dict[str, str], prefix: str = ""):
    """Column expression converting a physical-named nested value to its
    logical shape. Built from GetStructField extractions + struct()
    rebuilds (null-preserved via when), NOT a struct cast: Catalyst's
    nested-schema pruning pushes through field extractions, so
    ``select(address.postal)`` on a mapped table still reads ONLY the
    zip bytes from parquet — a positional cast is opaque to pruning and
    would drag the whole struct through the scan at 100 TB."""
    if isinstance(dt, StructType):
        rebuilt = F.struct(
            *[
                _to_logical_col(
                    c.getField(nmap.get(f"{prefix}{f.name}", f.name)),
                    f.dataType,
                    nmap,
                    f"{prefix}{f.name}.",
                ).alias(f.name)
                for f in dt.fields
            ]
        )
        return F.when(c.isNotNull(), rebuilt)
    if isinstance(dt, ArrayType):
        return F.transform(
            c, lambda x: _to_logical_col(x, dt.elementType, nmap, prefix)
        )
    if isinstance(dt, MapType):
        return F.transform_values(
            c, lambda k, v: _to_logical_col(v, dt.valueType, nmap, prefix)
        )
    return c


def _copy_file_pair(pair: tuple[str, str]) -> None:
    """Executor-side (src, dst) file copy for deep CLONE. Module-level so
    Spark pickles it by reference; assumes source and target roots live
    on storage every executor can reach (true for local mode and for the
    shared object store / DFS a cluster deployment targets)."""
    src, dst = pair
    os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
    shutil.copyfile(src, dst)


def _schema_is_mapped(schema: StructType) -> bool:
    return any(_PHYS_KEY in (f.metadata or {}) for f in schema.fields)


def _physical_struct(schema: StructType) -> StructType:
    """The schema as written to / read from parquet: physical names
    (top-level AND nested, via each field's frozen nested map), same
    shape and nullability."""
    return StructType(
        [
            StructField(
                (f.metadata or {}).get(_PHYS_KEY, f.name),
                _phys_data_type(f.dataType, _nested_map_of(f)),
                f.nullable,
            )
            for f in schema.fields
        ]
    )


def _merge_schema(current: StructType, incoming: StructType) -> StructType:
    """Additive union: incoming may add columns; changing an existing
    column's type is refused. On a column-mapped table, appended fields
    are assigned a fresh uuid physical name HERE — the single place new
    columns enter the schema — so the staged write and the commit agree
    on it."""
    by_name = {f.name.lower(): f for f in current.fields}
    mapped = _schema_is_mapped(current)
    out = list(current.fields)
    for f in incoming.fields:
        have = by_name.get(f.name.lower())
        if have is None:
            if mapped and _PHYS_KEY not in (f.metadata or {}):
                md = {
                    **(f.metadata or {}),
                    _PHYS_KEY: f"col-{uuid.uuid4().hex[:12]}",
                }
                nested = _freeze_nested_identity(f.dataType)
                if nested:
                    # nested paths freeze at identity: this column's
                    # files don't exist yet, so the staged write and the
                    # commit agree on the leaf names as written
                    md[_NESTED_KEY] = json.dumps(nested)
                f = StructField(f.name, f.dataType, f.nullable, md)
            out.append(f)
        elif have.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name}: {have.dataType} -> {f.dataType}"
            )
    return StructType(out)


class TxLogTable:
    def __init__(
        self,
        path: str,
        checkpoint_interval: int = 10,
        isolation: str = "write_serializable",
        txn_retention_seconds: float | None = 30 * 24 * 3600.0,
    ):
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        # every N commits the full snapshot state is rolled into a .ckpt
        # file (the Delta protocol's checkpoint move): snapshot resolution
        # then replays only the commits SINCE the newest usable checkpoint,
        # keeping per-op log cost O(interval) instead of O(total commits)
        self.checkpoint_interval = checkpoint_interval
        # conflict-reconciliation isolation (Delta's two levels, same
        # defaults): under "write_serializable" a winner BLIND APPEND is
        # exempt from a DML op's read-set conflict check — concurrent
        # ingest never blocks delete/update/merge, at the cost of the
        # documented anomaly that appended rows matching the predicate
        # survive. "serializable" runs every winner add through the check
        # (file stats can still prove an add disjoint and admit it).
        if isolation not in ("write_serializable", "serializable"):
            raise ValueError(f"unknown isolation level: {isolation}")
        self.isolation = isolation
        # txn ids are kept for exactly-once replay detection; on a
        # long-lived streaming table they grow one per micro-batch
        # forever, so checkpoints expire ids not seen for this long
        # (Delta's setTransactionRetentionDuration). None disables
        # expiry. Trade-off, same as Delta's: a stream that resumes
        # after MORE than the retention window can replay its last
        # batch undetected — size the window above any plausible outage.
        self.txn_retention_seconds = txn_retention_seconds

    # ------------------------------------------------------------- log --

    def _commit_files(self) -> list[str]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(f for f in os.listdir(self.log_dir) if f.endswith(".json"))

    def _last_checkpoint_version(self) -> int | None:
        """The ``_last_checkpoint`` pointer (Delta's move for object
        stores where LIST over a million-entry log directory is the
        bottleneck): a tiny file naming the newest checkpoint version, so
        hot-path log resolution probes forward from there in O(delta)
        exists-checks instead of listing O(total-commits) entries. Purely
        an accelerator — a missing, stale, or corrupt pointer falls back
        to the directory listing."""
        try:
            d = json.loads(
                open(os.path.join(self.log_dir, "_last_checkpoint")).read()
            )
            v = int(d["version"])
        except (OSError, ValueError, KeyError, TypeError):
            return None
        # validate: the named checkpoint and its commit must exist
        if not os.path.exists(
            os.path.join(self.log_dir, f"{v:08d}.ckpt")
        ) or not os.path.exists(os.path.join(self.log_dir, f"{v:08d}.json")):
            return None
        return v

    def _probe_latest(self, start: int) -> int:
        """Latest contiguous committed version at or after ``start`` (a
        version known to exist), by per-file existence probes — the
        commit protocol guarantees versions are gapless."""
        v = start
        while os.path.exists(os.path.join(self.log_dir, f"{v + 1:08d}.json")):
            v += 1
        return v

    def version(self) -> int:
        """Latest committed version, -1 for an absent/empty table.
        O(commits-since-checkpoint) existence probes from the
        ``_last_checkpoint`` pointer; falls back to a directory listing
        when no usable pointer exists."""
        ptr = self._last_checkpoint_version()
        if ptr is not None:
            return self._probe_latest(ptr)
        commits = self._commit_files()
        return int(commits[-1][:-5]) if commits else -1

    def history(self) -> list[dict]:
        return [
            json.loads(open(os.path.join(self.log_dir, f)).read())
            for f in self._commit_files()
        ]

    def commits_between(self, from_version: int, to_version: int) -> list[dict]:
        """Commit entries with ``from_version < version <= to_version``,
        reading ONLY those files — the filename encodes the version, so
        the range filter costs no file reads. Incremental consumers (the
        streaming source, ``read_changes``) stay O(delta) per call where
        a ``history()`` replay would be O(total commits): on a long-lived
        table with 100k commits, a micro-batch that advanced 3 versions
        reads 3 files, not 100k. Filenames are constructed directly from
        the version numbers (no directory listing at all — versions are
        gapless by the commit protocol); a missing file in the range is
        skipped, matching the old listing behavior."""
        out = []
        for v in range(max(from_version, -1) + 1, to_version + 1):
            try:
                with open(
                    os.path.join(self.log_dir, f"{v:08d}.json")
                ) as fh:
                    out.append(json.loads(fh.read()))
            except FileNotFoundError:
                continue
        return out

    def _checkpoint_files(self) -> list[str]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(f for f in os.listdir(self.log_dir) if f.endswith(".ckpt"))

    def _write_checkpoint(self, snap: Snapshot) -> None:
        """Roll the snapshot into a .ckpt (derived data: idempotent, and
        published by atomic rename so readers never see a partial one),
        then advance the ``_last_checkpoint`` pointer. Checkpoint time is
        also when txn-id retention applies: ids last seen longer than
        ``txn_retention_seconds`` ago are dropped from the rolled state
        (Delta's setTransactionRetentionDuration), bounding what would
        otherwise grow one id per micro-batch forever on a streaming
        table. Ids with no recorded timestamp (pre-upgrade checkpoints)
        are never expired."""
        txn_ids, txn_ts = list(snap.txn_ids), dict(snap.txn_ts)
        retention = self.txn_retention_seconds
        prop = snap.properties.get("txn.retention.seconds")
        if prop is not None:  # log-carried table property beats the
            retention = None if prop == "none" else float(prop)  # writer arg
        if retention is not None:
            cutoff = time.time() - retention
            txn_ids = [
                t for t in txn_ids if txn_ts.get(t) is None or txn_ts[t] >= cutoff
            ]
            keep = set(txn_ids)
            txn_ts = {t: ts for t, ts in txn_ts.items() if t in keep}
        target = os.path.join(self.log_dir, f"{snap.version:08d}.ckpt")
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": snap.version,
                    "files": list(snap.files),
                    "schema": snap.schema_json,
                    "txn_ids": txn_ids,
                    "txn_ts": txn_ts,
                    "partition_cols": list(snap.partition_cols),
                    "constraints": [list(c) for c in snap.constraints],
                    "stats": snap.file_stats,
                    "dvs": snap.dvs,
                    "properties": snap.properties,
                    "reader_features": list(snap.reader_features),
                    "writer_features": list(snap.writer_features),
                },
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())  # rename durability alone can publish a torn file
        os.replace(tmp, target)
        # the pointer is an accelerator, not ground truth: only advance it
        # (a concurrent writer may have checkpointed a newer version), and
        # publish via the same fsync+rename so it is never torn
        ptr = os.path.join(self.log_dir, "_last_checkpoint")
        try:
            cur = self._last_checkpoint_version()
            if cur is None or cur < snap.version:
                ptmp = ptr + f".tmp-{uuid.uuid4().hex[:8]}"
                with open(ptmp, "w") as fh:
                    json.dump({"version": snap.version}, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
                os.replace(ptmp, ptr)
        except OSError:
            pass  # a failed pointer write only costs the next reader a LIST

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        """Resolve the table state at ``version`` (latest if None): start
        from the newest checkpoint at or below the target, then replay only
        the commits after it. ONE log resolution per operation: every op
        derives version, file list, schema, and seen txn ids from the same
        snapshot, and commits against exactly that version — a concurrent
        commit in between loses the create-exclusive race instead of
        silently clobbering it.

        Hot path (``version=None`` with a valid ``_last_checkpoint``
        pointer): load that one checkpoint, then read commits FORWARD by
        constructed filename until the first gap — O(delta) file reads
        and existence probes, NO directory listing, which is what keeps
        per-op log cost flat on a table with a million commits (LIST over
        the log directory is the scaling cliff on object stores). Time
        travel and pointer-less tables fall back to the listing."""
        base = self._load_checkpoint_base(version)
        if base is not None:
            # forward probe by constructed filename: versions are gapless,
            # so read until missing (or until the requested version) —
            # works for time travel too, keeping the CHECKPOINT WRITE
            # path (snapshot(version=just-committed)) list-free as well
            entries = []
            v = base.version + 1
            while version is None or v <= version:
                try:
                    with open(
                        os.path.join(self.log_dir, f"{v:08d}.json")
                    ) as fh:
                        entries.append(json.loads(fh.read()))
                except FileNotFoundError:
                    break
                v += 1
        else:
            # no usable checkpoint: parse the listed commit files (young
            # or checkpoint-less tables — the listing is small)
            entries = [
                json.loads(open(os.path.join(self.log_dir, f)).read())
                for f in self._commit_files()
                if (version is None or int(f[:-5]) <= version)
            ]
        if not entries:
            self._check_reader_features(base)
            return base
        files = list(base.files) if base else []
        txn_ids = list(base.txn_ids) if base else []
        txn_ts = dict(base.txn_ts) if base else {}
        cons = list(base.constraints) if base else []
        stats = dict(base.file_stats) if base else {}
        dvs = dict(base.dvs) if base else {}
        props = dict(base.properties) if base else {}
        r_feat = set(base.reader_features) if base else set()
        w_feat = set(base.writer_features) if base else set()
        for e in entries:
            removed = set(e["remove"])
            files = [f for f in files if f not in removed]
            files.extend(e["add"])
            for f in removed:
                stats.pop(f, None)
                dvs.pop(f, None)  # a rewritten file's mask dies with it
            stats.update(e.get("stats") or {})
            # dv entries SET the mask per file; an explicit null CLEARS it
            # (restore uses that to re-establish an older version's state)
            for f, dv in (e.get("dv") or {}).items():
                if dv is None:
                    dvs.pop(f, None)
                else:
                    dvs[f] = dv
            if e.get("txn_id"):
                txn_ids.append(e["txn_id"])
                txn_ts[e["txn_id"]] = e.get("ts", 0.0)
            if "constraints" in e:  # absent only in pre-upgrade commits
                cons = [tuple(c) for c in e["constraints"]]
            if "properties" in e:  # only set_properties commits carry it
                props = dict(e["properties"])
            feat = e.get("features")
            if feat:  # monotone union of per-commit feature deltas
                r_feat |= set(feat.get("reader") or ())
                w_feat |= set(feat.get("writer") or ())
        snap = Snapshot(
            version=entries[-1]["version"],
            files=tuple(files),
            schema_json=entries[-1]["schema"],
            txn_ids=tuple(txn_ids),
            partition_cols=tuple(entries[-1].get("partition_cols") or ()),
            constraints=tuple(cons),
            file_stats=stats,
            txn_ts=txn_ts,
            dvs=dvs,
            properties=props,
            reader_features=tuple(sorted(r_feat)),
            writer_features=tuple(sorted(w_feat)),
        )
        self._check_reader_features(snap)
        return snap

    def _load_checkpoint_base(self, version: int | None) -> Snapshot | None:
        """Newest usable checkpoint at or below ``version`` (latest if
        None) as a Snapshot. The ``_last_checkpoint`` pointer short-cuts
        the latest-state case; corruption or absence falls back to the
        directory listing, and an unreadable checkpoint falls back to the
        next older one — checkpoints are DERIVED data and must never
        brick the table."""
        ptr = self._last_checkpoint_version()
        if ptr is not None and (version is None or ptr <= version):
            # the pointer serves time travel too whenever its checkpoint
            # is at or below the target — resolution stays list-free
            try:
                d = json.loads(
                    open(
                        os.path.join(self.log_dir, f"{ptr:08d}.ckpt")
                    ).read()
                )
                return self._snapshot_from_checkpoint(d)
            except (ValueError, OSError):
                pass  # pointer target unreadable: fall back to LIST
        for ck in reversed(self._checkpoint_files()):
            v = int(ck.split(".")[0])
            if version is not None and v > version:
                continue
            try:
                d = json.loads(open(os.path.join(self.log_dir, ck)).read())
            except (ValueError, OSError):
                continue
            return self._snapshot_from_checkpoint(d)
        return None

    @staticmethod
    def _snapshot_from_checkpoint(d: dict) -> Snapshot:
        return Snapshot(
            version=d["version"],
            files=tuple(d["files"]),
            schema_json=d["schema"],
            txn_ids=tuple(d["txn_ids"]),
            partition_cols=tuple(d["partition_cols"]),
            constraints=tuple(tuple(c) for c in d.get("constraints") or ()),
            file_stats=d.get("stats") or {},
            txn_ts=d.get("txn_ts") or {},
            dvs=d.get("dvs") or {},
            properties=d.get("properties") or {},
            reader_features=tuple(d.get("reader_features") or ()),
            writer_features=tuple(d.get("writer_features") or ()),
        )

    @staticmethod
    def _check_reader_features(snap: Snapshot | None) -> None:
        """Refuse to interpret a table requiring reader features this
        build lacks — proceeding would silently return wrong rows (the
        whole point of the features contract). Runs on every snapshot
        resolution, which is the single chokepoint every read AND write
        path (and the ``format("txlog")`` data source) goes through."""
        if snap is None:
            return
        unknown = set(snap.reader_features) - SUPPORTED_READER_FEATURES
        if unknown:
            raise UnsupportedTableFeatureError(
                f"table requires reader feature(s) {sorted(unknown)} this "
                "build does not implement; reading would return incorrect "
                "rows — upgrade the library to a build that lists them in "
                "SUPPORTED_READER_FEATURES"
            )

    def _check_writer_features(self, snap: Snapshot | None) -> None:
        """Refuse to COMMIT to a table requiring writer features this
        build lacks (reads stay allowed — Delta's asymmetry): an ignorant
        writer would break the invariant the feature maintains, e.g. land
        DML without materializing its change rows."""
        if snap is None:
            return
        unknown = set(snap.writer_features) - SUPPORTED_WRITER_FEATURES
        if unknown:
            raise UnsupportedTableFeatureError(
                f"table requires writer feature(s) {sorted(unknown)} this "
                "build does not implement; writing would corrupt the "
                "invariant those features maintain (reads remain allowed)"
            )

    def _commit(
        self,
        add: list[str],
        remove: list[str],
        schema: StructType,
        op: str,
        txn_id: str | None,
        expected_version: int,
        partition_cols: list[str] | None = None,
        metrics: dict | None = None,
        constraints: list | tuple | None = None,
        cleanup_on_conflict: bool = True,
        precomputed_stats: dict | None = None,
        dv: dict | None = None,
        properties: dict | None = None,
        cdf: dict | None = None,
        feature_delta: dict | None = None,
    ) -> int:
        os.makedirs(self.log_dir, exist_ok=True)
        version = expected_version + 1
        # per-file data-skipping stats from the staged parquet footers —
        # driver-side metadata reads at commit time, exactly where Delta
        # writes its stats. Never load-bearing: any failure just means the
        # file can't be skipped later. Retrying callers (commit_files)
        # pass the stats in: the files are immutable, so recomputing per
        # retry would be pure waste.
        if precomputed_stats is not None:
            stats = precomputed_stats
        else:
            stats = {}
            for f in add:
                try:
                    s = _file_column_stats(os.path.join(self.path, f))
                    if s:
                        stats[f] = s
                except Exception:  # noqa: BLE001 - stats are best-effort
                    pass
        # Delta's in-commit-timestamp guarantee, default-on here: the
        # committed ts is max(wall clock, predecessor ts + 1ms), so the
        # version order and the timestamp order can never disagree even
        # when the writer's clock regresses (NTP step, a different
        # writer host). Without this, timestampAsOf between two
        # out-of-order stamps silently resolves to the WRONG snapshot.
        # One predecessor-file read per commit; monotonicity is
        # transitive, so only the immediate predecessor matters. Best
        # effort: if its file is gone (aged out), wall clock stands —
        # every retained successor was already stamped monotonically.
        ts = time.time()
        if expected_version >= 0:
            try:
                with open(
                    os.path.join(
                        self.log_dir, f"{expected_version:08d}.json"
                    )
                ) as fh:
                    prev_ts = json.load(fh).get("ts", 0.0)
                if ts <= prev_ts:
                    ts = prev_ts + 0.001
            except (OSError, ValueError):
                pass
        entry = {
            "version": version,
            "op": op,
            "ts": ts,  # monotonic commit time: timestamp time travel
            "add": add,
            "remove": remove,
            "schema": schema.json(),
            "txn_id": txn_id,
            "partition_cols": list(partition_cols or ()),
            "constraints": [list(c) for c in (constraints or ())],
            "stats": stats,
        }
        if dv:
            entry["dv"] = dv
        if properties is not None:
            entry["properties"] = properties
        if cdf:
            entry["cdf"] = cdf
        if metrics:
            entry["op_metrics"] = metrics
        # required-feature DELTAS implied by this entry's own content
        # (resolution UNIONS them — monotone, so no base state is needed
        # here and concurrent enables merge instead of conflicting).
        # Listing a feature the entry uses is what lets a FUTURE build's
        # tables fail loudly under an older reader instead of misreading.
        r_feat = set((feature_delta or {}).get("reader") or ())
        w_feat = set((feature_delta or {}).get("writer") or ())
        if any(v is not None for v in (dv or {}).values()):
            r_feat.add("deletionVectors")  # ignoring masks resurrects rows
        if any(os.path.isabs(f) for f in add):
            r_feat.add("externalFiles")  # shallow clone: refs outside root
        if cdf or (properties or {}).get("cdf.enabled") == "true":
            w_feat.add("changeDataFeed")  # writers must materialize changes
        if constraints:
            w_feat.add("checkConstraints")  # writers must validate rows
        if _generated_of(schema):
            w_feat.add("generatedColumns")  # writers must compute/validate
        if _identity_of(schema):
            w_feat.add("identityColumns")  # writers must allocate values
        if _schema_is_mapped(schema):
            # any commit carrying a mapped schema (incl. CLONE's fresh
            # log, which drops history and with it the source's feature
            # declarations) must re-declare columnMapping, or a
            # feature-ignorant reader would scan physical-named parquet
            # under logical names and return NULLs
            r_feat.add("columnMapping")
        w_feat |= r_feat  # a reader-required feature binds writers too
        if r_feat or w_feat:
            entry["features"] = {
                "reader": sorted(r_feat),
                "writer": sorted(w_feat),
            }
        target = os.path.join(self.log_dir, f"{version:08d}.json")
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        # write + fsync the FULL entry to a hidden tmp file, then publish
        # with os.link: link is an atomic put-if-absent, so a commit file is
        # either absent or complete — a reader can never observe a partial
        # JSON, and a crash mid-write leaves only an ignorable .tmp orphan
        # (object-store deployments swap this for conditional PUT)
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            if cleanup_on_conflict:
                # orphaned data files from the losing writer: every TxLog op
                # re-stages from its source DataFrame on retry, so the files
                # are disposable. Callers that CANNOT re-stage (externally
                # staged files, e.g. commit_files) pass False and retry the
                # commit itself against a fresh snapshot instead.
                for f in add:
                    try:
                        os.remove(os.path.join(self.path, f))
                    except OSError:
                        pass
            raise ConcurrentWriteError(
                f"version {version} was committed by another writer"
            ) from None
        finally:
            os.remove(tmp)
        if self.checkpoint_interval and version > 0 and (
            version % self.checkpoint_interval == 0
        ):
            try:
                self._write_checkpoint(self.snapshot(version))
            except OSError:
                # the commit itself is already durable; a failed checkpoint
                # write (disk full, permissions) must not make the caller
                # believe the commit failed and retry into a duplicate —
                # the next interval boundary will try again
                pass
        return version

    def _drop_files(self, files) -> None:
        """Best-effort removal of staged-but-never-committed data files."""
        for f in files:
            try:
                os.remove(os.path.join(self.path, f))
            except OSError:
                pass

    def _conflict_reason(
        self,
        winners: list[dict],
        cur: Snapshot | None,
        our_remove: set,
        our_partition_cols,
        base_cons,
        base_pcols,
        base_props,
        read_check,
        adopt_constraints: bool,
        blind_replace: bool = False,
        base_schema_json: str | None = None,
        own_props: bool = False,
    ) -> str | None:
        """Delta's ConflictChecker, reduced to this log's action set:
        decide whether the commits that won the version race logically
        conflict with an operation computed against the base snapshot.
        ``None`` means every winner is reconcilable and the op may re-commit
        its staged files at the new version; a string names the first true
        conflict. Checks, in order:

        - partition layout changed, or a partitioned commit would land on
          a table that meanwhile gained flat commits -> conflict (the two
          layouts cannot mix for readers);
        - constraints changed -> conflict (this op's rows were validated
          against the base constraint set), unless the op is
          content-preserving and adopts the current set (compact);
        - a winner removed a file this op also removes -> conflict
          (Delta's "file already rewritten": our copy-on-write output was
          derived from a file that no longer exists);
        - a winner ADDED files intersecting this op's read set -> conflict.
          ``read_check(added, cur)`` returns the subset it cannot prove
          disjoint (stats-based, conservative). Ops that read nothing
          (append, compact, overwrite) pass ``read_check=None`` and
          tolerate every add. Under ``write_serializable`` (default, as in
          Delta) winner BLIND APPENDS are exempt — the anomaly that a
          concurrently-appended row matching a DELETE's predicate survives
          is accepted so that ingest never starves DML; ``serializable``
          checks them too.
        """
        cur_pcols = tuple(cur.partition_cols) if cur else ()
        if cur_pcols != tuple(base_pcols):
            return "partition layout changed concurrently"
        if (
            base_schema_json is not None
            and cur is not None
            and _schema_is_mapped(
                StructType.fromJson(json.loads(base_schema_json))
            )
        ):
            # MAPPED tables only: a concurrent rename/drop invalidates
            # this op's staged output (its physical columns were derived
            # from the base mapping); additive winners only ADD physical
            # names, which is fine. Unmapped tables keep the pre-mapping
            # reconcile semantics — a schema-replacing overwrite winner
            # is not a "mapping change".
            base_p2l = self._p2l_of(base_schema_json)
            cur_p2l = self._p2l_of(cur.schema_json)
            moved = [
                p
                for p, logical in base_p2l.items()
                if cur_p2l.get(p) != logical
            ]
            if moved:
                return (
                    "column mapping changed concurrently "
                    f"(physical column(s) {sorted(moved)} renamed/dropped)"
                )
        if our_partition_cols and cur and cur.files and not cur_pcols:
            return "table gained flat commits concurrently"
        if not adopt_constraints:
            cur_cons = tuple(cur.constraints) if cur else ()
            if cur_cons != tuple(base_cons):
                return "table constraints changed concurrently"
        # property drift is judged per WINNER TRANSITION, not endpoint
        # to endpoint: an intermediate mark rewind masked by a later
        # advance (reserve at 17, rewind to 10, re-reserve to 17) reads
        # as a no-op at the endpoints, yet the re-reserved range
        # duplicates ids this op's caller already holds — every
        # transition must independently pass the drift rule. Winners
        # carry the FULL property dict whenever they change it, so the
        # walk reconstructs each intermediate state exactly; a trailing
        # endpoint compare covers commits missing from ``winners``
        # (aged-out files are skipped by commits_between).
        cur_props = dict(cur.properties) if cur else {}
        prev_props = dict(base_props)
        for w in winners:
            if "properties" not in w:
                continue
            nxt_props = dict(w["properties"])
            if nxt_props != prev_props:
                why = self._prop_drift_reason(
                    nxt_props, prev_props, own_props, base_schema_json
                )
                if why is not None:
                    return why
            prev_props = nxt_props
        if cur_props != prev_props:
            why = self._prop_drift_reason(
                cur_props, prev_props, own_props, base_schema_json
            )
            if why is not None:
                return why
        if not blind_replace:
            for w in winners:
                # a deletion-vector entry MODIFIES its file as surely as a
                # rewrite does (two DVs on one file would lose the first; a
                # DV on a file we rewrite would be silently discarded), so
                # both sides' touched sets include remove ∪ dv-targets.
                # Blind-replace ops (overwrite-style, recomputed remove)
                # skip this check entirely: their output derives from
                # NOTHING in the table, their recomputed remove cannot
                # intersect winner removes (it is drawn from cur.files),
                # and a winner's mask on a file they fully remove is
                # subsumed by the replacement — serial order holds.
                w_touched = set(w["remove"]) | set(w.get("dv") or {})
                hit = our_remove & w_touched
                if hit:
                    return (
                        f"concurrent {w['op']} (v{w['version']}) rewrote or "
                        f"masked file(s) this op touches, e.g. {sorted(hit)[0]}"
                    )
        if read_check is not None:
            isolation = (
                (cur.properties.get("isolation.level") if cur else None)
                or self.isolation
            )
            for w in winners:
                if (
                    isolation == "write_serializable"
                    and w["op"] == "append"
                ):
                    continue  # winner blind appends: exempt at this level
                if not w["add"]:
                    continue
                bad = read_check(list(w["add"]), cur)
                if bad:
                    return (
                        f"concurrent {w['op']} (v{w['version']}) added "
                        f"file(s) intersecting this op's read set, "
                        f"e.g. {bad[0]}"
                    )
        return None

    @staticmethod
    def _prop_drift_reason(
        cur_props: dict,
        base_props: dict,
        own_props: bool,
        base_schema_json: str | None,
    ) -> str | None:
        """Decide whether a concurrent table-property change is a true
        conflict. Any drift conflicts an op that carries its OWN
        property delta (its delta was computed against the base set —
        committing it would silently regress the winner's change; this
        is what makes two legacy-mode identity allocators physically
        unable to both land). For ops carrying NO delta, drift confined
        to ``identity.hwm.*`` keys that moved IN the column's step
        direction is reconcilable: the op's staged output does not
        depend on the mark, and its re-commit inherits the winner's
        properties wholesale, so the advanced mark survives. This is
        what lets DML, compaction, and reserve-mode identity appends
        reconcile over a concurrent allocation instead of livelocking
        (Delta's ConcurrentTransactionException scope, narrowed to the
        one metadata key whose advance is commutative). A mark that
        moved AGAINST its step direction (RESTORE's rewind) or vanished
        still conflicts — values this op's caller observed could be
        re-issued after it."""
        drift = {
            k
            for k in set(cur_props) | set(base_props)
            if cur_props.get(k) != base_props.get(k)
        }
        if own_props or not all(k.startswith("identity.hwm.") for k in drift):
            return "table properties changed concurrently"
        steps: dict[str, int] = {}
        if base_schema_json is not None:
            idents = _identity_of(
                StructType.fromJson(json.loads(base_schema_json))
            )
            steps = {
                f"identity.hwm.{n.lower()}": int(s["step"])
                for n, s in idents.items()
            }
        for k in sorted(drift):
            if k not in cur_props:
                return (
                    f"identity high-water mark {k} was removed "
                    "concurrently"
                )
            if k not in base_props:
                continue  # first allocation ever: an advance from nothing
            step = steps.get(k)
            try:
                old, new = int(base_props[k]), int(cur_props[k])
            except (TypeError, ValueError):
                step = None
            if step is None or not (new > old if step > 0 else new < old):
                return (
                    f"identity high-water mark {k} moved against its "
                    "allocation direction concurrently (restore/rewind)"
                )
        return None

    def _commit_reconciled(
        self,
        add: list[str],
        remove: list[str],
        schema: StructType,
        op: str,
        txn_id: str | None,
        base: Snapshot | None,
        partition_cols: list[str] | None = None,
        metrics: dict | None = None,
        read_check=None,
        recompute_remove=None,
        keep_own_schema: bool = False,
        adopt_constraints: bool = False,
        max_reconciles: int = 50,
        dv: dict | None = None,
        precomputed_stats: dict | None = None,
        cdf: dict | None = None,
        properties: dict | None = None,
    ) -> int:
        """Commit with LOGICAL conflict reconciliation (Delta's
        ConflictChecker + commitLarge retry shape). The op's staging work —
        potentially hours of distributed rewrite at 100 TB — happens ONCE;
        a lost create-exclusive race re-examines the winning commits via
        :meth:`_conflict_reason` and, when none logically conflicts,
        re-commits the SAME staged files at the next version. Without
        this, any long-running ``compact``/``merge``/``delete`` on an
        actively-appended table loses every race and livelocks.

        On reconcile the entry schema is re-merged with the current
        snapshot's (a winner's additive evolution must not be regressed by
        our narrower entry — the snapshot schema is the LAST entry's);
        ``keep_own_schema`` skips that for ``overwrite``, which replaces
        the schema by design. ``recompute_remove`` rebuilds the remove
        list from the current snapshot for overwrite-style ops whose
        remove set is "whatever is there now"; by construction the rebuilt
        set cannot intersect winner removes. ``adopt_constraints`` lets
        content-preserving ops (compact) carry a concurrently-changed
        constraint set instead of conflicting. A true conflict or
        exhausted retries deletes the staged files (they are referenced by
        no committed version) and raises ``ConcurrentWriteError``; the
        caller must redo the op against a fresh snapshot. ``dv`` is a
        deletion-vector mapping committed with the entry; its target
        files count as touched for conflict purposes on both sides, and
        its staged DV files are cleaned up with ``add`` on failure."""
        self._check_writer_features(base)
        base_cons = tuple(base.constraints) if base else ()
        base_pcols = tuple(base.partition_cols) if base else ()
        base_props = dict(base.properties) if base else {}
        expected = base.version if base else -1
        constraints = base_cons
        disposable = list(add) + [f for f in (dv or {}).values() if f]
        for paths in (cdf or {}).values():
            disposable.extend(paths)  # change files are staged output too
        touched = set(remove) | set(dv or {})
        if precomputed_stats is not None:  # staging already read footers
            stats = precomputed_stats
        else:
            stats = {}
            for f in add:  # once: files are immutable across reconciles
                try:
                    s = _file_column_stats(os.path.join(self.path, f))
                    if s:
                        stats[f] = s
                except Exception:  # noqa: BLE001 - stats are best-effort
                    pass
        for _ in range(max_reconciles):
            try:
                return self._commit(
                    list(add),
                    list(remove),
                    schema,
                    op,
                    txn_id,
                    expected,
                    partition_cols=partition_cols,
                    metrics=metrics,
                    constraints=constraints,
                    cleanup_on_conflict=False,
                    precomputed_stats=stats,
                    dv=dv,
                    cdf=cdf,
                    # identity hwm updates ride the DML commit; safe
                    # under reconciliation because _conflict_reason
                    # treats ANY concurrent property change as a true
                    # conflict for ops carrying their own delta
                    # (own_props below) — only delta-free ops may
                    # reconcile over a winner's hwm advance
                    properties=properties,
                )
            except ConcurrentWriteError:
                cur = self.snapshot()
                if cur is None or cur.version <= expected:
                    continue  # raced a checkpointless glitch: retry as-is
                if txn_id is not None and txn_id in cur.txn_ids:
                    # replay landed concurrently: staged files never commit
                    self._drop_files(disposable)
                    return cur.version
                if recompute_remove is not None:
                    remove = recompute_remove(cur)
                    touched = set(remove) | set(dv or {})
                winners = self.commits_between(expected, cur.version)
                why = self._conflict_reason(
                    winners,
                    cur,
                    touched,
                    partition_cols,
                    base_cons,
                    base_pcols,
                    base_props,
                    read_check,
                    adopt_constraints,
                    blind_replace=recompute_remove is not None,
                    base_schema_json=base.schema_json if base else None,
                    own_props=properties is not None,
                )
                if why is not None:
                    self._drop_files(disposable)
                    raise ConcurrentWriteError(
                        f"cannot reconcile {op} with concurrent commits: "
                        f"{why}; redo the operation on a fresh snapshot"
                    ) from None
                if not keep_own_schema:
                    try:
                        merged = _merge_schema(
                            StructType.fromJson(json.loads(cur.schema_json)),
                            schema,
                        )
                    except SchemaEvolutionError as e:
                        self._drop_files(disposable)
                        raise ConcurrentWriteError(
                            f"cannot reconcile {op}: non-additive concurrent "
                            f"schema change ({e})"
                        ) from None
                    # mapped tables: our staged files were WRITTEN under
                    # our schema's physical names. If the merge resolved a
                    # same-named column to a DIFFERENT physical name (two
                    # concurrent appends each adding column 'c' under
                    # fresh uuids — the winner's uuid survives the
                    # name-keyed merge), committing would point the
                    # mapping at a column our files don't contain: every
                    # read of these rows returns NULL, silently. That is
                    # a true conflict — restage under the fresh snapshot.
                    own_l2p, merged_l2p = _l2p(schema), _l2p(merged)
                    drifted = [
                        n
                        for n, p in own_l2p.items()
                        if merged_l2p.get(n, p) != p
                    ]
                    if drifted:
                        self._drop_files(disposable)
                        raise ConcurrentWriteError(
                            f"cannot reconcile {op}: concurrent commit "
                            f"assigned different physical name(s) to "
                            f"column(s) {sorted(drifted)}; redo the "
                            "operation on a fresh snapshot"
                        )
                    schema = merged
                if adopt_constraints:
                    constraints = tuple(cur.constraints)
                expected = cur.version
        self._drop_files(disposable)
        raise ConcurrentWriteError(
            f"{op} lost {max_reconciles} consecutive commit races on "
            f"{self.path}"
        )

    # ------------------------------------------------------------ data --

    def _stage_files(
        self,
        df: DataFrame,
        partition_cols: list[str] | None = None,
        write_schema: StructType | None = None,
    ) -> tuple[list[str], dict]:
        """Write df as immutable parts under the table root (staged dir,
        then renamed with unique names — invisible until the commit
        lands). With ``partition_cols`` the parts land in hive-style
        partition subdirs. Returns ``(root-relative names, per-file
        data-skipping stats)`` — stats come from the same footer pass
        that drops empty parts, so commits need no second read.

        ``write_schema`` is the schema the caller will COMMIT: on a
        column-mapped table its field metadata names the physical parquet
        columns, and the df (always in logical space) is renamed to them
        before the write — the ONLY place logical becomes physical on the
        write path. Stats harvested from the footers are therefore keyed
        by physical names; consults translate back through the schema."""
        if write_schema is not None:
            by_name = {f.name: f for f in write_schema.fields}
            sel, translate = [], False
            for c in df.columns:
                f = by_name.get(c)
                if f is None:
                    sel.append(F.col(c))
                    continue
                col = F.col(c)
                nmap = _nested_map_diverged(f)
                if nmap:
                    # nested mapping: positional cast logical -> physical
                    # (shape-identical under the rename-only contract)
                    col = col.cast(_phys_data_type(f.dataType, nmap))
                    translate = True
                phys = (f.metadata or {}).get(_PHYS_KEY, f.name)
                if phys != c:
                    translate = True
                sel.append(col.alias(phys))
            if translate:
                df = df.select(sel)
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_staging-{uuid.uuid4().hex[:8]}")
        if partition_cols:
            df.write.partitionBy(*partition_cols).parquet(tmp)
        else:
            df.write.parquet(tmp)
        import pyarrow.parquet as pq

        names: list[str] = []
        stats: dict[str, dict] = {}
        nrows: dict[str, int] = {}
        for root, _dirs, files in os.walk(tmp):
            rel_dir = os.path.relpath(root, tmp)
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                st: dict = {}
                n_in_file = 0
                try:
                    # ONE footer read per staged part serves two purposes:
                    # drop Spark's empty parts (rowless entries carry no
                    # stats, so nothing could ever prove them disjoint —
                    # they'd also poison the commit-time read-set conflict
                    # check) and extract the data-skipping stats the
                    # commit will record — re-reading the footer at
                    # commit time would double the driver metadata I/O.
                    md = pq.ParquetFile(os.path.join(root, f)).metadata
                    if md.num_rows == 0:
                        continue
                    n_in_file = md.num_rows
                    st = _stats_from_metadata(md)
                except Exception:  # noqa: BLE001 - unreadable: keep the
                    pass  # file, just without skipping stats (or blooms)
                name = f"part-{uuid.uuid4().hex}.parquet"
                rel = name if rel_dir == "." else os.path.join(rel_dir, name)
                os.makedirs(
                    os.path.dirname(os.path.join(self.path, rel)) or self.path,
                    exist_ok=True,
                )
                os.rename(os.path.join(root, f), os.path.join(self.path, rel))
                names.append(rel)
                if st:
                    stats[rel] = st
                if n_in_file:
                    nrows[rel] = n_in_file
        shutil.rmtree(tmp)
        # opt-in bloom indexes: one extra pass over the NEW files only
        # (commit-time cost, Delta's bloom-filter index shape); partition
        # columns are excluded — partition pruning already covers them
        bloom_cols = [
            # bloom.columns holds LOGICAL names (dotted for nested
            # struct leaves); sidecars (like footer stats) key by what
            # is physically in the staged files — both mapping levels
            p
            for c in self._bloom_columns(self.snapshot())
            if c not in (partition_cols or [])
            for p in [
                _phys_dotted(write_schema, c)
                if write_schema is not None
                else c
            ]
            if p is not None
        ]
        if bloom_cols and names:
            for rel, bref in self._build_blooms(
                df.sparkSession, names, bloom_cols, nrows
            ).items():
                stats.setdefault(rel, {})["__bloom__"] = bref
        return sorted(names), stats

    @staticmethod
    def _carry_mapping(snap: Snapshot, new_schema: StructType) -> StructType:
        """Overwrite's schema-replacement under column mapping and/or
        generated columns: fields whose logical name survives inherit
        their physical name (their pre-overwrite history stays
        time-travelable under one identity) and their generation
        expression (a backfill must not silently strip the GENERATED
        contract); on a mapped table genuinely new fields get fresh uuid
        physical names. Physical names are only assigned when the table
        is actually mapped — carrying generation metadata alone must not
        implicitly freeze a mapping."""
        cur = StructType.fromJson(json.loads(snap.schema_json))
        mapped = _schema_is_mapped(cur)
        meta_of = {f.name.lower(): (f.metadata or {}) for f in cur.fields}
        out = []
        for f in new_schema.fields:
            have = meta_of.get(f.name.lower(), {})
            md = dict(f.metadata or {})
            if _GEN_KEY in have:
                md[_GEN_KEY] = have[_GEN_KEY]
            if _IDENT_KEY in have:
                # an overwrite must not silently strip the IDENTITY
                # contract either (the mark keeps advancing in
                # properties) — but carrying it onto a non-BIGINT
                # replacement would bypass add_identity_column's type
                # check and commit identity metadata the allocator
                # cannot honor
                if not isinstance(f.dataType, LongType):
                    raise IdentityColumnViolationError(
                        f"overwrite replaces identity column {f.name} "
                        f"with type {f.dataType.simpleString()}; identity "
                        "columns must stay BIGINT (drop the identity "
                        "contract first if the retype is intended)"
                    )
                md[_IDENT_KEY] = have[_IDENT_KEY]
            if mapped:
                md[_PHYS_KEY] = have.get(
                    _PHYS_KEY, f"col-{uuid.uuid4().hex[:12]}"
                )
                nested = TxLogTable._carry_nested(
                    json.loads(have[_NESTED_KEY])
                    if _NESTED_KEY in have
                    else {},
                    f.dataType,
                )
                if nested:
                    md[_NESTED_KEY] = json.dumps(nested)
                else:
                    md.pop(_NESTED_KEY, None)
            out.append(StructField(f.name, f.dataType, f.nullable, md))
        return StructType(out)

    @staticmethod
    def _carry_nested(old_map: dict[str, str], dt) -> dict[str, str]:
        """Overwrite's nested-map carry: paths whose logical name
        survives keep their frozen physical name (the pre-overwrite
        history stays time-travelable under one identity); genuinely new
        paths freeze at identity — UNLESS that leaf name collides with a
        sibling's carried physical name, where two logical fields under
        one parent would share a physical column (a renamed sibling's
        old name re-added next to it); those get a fresh uuid, exactly
        the top-level rule."""
        paths = _nested_struct_paths(dt)
        out = {p: old_map[p] for p in paths if p in old_map}
        for p in paths:
            if p in out:
                continue
            parent, _, leaf = p.rpartition(".")
            sibling_phys = {
                v
                for q, v in out.items()
                if q.rpartition(".")[0] == parent
            }
            out[p] = (
                leaf
                if leaf not in sibling_phys
                else f"col-{uuid.uuid4().hex[:12]}"
            )
        return out

    @staticmethod
    def _next_schema(
        snap: Snapshot | None, df: DataFrame, merge_schema: bool
    ) -> StructType:
        if snap is None:
            return df.schema
        current = StructType.fromJson(json.loads(snap.schema_json))
        if not merge_schema:
            return current
        return _merge_schema(current, df.schema)

    @staticmethod
    def _require_flat(snap: Snapshot | None) -> None:
        """Flat and hive-partitioned commits cannot mix in one table — the
        two layouts are incompatible for a single reader."""
        if snap and snap.partition_cols:
            raise ValueError(
                "table is partitioned; use overwrite_partitions"
            )

    def _apply_generated(self, df: DataFrame, snap: Snapshot | None) -> DataFrame:
        """Enforce generated columns on an incoming batch (Delta's
        GENERATED ALWAYS AS write semantics): a column the batch OMITS is
        computed from its expression; a column the batch SUPPLIES must
        agree with it row-for-row (null-safe equality — one limit(1)
        probe per generated column, same cost shape as CHECKs), because
        silently overwriting caller values would hide a corrupt upstream
        and silently trusting them would break the column's invariant."""
        if snap is None:
            return df
        gens = _generated_of(
            StructType.fromJson(json.loads(snap.schema_json))
        )
        for name, expr in gens.items():
            # case-insensitive: under spark.sql.caseSensitive=false a
            # batch supplying 'DAY' IS supplying 'day', and withColumn
            # would silently REPLACE it — exactly the "overwrite caller
            # values" failure this method exists to refuse
            supplied = next(
                (c for c in df.columns if c.lower() == name.lower()), None
            )
            if supplied is not None:
                bad = (
                    df.filter(~F.col(supplied).eqNullSafe(F.expr(expr)))
                    .limit(1)
                    .collect()
                )
                if bad:
                    raise GeneratedColumnViolationError(
                        f"generated column {name} = ({expr}) violated, "
                        f"e.g. {bad[0].asDict()} — omit the column to "
                        "have it computed, or fix the source"
                    )
            else:
                df = df.withColumn(name, F.expr(expr))
        return df

    def add_generated_column(
        self, spark: SparkSession, name: str, expr: str
    ) -> int:
        """Declare ``name`` GENERATED ALWAYS AS (``expr``) (Delta's
        generated columns) in one metadata commit. From then on every
        write computes the column when the batch omits it and validates
        it when supplied — the classic use being a derived date bucket
        that queries filter on, kept consistent by the table instead of
        by every writer's discipline.

        If the column already exists, current rows are validated first
        (a table already violating the expression refuses, exactly like
        ``add_constraint``). A NEW column can only be declared while the
        table is EMPTY: existing files would read it as NULL, which the
        expression would immediately contradict — backfill via
        ``overwrite`` first. On a mapped table a new column gets a fresh
        uuid physical name like any other addition."""
        snap = self.snapshot()
        self._check_writer_features(snap)
        if snap is None:
            raise ValueError(
                f"{self.path} has no commits; create the table first "
                "(the column type is inferred against its schema)"
            )
        schema = StructType.fromJson(json.loads(snap.schema_json))
        names = [f.name for f in schema.fields]
        # Delta's rule, load-bearing for update(recompute=True): a
        # generation expression must not reference another generated
        # column — recomputation evaluates all expressions in ONE pass
        # over the post-image, so a chain (g2 = f(g1)) would read g1's
        # PRE-recompute value and silently break g2's invariant.
        chained = [
            g
            for g in _generated_of(schema)
            if g.lower() != name.lower()
            and re.search(rf"\b{re.escape(g)}\b", expr, re.IGNORECASE)
        ]
        if chained:
            raise ValueError(
                f"generation expression ({expr}) references generated "
                f"column(s) {sorted(chained)}; a generated column cannot "
                "derive from another generated column (Delta's rule) — "
                "inline the referenced expression instead"
            )
        # ... nor from an IDENTITY column: every write path computes
        # generated columns BEFORE identity allocation, so the
        # expression would read the pre-allocation NULL slots and commit
        # values that contradict the declared derivation
        id_refs = [
            i
            for i in _identity_of(schema)
            if re.search(rf"\b{re.escape(i)}\b", expr, re.IGNORECASE)
        ]
        if id_refs:
            raise ValueError(
                f"generation expression ({expr}) references identity "
                f"column(s) {sorted(id_refs)}; identity values are "
                "allocated after generation expressions evaluate, so the "
                "derivation cannot hold — derive from a caller-supplied "
                "column instead"
            )
        # ... and the REVERSE direction: declaring an EXISTING column
        # generated while some other generated expression already reads
        # it would create the same chain through the back door
        readers = [
            g
            for g, gexpr in _generated_of(schema).items()
            if g.lower() != name.lower()
            and re.search(rf"\b{re.escape(name)}\b", gexpr, re.IGNORECASE)
        ]
        if readers:
            raise ValueError(
                f"generated column(s) {sorted(readers)} already derive "
                f"from {name!r}; declaring it generated would chain "
                "generation expressions (refused — Delta's rule)"
            )
        if name in names:
            if snap.files:
                bad = (
                    self._read_snapshot(spark, snap)
                    .filter(~F.col(name).eqNullSafe(F.expr(expr)))
                    .limit(1)
                    .collect()
                )
                if bad:
                    raise GeneratedColumnViolationError(
                        f"existing rows violate {name} = ({expr}), "
                        f"e.g. {bad[0].asDict()}"
                    )
            fields = [
                StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {**(f.metadata or {}), _GEN_KEY: expr},
                )
                if f.name == name
                else f
                for f in schema.fields
            ]
        else:
            if snap.files:
                raise ValueError(
                    f"cannot declare NEW generated column {name!r} on a "
                    "non-empty table: existing files would read it as "
                    "NULL, contradicting the expression — backfill via "
                    "overwrite first, then declare"
                )
            # type inference: analyze the expression against the schema
            dtype = (
                spark.createDataFrame([], schema)
                .select(F.expr(expr).alias(name))
                .schema[0]
                .dataType
            )
            md: dict = {_GEN_KEY: expr}
            if _schema_is_mapped(schema):
                md[_PHYS_KEY] = f"col-{uuid.uuid4().hex[:12]}"
            fields = list(schema.fields) + [
                StructField(name, dtype, True, md)
            ]
        return self._commit(
            [], [], StructType(fields), "add_generated_column", None,
            snap.version,
            partition_cols=list(snap.partition_cols) or None,
            metrics={"column": name, "expr": expr},
            constraints=snap.constraints,
        )

    def add_identity_column(
        self,
        spark: SparkSession,
        name: str,
        start: int = 1,
        step: int = 1,
        always: bool = True,
    ) -> int:
        """Declare ``name`` GENERATED AS IDENTITY (Delta's identity
        columns): every subsequent write allocates unique BIGINT values
        ``start, start+step, ...`` for rows that need them. With
        ``always=True`` (GENERATED ALWAYS) a batch supplying the column
        is refused; with ``always=False`` (BY DEFAULT) supplied non-NULL
        values pass through and only NULLs are allocated — Delta's two
        modes, with Delta's caveat that BY DEFAULT offers no collision
        protection between supplied and allocated values.

        Like Delta, allocated values are UNIQUE and move monotonically in
        the step direction, but are NOT guaranteed consecutive or
        gap-free across batches, and assignment order within a batch
        follows its partitioning. The allocation high-water mark lives in
        the ``identity.hwm.<name>`` table property (see ``_IDENT_KEY`` for
        why properties, not schema metadata — the property conflict rule
        is what makes two racing allocators physically unable to both
        commit). RESTORE rewinds properties with everything else, so
        values allocated after the restore point can repeat — Delta
        documents the same hazard.

        A NEW column can only be declared while the table is empty
        (existing files would read it as NULL); declaring an EXISTING
        BIGINT column sets the mark past its current extreme so future
        allocations never collide with stored values."""
        snap = self.snapshot()
        self._check_writer_features(snap)
        if snap is None:
            raise ValueError(
                f"{self.path} has no commits; create the table first"
            )
        if step == 0:
            raise ValueError("identity step must be non-zero")
        schema = StructType.fromJson(json.loads(snap.schema_json))
        names = {f.name.lower(): f for f in schema.fields}
        if name.lower() in {k.lower() for k in _identity_of(schema)}:
            # case-insensitive like every other lookup: a re-declare must
            # refuse, not silently replace the spec and rewind the mark
            raise ValueError(f"{name!r} is already an identity column")
        props = dict(snap.properties)
        spec = {"start": int(start), "step": int(step), "always": bool(always)}
        if name.lower() in {g.lower() for g in _generated_of(schema)}:
            raise ValueError(
                f"{name!r} is a generated column; a column cannot be "
                "both generated and identity"
            )
        # reverse of add_generated_column's identity check: a generated
        # expression already reading this column would evaluate against
        # pre-allocation NULLs on every future write
        readers = [
            g
            for g, gexpr in _generated_of(schema).items()
            if re.search(rf"\b{re.escape(name)}\b", gexpr, re.IGNORECASE)
        ]
        if readers:
            raise ValueError(
                f"generated column(s) {sorted(readers)} derive from "
                f"{name!r}; declaring it identity would make their "
                "expressions read pre-allocation NULLs (refused)"
            )
        if name.lower() in names:
            f = names[name.lower()]
            if not isinstance(f.dataType, LongType):
                raise IdentityColumnViolationError(
                    f"identity column {f.name} must be BIGINT, got "
                    f"{f.dataType.simpleString()}"
                )
            if snap.files:
                agg = F.max(name) if step > 0 else F.min(name)
                row = self._read_snapshot(spark, snap).agg(
                    agg.alias("m"),
                    F.count(F.lit(1)).alias("n"),
                    F.count(name).alias("nn"),
                ).first()
                if row["n"] != row["nn"]:
                    raise IdentityColumnViolationError(
                        f"column {f.name} holds NULLs; backfill before "
                        "declaring it identity"
                    )
                if row["m"] is not None:
                    props[f"identity.hwm.{name.lower()}"] = str(int(row["m"]))
            fields = [
                StructField(
                    fl.name,
                    fl.dataType,
                    fl.nullable,
                    {**(fl.metadata or {}), _IDENT_KEY: json.dumps(spec)},
                )
                if fl.name.lower() == name.lower()
                else fl
                for fl in schema.fields
            ]
        else:
            if snap.files:
                raise ValueError(
                    f"cannot declare NEW identity column {name!r} on a "
                    "non-empty table: existing files would read it as "
                    "NULL — backfill via overwrite first, then declare"
                )
            md: dict = {_IDENT_KEY: json.dumps(spec)}
            if _schema_is_mapped(schema):
                md[_PHYS_KEY] = f"col-{uuid.uuid4().hex[:12]}"
            fields = list(schema.fields) + [
                StructField(name, LongType(), True, md)
            ]
        return self._commit(
            [], [], StructType(fields), "add_identity_column", None,
            snap.version,
            partition_cols=list(snap.partition_cols) or None,
            metrics={"column": name, **spec},
            constraints=snap.constraints,
            properties=props,
            feature_delta={"writer": ["identityColumns"]},
        )

    def sync_identity(self, spark: SparkSession, name: str) -> int:
        """Delta's ``ALTER TABLE ... SYNC IDENTITY``: move the allocation
        mark past the column's current extreme — the repair for BY
        DEFAULT tables where callers supplied values beyond the mark.
        Metadata-only commit."""
        snap = self.snapshot()
        self._check_writer_features(snap)
        idents = _identity_of(
            StructType.fromJson(json.loads(snap.schema_json))
        ) if snap else {}
        spec = next(
            (s for n, s in idents.items() if n.lower() == name.lower()), None
        )
        if spec is None:
            raise ValueError(f"{name!r} is not an identity column")
        props = dict(snap.properties)
        hkey = f"identity.hwm.{name.lower()}"
        if snap.files:
            agg = F.max(name) if spec["step"] > 0 else F.min(name)
            m = self._read_snapshot(spark, snap).agg(agg).first()[0]
            if m is not None:
                cur = props.get(hkey)
                if cur is None or (
                    int(m) > int(cur) if spec["step"] > 0 else int(m) < int(cur)
                ):
                    props[hkey] = str(int(m))
        schema = StructType.fromJson(json.loads(snap.schema_json))
        return self._commit(
            [], [], schema, "sync_identity", None, snap.version,
            partition_cols=list(snap.partition_cols) or None,
            metrics={"column": name, "hwm": props.get(hkey)},
            constraints=snap.constraints,
            properties=props,
        )

    def _apply_identity(
        self, df: DataFrame, snap: Snapshot | None
    ) -> tuple[DataFrame, dict | None]:
        """Enforce identity columns on an incoming batch: GENERATED
        ALWAYS refuses supplied values; BY DEFAULT allocates only where
        the batch left NULLs; an omitted column is allocated for every
        row. Returns ``(df, updated_properties_or_None)`` — the caller
        commits the returned properties so the high-water mark and the
        rows land in ONE atomic commit."""
        if snap is None:
            return df, None
        schema = StructType.fromJson(json.loads(snap.schema_json))
        idents = _identity_of(schema)
        if not idents:
            return df, None
        for name, spec in idents.items():
            supplied = next(
                (c for c in df.columns if c.lower() == name.lower()), None
            )
            if supplied is not None and spec["always"]:
                raise IdentityColumnViolationError(
                    f"column {name} is GENERATED ALWAYS AS IDENTITY; "
                    "omit it from the batch (BY DEFAULT mode accepts "
                    "supplied values)"
                )
            if supplied is None:
                df = df.withColumn(name, F.lit(None).cast("long"))
        return self._fill_identity_nulls(df, snap)

    def _fill_identity_nulls(
        self, df: DataFrame, snap: Snapshot
    ) -> tuple[DataFrame, dict | None]:
        """Allocate identity values into the NULL slots of ``df``'s
        identity columns, advancing the table-property high-water mark.

        Scale shape (all JVM-side, no Python in the row path): ``df``
        must already be persisted (callers' validation persist) so its
        partitioning is pinned. ONE count job collects O(partitions) row
        counts; the driver turns them into per-partition slot offsets; a
        broadcast join attaches each row's offset and the value is
        ``next + step*(offset + local_row_index)``, with the partition id
        and local index decomposed from ``monotonically_increasing_id``
        (id = partitionIndex·2^33 + rowIndexInPartition) — no shuffle, no
        driver-side row traffic, the same per-task-range shape Delta
        allocates under one transactional mark. Each batch reserves one
        slot per ROW (not per NULL), so BY DEFAULT batches with supplied
        values leave gaps — Delta promises uniqueness and step direction,
        never density, and this keeps the assignment a pure expression.
        The committed mark is the extreme of (allocated range, supplied
        values), so later allocations never collide with anything this
        batch carried.

        Allocation modes (table property ``identity.allocation.mode``):

        - ``commit`` (default): the mark advance rides the data commit's
          own properties. Simplest, but the property-drift conflict rule
          means two concurrent allocating writes can never both
          reconcile — the loser redoes its full staging.
        - ``reserve``: the batch's slot range is RESERVED up front in a
          tiny metadata-only ``identity_reserve`` commit (Delta's
          per-transaction range reservation), and the data commit then
          carries NO property delta — it reconciles like any blind
          append, because ``_prop_drift_reason`` accepts a concurrent
          mark that only advanced. Reservations serialize on the commit
          log (O(1) metadata retries, never re-staging); a crash between
          reserve and data commit leaves an id gap, which the identity
          contract already allows (uniqueness and direction, never
          density). This restores full append concurrency on identity
          tables at the cost of one extra metadata commit per
          allocating batch."""
        schema = StructType.fromJson(json.loads(snap.schema_json))
        idents = _identity_of(schema)
        props = dict(snap.properties)
        spark = df.sparkSession
        changed = False
        mask = (1 << 33) - 1
        reserve = props.get("identity.allocation.mode") == "reserve"
        # pass 1 — per-column stats: ONE job per column over the
        # persisted df (per-partition row counts = slot offsets, null
        # counts, and the supplied extreme from one aggregation)
        needs: dict[str, dict] = {}
        for name, spec in idents.items():
            col = next(c for c in df.columns if c.lower() == name.lower())
            step = int(spec["step"])
            pid = self._fresh_col("_pid", df.columns)
            part_rows = (
                df.groupBy(F.spark_partition_id().alias(pid))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(col).isNull().cast("long")).alias("nn"),
                    (F.max(col) if step > 0 else F.min(col)).alias("ex"),
                )
                .collect()
            )
            per_part = {int(r[pid]): int(r["n"]) for r in part_rows}
            sup_extreme = None
            if not spec["always"]:
                vals = [r["ex"] for r in part_rows if r["ex"] is not None]
                if vals:
                    sup_extreme = max(vals) if step > 0 else min(vals)
            needs[name] = {
                "spec": spec,
                "col": col,
                "per_part": per_part,
                "acc": sum(per_part.values()),
                "n_null": sum(int(r["nn"]) for r in part_rows),
                "sup_extreme": sup_extreme,
            }
        starts: dict[str, int] = {}
        if reserve:
            # range reservation commits FIRST; data commit carries None
            starts = self._reserve_identity_ranges(needs)
        # pass 2 — pure-expression assignment per column (no jobs)
        for name, need in needs.items():
            spec, col = need["spec"], need["col"]
            start, step = int(spec["start"]), int(spec["step"])
            hkey = f"identity.hwm.{name.lower()}"
            hwm = props.get(hkey)
            if reserve:
                nxt = starts[name]
            else:
                nxt = int(hwm) + step if hwm is not None else start
            per_part = need["per_part"]
            n_null = need["n_null"]
            if n_null:
                offsets, acc = [], 0
                for p in sorted(per_part):
                    offsets.append((p, acc))
                    acc += per_part[p]
                pid = self._fresh_col("_pid", df.columns)
                off = self._fresh_col("_off", [*df.columns, pid])
                off_df = spark.createDataFrame(
                    offsets, f"{pid} int, {off} long"
                )
                mid = self._fresh_col("_mid", [*df.columns, pid, off])
                out = (
                    df.withColumn(mid, F.monotonically_increasing_id())
                    .withColumn(
                        pid,
                        F.shiftrightunsigned(F.col(mid), 33).cast("int"),
                    )
                    .join(F.broadcast(off_df), on=pid, how="left")
                    .withColumn(
                        col,
                        F.coalesce(
                            F.col(col),
                            F.lit(nxt)
                            + F.lit(step)
                            * (
                                F.coalesce(F.col(off), F.lit(0))
                                + F.col(mid).bitwiseAND(F.lit(mask))
                            ),
                        ).cast("long"),
                    )
                )
                df = out.select(*[c for c in out.columns if c not in (pid, mid, off)])
            if reserve:
                continue  # mark already advanced by the reserve commit
            new_hwm = self._identity_mark_advance(
                hwm, step, nxt, need["acc"], n_null, need["sup_extreme"]
            )
            if new_hwm is not None and (hwm is None or int(hwm) != new_hwm):
                props[hkey] = str(new_hwm)
                changed = True
        return df, (None if reserve else (props if changed else None))

    @staticmethod
    def _identity_mark_advance(
        hwm, step: int, nxt: int, acc: int, n_null: int, sup_extreme
    ):
        """Directional mark fold shared by commit-mode allocation
        (:meth:`_fill_identity_nulls`) and reserve-mode reservation
        (:meth:`_reserve_identity_ranges`) — ONE copy so the two modes
        can never desynchronize. The committed mark must cover both the
        allocated range (``acc`` slots from ``nxt``, reserved only when
        any NULL slot needs filling) and any supplied extreme. Returns
        the new mark, or the old one (possibly ``None``) when nothing
        moved it in the step direction."""
        new_hwm = int(hwm) if hwm is not None else None
        if n_null:
            last_alloc = nxt + step * (acc - 1)
            if new_hwm is None or (
                last_alloc > new_hwm if step > 0 else last_alloc < new_hwm
            ):
                new_hwm = last_alloc
        if sup_extreme is not None:
            se = int(sup_extreme)
            if new_hwm is None or (
                se > new_hwm if step > 0 else se < new_hwm
            ):
                new_hwm = se
        return new_hwm

    def _reserve_identity_ranges(
        self, needs: dict[str, dict], max_retries: int = 50
    ) -> dict[str, int]:
        """Reserve each identity column's slot range for one batch via a
        metadata-only ``identity_reserve`` commit (reserve allocation
        mode; see :meth:`_fill_identity_nulls`). The range start is
        computed against a FRESH snapshot inside the commit-race retry
        loop, so concurrent reservations serialize on the log and every
        committed range is disjoint — losing a race costs one metadata
        re-read, never re-staging. Returns ``{column -> first value}``.
        If no column needs slots and no supplied value moves a mark, no
        commit is written."""
        for _ in range(max_retries):
            snap = self.snapshot()
            props = dict(snap.properties)
            starts: dict[str, int] = {}
            marks: dict[str, str] = {}
            for name, need in needs.items():
                spec = need["spec"]
                start, step = int(spec["start"]), int(spec["step"])
                hkey = f"identity.hwm.{name.lower()}"
                hwm = props.get(hkey)
                nxt = int(hwm) + step if hwm is not None else start
                starts[name] = nxt
                new_hwm = self._identity_mark_advance(
                    hwm, step, nxt, need["acc"], need["n_null"],
                    need["sup_extreme"],
                )
                if new_hwm is not None and (
                    hwm is None or int(hwm) != new_hwm
                ):
                    props[hkey] = str(new_hwm)
                    marks[hkey] = str(new_hwm)
            if not marks:
                return starts
            schema = StructType.fromJson(json.loads(snap.schema_json))
            try:
                self._commit(
                    [], [], schema, "identity_reserve", None, snap.version,
                    partition_cols=list(snap.partition_cols) or None,
                    metrics={"reserved": marks},
                    constraints=snap.constraints,
                    properties=props,
                )
                return starts
            except ConcurrentWriteError:
                continue  # another writer landed first: re-read, re-base
        raise ConcurrentWriteError(
            f"identity range reservation lost {max_retries} consecutive "
            f"commit races on {self.path}"
        )

    @staticmethod
    def _check_constraints(df: DataFrame, constraints) -> None:
        """Raise if any row FAILS a CHECK (SQL semantics: a constraint
        expression evaluating NULL passes; only FALSE violates). One
        short-circuiting limit(1) probe per constraint — constraint counts
        are small, and per-constraint probes give a named error with a
        sample violating row."""
        for name, expr in constraints or ():
            bad = (
                df.filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ConstraintViolationError(
                    f"CHECK constraint {name} ({expr}) violated, "
                    f"e.g. {bad[0].asDict()}"
                )

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (Delta table constraints):
        a metadata-only commit adding a named SQL CHECK enforced on every
        subsequent write (append/overwrite/merge source rows, post-SET
        update rows). Existing data is validated first — a table already
        violating the CHECK refuses the constraint."""
        snap = self.snapshot()
        self._check_writer_features(snap)
        cons = list(snap.constraints) if snap else []
        if any(n == name for n, _ in cons):
            raise ValueError(f"constraint {name} already exists")
        if snap and snap.files:
            self._check_constraints(self._read_snapshot(spark, snap), [(name, expr)])
        schema = (
            StructType.fromJson(json.loads(snap.schema_json))
            if snap
            else StructType([])
        )
        return self._commit(
            [], [], schema, "add_constraint", None,
            snap.version if snap else -1,
            partition_cols=list(snap.partition_cols) if snap else None,
            metrics={"constraint": name, "expr": expr},
            constraints=cons + [(name, expr)],
        )

    @classmethod
    def convert_from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        partition_cols: list[str] | None = None,
    ) -> "TxLogTable":
        """Delta's CONVERT TO DELTA: adopt an EXISTING plain-parquet
        directory as a txlog table with a single metadata-only commit —
        no data is read, moved, or rewritten, so converting a 100 TB
        directory costs a directory walk plus footer reads. The commit
        (op ``convert``) references the files in place; from then on the
        directory has ACID appends/DML/time-travel like any txlog table,
        and the pre-existing files participate in data skipping via the
        stats harvested from their footers (best-effort, never
        load-bearing).

        Hive-partitioned layouts (``col=value`` directories) are
        detected automatically; ``partition_cols`` overrides/asserts the
        expectation. The schema is Spark's own parquet inference over
        the directory (including typed partition columns), so readers
        see exactly what ``spark.read.parquet`` saw before conversion.
        Refuses a directory that is already a txlog table."""
        t = cls(path)
        if t.version() >= 0:
            raise ValueError(f"{path} is already a txlog table")
        rels: list[str] = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [
                d
                for d in dirs
                if d != _LOG_DIR and not d.startswith("_staging")
            ]
            for f in files:
                if f.endswith(".parquet"):
                    rels.append(
                        os.path.relpath(os.path.join(root, f), path)
                    )
        if not rels:
            raise FileNotFoundError(f"no parquet files under {path}")
        detected = sorted(
            {
                seg.partition("=")[0]
                for rel in rels
                for seg in rel.split(os.sep)[:-1]
                if "=" in seg
            }
        )
        if partition_cols is not None and sorted(partition_cols) != detected:
            raise ValueError(
                f"partition_cols {sorted(partition_cols)} != detected "
                f"hive layout {detected}"
            )
        pcols = partition_cols or detected or None
        schema = spark.read.parquet(path).schema
        stats: dict[str, dict] = {}
        for rel in rels:
            try:
                s = _file_column_stats(os.path.join(path, rel))
                if s:
                    stats[rel] = s
            except Exception:  # noqa: BLE001 - stats are best-effort
                pass
        t._commit(
            sorted(rels),
            [],
            schema,
            "convert",
            None,
            -1,
            partition_cols=list(pcols) if pcols else None,
            metrics={"files_converted": len(rels)},
            precomputed_stats=stats,
            # CRITICAL, same hazard restore() had: the 'add' list is the
            # user's PRE-EXISTING dataset, not disposable staged output —
            # the default conflict cleanup would DELETE the whole source
            # directory when two converters (or a converter and a writer)
            # race to version 0
            cleanup_on_conflict=False,
        )
        return t

    def clone_to(
        self, spark: SparkSession, target_path: str, shallow: bool = True
    ) -> "TxLogTable":
        """Delta CLONE: create an independent txlog table at
        ``target_path`` from this table's LATEST snapshot, in one commit
        (op ``clone``). The reference's platform exposes exactly this for
        dev/test forks of production Delta tables; rebuilt here on the
        same two modes:

        - **shallow** (default): the clone's commit references the
          source's data files (and deletion vectors / bloom sidecars) BY
          ABSOLUTE PATH — zero data copied, so forking a 100 TB table
          costs one metadata commit. Writes to the clone land under the
          clone's own root and never touch the source; copy-on-write DML
          and ``compact`` progressively localize data into the clone.
          The one Delta-documented caveat carries over: ``vacuum`` on
          the SOURCE can delete files a shallow clone still references
          (the clone's own vacuum walks only its root and cannot touch
          them). Deep-clone or ``compact`` the clone first if the source
          will be vacuumed.
        - **deep**: data files, deletion vectors, and bloom sidecars are
          physically copied (relative names preserved, so harvested
          stats stay valid) — an independent backup at full copy cost.

        Carried over: schema, partition columns (a shallow clone of a
        hive-partitioned table SYMLINKS the partition layout into the
        clone root — still zero data copied, single ``basePath``
        preserved; needs a symlink-capable filesystem, so object-store
        deployments use ``shallow=False``), CHECK constraints, table
        properties (including ``cdf.enabled`` and ``bloom.columns``),
        per-file skipping stats, and deletion vectors. NOT carried:
        ``txn_ids`` — the clone is a new application surface, so an
        idempotent writer replaying against it delivers (Delta's clones
        likewise start fresh streaming transaction identity), and the
        commit HISTORY — time travel on the clone starts at its v0.

        The clone commit reads in CDF/streaming exactly like ``convert``
        (its adds are the bootstrap inserts), with the source's deletion
        vectors applied so masked rows don't resurrect downstream."""
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"{self.path} has no commits to clone")
        target = TxLogTable(target_path)
        if target.version() >= 0:
            raise ValueError(f"{target_path} is already a txlog table")
        os.makedirs(target_path, exist_ok=True)
        src_root = os.path.abspath(self.path)

        def _src_abs(rel: str) -> str:
            return os.path.abspath(os.path.join(src_root, rel))

        if shallow and snap.partition_cols:
            # hive layout: one scan cannot carry two basePath roots
            # (source layout + clone-local writes), so absolute refs are
            # out. Instead, SYMLINK the partition layout into the clone
            # root — still zero data copied, refs stay relative, and the
            # single-basePath read path is untouched (partition values
            # resolve from the clone's own dir names). The shallow-clone
            # vacuum caveat is identical (vacuuming the SOURCE strands
            # the links; the clone's own vacuum only unlinks). Requires
            # a symlink-capable filesystem — object-store deployments
            # must use shallow=False (refused actionably below).
            sidecars = set(snap.dvs.values()) | {
                st["__bloom__"]
                for st in snap.file_stats.values()
                if isinstance(st, dict) and st.get("__bloom__")
            }
            made: list[str] = []
            try:
                for rel in [*snap.files, *sorted(sidecars)]:
                    dst = os.path.join(target_path, rel)
                    os.makedirs(os.path.dirname(dst) or target_path, exist_ok=True)
                    os.symlink(_src_abs(rel), dst)
                    made.append(dst)
            except OSError as e:
                # undo the partial layout so a retry after fixing the
                # actual cause doesn't wedge on FileExistsError
                for dst in made:
                    try:
                        os.unlink(dst)
                    except OSError:
                        pass
                raise ValueError(
                    "shallow clone of a hive-partitioned table could not "
                    f"symlink the partition layout ({e}); if the "
                    "filesystem cannot symlink (object stores), use "
                    "shallow=False"
                ) from e
            dvs = dict(snap.dvs)
            stats = {f: dict(st) for f, st in snap.file_stats.items()}
            add = sorted(snap.files)
        elif shallow:
            name_of = {f: _src_abs(f) for f in snap.files}
            dvs = {
                name_of[f]: _src_abs(dv) for f, dv in snap.dvs.items()
            }
            stats: dict[str, dict] = {}
            for f, st in snap.file_stats.items():
                if f not in name_of:
                    continue
                st = dict(st)
                if st.get("__bloom__"):
                    st["__bloom__"] = _src_abs(st["__bloom__"])
                stats[name_of[f]] = st
            add = sorted(name_of.values())
        else:
            # Deep mode must handle BOTH ref shapes: root-relative names
            # (a normal table — keep them, so harvested stats stay valid
            # and partition layouts survive) and ABSOLUTE paths (a
            # shallow clone's borrowed refs — deep-cloning the clone is
            # the documented vacuum-safety path, so these localize to
            # fresh target-relative basenames; basenames are unique uuid
            # part names, with a counter fallback for safety). Stats,
            # deletion-vector refs, and bloom refs are rekeyed to the
            # localized names so skipping keeps working on the copy.
            used: set[str] = set()

            def _local_name(ref: str) -> str:
                name = ref if not os.path.isabs(ref) else os.path.basename(ref)
                base, i = name, 1
                while name in used:
                    name = f"clone{i}-{base}"
                    i += 1
                used.add(name)
                return name

            file_name = {f: _local_name(f) for f in snap.files}
            sidecars = set(snap.dvs.values()) | {
                st["__bloom__"]
                for st in snap.file_stats.values()
                if isinstance(st, dict) and st.get("__bloom__")
            }
            side_name = {s: _local_name(s) for s in sorted(sidecars)}
            pairs = [
                (_src_abs(ref), os.path.join(target_path, name))
                for ref, name in [*file_name.items(), *side_name.items()]
            ]
            # distribute the copy: a deep clone of a large table must not
            # funnel every data file through one driver process (the
            # commit below is unchanged — metadata stays driver-side)
            sc = spark.sparkContext
            sc.parallelize(
                pairs, max(1, min(len(pairs), sc.defaultParallelism))
            ).foreach(_copy_file_pair)
            dvs = {
                file_name[f]: side_name[dv] for f, dv in snap.dvs.items()
            }
            stats = {}
            for f, st in snap.file_stats.items():
                if f not in file_name:
                    continue
                st = dict(st)
                if st.get("__bloom__"):
                    st["__bloom__"] = side_name[st["__bloom__"]]
                stats[file_name[f]] = st
            add = sorted(file_name.values())
        target._commit(
            add,
            [],
            StructType.fromJson(json.loads(snap.schema_json)),
            "clone",
            None,
            -1,
            partition_cols=list(snap.partition_cols) or None,
            metrics={
                "source": src_root,
                "source_version": snap.version,
                "mode": "shallow" if shallow else "deep",
                "files_referenced" if shallow else "files_copied": len(add),
            },
            constraints=list(snap.constraints) or None,
            precomputed_stats=stats,
            dv=dvs or None,
            properties=dict(snap.properties) or None,
            # the add list is the SOURCE's live dataset (shallow) or the
            # just-copied backup — same data-destruction hazard convert()
            # documents: a lost v0 race must never delete these files
            cleanup_on_conflict=False,
        )
        return target

    def alter_properties(
        self, updates: dict, expected_version: int | None = None
    ) -> int:
        """ALTER TABLE SET/UNSET TBLPROPERTIES: a metadata-only commit
        merging ``updates`` into the table's log-carried property map
        (a ``None`` value unsets the key). Properties bind to the TABLE —
        every writer instance, including the ``format("txlog")`` commit
        worker's internally-constructed ones, consults the snapshot's
        properties, so choices like disabling txn-id expiry cannot be
        silently lost to a code path that constructed ``TxLogTable(path)``
        with defaults. Recognized keys:

        - ``txn.retention.seconds``: float seconds, or ``"none"`` to
          never expire replay-detection ids (overrides the constructor's
          ``txn_retention_seconds`` on every checkpoint roll);
        - ``isolation.level``: ``write_serializable`` | ``serializable``
          (overrides the constructor's ``isolation`` in every conflict
          check against this table).

        Unknown keys are stored verbatim (Delta does the same). A
        concurrent property change conflicts with in-flight ops — their
        validation ran under the old properties.

        ``expected_version`` turns the commit into a CAS: the change
        lands only if the table is still at that version (the log's
        put-if-absent makes the version file the atomicity point), else
        :class:`ConcurrentWriteError` — the primitive a lease/claim
        protocol needs (read, check, conditionally write)."""
        normalized: dict = {}
        for k, v in updates.items():
            if v is None:
                normalized[k] = None
                continue
            if k == "isolation.level" and v not in (
                "write_serializable",
                "serializable",
            ):
                raise ValueError(f"unknown isolation level: {v}")
            if k == "txn.retention.seconds" and v != "none":
                float(v)  # raises on garbage before it reaches the log
            if k in ("auto.compact.min.files", "auto.compact.target.bytes"):
                # validate HERE, loudly: the consumer runs best-effort
                # post-commit and swallows everything, so a garbage value
                # stored now would silently disable the feature forever
                if int(v) <= 0:
                    raise ValueError(
                        f"{k} must be a positive integer (unset the "
                        "property to disable auto-compaction)"
                    )
            if k == "cdf.enabled":
                # normalize booleans/case: Python True or 'TRUE' must not
                # silently store a value _cdf_enabled's exact 'true'
                # comparison rejects — change rows skipped that way are
                # IRRECOVERABLE (they can't be reconstructed later)
                sv = str(v).lower()
                if sv not in ("true", "false"):
                    raise ValueError(
                        f"cdf.enabled must be true or false, got {v!r}"
                    )
                normalized[k] = sv
                continue
            normalized[k] = str(v)
        snap = self.snapshot()
        if expected_version is not None and (
            snap.version if snap else -1
        ) != expected_version:
            raise ConcurrentWriteError(
                f"{self.path}: expected version {expected_version}, "
                f"now at {snap.version if snap else -1}"
            )
        self._check_writer_features(snap)
        props = dict(snap.properties) if snap else {}
        for k, v in normalized.items():
            if v is None:
                props.pop(k, None)
            else:
                props[k] = v
        schema = (
            StructType.fromJson(json.loads(snap.schema_json))
            if snap
            else StructType([])
        )
        return self._commit(
            [], [], schema, "set_properties", None,
            snap.version if snap else -1,
            partition_cols=list(snap.partition_cols) if snap else None,
            metrics={"set": sorted(k for k, v in updates.items() if v is not None),
                     "unset": sorted(k for k, v in updates.items() if v is None)},
            constraints=snap.constraints if snap else (),
            properties=props,
        )

    def enable_feature(self, name: str, reader: bool = False) -> int:
        """Explicitly mark a table as requiring ``name`` (Delta's ALTER
        TABLE ... SET TBLPROPERTIES delta.feature.X=supported): a
        metadata-only commit recording the feature in the log so every
        later reader/writer is held to it — use it to pre-gate a table
        before the first commit that actually exercises the feature
        (ordinary use auto-records features at first use). ``reader=True``
        marks it reader-required (implies writer-required). Refuses a
        feature THIS build does not itself implement: enabling a flag you
        cannot honor would brick your own next write. Features are
        monotone — there is deliberately no drop (Delta's drop-feature
        needs history truncation; restore/clone to a fresh table
        instead)."""
        supported = (
            SUPPORTED_READER_FEATURES if reader else SUPPORTED_WRITER_FEATURES
        )
        if name not in supported:
            raise UnsupportedTableFeatureError(
                f"this build does not implement "
                f"{'reader' if reader else 'writer'} feature {name!r}; "
                f"known: {sorted(supported)}"
            )
        snap = self.snapshot()
        self._check_writer_features(snap)
        schema = (
            StructType.fromJson(json.loads(snap.schema_json))
            if snap
            else StructType([])
        )
        return self._commit(
            [], [], schema, "enable_feature", None,
            snap.version if snap else -1,
            partition_cols=list(snap.partition_cols) if snap else None,
            metrics={"feature": name, "reader": reader},
            constraints=snap.constraints if snap else (),
            feature_delta={
                "reader": [name] if reader else [],
                "writer": [name],
            },
        )

    # --------------------------------------------------- column mapping --

    def enable_column_mapping(self) -> int:
        """Delta's column mapping ("name" mode): one metadata commit
        freezes every column's CURRENT name as its physical parquet name
        (field metadata ``txlog.physicalName``), sets the
        ``column.mapping=name`` table property, and records the
        ``columnMapping`` reader feature. From then on logical names are
        pure metadata: :meth:`rename_column` and :meth:`drop_column` are
        one-commit metadata ops — no rewrite of 100 TB of parquet — and
        columns added later get fresh uuid physical names (which is what
        stops a drop + re-add of the same name resurrecting the dropped
        column's data). Existing files need no migration: their columns
        already carry the frozen names.

        Flat tables only: hive partition directories encode column names
        in PATHS, which a metadata-only rename cannot reach. Idempotent
        (enabling twice is a no-op returning the current version)."""
        snap = self.snapshot()
        self._check_writer_features(snap)
        if snap is None:
            raise ValueError(
                f"{self.path} has no commits; enable mapping after the "
                "first write (physical names freeze the then-current "
                "schema)"
            )
        if snap.partition_cols:
            raise ValueError(
                "column mapping on a hive-partitioned table is "
                "unsupported: partition directory names are physical "
                "paths a metadata rename cannot reach"
            )
        schema = StructType.fromJson(json.loads(snap.schema_json))
        if snap.properties.get(
            "column.mapping"
        ) == "name" and _schema_is_mapped(schema):
            return snap.version  # idempotent re-enable
        # (a restore to a pre-mapping version leaves the property set but
        # the schema unmapped — re-enabling re-freezes, which is correct)
        fields = []
        for f in schema.fields:
            md = {**(f.metadata or {}), _PHYS_KEY: f.name}
            nested = _freeze_nested_identity(f.dataType)
            if nested:
                # struct-bearing field: freeze every nested path's
                # physical name too (rename-only nested mapping — see
                # _NESTED_KEY). Identity at enable time: the names
                # already in the files.
                md[_NESTED_KEY] = json.dumps(nested)
            fields.append(StructField(f.name, f.dataType, f.nullable, md))
        mapped = StructType(fields)
        props = dict(snap.properties)
        props["column.mapping"] = "name"
        return self._commit(
            [], [], mapped, "enable_mapping", None, snap.version,
            metrics={"columns_frozen": len(mapped.fields)},
            constraints=snap.constraints,
            properties=props,
            feature_delta={"reader": ["columnMapping"], "writer": []},
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit: the
        logical name changes, the physical parquet name stays, zero data
        files move — the whole point of column mapping at 100 TB. Time
        travel to pre-rename versions sees the old name (each commit
        carries its era's schema). Refused while any CHECK constraint's
        expression mentions the column (the stored SQL text would
        silently stop binding — drop and re-add the constraint around
        the rename); a bloom-indexed column's ``bloom.columns`` entry is
        updated in the same commit, so its sidecars (keyed by the
        unchanged physical name) keep pruning.

        ``old`` may be a dotted path into a struct column
        (``"address.zip"``, through arrays/maps of struct too): NESTED
        renames are equally metadata-only — the field's frozen physical
        leaf name (metadata key ``txlog.nestedPhysical``) keeps naming
        the parquet column and readers restore logical names with a
        positional cast. ``new`` is always a bare leaf name."""
        snap = self.snapshot()
        self._check_writer_features(snap)
        schema = (
            StructType.fromJson(json.loads(snap.schema_json))
            if snap
            else StructType([])
        )
        if (
            snap is None
            or snap.properties.get("column.mapping") != "name"
            or not _schema_is_mapped(schema)
        ):
            # the schema check also catches a restore to a pre-mapping
            # version (property survives, metadata does not): renaming
            # then would silently orphan the files' physical columns
            raise ValueError(
                "rename_column requires column mapping; call "
                "enable_column_mapping() first (a rename without it would "
                "need a full data rewrite)"
            )
        if "." in new:
            raise ValueError(
                f"new name {new!r} must be a bare leaf name (the field "
                "stays inside its struct; renames cannot move fields)"
            )
        if "." in old:
            return self._rename_nested(snap, schema, old, new)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} (has: {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        mentioned = [
            n
            for n, expr in snap.constraints
            if re.search(rf"\b{re.escape(old)}\b", expr, re.IGNORECASE)
        ]
        if mentioned:
            raise ValueError(
                f"constraint(s) {mentioned} reference column {old!r}; "
                "drop them, rename, then re-add with the new name"
            )
        # a generation expression referencing the old name would fail to
        # resolve on every subsequent write — the table would be wedged
        gen_refs = [
            g
            for g, gexpr in _generated_of(schema).items()
            if g != old
            and re.search(rf"\b{re.escape(old)}\b", gexpr, re.IGNORECASE)
        ]
        if gen_refs:
            raise ValueError(
                f"generated column(s) {gen_refs} derive from {old!r}; "
                "their stored expressions would stop resolving — drop "
                "the generated column(s) first (renaming the generated "
                "column itself is fine; its expression is untouched)"
            )
        renamed = StructType(
            [
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        return self._commit(
            [], [], renamed, "rename_column", None, snap.version,
            metrics={"from": old, "to": new},
            constraints=snap.constraints,
            properties=self._bloom_props_rekeyed(snap, old, new),
        )

    def _bloom_props_rekeyed(
        self, snap: Snapshot, old: str, new: str
    ) -> dict | None:
        """``bloom.columns`` with entries naming ``old`` — or dotted
        paths under ``old.`` (blooms inside a renamed struct, or under a
        renamed nested path) — re-keyed to ``new``, and the identity
        high-water mark ``identity.hwm.<old>`` re-keyed to the new name
        (identity is top-level only, so dotted ``old`` never matches;
        without this rekey a renamed identity column's allocator would
        find no mark under the new name and silently re-issue ids from
        start). None when nothing changes (the commit then carries no
        property delta). The ONE rekey rule for both top-level and
        nested renames; sidecars are keyed by frozen PHYSICAL paths and
        never move."""
        cols = self._bloom_columns(snap)
        rekeyed = [
            new if c == old
            else new + c[len(old):] if c.startswith(old + ".")
            else c
            for c in cols
        ]
        props = None
        if rekeyed != cols:
            props = dict(snap.properties)
            props["bloom.columns"] = ",".join(rekeyed)
        old_hkey = f"identity.hwm.{old.lower()}"
        if old_hkey in snap.properties:
            props = dict(snap.properties) if props is None else props
            props[f"identity.hwm.{new.lower()}"] = props.pop(old_hkey)
        return props

    def _rename_nested(
        self, snap: Snapshot, schema: StructType, old: str, new: str
    ) -> int:
        """Metadata-only rename of a nested struct field (``old`` is a
        dotted path like ``"address.zip"``; arrays and map values are
        traversed without an index). The field's physical leaf name is
        frozen in the top-level field's ``txlog.nestedPhysical`` map —
        auto-frozen at identity here for tables mapped before nested
        support existed, which is exactly the names their files hold —
        and only the logical name in the schema's dataType changes."""
        top, _, rest = old.partition(".")
        fld = next((f for f in schema.fields if f.name == top), None)
        if fld is None:
            raise ValueError(
                f"no column {top!r} (has: {[f.name for f in schema.fields]})"
            )
        paths = _nested_struct_paths(fld.dataType)
        if rest not in paths:
            raise ValueError(
                f"no nested field {old!r} (column {top!r} contains: "
                f"{sorted(paths) or 'no nested fields'})"
            )
        parent, _, leaf = rest.rpartition(".")
        new_path = f"{parent}.{new}" if parent else new
        if new_path in paths:
            raise ValueError(f"nested field {top}.{new_path} already exists")
        # conservative SQL-text guard, wider than the top-level rule: a
        # stored expression can reach the field as the full path (s.zip)
        # or as a bare leaf inside a lambda (x -> x.zip), so any mention
        # of the LEAF name blocks — over-refusing a same-named flat
        # column's constraint is acceptable, silently unbinding is not
        pat = rf"\b{re.escape(leaf)}\b"
        mentioned = [
            n
            for n, expr in snap.constraints
            if re.search(pat, expr, re.IGNORECASE)
        ]
        if mentioned:
            raise ValueError(
                f"constraint(s) {mentioned} may reference {old!r}; drop "
                "them, rename, then re-add with the new name"
            )
        gen_refs = [
            g
            for g, gexpr in _generated_of(schema).items()
            if re.search(pat, gexpr, re.IGNORECASE)
        ]
        if gen_refs:
            raise ValueError(
                f"generated column(s) {gen_refs} may derive from {old!r}; "
                "drop the generated column(s) first"
            )
        nmap = _nested_map_of(fld) or _freeze_nested_identity(fld.dataType)
        nmap.setdefault(rest, leaf)  # freeze before re-keying
        rekeyed = {}
        for p in paths:
            phys = nmap.get(p, p.rsplit(".", 1)[-1])
            if p == rest:
                rekeyed[new_path] = phys
            elif p.startswith(rest + "."):
                rekeyed[new_path + p[len(rest):]] = phys
            else:
                rekeyed[p] = phys
        renamed = StructType(
            [
                StructField(
                    f.name,
                    _rename_in_type(f.dataType, rest, new),
                    f.nullable,
                    {**(f.metadata or {}), _NESTED_KEY: json.dumps(rekeyed)},
                )
                if f.name == top
                else f
                for f in schema.fields
            ]
        )
        # a bloom declared on the renamed nested path (or a descendant)
        # follows the logical rename; its sidecars — keyed by the frozen
        # PHYSICAL dotted path — keep pruning unchanged
        old_full, new_full = f"{top}.{rest}", f"{top}.{new_path}"
        return self._commit(
            [], [], renamed, "rename_column", None, snap.version,
            metrics={"from": old, "to": new_full},
            constraints=snap.constraints,
            properties=self._bloom_props_rekeyed(snap, old_full, new_full),
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the field
        leaves the schema; the physical column stays in the files but no
        reader projects it (and stats/blooms for it simply never match).
        Time travel to pre-drop versions still sees it. Re-adding the
        same logical name later allocates a FRESH physical name, so the
        dropped data never resurrects. Requires column mapping; refuses
        dropping the last column or one referenced by a CHECK."""
        snap = self.snapshot()
        self._check_writer_features(snap)
        schema = (
            StructType.fromJson(json.loads(snap.schema_json))
            if snap
            else StructType([])
        )
        if (
            snap is None
            or snap.properties.get("column.mapping") != "name"
            or not _schema_is_mapped(schema)
        ):
            raise ValueError(
                "drop_column requires column mapping; call "
                "enable_column_mapping() first"
            )
        if "." in name:
            # nested mapping is RENAME-ONLY: the logical<->physical
            # translation is a positional struct cast, sound only while
            # logical and physical types keep the same shape — dropping
            # a nested field would misalign every existing file's struct
            raise ValueError(
                f"cannot drop nested field {name!r}: nested column "
                "mapping is rename-only (positional translation). Drop "
                "the whole top-level column, or rewrite via overwrite() "
                "with the field projected away — overwrite carries the "
                "surviving nested physical names."
            )
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no column {name!r} (has: {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        mentioned = [
            n
            for n, expr in snap.constraints
            if re.search(rf"\b{re.escape(name)}\b", expr, re.IGNORECASE)
        ]
        if mentioned:
            raise ValueError(
                f"constraint(s) {mentioned} reference column {name!r}; "
                "drop them first"
            )
        gen_refs = [
            g
            for g, gexpr in _generated_of(schema).items()
            if g != name
            and re.search(rf"\b{re.escape(name)}\b", gexpr, re.IGNORECASE)
        ]
        if gen_refs:
            raise ValueError(
                f"generated column(s) {gen_refs} derive from {name!r}; "
                "drop the generated column(s) first (dropping the "
                "generated column itself is fine)"
            )
        remaining = StructType(
            [f for f in schema.fields if f.name != name]
        )
        props = None
        bloom_cols = self._bloom_columns(snap)
        kept = [
            c
            for c in bloom_cols
            # dotted blooms under the dropped struct go with it
            if c != name and not c.startswith(name + ".")
        ]
        if kept != bloom_cols:
            props = dict(snap.properties)
            if kept:
                props["bloom.columns"] = ",".join(kept)
            else:
                props.pop("bloom.columns", None)
        return self._commit(
            [], [], remaining, "drop_column", None, snap.version,
            metrics={"dropped": name},
            constraints=snap.constraints,
            properties=props,
        )

    def drop_constraint(self, name: str) -> int:
        snap = self.snapshot()
        self._check_writer_features(snap)
        cons = list(snap.constraints) if snap else []
        if not any(n == name for n, _ in cons):
            raise ValueError(f"no constraint named {name}")
        schema = StructType.fromJson(json.loads(snap.schema_json))
        return self._commit(
            [], [], schema, "drop_constraint", None, snap.version,
            partition_cols=list(snap.partition_cols) or None,
            metrics={"constraint": name},
            constraints=[c for c in cons if c[0] != name],
        )

    # ------------------------------------------------------------- ops --
    # Every op reads the log ONCE (snapshot()), derives txn ids / schema /
    # file list / version from that snapshot, and commits against the
    # snapshot's version. A writer that committed concurrently (after our
    # snapshot, before our commit) wins the create-exclusive race; the
    # loser then RECONCILES (_commit_reconciled): if no winning commit
    # logically conflicts — removed a file we rewrite, changed metadata,
    # added files in our read set — the already-staged files re-commit at
    # the next version, else ConcurrentWriteError. Never a lost update,
    # never a commit whose remove-list was computed against a snapshot a
    # conflicting writer changed.

    def append(
        self, df: DataFrame, txn_id: str | None = None, merge_schema: bool = True
    ) -> int:
        """Transactional append. A ``txn_id`` seen before is a no-op (the
        exactly-once contract for replayed micro-batches). Returns the
        committed version (or the current one on a replay no-op)."""
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        self._require_flat(snap)
        df, cached, ours = self._persist_for_validation(df, snap)
        try:
            df = self._apply_generated(df, snap)
            df, id_props = self._apply_identity(df, snap)
            self._check_constraints(df, snap.constraints if snap else ())
            schema = self._next_schema(snap, df, merge_schema)
            files, fstats = self._stage_files(df, write_schema=schema)
        finally:
            if ours:
                cached.unpersist()
        # blind append: reads nothing, removes nothing — reconciles over
        # any concurrent commit short of a metadata/layout change
        # (identity appends DO conflict with each other via id_props:
        # both raced from one high-water mark, so only one may land)
        v = self._commit_reconciled(
            files, [], schema, "append", txn_id, snap,
            precomputed_stats=fstats,
            properties=id_props,
        )
        self._maybe_auto_compact(df.sparkSession)
        return v

    def _persist_for_validation(self, df: DataFrame, snap):
        """Persist ``df`` before validation probes IF any will run (the
        snapshot carries CHECK constraints or generated columns) and the
        caller hasn't already cached it. Without this, a
        non-deterministic source plan could pass the ``limit(1)``
        generated/constraint probes with one row set and STAGE a
        different, violating one — the exact hazard ``replace_where``
        and ``merge_upsert`` persist against. Returns
        ``(df, unpersist_target, we_persisted)``; staging below the
        probes then reuses the cached rows, so validation and commit see
        the same data."""
        if snap:
            sch = StructType.fromJson(json.loads(snap.schema_json))
            # identity allocation REQUIRES the pin, not just benefits
            # from it: its slot math (count job, then assignment
            # expression) is only collision-safe when both executions
            # see identical partitions
            needs = bool(
                snap.constraints or _generated_of(sch) or _identity_of(sch)
            )
        else:
            needs = False
        ours = (
            needs
            and not df.storageLevel.useMemory
            and not df.storageLevel.useDisk
        )
        if ours:
            df = df.persist()
        return df, df, ours

    def overwrite(self, df: DataFrame, txn_id: str | None = None) -> int:
        """Atomic replace: one commit adds the new files and removes every
        current one. Readers see the old or the new table, never a mix."""
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        self._require_flat(snap)
        df, cached, ours = self._persist_for_validation(df, snap)
        try:
            df = self._apply_generated(df, snap)
            # identity continues from the current mark across an
            # overwrite (Delta: TRUNCATE/overwrite never resets identity)
            df, id_props = self._apply_identity(df, snap)
            self._check_constraints(df, snap.constraints if snap else ())
            # an overwrite replaces the schema wholesale, but on a mapped
            # table same-named columns keep their physical identity (their
            # history is still time-travelable), new ones get fresh names,
            # and generation expressions survive by name — a backfill must
            # not silently strip the column's GENERATED contract
            cur_schema = (
                StructType.fromJson(json.loads(snap.schema_json))
                if snap
                else None
            )
            schema = (
                self._carry_mapping(snap, df.schema)
                if cur_schema is not None
                and (
                    _schema_is_mapped(cur_schema)
                    or _generated_of(cur_schema)
                    or _identity_of(cur_schema)
                )
                else df.schema
            )
            files, fstats = self._stage_files(df, write_schema=schema)
        finally:
            if ours:
                cached.unpersist()
        # blind replace: its remove set is "whatever the table holds at
        # commit time", so reconciling recomputes it from the current
        # snapshot (serial order: the winner's commit, then this
        # overwrite) and the schema is this DataFrame's by definition
        v = self._commit_reconciled(
            files,
            list(snap.files) if snap else [],
            schema,
            "overwrite",
            txn_id,
            snap,
            keep_own_schema=True,
            recompute_remove=lambda cur: list(cur.files) if cur else [],
            precomputed_stats=fstats,
            properties=id_props,
        )
        self._maybe_auto_compact(df.sparkSession)
        return v

    def commit_files(
        self,
        add: list[str],
        schema: StructType,
        overwrite: bool = False,
        txn_id: str | None = None,
        op: str | None = None,
        max_retries: int = 10,
        forbid_constraints: bool = False,
    ) -> int:
        """Commit EXTERNALLY STAGED data files (already renamed into the
        table root with unique names) — the entry point for writers whose
        data plane lives outside :meth:`_stage_files`, e.g. the Python
        Data Source writer, which streams Arrow batches to parquet in
        executor processes and registers the results here in one atomic
        commit.

        Unlike the DataFrame ops, the staged files cannot be regenerated
        on a lost commit race, so a conflict retries THE COMMIT against a
        fresh snapshot (``cleanup_on_conflict=False`` keeps the files)
        instead of raising. Schema union and txn-id replay follow
        :meth:`append`; a replayed ``txn_id`` deletes the now-orphaned
        staged files and no-ops. Flat layout only (the data source write
        path carries no partitioning). Constraints are the CALLER's
        responsibility — this layer never sees the rows, only file names
        — so callers must validate before staging; a caller that CANNOT
        validate passes ``forbid_constraints=True`` and the commit
        refuses whenever the CURRENT retry snapshot carries CHECKs. The
        flag must be enforced here, inside the retry loop: a caller-side
        pre-check races a concurrent ``add_constraint`` — the pre-check
        sees no constraints, the constraint commit wins the version race,
        and the retry would land unvalidated rows into a constrained
        table. The replay check runs FIRST: a batch whose data already
        committed must no-op even if a constraint was added afterwards
        (its rows predate the constraint and were validated by that
        earlier commit's rules) — refusing a replay would crash-loop a
        restarting exactly-once stream on already-landed data."""
        last: Exception | None = None
        stats: dict[str, dict] | None = None
        for _ in range(max_retries):
            snap = self.snapshot()
            if txn_id is not None and snap and txn_id in snap.txn_ids:
                # replay: the staged files will never commit
                self._drop_files(add)
                return snap.version
            self._check_writer_features(snap)
            if snap is not None:
                # column mapping: externally staged files carry whatever
                # column names the external data plane wrote — LOGICAL
                # names. Once any column's physical name diverges from
                # its logical one (a rename, or a post-mapping re-add),
                # committing such files would register columns the
                # mapped read never projects: rows land, values read as
                # NULL. Checked INSIDE the retry loop for the same
                # reason forbid_constraints is — a concurrent
                # enable_column_mapping + rename must not slip between a
                # caller-side pre-check and the commit.
                sch = StructType.fromJson(json.loads(snap.schema_json))
                diverged = any(
                    p != l for l, p in _l2p(sch).items()
                ) or any(
                    phys != path.rsplit(".", 1)[-1]
                    for f in sch.fields
                    for path, phys in _nested_map_of(f).items()
                )
                if diverged:
                    self._drop_files(add)
                    raise ValueError(
                        f"table {self.path} uses column mapping with "
                        "diverged physical names; externally staged "
                        "files (logical-named columns) cannot be "
                        "registered — write via append/merge_upsert"
                    )
                if _identity_of(sch):
                    # identity allocation happens in the DataFrame write
                    # path; files staged outside it carry whatever the
                    # external plane wrote (NULLs, or values that ignore
                    # the high-water mark) — registering them would break
                    # the uniqueness contract silently. Checked inside
                    # the retry loop: a concurrent add_identity_column
                    # must not slip between a pre-check and the commit.
                    self._drop_files(add)
                    raise IdentityColumnViolationError(
                        f"table {self.path} declares identity column(s) "
                        f"{sorted(_identity_of(sch))}; externally staged "
                        "files bypass allocation — write via append"
                    )
            if forbid_constraints and snap and snap.constraints:
                raise ConstraintViolationError(
                    f"table {self.path} has CHECK constraints "
                    f"{[n for n, _ in snap.constraints]} and this writer "
                    "cannot validate rows; write via append/merge_upsert"
                )
            if forbid_constraints and snap:
                gens = _generated_of(
                    StructType.fromJson(json.loads(snap.schema_json))
                )
                if gens:
                    # same rationale as CHECKs: this layer never sees the
                    # rows, so it can neither compute an omitted generated
                    # column nor validate a supplied one
                    raise GeneratedColumnViolationError(
                        f"table {self.path} has generated column(s) "
                        f"{sorted(gens)} and this writer cannot "
                        "compute/validate them; write via append/"
                        "merge_upsert"
                    )
            if stats is None:  # once, lazily: replays never pay footer reads
                stats = {}
                for f in add:
                    try:
                        s = _file_column_stats(os.path.join(self.path, f))
                        if s:
                            stats[f] = s
                    except Exception:  # noqa: BLE001 - stats are best-effort
                        pass
            self._require_flat(snap)
            merged = (
                _merge_schema(
                    StructType.fromJson(json.loads(snap.schema_json)), schema
                )
                if snap and not overwrite
                else schema
            )
            try:
                return self._commit(
                    list(add),
                    list(snap.files) if (snap and overwrite) else [],
                    merged,
                    op or ("overwrite" if overwrite else "append"),
                    txn_id,
                    snap.version if snap else -1,
                    constraints=snap.constraints if snap else (),
                    cleanup_on_conflict=False,
                    precomputed_stats=stats,
                )
            except ConcurrentWriteError as e:
                last = e  # another writer landed first: reread, retry
        raise last  # type: ignore[misc]

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_cols: list[str],
        txn_id: str | None = None,
    ) -> int:
        """Dynamic-partition overwrite (Delta's ``replaceWhere`` shape, the
        idempotent re-run primitive of the partitioned write strategy): ONE
        commit replaces exactly the partitions present in ``df`` — their
        current files are removed, the new files added — and leaves every
        other partition untouched. Flat and partitioned commits cannot mix
        in one table (the layouts are incompatible for readers)."""
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        if snap and snap.files and not snap.partition_cols:
            raise ValueError("table has flat commits; cannot mix layouts")
        if snap and snap.properties.get("column.mapping") == "name":
            raise ValueError(
                "column-mapped tables are flat-only (partition dirs "
                "encode physical names in paths); overwrite_partitions "
                "is unavailable"
            )
        df, cached, ours = self._persist_for_validation(df, snap)
        try:
            df = self._apply_generated(df, snap)
            df, id_props = self._apply_identity(df, snap)
            self._check_constraints(df, snap.constraints if snap else ())
            files, fstats = self._stage_files(df, partition_cols)
        finally:
            if ours:
                cached.unpersist()
        touched = {os.path.dirname(f) for f in files}
        remove = (
            [f for f in snap.files if os.path.dirname(f) in touched]
            if snap
            else []
        )
        schema = self._next_schema(snap, df, merge_schema=True)
        # like overwrite, the remove set is recomputed on reconcile —
        # "whatever the touched partitions hold at commit time" — so a
        # winner appending to an untouched partition never conflicts and
        # one appending to a touched partition is serialized before the
        # replace
        v = self._commit_reconciled(
            files,
            remove,
            schema,
            "overwrite_partitions",
            txn_id,
            snap,
            partition_cols=partition_cols,
            recompute_remove=lambda cur: [
                f
                for f in (cur.files if cur else ())
                if os.path.dirname(f) in touched
            ],
            precomputed_stats=fstats,
            properties=id_props,
        )
        self._maybe_auto_compact(df.sparkSession)
        return v

    def _source_key_bounds(
        self, source: DataFrame, keys: list[str], extra_aggs: list | None = None
    ):
        """Per-key min/max/null-count bounds of a MERGE source — one tiny
        agg job — in the same normalized value space as the log-held file
        stats. Feeds both data skipping (``_stats_candidates``) and the
        commit-time read-set conflict check.

        ``extra_aggs`` lets a caller FUSE its own aggregate probes (a
        NULL-key check, a row count) into the same job instead of paying
        a second scheduler round trip — the return becomes
        ``(bounds, row)`` so the caller reads its extras off the single
        collected row; without it the return is just ``bounds``
        (existing call sites unchanged)."""
        aggs = []
        for k in keys:
            aggs += [
                F.min(k).alias(f"_mn_{k}"),
                F.max(k).alias(f"_mx_{k}"),
                F.sum(F.col(k).isNull().cast("long")).alias(f"_nl_{k}"),
            ]
        row = source.agg(*aggs, *(extra_aggs or [])).collect()[0]
        # PySpark materializes TimestampType (LTZ) values via the DRIVER
        # OS's local timezone as NAIVE datetimes, while the footer stats
        # normalize to naive UTC — on a non-UTC driver the two sides would
        # differ by the UTC offset and skip WRONG files. Re-anchor
        # collected LTZ values to UTC before normalizing. TimestampNTZ and
        # Date are wall-clock on both sides: no conversion.
        import datetime as _dt

        from pyspark.sql.types import TimestampType as _LTZ

        ltz_keys = {
            f.name.lower()
            for f in source.schema.fields
            if isinstance(f.dataType, _LTZ)
        }

        def _val(col: str, v):
            if col.lower() in ltz_keys and isinstance(v, _dt.datetime) and v.tzinfo is None:
                v = v.astimezone(_dt.timezone.utc)  # naive = driver-local
            return _norm_stat_value(v)

        src = {}
        for k in keys:
            mn, mx = _val(k, row[f"_mn_{k}"]), _val(k, row[f"_mx_{k}"])
            src[k] = {
                "min": mn[1] if mn else None,
                "kind": mn[0] if mn else None,
                "max": mx[1] if mx else None,
                "nulls": row[f"_nl_{k}"] or 0,
            }
        return (src, row) if extra_aggs is not None else src

    def _stats_candidates(
        self,
        snap: Snapshot,
        src: dict,
        keys: list[str],
        null_safe: bool,
    ) -> list[str]:
        """Data skipping for MERGE: drop files whose log-held key-column
        [min, max] cannot intersect the source's bounds (``src``, from
        :meth:`_source_key_bounds`). Files without stats (pre-stats
        commits, exotic column types) always remain candidates, so the
        skip is conservative by construction; at 100 TB this is what
        turns the finding pass from "scan every file" into "scan the
        files whose range the batch plausibly touches" (on a key-ordered
        or Z-ordered layout, a narrow CDC batch keeps O(batch-span)
        files)."""
        p2l = self._p2l_of(snap.schema_json)
        return [
            f
            for f in snap.files
            if not (
                f in snap.file_stats
                and _keys_disjoint(
                    src,
                    self._stats_logical(snap.file_stats[f], p2l),
                    keys,
                    null_safe,
                )
            )
        ]

    @staticmethod
    def _p2l_of(schema_json: str) -> dict[str, str]:
        """physical -> logical stat-key translation for column-mapped
        tables (identity otherwise). Footer-harvested stats key by what
        is physically in the parquet; every consult comparing them
        against logical-name predicates or key bounds goes through
        this."""
        sch = StructType.fromJson(json.loads(schema_json))
        return {
            (f.metadata or {}).get(_PHYS_KEY, f.name): f.name
            for f in sch.fields
        }

    @staticmethod
    def _stats_logical(st: dict, p2l: dict) -> dict:
        """Translate one file's stat keys physical -> logical. A key
        absent from the mapping that COLLIDES with a current logical
        name is a stale physical column shadowing a dropped + re-added
        logical (the re-add got a fresh uuid): consulting it would be
        UNSOUND — the old column's min/max says nothing about the new
        column's values — so it is dropped (no proof, no skip).
        Non-colliding unknown keys pass through untouched (legacy
        pre-mapping stats; nothing logical can reference them)."""
        logical = set(p2l.values())
        out = {}
        for k, v in st.items():
            if k in p2l:
                out[p2l[k]] = v
            elif k not in logical:
                out[k] = v
        return out

    def _files_with_matching_keys(
        self,
        spark: SparkSession,
        snap: Snapshot,
        source: DataFrame,
        keys: list[str],
        null_safe: bool,
        candidates: list[str] | None = None,
    ) -> list[str]:
        """Files of ``snap`` holding at least one row whose key appears in
        ``source`` — the MERGE file-finding pass (one scan + a semi-join
        against the source's distinct keys, which AQE broadcasts when
        small), over ``candidates`` when stats already excluded the rest.
        ``null_safe`` matches NULL keys to NULL keys — required for
        latest-wins mode, where the dedup window groups NULL keys
        together, so target NULL-key rows must be rewritten whenever the
        source carries NULL keys."""
        scan_files = snap.files if candidates is None else candidates
        if not scan_files:
            return []
        fc = self._fresh_col(
            "_file",
            [
                f.name
                for f in StructType.fromJson(json.loads(snap.schema_json)).fields
            ],
        )
        df = self._read_files(
            spark, snap, list(scan_files), with_file_col=fc
        )
        src_keys = source.select(*keys).distinct()
        if null_safe:
            cond = None
            for k in keys:
                c = df[k].eqNullSafe(src_keys[k])
                cond = c if cond is None else cond & c
            hit_df = df.join(src_keys, cond, "leftsemi")
        else:
            hit_df = df.join(src_keys, on=keys, how="leftsemi")
        hits = hit_df.select(fc).distinct().collect()
        touched = {self._rel_from_uri(r[0]) for r in hits}
        return [f for f in snap.files if f in touched]

    def read_matching_candidates(
        self, spark: SparkSession, source: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Rows of the files that MAY hold keys present in ``source`` —
        the stats+bloom-pruned scan underlying the DML finding pass,
        exposed for callers that need their own key-level probe (e.g.
        the CDC replicator's duplicate-key guard) at O(plausibly-touched
        files) cost instead of a full-table scan. Deletion vectors are
        applied; strictly a SUPERSET of the rows whose keys appear in
        ``source`` (skipping only ever drops provably-disjoint files)."""
        snap = self.snapshot()
        if snap is None or not snap.files:
            schema = (
                StructType.fromJson(json.loads(snap.schema_json))
                if snap
                else source.schema
            )
            return spark.createDataFrame([], schema)
        bounds = self._source_key_bounds(source, keys)
        cands, _ = self._key_candidates(
            spark, snap, source, keys, bounds, null_safe=False
        )
        if not cands:
            return self._read_snapshot(spark, snap).limit(0)
        return self._read_files(spark, snap, cands)

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        order_cols: list[str] | None = None,
        txn_id: str | None = None,
    ) -> int:
        """Copy-on-write MERGE INTO with FILE-LEVEL PRUNING: source-wins
        upsert by ``keys``, or latest-wins by ``order_cols`` when
        deliveries may be out of order (per key, the row with the
        greatest ``order_cols`` across table and source wins — the sink
        of ``streaming.ingest.stream_cdc_upsert``).
        Only keys present in the source are affected — like Delta's
        MERGE, this never dedups pre-existing duplicate keys the source
        doesn't mention, in ANY mode (a whole-table dedup side effect
        would also be layout-dependent under pruning: duplicates split across
        touched/untouched files would dedup partially). Latest-wins
        matches NULL keys to NULL keys (its window groups them);
        source-wins never matches a NULL key and inserts every source
        row, duplicates included.

        Delta's MERGE cost shape: log-held per-file key min/max stats
        (recorded at commit time from the parquet footers, Delta's
        data-skipping stats) and bloom sidecars drop files whose keys
        cannot intersect the source's; ONLY files that hold a source key
        are rewritten, every other file carries into the new version by
        reference, and pure inserts (no matching file) cost one new
        file. A CDC micro-batch touching 0.1% of a 100 TB table rewrites
        0.1% of it.

        The merge resolves ONCE: the candidate target rows (tagged with
        their file) unioned with the source, each row flagged by one
        window over the keys with whether its key occurs on the other
        side and whether it wins its key, in one persisted frame. The touched files, the three CDF classes and the staged
        rows are all filters of it. When the pruned candidates total at
        most ``_MERGE_ONE_PASS_MAX_BYTES`` (about one scan split) the
        frame reads all of them and its matched rows name the touched
        files, so no separate finding scan runs; a wider candidate set
        first runs the finding scan and reads only the files it finds.
        Returns the committed version."""
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        self._require_flat(snap)
        target_cols: list[str] = []
        if snap is not None:
            snap_schema = StructType.fromJson(json.loads(snap.schema_json))
            if _identity_of(snap_schema):
                # whole-row replacement cannot preserve the target's
                # allocated values NOR allocate for inserts; the
                # clause-based merge() treats identity correctly (carried
                # on update, allocated on insert)
                raise IdentityColumnViolationError(
                    f"table {self.path} declares identity column(s); use "
                    "merge(clauses=[when_matched_update(), "
                    "when_not_matched_insert()]) instead of merge_upsert"
                )
            target_cols = [f.name for f in snap_schema.fields]
        # the merge consumes `source` several times (stats agg, bloom
        # probe, finding semi-join, the resolution, constraint +
        # GENERATED probes); persist so an expensive upstream plan is
        # computed once — MEMORY_AND_DISK spills rather than OOMs on a
        # large batch. If the CALLER already persisted it, leave their
        # cache alone (and intact afterwards). Persist BEFORE the
        # generated-column validation: its limit(1) probe must see the
        # SAME rows staging will, or a non-deterministic plan passes
        # validation with one row set and commits another.
        ours = not source.storageLevel.useMemory and not source.storageLevel.useDisk
        if ours:
            source = source.persist()
        cached = source  # unpersist target: _apply_generated rebinds
        source = self._apply_generated(source, snap)
        null_safe = bool(order_cols)
        resolved = None
        try:
            touched: list[str] = []
            stat_skipped = 0
            bloom_skipped = 0
            # bounds are needed even when the BASE snapshot holds no stats:
            # the commit-time conflict check judges files added by WINNING
            # commits (which do carry stats) against the same bounds
            src_bounds = self._source_key_bounds(source, keys)
            taken = [*target_cols, *source.columns]
            fc = self._fresh_col("_file", taken)
            side = self._fresh_col("_is_src", taken)
            hit = self._fresh_col("_hit", taken)
            win = self._fresh_col("_win", taken)
            one_pass = False
            tgt = None
            if snap is not None and snap.files:
                candidates, bloom_dropped = self._key_candidates(
                    spark, snap, source, keys, src_bounds, null_safe
                )
                bloom_skipped = len(bloom_dropped)
                stat_skipped = len(snap.files) - len(candidates)
                one_pass = self._merge_one_pass_ok(candidates)
                if not one_pass:
                    touched = self._files_with_matching_keys(
                        spark, snap, source, keys, null_safe=null_safe,
                        candidates=candidates,
                    )
                scan = candidates if one_pass else touched
                if scan:
                    tgt = self._read_files(
                        spark, snap, scan, with_file_col=fc
                    )
                else:
                    tgt = self._read_snapshot(spark, snap).limit(0).withColumn(
                        fc, F.lit(None).cast("string")
                    )

            # ---- the single resolution -------------------------------
            # hit: the row's key occurs on the OTHER side (a matched
            # target row / a source row updating an existing key);
            # win: the row that represents its key after the merge
            # (latest-wins: rank 1 over target ∪ source; source-wins:
            # every source row, no target row). Touched-file rows whose
            # key the source does not carry (hit false) pass through
            # verbatim, outside any dedup: funneling them through the
            # window would make the result depend on which files pruning
            # kept.
            frame = source.withColumn(side, F.lit(True)).withColumn(
                fc, F.lit(None).cast("string")
            )
            if tgt is not None:
                frame = tgt.withColumn(side, F.lit(False)).unionByName(
                    frame, allowMissingColumns=True
                )
                by_key = Window.partitionBy(*keys)
                other = F.when(
                    F.col(side), ~F.min(side).over(by_key)
                ).otherwise(F.max(side).over(by_key))
                if not null_safe:
                    # SQL equality: a NULL in any key column never matches
                    for k in keys:
                        other = other & F.col(k).isNotNull()
                frame = frame.withColumn(hit, other)
            else:
                frame = frame.withColumn(hit, F.lit(False))
            if order_cols:
                rank = Window.partitionBy(*keys).orderBy(
                    *[F.col(c).desc() for c in order_cols]
                )
                frame = frame.withColumn(win, F.row_number().over(rank) == 1)
            else:
                frame = frame.withColumn(win, F.col(side))
            cdf_on = self._cdf_enabled(snap)
            # more than one consumer reads the frame: persist it so the
            # window runs once (the first consumer materializes it)
            resolved = frame.persist() if (cdf_on or one_pass) else frame
            is_src, is_hit, is_win = F.col(side), F.col(hit), F.col(win)
            if one_pass:
                touched_uris = sorted(
                    r[0]
                    for r in resolved.filter(~is_src & is_hit)
                    .select(fc)
                    .distinct()
                    .collect()
                )
                hit_rel = {self._rel_from_uri(u) for u in touched_uris}
                touched = [f for f in snap.files if f in hit_rel]
            data_cols = [
                c for c in resolved.columns if c not in (fc, side, hit, win)
            ]
            keep = is_win | (~is_src & ~is_hit)
            if one_pass:
                # candidate files nothing matched in carry by reference:
                # their rows must not be re-staged
                in_touched = (
                    F.col(fc).isin(touched_uris) if touched_uris else F.lit(False)
                )
                keep = keep & (is_src | in_touched)
            merged = resolved.filter(keep).select(*data_cols)
            # only the incoming rows need checking: every surviving target
            # row was validated by the commit that wrote it
            self._check_constraints(source, snap.constraints if snap else ())
            schema = self._next_schema(snap, source, merge_schema=True)
            cdf_map = None
            if cdf_on:
                # Delta CDF's merge classes: matched target rows as
                # update_preimage (target columns only), their resolved
                # state as update_postimage, winners for previously-absent
                # keys as insert. In latest-wins mode a matched key whose
                # source row LOST the ordering appears with identical
                # pre/post images (the merge made no logical change to it
                # — documented).
                classes = []
                if tgt is not None:
                    classes += [
                        ("update_preimage", ~is_src & is_hit, target_cols),
                        ("update_postimage", is_win & is_hit, data_cols),
                    ]
                classes.append(("insert", is_src & is_win & ~is_hit, data_cols))
                cdf_map = {}
                for name, cond, cols in classes:
                    paths = self._stage_cdf(resolved.filter(cond).select(*cols))
                    if paths:
                        cdf_map[name] = paths
                cdf_map = cdf_map or None
            files, fstats = self._stage_files(merged, write_schema=schema)
        finally:
            if resolved is not None:
                resolved.unpersist()
            if ours:
                cached.unpersist()

        v = self._commit_reconciled(
            files,
            touched,
            schema,
            "merge",
            txn_id,
            snap,
            read_check=self._key_read_check(src_bounds, keys, null_safe),
            precomputed_stats=fstats,
            cdf=cdf_map,
            metrics={
                "files_rewritten": len(touched),
                "files_carried": (len(snap.files) - len(touched)) if snap else 0,
                "files_stat_skipped": stat_skipped,
                "files_bloom_skipped": bloom_skipped,
            },
        )
        self._maybe_auto_compact(spark)
        return v

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        clauses: list,
        schema_evolution: bool = False,
        txn_id: str | None = None,
        source_keys_unique: bool = False,
        source_key_bounds: dict | None = None,
        properties_update: dict | None = None,
    ) -> int:
        """Conditional MERGE (Delta's full ``MergeBuilder`` surface):
        arbitrary ordered WHEN MATCHED UPDATE/DELETE, WHEN NOT MATCHED
        INSERT and WHEN NOT MATCHED BY SOURCE UPDATE/DELETE clauses, each
        with an optional condition — first matching clause per row wins,
        rows matching no clause carry unchanged, source rows accepted by
        no insert clause are ignored. The reference's fixed merge shapes
        (ING:366-415, source-wins / latest-wins in :meth:`merge_upsert`)
        are the two degenerate cases of this.

        Clause builders live in ``sinks.merge_clauses``
        (``when_matched_update(set=..., condition=...)`` etc.). Scoping:
        matched conditions and ALL assignment expressions use
        ``t.<col>`` / ``s.<col>`` qualified references; insert conditions
        see only the source row (bare source names); by-source conditions
        see only the target row (bare target names — deliberately, so the
        very same predicate string drives file-level data skipping).

        Cost shape at 100 TB — Delta's, clause-aware:

        - files that can hold source keys: min/max stats, then the bloom
          probe whenever candidate files carry blooms
          (:meth:`_key_candidates`, the step :meth:`merge_upsert` uses);
        - files that can hold by-source-qualifying rows: each by-source
          condition goes through :meth:`_predicate_candidates` (the
          DELETE/UPDATE WHERE step) — an unconditional by-source clause
          honestly costs a full rewrite scan (it logically touches every
          non-matched row), a conditioned one prunes like DELETE;
        - both finding passes share ONE scan, and only files holding a
          row some clause actually FIRES for are rewritten — a matched
          row whose conditions all evaluate false leaves its file
          carried by reference;
        - the resolution joins target and source FULL OUTER when an
          insert clause exists; matched-only merges join left, as does
          any merge without an insert clause (a source-only row could
          only be skipped), so a small source side can broadcast. CDF stages only the change classes whose
          row count is non-zero. :meth:`delete_matching` is this shape
          with one unconditional matched delete.

        Works on flat AND hive-partitioned tables (rewritten rows
        re-stage into their partition dirs; inserted rows land where
        their source values dictate; a clause assigning a partition
        column moves the row).

        Semantics guarantees: a target row matched by >1 source row
        raises ``MergeCardinalityError`` when matched or by-source
        clauses exist (Delta's ambiguous-merge error; insert-only merges
        insert every source row, duplicates included). NULL join keys
        never match (SQL equality). Generated columns cannot be
        assigned; they are recomputed from the post-image on every
        modified/inserted row.
        ``schema_evolution=True`` appends source-only columns to the
        table schema (carried and pre-image rows read them as NULL);
        without it, extra source columns stay usable inside assignment
        expressions but UPDATE SET * / INSERT * map only the
        intersection. CDF materializes update pre/post images, deletes
        and inserts per clause class. One atomic commit; a replayed
        ``txn_id`` is a no-op.

        Small-batch fast-path hints (the matview fold uses all three —
        they shave whole scheduler round trips off a merge whose source
        is tiny but whose fixed job count would otherwise dominate):

        - ``source_keys_unique=True``: the caller GUARANTEES at most one
          source row per key combination (e.g. the source is a groupBy
          on exactly ``keys``), so the cardinality-guard job and the
          finding pass's distinct shuffle are skipped. A false promise
          voids the ambiguous-merge protection — only pass it for
          frames whose plan proves it.
        - ``source_key_bounds``: precomputed :meth:`_source_key_bounds`
          output (callers fuse the bounds agg with their own probes via
          its ``extra_aggs`` hook), skipping the bounds job here.
        - ``properties_update``: table-property changes (``None`` value
          = unset) committed ATOMICALLY with the merge entry — a
          caller's post-merge ``alter_properties`` folded into the same
          commit, eliminating both the extra metadata commit and the
          crash window between them. When the merge turns out to be a
          no-op (nothing matched, nothing to insert) the properties
          still land, via a metadata-only commit; on a replayed
          ``txn_id`` they are assumed to have ridden the original
          commit."""
        from bigdataingestion_spark.sinks.merge_clauses import (
            CARRY,
            MergeCardinalityError,
            MergePlan,
        )

        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        if snap is None:
            raise ValueError(
                f"{self.path} has no commits; MERGE needs an existing "
                "table schema — create the table first"
            )
        # hive-partitioned tables merge too (unlike merge_upsert):
        # rewritten rows re-stage into their partition dirs, inserted
        # rows land in the dirs their source values dictate. Partition
        # columns carry no footer stats, so key pruning on them is scan
        # conservative (same as DELETE's contract on partition columns).
        pcols = list(snap.partition_cols)
        base_schema = StructType.fromJson(json.loads(snap.schema_json))
        target_cols = [f.name for f in base_schema.fields]
        t_lower = {c.lower() for c in target_cols}
        s_lower = {c.lower() for c in source.columns}
        missing = [k for k in keys if k.lower() not in t_lower or k.lower() not in s_lower]
        if missing:
            raise ValueError(
                f"MERGE keys must exist on both sides; missing: {missing}"
            )
        schema = self._next_schema(snap, source, merge_schema=schema_evolution)
        plan = MergePlan(
            clauses=list(clauses),
            schema=schema,
            target_cols=target_cols,
            source_cols=list(source.columns),
            generated={
                k.lower(): v for k, v in _generated_of(schema).items()
            },
            identity={
                k.lower(): bool(spec.get("always"))
                for k, spec in _identity_of(schema).items()
            },
        )
        # fresh marker names: any user column sharing a prefix would be
        # silently replaced by withColumn
        taken = [*source.columns, *target_cols]
        t_mark = self._fresh_col("_t_present", taken)
        s_mark = self._fresh_col("_s_present", taken)
        plan.t_mark, plan.s_mark = t_mark, s_mark
        qprefix = "_q"
        while any(str(c).lower().startswith(qprefix) for c in taken):
            qprefix += "_x"
        plan.marker_prefix = qprefix

        # With precomputed bounds AND the keys-unique promise, the
        # source may end up with exactly ONE consumer (the one-pass
        # resolution join below) — persisting it would be pure overhead
        # plus an exchange-reuse barrier — so the persist decision is
        # DEFERRED until the pass shape is known. Every other entry
        # shape persists up front, exactly as before (the bounds job
        # then materializes the cache for the later consumers).
        ours = False
        defer_persist = source_keys_unique and source_key_bounds is not None
        if not defer_persist and (
            not source.storageLevel.useMemory
            and not source.storageLevel.useDisk
        ):
            source = source.persist()
            ours = True
        joined = None
        session_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            # ---- candidate files: keys ∪ by-source predicates ----------
            src_bounds = (
                source_key_bounds
                if source_key_bounds is not None
                else self._source_key_bounds(source, keys)
            )
            key_cands, bloom_dropped = self._key_candidates(
                spark, snap, source, keys, src_bounds, null_safe=False
            )
            scan_set = set(key_cands)
            for cond in plan.by_source_predicates():
                if cond is None:
                    scan_set = set(snap.files)
                    break
                cands, dropped = self._predicate_candidates(spark, snap, cond)
                scan_set |= set(cands)
                bloom_dropped |= dropped
            scan_files = [f for f in snap.files if f in scan_set]
            stat_skipped = len(snap.files) - len(scan_files)
            # a file some step's bloom dropped counts only when no other
            # step kept it for the scan
            bloom_skipped = len(bloom_dropped - scan_set)

            # ---- finding scan, or the adaptive one-pass fusion ---------
            # The finding scan exists to keep the resolution join off
            # candidate files that hold no key hit. When the
            # WHOLE pruned candidate set is at most ~one scan split
            # (_MERGE_ONE_PASS_MAX_BYTES), it cannot shrink any real
            # work — it IS a full extra scheduler round trip (scan +
            # join + distinct + collect) over the very files the
            # resolution join reads next — so resolve directly against
            # the candidates and let the per-action file sets (collected
            # WITH the row counts below) refine the touched set; rows of
            # files where no clause fires resolve CARRY and are filtered
            # before staging, exactly as in the two-pass shape. The
            # switch is adaptive on DATA bytes, not cluster size: a
            # 100 TB table whose stats/bloom pruning leaves a few files
            # takes the same fast path, a wide candidate set keeps the
            # two-pass shape.
            one_pass = self._merge_one_pass_ok(scan_files)
            if defer_persist and not one_pass and (
                not source.storageLevel.useMemory
                and not source.storageLevel.useDisk
            ):
                # two-pass after all: the finding join AND the
                # resolution join both consume the source — persist now
                source = source.persist()
                ours = True
            fc = self._fresh_col("_file", [*target_cols, t_mark, s_mark])
            km = self._fresh_col("_km", [*target_cols, fc])

            def marked_target(files: list[str]) -> DataFrame:
                # the rows of `files`, tagged with their file and the
                # plan's target markers
                if files:
                    df = self._read_files(spark, snap, files, with_file_col=fc)
                else:
                    df = self._read_snapshot(spark, snap).limit(0).withColumn(
                        fc, F.lit(None).cast("string")
                    )
                for name, expr in plan.target_markers():
                    df = df.withColumn(name, expr)
                return df

            tgt = marked_target(scan_files)
            skeys = source.select(*keys)
            if not source_keys_unique:
                skeys = skeys.distinct()
            skeys = skeys.withColumn(km, F.lit(True))
            # cardinality guard BEFORE resolution: >1 source row per
            # matched target key makes update/delete ambiguous — and
            # with BY SOURCE clauses present the guard must run even
            # without matched clauses: a by-source rewrite re-stages
            # matched rows as CARRY, and the join fan-out would
            # silently DUPLICATE them (insert-only merges are exempt:
            # carry rows are never re-staged there, and Delta inserts
            # duplicate source keys by design)
            if (plan.matched or plan.by_source) and not source_keys_unique:
                nsrc = self._fresh_col("_n", [*keys, *source.columns])
                dup_keys = (
                    source.groupBy(*keys)
                    .agg(F.count(F.lit(1)).alias(nsrc))
                    .filter(F.col(nsrc) > 1)
                    .drop(nsrc)
                )
                amb = (
                    tgt.join(dup_keys, on=keys, how="leftsemi")
                    .limit(1)
                    .collect()
                )
                if amb:
                    raise MergeCardinalityError(
                        "MERGE matched a target row with more than one "
                        f"source row on keys {keys} (e.g. "
                        f"{ {k: amb[0][k] for k in keys} }); dedupe the "
                        "source (latest-wins: merge_upsert order_cols) "
                        "or tighten the keys"
                    )

            uncond_bysrc = any(
                cl.condition is None for _, cl in plan.by_source
            )
            if one_pass:
                # fused path: the resolution join reads every candidate
                # file; the per-action collect_set below IS the finding
                # pass (touched = files a clause actually fired for)
                candidates_touched = scan_files
            else:
                bq_cols = [
                    f"{qprefix}_{code}"
                    for code, cl in plan.by_source
                    if cl.condition is not None
                ]
                qual = F.coalesce(F.col(km), F.lit(False))
                if uncond_bysrc:
                    qual = qual | F.lit(True)
                for c in bq_cols:
                    qual = qual | F.col(c)
                hit_files = (
                    tgt.join(skeys, on=keys, how="left")
                    .filter(qual)
                    .select(fc)
                    .distinct()
                    .collect()
                )
                cand_hit = {self._rel_from_uri(r[0]) for r in hit_files}
                candidates_touched = [
                    f for f in snap.files if f in cand_hit
                ]

            if not candidates_touched and not plan.inserts:
                # nothing matches, nothing to insert — but a rider
                # property update must still land (metadata-only commit)
                if properties_update is not None:
                    return self.alter_properties(properties_update)
                return snap.version

            # ---- join + clause resolution ------------------------------
            hit = tgt if one_pass else marked_target(candidates_touched)
            src = source
            for name, expr in plan.source_markers():
                src = src.withColumn(name, expr)
            t, s = hit.alias("t"), src.alias("s")
            jcond = None
            for k in keys:
                c = F.col(f"t.{k}") == F.col(f"s.{k}")
                jcond = c if jcond is None else jcond & c
            ac = self._fresh_col("_action", [*target_cols, *source.columns, fc])
            # without an insert clause a source-only row can only resolve
            # to SKIP, so a left join drops nothing a clause needs, and
            # lets a small source side broadcast
            joined = (
                t.join(s, jcond, "full_outer" if plan.inserts else "left")
                .withColumn(ac, plan.action_col())
                .persist()
            )
            action = F.col(ac)

            # refine touched: only files holding a row a clause FIRED for
            # are rewritten; candidate files whose rows all resolved to
            # CARRY keep carrying by reference (their rows must then NOT
            # be re-staged). ONE job over the persisted join yields both
            # the per-action row counts AND the per-action file sets
            # (r14: this and the touched-file distinct used to be two
            # scheduler round trips; rows with update/delete action
            # codes always carry a target side, so their collect_set of
            # target files IS the old modified_t distinct, and
            # collect_set skips the NULL t-file of insert rows) —
            # O(actions × files) driver traffic, same as Delta's commit
            # metrics.
            nrow = self._fresh_col("_n", [ac])
            fset = self._fresh_col("_fs", [ac, nrow])
            act_rows = (
                joined.groupBy(ac)
                .agg(
                    F.count(F.lit(1)).alias(nrow),
                    F.collect_set(F.col(f"t.{fc}")).alias(fset),
                )
                .collect()
            )
            counts = {r[0]: r[1] for r in act_rows}
            mod_codes = plan.update_codes() | plan.delete_codes()
            touched_uris = sorted(
                {u for r in act_rows if r[0] in mod_codes for u in r[2]}
            )
            hit_rel = {self._rel_from_uri(u) for u in touched_uris}
            touched = [f for f in snap.files if f in hit_rel]
            rows_updated = sum(
                counts.get(c, 0) for c in plan.update_codes()
            )
            rows_deleted = sum(
                counts.get(c, 0) for c in plan.delete_codes()
            )
            rows_inserted = sum(
                counts.get(c, 0) for c in plan.insert_codes()
            )
            if not touched and rows_inserted == 0:
                # every candidate row resolved CARRY; rider properties
                # still land (see above)
                if properties_update is not None:
                    return self.alter_properties(properties_update)
                return snap.version

            in_touched = F.col(f"t.{t_mark}").isNull()
            if touched_uris:
                in_touched = in_touched | F.col(f"t.{fc}").isin(touched_uris)
            keep = joined.filter(plan.keep_filter(action) & in_touched)
            post = keep.select(*plan.post_image_cols(action, keys), action.alias(ac))
            gens = _generated_of(schema)
            if gens:
                modified = F.col(ac) != CARRY
                post = post.select(
                    *[
                        (
                            F.when(modified, F.expr(gexpr))
                            .otherwise(F.col(f.name))
                            .cast(f.dataType)
                            .alias(f.name)
                            if (gexpr := gens.get(f.name)) is not None
                            else F.col(f.name)
                        )
                        for f in schema.fields
                    ],
                    F.col(ac),
                )
            id_props = None
            if _identity_of(schema):
                # inserted rows carry NULL identity (plan contract);
                # allocate BEFORE constraints/CDF so both see final rows
                post, id_props = self._fill_identity_nulls(post, snap)
            self._check_constraints(
                post.filter(F.col(ac) != CARRY).drop(ac),
                snap.constraints,
            )
            cdf_map = None
            if self._cdf_enabled(snap):
                upd = sorted(plan.update_codes())
                dels = sorted(plan.delete_codes())
                ins = sorted(plan.insert_codes())
                cdf_map = {}
                for name, n, df_ in (
                    (
                        "update_preimage",
                        rows_updated,
                        joined.filter(action.isin(upd)).select(
                            *plan.pre_image_cols()
                        ),
                    ),
                    (
                        "update_postimage",
                        rows_updated,
                        post.filter(F.col(ac).isin(upd)).drop(ac),
                    ),
                    (
                        "delete",
                        rows_deleted,
                        joined.filter(action.isin(dels)).select(
                            *plan.pre_image_cols()
                        ),
                    ),
                    (
                        "insert",
                        rows_inserted,
                        post.filter(F.col(ac).isin(ins)).drop(ac),
                    ),
                ):
                    if n == 0:
                        continue  # act_rows counted no row of this class
                    paths = self._stage_cdf(df_)
                    if paths:
                        cdf_map[name] = paths
                cdf_map = cdf_map or None
            files, fstats = self._stage_files(
                post.drop(ac), pcols or None, write_schema=schema
            )
        finally:
            if joined is not None:
                joined.unpersist()
            if ours:
                source.unpersist()

        pred_checks = [
            self._predicate_read_check(cond, session_tz)
            for cond in plan.by_source_predicates()
            if cond is not None
        ]

        key_check = self._key_read_check(src_bounds, keys, False)

        def read_check(added: list[str], cur: Snapshot) -> list[str]:
            if uncond_bysrc:
                return list(added)  # read set is the whole table
            bad = set(key_check(added, cur))
            for chk in pred_checks:
                rest = [f for f in added if f not in bad]
                bad |= set(chk(rest, cur))
            return [f for f in added if f in bad]

        final_props = id_props
        if properties_update is not None:
            # rider property changes commit atomically with the merge
            # entry (identity hwm advances compose underneath)
            final_props = (
                dict(id_props)
                if id_props is not None
                else dict(snap.properties)
            )
            for k, pv in properties_update.items():
                if pv is None:
                    final_props.pop(k, None)
                else:
                    final_props[k] = str(pv)
        v = self._commit_reconciled(
            files,
            touched,
            schema,
            "merge",
            txn_id,
            snap,
            partition_cols=pcols or None,
            read_check=read_check,
            precomputed_stats=fstats,
            cdf=cdf_map,
            properties=final_props,
            metrics={
                "clauses": [
                    f"{cl.category}:{cl.action}" for cl in plan.clauses
                ],
                "rows_updated": rows_updated,
                "rows_deleted": rows_deleted,
                "rows_inserted": rows_inserted,
                "files_rewritten": len(touched),
                "files_carried": len(snap.files) - len(touched),
                "files_stat_skipped": stat_skipped,
                "files_bloom_skipped": bloom_skipped,
            },
        )
        self._maybe_auto_compact(spark)
        return v

    def delete_matching(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        txn_id: str | None = None,
    ) -> int:
        """DELETE WHERE (keys) IN (SELECT keys FROM source) — the missing
        half of a CDC apply (a replicated DELETE arrives as a key batch,
        not a SQL predicate). Runs as Delta does, as ``MERGE … WHEN
        MATCHED THEN DELETE`` through :meth:`merge` over the source's
        distinct keys, so it prunes, rewrites, stages CDF and commits
        (op ``merge``, clause ``matched:delete``) exactly like any other
        merge, flat or partitioned. The distinct keys keep each removed
        row's CDF ``delete`` record single. NULL keys never match (SQL IN
        semantics). No matching row -> no commit. Returns the table
        version, -1 for a table with no commits."""
        from bigdataingestion_spark.sinks.merge_clauses import (
            when_matched_delete,
        )

        snap = self.snapshot()
        if snap is None or not snap.files:
            # nothing to delete; a table with no data files may not even
            # carry the key columns yet
            return snap.version if snap else -1
        return self.merge(
            spark,
            source.select(*keys).distinct(),
            keys,
            [when_matched_delete()],
            txn_id=txn_id,
            source_keys_unique=True,
        )

    def _rel_from_uri(self, uri: str) -> str:
        """Normalize an ``input_file_name()`` URI to a root-relative name
        matching the snapshot's file list."""
        from urllib.parse import unquote, urlparse

        p = urlparse(uri)
        local = unquote(p.path) if p.scheme else uri
        root = os.path.abspath(self.path)
        local = os.path.abspath(local)
        if local == root or local.startswith(root + os.sep):
            return os.path.relpath(local, root)
        # outside the table root: a shallow clone's externally-referenced
        # file — the snapshot lists it by absolute path, so match that
        return local

    def _touched_files(
        self, spark: SparkSession, snap: Snapshot, pred, predicate_str: str
    ) -> tuple[list[str], int, int]:
        """Files of ``snap`` containing at least one row matching ``pred``
        — log-held stats first (``sinks.skipping`` proves files whose
        min/max cannot satisfy the predicate out of the scan, bailing to
        "all files" on any unsupported construct), then ONE scan with a
        file-attribution column over the surviving candidates, collected
        driver-side. The result is bounded by the table's file count
        (metadata scale, same as the log itself); this is Delta's DML
        file-finding pass, and with a predicate on a partition or
        Z-ordered column the scan itself also prunes via pushdown before
        any row is read. Returns (touched, files_stat_skipped,
        files_bloom_skipped) — bloom_skipped is the subset of stat_skipped
        proven out by bloom sidecars rather than min/max ranges."""
        candidates, bloom_dropped = self._predicate_candidates(
            spark, snap, predicate_str
        )
        bloom_skipped = len(bloom_dropped)
        skipped = len(snap.files) - len(candidates)
        if not candidates:
            return [], skipped, bloom_skipped
        schema_cols = [
            f.name
            for f in StructType.fromJson(json.loads(snap.schema_json)).fields
        ]
        fc = self._fresh_col("_file", schema_cols)
        df = self._read_files(spark, snap, candidates, with_file_col=fc)
        hits = df.filter(pred).select(fc).distinct().collect()
        touched = {self._rel_from_uri(r[0]) for r in hits}
        return [f for f in snap.files if f in touched], skipped, bloom_skipped

    # ------------------------------------------------- deletion vectors --

    # ------------------------------------------------- change data feed --

    @staticmethod
    def _cdf_enabled(snap: Snapshot | None) -> bool:
        """Change Data Feed is OPT-IN per table (Delta's
        ``delta.enableChangeDataFeed``): row-level change materialization
        costs extra writes per DML, so it only happens when the
        log-carried property says so."""
        return bool(snap) and snap.properties.get("cdf.enabled") == "true"

    def _stage_cdf(self, df: DataFrame) -> list[str]:
        """Write change rows as parquet under ``_cdf/`` (underscore dir:
        invisible to plain parquet readers of the table root and never
        part of the snapshot file list). Returns root-relative paths.
        Like data files, CDF files are retained inside the vacuum window
        and reclaimed after it — ``read_cdf`` over a vacuumed range fails
        with the same contract as time travel."""
        tmp = os.path.join(self.path, f"_staging-cdf-{uuid.uuid4().hex[:8]}")
        df.write.parquet(tmp)
        os.makedirs(os.path.join(self.path, "_cdf"), exist_ok=True)
        rels: list[str] = []
        for root, _dirs, files in os.walk(tmp):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                try:
                    import pyarrow.parquet as pq

                    if pq.ParquetFile(os.path.join(root, f)).metadata.num_rows == 0:
                        continue
                except Exception:  # noqa: BLE001 - unreadable: keep
                    pass
                rel = os.path.join("_cdf", f"cdf-{uuid.uuid4().hex}.parquet")
                os.rename(os.path.join(root, f), os.path.join(self.path, rel))
                rels.append(rel)
        shutil.rmtree(tmp)
        return sorted(rels)

    @staticmethod
    def _fresh_col(base: str, taken) -> str:
        """An internal column name that cannot collide with user columns
        (``withColumn`` silently REPLACES an existing column, so a table
        whose schema contains e.g. ``_file`` would otherwise lose it —
        or worse, mis-key the DV anti-join on user data)."""
        lowered = {str(t).lower() for t in taken}
        name = base
        while name.lower() in lowered:
            name += "_x"
        return name

    def _write_dv(self, runs: list[tuple[int, int]]) -> str:
        """Persist one deletion vector as ``dv-<uuid>.json`` in the table
        root: sorted, non-overlapping [start, count] row-position runs
        (the role Delta's roaring-bitmap DV files play). Immutable once
        written; referenced by rel path from the commit entry."""
        name = f"dv-{uuid.uuid4().hex}.json"
        full = os.path.join(self.path, name)
        tmp = full + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"runs": [[int(s), int(c)] for s, c in runs]}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, full)
        return name

    def _load_dv_runs(self, dv_rel: str) -> list[tuple[int, int]]:
        d = json.loads(open(os.path.join(self.path, dv_rel)).read())
        return [(int(s), int(c)) for s, c in d["runs"]]

    @staticmethod
    def _runs_from_positions(positions: list[int]) -> list[tuple[int, int]]:
        """Sorted distinct row positions -> run-length [start, count]
        encoding. Point deletes stay tiny; clustered deletes (the common
        case on sorted/Z-ordered layouts) collapse to a handful of runs."""
        runs: list[tuple[int, int]] = []
        for p in sorted(set(positions)):
            if runs and runs[-1][0] + runs[-1][1] == p:
                runs[-1] = (runs[-1][0], runs[-1][1] + 1)
            else:
                runs.append((p, 1))
        return runs

    @staticmethod
    def _rle_runs_df(df: DataFrame, fc: str, ic: str) -> DataFrame:
        """``(file, row_position)`` rows -> FLAT ``(file, s, c)`` run rows
        — executor-side run-length encoding via the gaps-and-islands
        idiom: consecutive positions share ``pos - row_number()``, so one
        window pass + one groupBy yields the runs in LINEAR time and one
        shuffle. (A fold with ``array_append`` is O(n²) — the append
        copies the accumulator array per element; measured 303 s for a
        272k-row scattered delete vs ~2 s here.) Positions never leave
        the executors; the caller collects the flat run rows via Arrow
        (``toPandas`` — nested-struct ``collect()`` materializes
        millions of Row objects and was the next bottleneck at the
        ~rows/2-runs worst case). Same runs as
        :meth:`_runs_from_positions` (property-tested)."""
        from pyspark.sql import Window

        w = Window.partitionBy(fc).orderBy(ic)
        return (
            df.select(fc, ic)
            .distinct()  # defensive: duplicate positions collapse
            .withColumn("_rle_rn", F.row_number().over(w))
            .withColumn("_rle_isl", F.col(ic) - F.col("_rle_rn"))
            .groupBy(fc, "_rle_isl")
            .agg(
                F.min(ic).alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .select(F.col(fc).alias("_rle_f"), "s", "c")
        )

    @staticmethod
    def _merge_runs(
        a: list[tuple[int, int]], b: list[tuple[int, int]]
    ) -> list[tuple[int, int]]:
        """Union of two run lists -> sorted, coalesced, non-overlapping
        runs. Merging RUNS (not re-expanded positions) keeps combining a
        file's existing DV with a new delete's runs O(runs), never
        O(masked rows)."""
        out: list[tuple[int, int]] = []
        for s, c in sorted(a + b):
            if out and s <= out[-1][0] + out[-1][1]:
                end = max(out[-1][0] + out[-1][1], s + c)
                out[-1] = (out[-1][0], end - out[-1][0])
            else:
                out.append((s, c))
        return out

    # ------------------------------------------------- bloom indexes --
    #
    # Point-lookup skipping where min/max is blind (Delta's per-column
    # bloom filter index): on a high-cardinality UNCLUSTERED key
    # (uuid-ish), every file's [min, max] spans the whole key space and
    # range stats skip nothing — but a per-file bloom answers "could this
    # file hold ANY of the batch's keys" directly. Opt-in via the
    # ``bloom.columns`` table property (comma-separated column names);
    # filters are built at commit time from the staged files (one extra
    # executor-side pass over the new files only), stored as sidecar
    # ``bloom-<uuid>.json`` blobs referenced from the file's stats entry,
    # and consulted by the key and predicate DML pruning steps
    # (_key_candidates, _predicate_candidates) BEFORE the finding
    # scan. Hashing is Kirsch-Mitzenmacher double hashing over Spark's
    # xxhash64 (JVM-side, stable across sessions); false positives only
    # cost a wasted scan — never a wrong skip (the absence proof is
    # exact for the hashed value set). Sizing below.

    # Sizing is driven by BATCH probing, not point lookups: a K-key batch
    # falsely keeps a disjoint file with probability 1-(1-p)^K, so the
    # per-key false-positive rate p must absorb the batch width. At
    # p ~= 1e-4 (19.2 bits/row, k=13): a 100-key CDC batch falsely keeps
    # ~1% of disjoint files, 1k keys ~10% — still a near-total skip.
    # Past ~10k keys dilution washes the filter out (63%+ false-keep),
    # and a batch that wide plausibly touches most files anyway: the
    # probe cap turns blooms off rather than pay for nothing. Index cost
    # ~2.4 bytes/row ~= 0.25% of typical parquet size (Delta's bloom
    # index defaults are the same order).
    _BLOOM_BITS_PER_ROW = 19.17  # -ln(1e-4)/ln(2)^2
    _BLOOM_K = 13
    _BLOOM_MAX_BITS = 1 << 26  # 8 MB per (file, column): sizing ceiling
    _BLOOM_MAX_PROBE_KEYS = 10_000
    _BLOOM_DRIVER_PROBE_MAX = 256  # more bloom-bearing candidates than
    # this -> probe as a Spark job (sidecars read where they live); a
    # driver loop over 100k sidecars would serialize metadata I/O

    # MERGE resolves in one pass (no separate finding scan) when the
    # stats/bloom-pruned candidate set is at most ~one scan split: the
    # finding pass can only pay for itself by shrinking the resolution
    # join's input, and below a split there is nothing to shrink — it
    # is a pure extra scheduler round trip over the same bytes. The
    # bound is on candidate DATA bytes (not cluster size), so it stays
    # correct at any scale: a 100 TB table pruned to a few files takes
    # the fast path, a wide candidate set keeps the two-pass shape.
    _MERGE_ONE_PASS_MAX_BYTES = 128 * 1024 * 1024

    def _merge_one_pass_ok(self, scan_files: list[str]) -> bool:
        total = 0
        for f in scan_files:
            try:
                total += os.path.getsize(os.path.join(self.path, f))
            except OSError:
                return False  # unknown size: stay conservative
            if total > self._MERGE_ONE_PASS_MAX_BYTES:
                return False
        return True

    def _bloom_columns(self, snap: "Snapshot | None") -> list[str]:
        prop = (snap.properties.get("bloom.columns") if snap else None) or ""
        return [c.strip() for c in prop.split(",") if c.strip()]

    def _write_bloom(self, cols: dict) -> str:
        """``{col: {"m": bits, "k": hashes, "b64": bitmap}}`` -> sidecar
        name. Same durability dance as deletion vectors."""
        name = f"bloom-{uuid.uuid4().hex}.json"
        full = os.path.join(self.path, name)
        tmp = full + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"cols": cols}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, full)
        return name

    def _load_bloom(self, rel: str) -> dict:
        return json.loads(open(os.path.join(self.path, rel)).read())["cols"]

    def _build_blooms(
        self,
        spark: SparkSession,
        rel_names: list[str],
        cols: list[str],
        nrows: dict[str, int],
    ) -> dict[str, str]:
        """One SHUFFLE-FREE Arrow pass over the freshly staged files:
        xxhash64 each indexed column JVM-side, then ``mapInPandas`` sets
        k positions per value into a PARTIAL numpy bitmap per (file,
        column) accumulated across the partition's Arrow batches — no
        groupBy (which would shuffle every row's ~100-byte path string;
        a 10M-row commit ~1 GB for nothing). The driver OR-combines the
        O(scan partitions x columns) partial blobs and writes the
        sidecars; bitmap SIZE per file is fixed up front from the footer
        row counts (``nrows``) so partials from different partitions of
        one file agree. Returns {data file -> sidecar rel}."""
        import base64

        import numpy as np

        paths = [os.path.join(self.path, r) for r in rel_names]
        df = spark.read.parquet(*paths)

        def _leaf(dotted: str) -> str | None:
            # resolve a (possibly dotted) PHYSICAL column path through
            # pure struct nesting to its leaf type string; arrays/maps
            # stop the walk (their elements aren't bloom-indexable)
            dt: object = df.schema
            for seg in dotted.split("."):
                if not isinstance(dt, StructType):
                    return None
                f = next((x for x in dt.fields if x.name == seg), None)
                if f is None:
                    return None
                dt = f.dataType
            return dt.simpleString()

        have = {c: t for c in cols for t in [_leaf(c)] if t is not None}
        cols = [c for c in cols if c in have]
        if not cols:
            return {}
        m_by_base = {
            os.path.basename(rel): min(
                max(
                    1024,
                    ((int(n * self._BLOOM_BITS_PER_ROW) + 63) // 64) * 64,
                ),
                self._BLOOM_MAX_BITS,
            )
            for rel, n in nrows.items()
            if n > 0
        }
        if not m_by_base:
            return {}
        fc = self._fresh_col("_bf_file", list(df.columns))
        hashed = df.select(
            F.col("_metadata.file_path").alias(fc),
            *[F.xxhash64(c).alias(f"_h_{i}") for i, c in enumerate(cols)],
        )
        k_hashes = self._BLOOM_K
        colnames = list(cols)

        def build(batches):
            import base64 as _b64
            from urllib.parse import unquote, urlparse

            import numpy as _np
            import pandas as _pd

            acc: dict = {}
            for pdf in batches:
                for fname, grp in pdf.groupby(fc, sort=False):
                    p = urlparse(fname)
                    base = os.path.basename(
                        unquote(p.path) if p.scheme else fname
                    )
                    m = m_by_base.get(base)
                    if m is None:  # footer-unreadable file: no bloom
                        continue
                    for i, c in enumerate(colnames):
                        key = (fname, c, m)
                        bits = acc.get(key)
                        if bits is None:
                            bits = acc[key] = _np.zeros(
                                m // 8, dtype=_np.uint8
                            )
                        h = grp[f"_h_{i}"].to_numpy(dtype=_np.uint64)
                        h1 = h & _np.uint64(0xFFFFFFFF)
                        h2 = h >> _np.uint64(32)
                        for j in range(k_hashes):
                            pos = (h1 + _np.uint64(j) * h2) % _np.uint64(m)
                            _np.bitwise_or.at(
                                bits,
                                (pos >> _np.uint64(3)).astype(_np.int64),
                                (
                                    _np.uint8(1)
                                    << (pos & _np.uint64(7)).astype(
                                        _np.uint8
                                    )
                                ),
                            )
            out = [
                (fname, c, int(m), _b64.b64encode(bits.tobytes()).decode())
                for (fname, c, m), bits in acc.items()
            ]
            if out:
                yield _pd.DataFrame(
                    out, columns=["file", "col", "m", "b64"]
                )

        rows = hashed.mapInPandas(
            build, "file string, col string, m long, b64 string"
        ).collect()
        merged: dict[tuple[str, str], np.ndarray] = {}
        m_of: dict[tuple[str, str], int] = {}
        for r in rows:
            key = (self._rel_from_uri(r["file"]), r["col"])
            bits = np.frombuffer(base64.b64decode(r["b64"]), dtype=np.uint8)
            if key in merged:
                merged[key] = merged[key] | bits
            else:
                merged[key] = bits.copy()
                m_of[key] = int(r["m"])
        per_file: dict[str, dict] = {}
        for (rel, col), bits in merged.items():
            per_file.setdefault(rel, {})[col] = {
                "m": m_of[(rel, col)],
                "k": k_hashes,
                # the HASHED type: xxhash64 is physical-type-sensitive
                # (hash(int 5) != hash(bigint 5)), so a probe may only
                # consult this bloom when its column type matches exactly
                "t": have[col],
                "b64": base64.b64encode(bits.tobytes()).decode(),
            }
        return {rel: self._write_bloom(cols_) for rel, cols_ in per_file.items()}

    def _key_candidates(
        self,
        spark: SparkSession,
        snap: Snapshot,
        source: DataFrame,
        keys: list[str],
        src_bounds: dict,
        null_safe: bool,
    ) -> tuple[list[str], int]:
        """The key DML pruning step, shared by :meth:`merge_upsert`,
        :meth:`merge` and :meth:`read_matching_candidates`: min/max stats
        (:meth:`_stats_candidates`), then drop the candidate files whose
        bloom PROVES no source key value of some key column occurs in
        them (a composite match needs equality on every column, so one
        provably-absent column suffices — the same logic as
        ``_keys_disjoint``). Files without a bloom, columns without one,
        and null-matchable columns (null-safe mode with nulls on both
        sides) stay conservative. The probe set is the source's DISTINCT
        xxhash64 per indexed column — O(batch keys) longs to the driver,
        capped at _BLOOM_MAX_PROBE_KEYS — and runs only when some
        candidate carries a bloom, and only for key columns the table's
        ``bloom.columns`` names (sidecars are built from that property,
        so a probe of any other column is a Spark job with nothing to
        consult).
        Returns (candidates, the set of files the bloom probe dropped)."""
        import numpy as np

        candidates = self._stats_candidates(snap, src_bounds, keys, null_safe)
        refs = [
            (f, snap.file_stats.get(f, {}).get("__bloom__"))
            for f in candidates
        ]
        if not any(b for _, b in refs):
            return candidates, set()
        indexed = {c.lower() for c in self._bloom_columns(snap)}
        src_types = dict(source.dtypes)
        probe: dict[str, np.ndarray] = {}
        for key in keys:
            if key.lower() not in indexed:
                continue
            if null_safe and (src_bounds.get(key) or {}).get("nulls", 0) > 0:
                continue  # source nulls can match file nulls: unusable
            hs = [
                r[0]
                for r in source.filter(F.col(key).isNotNull())
                .select(F.xxhash64(key))
                .distinct()
                .limit(self._BLOOM_MAX_PROBE_KEYS + 1)
                .collect()
            ]
            if 0 < len(hs) <= self._BLOOM_MAX_PROBE_KEYS:
                probe[key] = np.array(hs, dtype=np.int64).astype(np.uint64)
        if not probe:
            return candidates, set()
        # sidecar bitmaps key by PHYSICAL column names (what was staged);
        # probe keys arrive logical — translate via the snapshot schema
        l2p = _l2p(StructType.fromJson(json.loads(snap.schema_json)))
        typed = {
            l2p.get(col, col): (src_types.get(col), hashes)
            for col, hashes in probe.items()
        }
        kept = self._bloom_filter_refs(spark, refs, typed)
        return kept, set(candidates) - set(kept)

    def _bloom_filter_refs(
        self, spark: SparkSession, refs: list, probe: dict
    ) -> list[str]:
        """Shared bloom evaluation for the key-batch and predicate DML
        paths. ``refs`` is [(file, bloom_rel|None)]; ``probe`` maps a
        column name to (required hashed type, xxhash64 ndarray). A file
        is dropped when some probed column's bloom — recorded under
        EXACTLY the required type (xxhash64 is physical-type-sensitive)
        — proves every probe hash absent; everything else keeps the
        file. Above _BLOOM_DRIVER_PROBE_MAX bloom-bearing refs the
        evaluation runs as a Spark job reading sidecars executor-side,
        so 100k-file tables never serialize metadata reads through the
        driver."""
        with_bloom = [(f, b) for f, b in refs if b is not None]
        if not with_bloom:
            return [f for f, _ in refs]
        path = self.path
        hits_any = self._bloom_hits_any

        def excluded_by(blooms: dict) -> bool:
            for col, (want_t, hashes) in probe.items():
                spec = blooms.get(col) or next(
                    (
                        v
                        for k, v in blooms.items()
                        if k.lower() == col.lower()
                    ),
                    None,
                )
                if spec is None or spec.get("t") != want_t:
                    # absent, or hashed under a different physical type:
                    # no sound proof
                    continue
                if not hits_any(spec, hashes):
                    return True  # NO probed value of `col` in the file
            return False

        if len(with_bloom) > self._BLOOM_DRIVER_PROBE_MAX:
            def part(it):
                for f, rel in it:
                    try:
                        blooms = json.loads(
                            open(os.path.join(path, rel)).read()
                        )["cols"]
                    except OSError:
                        yield (f, False)
                        continue
                    yield (f, excluded_by(blooms))

            n_slices = max(8, len(with_bloom) // 64)
            excluded_map = dict(
                spark.sparkContext.parallelize(with_bloom, n_slices)
                .mapPartitions(part)
                .collect()
            )
            return [
                f
                for f, b in refs
                if b is None or not excluded_map.get(f, False)
            ]
        kept: list[str] = []
        for f, bloom_rel in refs:
            if bloom_rel is None:
                kept.append(f)
                continue
            try:
                blooms = self._load_bloom(bloom_rel)
            except OSError:
                kept.append(f)  # sidecar vacuumed/unreadable: no proof
                continue
            if not excluded_by(blooms):
                kept.append(f)
        return kept

    @staticmethod
    def _bloom_hits_any(spec: dict, hashes) -> bool:
        """True when at least one xxhash64 value MAY be in the filter
        (i.e. all k positions set for some hash). Vectorized, chunked
        with early exit — a hit on a true match is found fast; a full
        miss (the skip case) scans every chunk once."""
        import base64

        import numpy as np

        m = np.uint64(spec["m"])
        kk = int(spec["k"])
        bits = np.frombuffer(base64.b64decode(spec["b64"]), dtype=np.uint8)
        h1 = hashes & np.uint64(0xFFFFFFFF)
        h2 = hashes >> np.uint64(32)
        for lo in range(0, len(hashes), 65536):
            a, b = h1[lo : lo + 65536], h2[lo : lo + 65536]
            ok = np.ones(len(a), dtype=bool)
            for j in range(kk):
                pos = (a + np.uint64(j) * b) % m
                byte = (pos >> np.uint64(3)).astype(np.int64)
                bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
                ok &= (bits[byte] & bit) != 0
                if not ok.any():
                    break
            if ok.any():
                return True
        return False

    def _predicate_candidates(
        self, spark: SparkSession, snap: Snapshot, predicate: str
    ) -> tuple[list[str], int]:
        """The predicate DML pruning step, shared by :meth:`_touched_files`
        and :meth:`merge`'s by-source clauses: ``skipping.candidate_files``
        over the log-held min/max stats, then the bloom consult — a
        top-level ``col = lit`` or ``col IN (...)`` term on a
        bloom-indexed column excludes files provably holding none of the
        literals — the point-lookup (GDPR-erasure) shape where min/max
        stats are blind on unclustered keys. Literals are hashed by
        Spark itself, CAST to the column's CURRENT table-schema type, so
        the probe hash agrees by construction with blooms recorded under
        that type; files whose bloom was hashed under an older schema
        type simply aren't consulted (conservative), and no sidecar is
        opened before the probe runs — the shared evaluator handles the
        driver/distributed split. A literal that casts to NULL proves
        nothing. Everything outside the supported term shapes is ignored
        — skipping stays an optimization, never a correctness filter.
        Returns (candidates, the set of files the bloom consult
        dropped)."""
        import numpy as np

        from bigdataingestion_spark.sinks.skipping import (
            _Bail,
            _Parser,
            _tokenize,
            candidate_files,
        )

        candidates = candidate_files(
            predicate,
            snap.schema_json,
            snap.files,
            snap.file_stats,
            session_tz=spark.conf.get("spark.sql.session.timeZone"),
        )
        refs = [
            (f, snap.file_stats.get(f, {}).get("__bloom__"))
            for f in candidates
        ]
        if not any(b for _, b in refs):
            return candidates, set()
        toks = _tokenize(predicate)
        if toks is None:
            return candidates, set()
        try:
            terms = _Parser(toks).parse()
        except _Bail:
            return candidates, set()
        # top-level AND conjunction only: each eq/IN term may exclude.
        # Keep the parser's (kind, value) literal tuples — the kind is
        # needed below for the same literal/column compatibility check
        # the min/max stats path applies.
        wanted: dict[str, list] = {}
        for t in terms:
            if t[0] == "cmp" and t[2] == "=":
                wanted.setdefault(t[1].lower(), []).append(t[3])
            elif t[0] == "in":
                wanted.setdefault(t[1].lower(), []).extend(t[2])
        if not wanted:
            return candidates, set()
        sch = StructType.fromJson(json.loads(snap.schema_json))
        schema_types = {
            f.name.lower(): f.dataType.simpleString() for f in sch.fields
        }
        schema_dtypes = {f.name.lower(): f.dataType for f in sch.fields}
        # sidecars key by PHYSICAL names; predicate terms are logical
        l2p_low = {
            f.name.lower(): (f.metadata or {}).get(_PHYS_KEY, f.name)
            for f in sch.fields
        }
        from bigdataingestion_spark.sinks.skipping import (
            _lit_resolve,
            _nested_struct_entries,
        )

        # nested struct leaves: a bloom declared on a dotted path
        # ("address.zip") probes like any flat column — literals hash
        # under the LEAF type, terms translate through both mapping
        # levels. Dotted paths shadowed by a literal flat homonym are
        # ambiguous and prove nothing (mirrors stats skipping).
        for lpath, ppath, dtype in _nested_struct_entries(sch):
            ll = lpath.lower()
            if ll in schema_types:
                schema_types.pop(ll, None)
                schema_dtypes.pop(ll, None)
                l2p_low.pop(ll, None)
                continue
            schema_types[ll] = dtype.simpleString()
            schema_dtypes[ll] = dtype
            l2p_low[ll] = ppath

        probe: dict = {}
        for col, lits in wanted.items():
            t = schema_types.get(col)
            if t is None:
                continue
            # Literal/column kind compatibility — the SAME gate the
            # min/max stats path applies via _lit_resolve. Without it,
            # ``code = 5`` against a STRING column would CAST the column
            # (so '05' matches in Spark) while the probe hashes only the
            # exact string '5' — the bloom would "prove" the file
            # disjoint and DML would silently skip it. Skipping must
            # never be a correctness filter: any cross-kind term makes
            # this column prove nothing.
            try:
                for kind, v in lits:
                    _lit_resolve(kind, v, schema_dtypes[col])
            except _Bail:
                continue
            vals = [v for _, v in lits]
            try:
                lit_df = spark.createDataFrame([(v,) for v in vals], ["x"])
                rows = lit_df.select(
                    F.xxhash64(F.col("x").cast(t)).alias("h"),
                    F.col("x").cast(t).isNull().alias("isnull"),
                ).collect()
            except Exception:  # noqa: BLE001 - mixed/unmappable literals
                continue  # prove nothing for this column
            if any(r["isnull"] for r in rows):
                # a literal that casts to NULL under the hashed type:
                # Spark's own comparison semantics are out of this
                # helper's subset — prove nothing for this column
                # (xxhash64 of NULL is the seed, so check the CAST)
                continue
            probe[l2p_low.get(col, col)] = (
                t,
                np.array([r["h"] for r in rows], dtype=np.int64).astype(
                    np.uint64
                ),
            )
        if not probe:
            return candidates, set()
        kept = self._bloom_filter_refs(spark, refs, probe)
        return kept, set(candidates) - set(kept)

    def _dv_filter(
        self, spark: SparkSession, df: DataFrame, snap: Snapshot, files: list[str]
    ) -> DataFrame:
        """Apply the snapshot's deletion vectors to a scan of ``files``.
        Masked rows vanish exactly as if the files had been rewritten.
        ``df`` must carry ``_metadata`` (any parquet scan does).
        Basenames are unique (uuid part names), so the key is
        layout-independent.

        Two physical strategies by TOTAL run count:

        - sparse masks (the Delta-typical case): broadcast anti-join of
          (basename, position-in-run-range) — pure JVM, no Python hop.
          Its per-row probe cost is O(runs of that file), fine for
          point deletes but quadratic-feeling for wide scattered masks;
        - wide masks: a vectorized pandas-UDF filter — per Arrow batch,
          ``np.searchsorted`` against the file's sorted run starts,
          O(log runs) per row, with only (basename, position) crossing
          the Python boundary. The run arrays ship once per executor
          via broadcast (16 bytes/run)."""
        dv_files = [f for f in files if f in snap.dvs]
        per_file: dict[str, list[tuple[int, int]]] = {
            os.path.basename(f): self._load_dv_runs(snap.dvs[f])
            for f in dv_files
        }
        total_runs = sum(len(r) for r in per_file.values())
        # collision-proof helper columns (a user column named _dv_file
        # would otherwise be clobbered by withColumn and then dropped)
        fcol = self._fresh_col("_dv_file", df.columns)
        icol = self._fresh_col("_dv_idx", list(df.columns) + [fcol])
        keyed = df.withColumn(
            fcol,
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        ).withColumn(icol, F.col("_metadata.row_index"))
        if total_runs <= 4096:
            run_rows = [
                (base, s, s + c)
                for base, runs in per_file.items()
                for s, c in runs
            ]
            runs_df = spark.createDataFrame(
                run_rows, "_dv_base string, _dv_start long, _dv_end long"
            )
            cond = (
                (keyed[fcol] == runs_df["_dv_base"])
                & (keyed[icol] >= runs_df["_dv_start"])
                & (keyed[icol] < runs_df["_dv_end"])
            )
            return keyed.join(F.broadcast(runs_df), cond, "left_anti").drop(
                fcol, icol
            )
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        bc = spark.sparkContext.broadcast(
            {
                base: (
                    np.array([s for s, _ in runs], dtype=np.int64),
                    np.array([s + c for s, c in runs], dtype=np.int64),
                )
                for base, runs in per_file.items()
            }
        )

        @pandas_udf("boolean")
        def _dv_masked(bases, positions):
            import numpy as _np
            import pandas as _pd

            arr_b = bases.to_numpy()
            arr_p = positions.to_numpy(dtype=_np.int64)
            out = _np.zeros(len(arr_p), dtype=bool)
            dvs = bc.value
            for base in _pd.unique(arr_b):
                rt = dvs.get(base)
                if rt is None:
                    continue
                starts, ends = rt
                sel = arr_b == base
                pos = arr_p[sel]
                j = _np.searchsorted(starts, pos, side="right") - 1
                jj = _np.clip(j, 0, None)
                out[sel] = (j >= 0) & (pos < ends[jj])
            return _pd.Series(out)

        return keyed.filter(~_dv_masked(F.col(fcol), F.col(icol))).drop(
            fcol, icol
        )

    def _read_files(
        self,
        spark: SparkSession,
        snap: Snapshot,
        files: list[str],
        with_file_col: str | None = None,
    ) -> DataFrame:
        """Scan exactly ``files`` under the snapshot schema, with the
        snapshot's deletion vectors applied. ``with_file_col`` attaches
        each row's source file URI (from ``_metadata.file_path``, which
        — unlike ``input_file_name()`` — is resolved at the scan and
        survives the DV anti-join) for file-attribution passes."""
        schema = StructType.fromJson(json.loads(snap.schema_json))
        mapped = _schema_is_mapped(schema)
        # column mapping: the files hold PHYSICAL column names; scan under
        # them, then alias back to logical — the ONLY place physical
        # becomes logical on the read path. Everything downstream of this
        # method (DML, constraints, CDF, predicates) lives in logical space.
        reader = spark.read.schema(
            _physical_struct(schema) if mapped else schema
        )
        if snap.partition_cols:
            reader = reader.option("basePath", self.path)
        df = reader.parquet(*[os.path.join(self.path, f) for f in files])
        if with_file_col:
            df = df.withColumn(with_file_col, F.col("_metadata.file_path"))
        if any(f in snap.dvs for f in files):
            df = self._dv_filter(spark, df, snap, files)
        if mapped:
            l2p = _l2p(schema)
            keep = []
            for f in schema.fields:
                c = F.col(l2p[f.name])
                nmap = _nested_map_diverged(f)
                # nested mapping: the scan delivered physical nested
                # names; rebuild the logical shape from field
                # extractions (see _to_logical_col — pruning-friendly,
                # pure Catalyst, no Python in the row path). Identity
                # maps pay nothing.
                if nmap:
                    c = _to_logical_col(c, f.dataType, nmap)
                keep.append(c.alias(f.name))
            if with_file_col:
                keep.append(F.col(with_file_col))
            df = df.select(keep)
        return df

    def delete(
        self,
        spark: SparkSession,
        predicate: str,
        txn_id: str | None = None,
        deletion_vectors: bool = False,
    ) -> int:
        """Row-level DELETE WHERE (Delta DML semantics: reference
        ING:366-415 uses MERGE/DELETE on its Delta state tables). One scan
        finds the files containing matching rows. Rows where the predicate
        evaluates NULL are kept (SQL DELETE three-valued logic). No
        matching rows -> no-op, no commit. Files never touched are carried
        by reference — a DELETE hitting k files costs O(k) regardless of
        table size.

        Two physical strategies, Delta's two DELETE modes:

        - copy-on-write (default): touched files are rewritten without
          the matching rows and swapped in one atomic commit. Best when
          deletes are wide (rewrite amortizes).
        - merge-on-read (``deletion_vectors=True``): the parquet files
          are left UNTOUCHED; the commit records a deletion vector of row
          positions per touched file, applied by every reader. A 3-row
          delete in a 1 GB file costs one tiny DV file instead of a 1 GB
          rewrite — the right trade for sparse deletes (GDPR erasure,
          late corrections) at 100 TB. The masks disappear when a
          copy-on-write op or ``compact`` later rewrites the file (DV'd
          files are always compaction candidates, Delta's purge).
          Row positions are RLE-compressed executor-side; the driver
          holds only O(runs per touched file) — a 10M-row id-list
          delete whose hits cluster into k ranges costs the driver k
          (start, count) pairs, not 10M positions. The worst case
          (alternating matched rows) still yields ~rows/2 runs, so
          pathologically scattered WIDE deletes should prefer
          copy-on-write, whose cost is the rewrite itself."""
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        if snap is None or not snap.files:
            return snap.version if snap else -1
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        touched, stat_skipped, bloom_skipped = self._touched_files(
            spark, snap, pred, predicate
        )
        if not touched:
            return snap.version
        schema = StructType.fromJson(json.loads(snap.schema_json))
        base_metrics = {
            "predicate": predicate,
            "files_carried": len(snap.files) - len(touched),
            "files_stat_skipped": stat_skipped,
            "files_bloom_skipped": bloom_skipped,
        }
        cdf_on = self._cdf_enabled(snap)
        if deletion_vectors:
            # ONE scan of the touched files (file + physical row position
            # attached) feeds both the position collect and, when CDF is
            # on, the materialized delete rows. Matching happens on the
            # DV-filtered view, so re-matched positions are only the
            # still-visible ones; the new DV carries old ∪ new (it
            # REPLACES the file's mask).
            fc = self._fresh_col("_f", [f.name for f in schema.fields])
            ic = self._fresh_col("_i", [f.name for f in schema.fields] + [fc])
            matched = (
                self._read_files(spark, snap, touched, with_file_col=fc)
                .withColumn(ic, F.col("_metadata.row_index"))
                .filter(pred)
            )
            cdf_map = None
            if cdf_on:
                matched = matched.persist()
            try:
                # positions are RLE'd PER FILE on the executors
                # (gaps-and-islands: linear, one shuffle); the driver
                # pulls only flat (file, start, count) run rows over
                # Arrow — O(runs), the same metadata scale as the commit
                # log, never O(rows), and no per-Row Python objects
                run_pdf = self._rle_runs_df(matched, fc, ic).toPandas()
                if cdf_on:
                    cdf_map = {
                        "delete": self._stage_cdf(matched.drop(fc, ic))
                    }
            finally:
                if cdf_on:
                    matched.unpersist()
            by_file: dict[str, list[tuple[int, int]]] = {}
            for fname, s, c in run_pdf.itertuples(index=False):
                by_file.setdefault(
                    os.path.basename(self._rel_from_uri(fname)), []
                ).append((int(s), int(c)))
            for runs_ in by_file.values():
                runs_.sort()
            dv_map: dict[str, str] = {}
            masked = 0
            for f in touched:
                runs = by_file.get(os.path.basename(f), [])
                if f in snap.dvs:
                    runs = self._merge_runs(
                        runs, self._load_dv_runs(snap.dvs[f])
                    )
                masked += sum(c for _, c in runs)
                dv_map[f] = self._write_dv(runs)
            v = self._commit_reconciled(
                [],
                [],
                schema,
                "delete",
                txn_id,
                snap,
                partition_cols=list(snap.partition_cols) or None,
                read_check=self._predicate_read_check(
                    predicate, spark.conf.get("spark.sql.session.timeZone")
                ),
                dv=dv_map,
                cdf=cdf_map,
                metrics={
                    **base_metrics,
                    "files_rewritten": 0,
                    "files_masked": len(dv_map),
                    "rows_masked_total": masked,
                },
            )
            # DV'd files are always pack candidates (the purge)
            self._maybe_auto_compact(spark)
            return v
        # copy-on-write: one cached scan feeds the change rows (when CDF
        # is on) and the kept-rows rewrite
        base = self._read_files(spark, snap, touched)
        cdf_map = None
        if cdf_on:
            base = base.persist()
        try:
            if cdf_on:
                cdf_map = {"delete": self._stage_cdf(base.filter(pred))}
            keep = base.filter(~pred)
            files, fstats = self._stage_files(
                keep, list(snap.partition_cols) or None,
                write_schema=schema,
            )
        finally:
            if cdf_on:
                base.unpersist()
        v = self._commit_reconciled(
            files,
            touched,
            schema,
            "delete",
            txn_id,
            snap,
            partition_cols=list(snap.partition_cols) or None,
            read_check=self._predicate_read_check(
                predicate, spark.conf.get("spark.sql.session.timeZone")
            ),
            precomputed_stats=fstats,
            cdf=cdf_map,
            metrics={**base_metrics, "files_rewritten": len(touched)},
        )
        self._maybe_auto_compact(spark)
        return v

    def _key_read_check(self, src_bounds: dict, keys: list[str], null_safe: bool):
        """Read-set conflict probe for key-matching DML: the op read
        "every row whose key the source carries", so a winner-added file
        conflicts unless its log-held key stats prove it disjoint from
        the source's key bounds (``_keys_disjoint``)."""

        def read_check(added: list[str], cur: Snapshot) -> list[str]:
            p2l = self._p2l_of(cur.schema_json)
            return [
                f
                for f in added
                if not (
                    f in cur.file_stats
                    and _keys_disjoint(
                        src_bounds,
                        self._stats_logical(cur.file_stats[f], p2l),
                        keys,
                        null_safe,
                    )
                )
            ]

        return read_check

    def _predicate_read_check(self, predicate: str, session_tz: str | None = None):
        """Read-set conflict probe for predicate DML: of the files a
        winning commit added, return those the predicate might match —
        ``skipping.candidate_files`` proves non-matches from log-held
        stats and bails to "all of them" on unsupported predicates, so
        the check is exactly as conservative as data skipping itself."""
        from bigdataingestion_spark.sinks.skipping import candidate_files

        def read_check(added: list[str], cur: Snapshot) -> list[str]:
            return candidate_files(
                predicate,
                cur.schema_json,
                added,
                cur.file_stats,
                session_tz=session_tz,
            )

        return read_check

    def update(
        self,
        spark: SparkSession,
        predicate: str,
        set_exprs: dict[str, str],
        txn_id: str | None = None,
        recompute: bool = False,
    ) -> int:
        """Row-level UPDATE ... SET, copy-on-write with the same file-level
        pruning as ``delete``. ``set_exprs`` maps existing column names to
        SQL expressions; each assignment is cast to the column's committed
        type (UPDATE never changes the schema — Delta's contract). SQL
        pre-image semantics: the predicate AND every SET expression
        evaluate against the row's ORIGINAL values (all assignments in
        one ``select``, never a sequential ``withColumn`` chain — so
        ``SET a = b, b = a`` swaps, and an assignment that changes a
        predicate column cannot hide the row from later assignments).
        Updating a partition column is allowed: the partitionBy re-stage
        moves the rewritten rows into their new hive partitions. Rows
        where the predicate is NULL are untouched.

        Generated columns: assigning one directly is always refused (its
        value is derived). Assigning a column a generated expression
        READS is refused by default (conservative: stored values must
        never silently diverge from the declared expression); pass
        ``recompute=True`` for Delta's UPDATE semantics instead — the
        dependent generated column(s) are recomputed from the POST-image
        in the same rewrite. Recomputation applies to every rewritten
        row; for rows the predicate did not match this reproduces the
        stored value bit-for-bit (the table invariant guarantees stored
        == expression on them), so only matched rows actually change."""
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        if snap is None or not snap.files:
            return snap.version if snap else -1
        schema = StructType.fromJson(json.loads(snap.schema_json))
        by_name = {f.name.lower(): f for f in schema.fields}
        assigns = {}
        for c, expr in set_exprs.items():
            if c.lower() not in by_name:
                raise ValueError(f"UPDATE SET references unknown column: {c}")
            assigns[c.lower()] = expr
        # generated columns: assigning one directly, or assigning a
        # column its expression reads, would leave stored values that
        # disagree with the declared expression (Delta recomputes
        # dependents on UPDATE; this implementation refuses instead —
        # conservative, never silently divergent). The dependency check
        # is a word-match on the stored SQL text, the same conservative
        # shape rename_column uses for constraints.
        # identity columns: ALWAYS is never assignable (the same contract
        # merge's clause validation enforces); BY DEFAULT assignments
        # pass through — the same contract append and merge honor for
        # supplied values — and the high-water mark is advanced past the
        # assigned extreme in the SAME commit, so later allocations never
        # collide with values this UPDATE wrote. Delta's caveat stands:
        # BY DEFAULT offers no supplied-vs-allocated collision protection.
        ident_assigned: dict[str, dict] = {}
        for iname, ispec in _identity_of(schema).items():
            if iname.lower() in assigns:
                if ispec["always"]:
                    raise IdentityColumnViolationError(
                        f"cannot UPDATE SET identity column {iname}: it "
                        "is GENERATED ALWAYS and its values are "
                        "table-allocated; reassignment would break the "
                        "uniqueness contract"
                    )
                ident_assigned[iname] = ispec
        recompute_gens: dict[str, str] = {}  # lower name -> expression
        for gname, gexpr in _generated_of(schema).items():
            if gname.lower() in assigns:
                raise GeneratedColumnViolationError(
                    f"cannot UPDATE SET generated column {gname} "
                    f"(= {gexpr}); its value is derived"
                )
            hit = [
                c
                for c in assigns
                if re.search(rf"\b{re.escape(c)}\b", gexpr, re.IGNORECASE)
            ]
            if hit and recompute:
                recompute_gens[gname.lower()] = gexpr
            elif hit:
                raise GeneratedColumnViolationError(
                    f"UPDATE SET touches column(s) {sorted(hit)} that "
                    f"generated column {gname} = ({gexpr}) is derived "
                    "from; pass recompute=True to recompute it from the "
                    "post-image (Delta's UPDATE semantics), or rewrite "
                    "via delete + append (or overwrite)"
                )
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        touched, stat_skipped, bloom_skipped = self._touched_files(
            spark, snap, pred, predicate
        )
        if not touched:
            return snap.version
        df = self._read_files(spark, snap, touched)
        # ONE pass over the touched rows feeds the rewrite, the
        # constraint probe, and (when enabled) both CDF images
        df = df.persist()
        try:
            updated = df.select(
                *[
                    (
                        F.when(
                            pred,
                            F.expr(assigns[f.name.lower()]).cast(f.dataType),
                        )
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                        if f.name.lower() in assigns
                        else F.col(f.name)
                    )
                    for f in schema.fields
                ]
            )
            if recompute_gens:
                # second stage AFTER the assignments land, so generated
                # expressions read POST-image inputs; unconditional — on
                # unmatched rows the table invariant makes this the
                # identity, so no pre-image predicate re-evaluation races
                # an assignment that changed a predicate column
                updated = self._recompute_generated(
                    updated, schema, recompute_gens
                )
            self._check_constraints(updated, snap.constraints)  # post-SET
            id_props = None
            if ident_assigned:
                # ONE O(1)-row agg over the rewritten rows for all
                # assigned BY DEFAULT columns: a NULL count per column
                # (a SET producing NULL — literal NULL, failed cast,
                # NULL CASE branch — would silently break the identity
                # contract append enforces by filling NULL slots) and
                # the extreme the committed mark must cover (the same
                # sup_extreme rule _fill_identity_nulls applies)
                exprs = []
                for n, s in ident_assigned.items():
                    exprs.append(
                        (
                            F.max(n) if int(s["step"]) > 0 else F.min(n)
                        ).alias(f"ex_{n.lower()}")
                    )
                    exprs.append(
                        F.sum(F.col(n).isNull().cast("long")).alias(
                            f"nn_{n.lower()}"
                        )
                    )
                row = updated.agg(*exprs).first()
                props = dict(snap.properties)
                for n, s in ident_assigned.items():
                    if int(row[f"nn_{n.lower()}"] or 0) > 0:
                        raise IdentityColumnViolationError(
                            f"UPDATE SET leaves NULL values in identity "
                            f"column {n}; identity values must stay "
                            "non-NULL (the assignment expression "
                            "evaluated to NULL or failed its cast)"
                        )
                    ex = row[f"ex_{n.lower()}"]
                    if ex is None:
                        continue
                    hkey = f"identity.hwm.{n.lower()}"
                    hwm = props.get(hkey)
                    step = int(s["step"])
                    if hwm is None or (
                        int(ex) > int(hwm) if step > 0 else int(ex) < int(hwm)
                    ):
                        props[hkey] = str(int(ex))
                        id_props = props
            cdf_map = None
            if self._cdf_enabled(snap):
                pre_image = df.filter(pred)
                # postimage = the assignments applied UNCONDITIONALLY to
                # the matched pre-image rows: filtering the updated rows
                # by the predicate instead would lose every row whose SET
                # changed a predicate column (post-SET it no longer
                # matches), leaving a preimage with no postimage
                post_image = pre_image.select(
                    *[
                        (
                            F.expr(assigns[f.name.lower()])
                            .cast(f.dataType)
                            .alias(f.name)
                            if f.name.lower() in assigns
                            else F.col(f.name)
                        )
                        for f in schema.fields
                    ]
                )
                if recompute_gens:
                    post_image = self._recompute_generated(
                        post_image, schema, recompute_gens
                    )
                cdf_map = {
                    "update_preimage": self._stage_cdf(pre_image),
                    "update_postimage": self._stage_cdf(post_image),
                }
            files, fstats = self._stage_files(
                updated, list(snap.partition_cols) or None,
                write_schema=schema,
            )
        finally:
            df.unpersist()
        v = self._commit_reconciled(
            files,
            touched,
            schema,
            "update",
            txn_id,
            snap,
            partition_cols=list(snap.partition_cols) or None,
            read_check=self._predicate_read_check(
                predicate, spark.conf.get("spark.sql.session.timeZone")
            ),
            precomputed_stats=fstats,
            cdf=cdf_map,
            properties=id_props,
            metrics={
                "predicate": predicate,
                "set": sorted(set_exprs),
                "files_rewritten": len(touched),
                "files_carried": len(snap.files) - len(touched),
                "files_stat_skipped": stat_skipped,
                "files_bloom_skipped": bloom_skipped,
            },
        )
        self._maybe_auto_compact(spark)
        return v

    @staticmethod
    def _recompute_generated(
        df: DataFrame, schema: StructType, gens: dict[str, str]
    ) -> DataFrame:
        """Re-evaluate the given generated columns (lower-name -> stored
        expression) over ``df``'s CURRENT values — the post-image stage of
        ``update(recompute=True)``. One select, cast to committed types."""
        return df.select(
            *[
                F.expr(gens[f.name.lower()]).cast(f.dataType).alias(f.name)
                if f.name.lower() in gens
                else F.col(f.name)
                for f in schema.fields
            ]
        )

    def replace_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        predicate: str,
        txn_id: str | None = None,
        validate: bool = True,
    ) -> int:
        """Selective overwrite (Delta's arbitrary ``replaceWhere``): ONE
        atomic commit deletes every row matching ``predicate`` and inserts
        ``df``'s rows. Readers see the table before or after the swap,
        never a half-replaced range — the idempotent-backfill primitive
        ("recompute March") that plain ``overwrite`` (whole table) and
        ``overwrite_partitions`` (hive layout only) cannot express on an
        unpartitioned or differently-partitioned table.

        Cost shape is DELETE's, not OVERWRITE's: log-held stats (min/max,
        blooms) prove files disjoint from the predicate out of the scan,
        one finding pass locates the files that DO hold matching rows,
        only those are rewritten without them, and everything else
        carries by reference — a backfill touching 3 of 10 000 files
        rewrites 3. By default every inserted row must satisfy the
        predicate (Delta's replaceWhere constraint check): a backfill
        that writes outside its declared range is corrupting data, not
        replacing it; ``validate=False`` skips the probe for callers that
        guarantee it upstream. Rows where the predicate evaluates NULL
        are kept, matching DELETE's three-valued logic, and the inserted
        rows are schema-merged additively like ``append``. With
        ``cdf.enabled`` the commit materializes delete + insert change
        rows; the CDF readers then deliver it like any other DML. A
        ``txn_id`` seen before is a no-op (exactly-once replays).
        Matching nothing degrades to a plain insert; an empty ``df``
        degrades to DELETE; both at once is a no-op without a commit.
        """
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        # the source is evaluated several times (generated + predicate
        # validation probes, data staging, CDF staging): persist FIRST so
        # a non-deterministic plan cannot pass any validation with one
        # row set and commit another — merge_upsert's source gets the
        # same treatment
        ours = not df.storageLevel.useMemory and not df.storageLevel.useDisk
        if ours:
            df = df.persist()
        cached = df  # unpersist target: _apply_generated rebinds
        df = self._apply_generated(df, snap)
        df, id_props = self._apply_identity(df, snap)
        try:
            return self._replace_where_impl(
                spark, df, pred, predicate, snap, txn_id, validate,
                id_props,
            )
        finally:
            if ours:
                cached.unpersist()

    def _replace_where_impl(
        self, spark, df, pred, predicate, snap, txn_id, validate,
        id_props=None,
    ) -> int:
        if validate:
            bad = df.filter(~pred).limit(1).collect()
            if bad:
                raise ValueError(
                    f"replace_where: inserted row violates the replacement "
                    f"predicate ({predicate}), e.g. {bad[0].asDict()} — "
                    "rows outside the replaced range would corrupt, not "
                    "replace; fix the source or pass validate=False"
                )
        self._check_constraints(df, snap.constraints if snap else ())
        pcols = list(snap.partition_cols) if snap else []
        touched: list[str] = []
        stat_skipped = bloom_skipped = 0
        if snap and snap.files:
            touched, stat_skipped, bloom_skipped = self._touched_files(
                spark, snap, pred, predicate
            )
        schema = self._next_schema(snap, df, True)
        cdf_on = self._cdf_enabled(snap)
        cdf_map: dict[str, list[str]] = {}
        files_new, fstats = self._stage_files(
            df, pcols or None, write_schema=schema
        )
        if cdf_on and files_new:
            cdf_map["insert"] = self._stage_cdf(df)
        if touched:
            base = self._read_files(spark, snap, touched)
            if cdf_on:
                base = base.persist()
            try:
                if cdf_on:
                    staged = self._stage_cdf(base.filter(pred))
                    if staged:
                        cdf_map["delete"] = staged
                keep = base.filter(~pred)
                files_keep, fstats_keep = self._stage_files(
                    keep, pcols or None, write_schema=schema
                )
            finally:
                if cdf_on:
                    base.unpersist()
            files_new = files_new + files_keep
            fstats = {**fstats, **fstats_keep}
        if not files_new and not touched:
            return snap.version if snap else -1  # nothing in, nothing out
        v = self._commit_reconciled(
            files_new,
            touched,
            schema,
            "replace_where",
            txn_id,
            snap,
            partition_cols=pcols or None,
            read_check=self._predicate_read_check(
                predicate, spark.conf.get("spark.sql.session.timeZone")
            ),
            precomputed_stats=fstats,
            cdf=cdf_map or None,
            properties=id_props,
            metrics={
                "predicate": predicate,
                "files_rewritten": len(touched),
                "files_carried": (len(snap.files) if snap else 0)
                - len(touched),
                "files_stat_skipped": stat_skipped,
                "files_bloom_skipped": bloom_skipped,
            },
        )
        self._maybe_auto_compact(spark)
        return v

    def restore(
        self, version: int, txn_id: str | None = None, max_retries: int = 10
    ) -> int:
        """Delta RESTORE: a METADATA-ONLY commit that points the table back
        at ``version``'s file list and schema. History is preserved (the
        restore is itself a new commit you can time-travel across); the
        restored version's data files must still exist — a vacuum that
        already reclaimed them makes the restore refuse up front rather
        than commit an unreadable table.

        A lost commit race recomputes the whole diff against the fresh
        snapshot and retries (the diff is cheap driver-side metadata).
        CRITICAL: the commit must run with ``cleanup_on_conflict=False`` —
        a restore's "add" list is COMMITTED HISTORICAL files referenced
        by older versions, not disposable staged output, and the default
        conflict cleanup would delete them from disk, corrupting every
        version that references them."""
        if version > self.version():
            raise ValueError(
                f"cannot restore to v{version}: latest is v{self.version()}"
            )
        old = self.snapshot(version)
        if old is None:
            raise ValueError(f"no commit at version {version} in {self.path}")
        missing = [
            f
            for f in list(old.files) + list(old.dvs.values())
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to v{version}: {len(missing)} data/DV "
                f"files vacuumed (first: {missing[0]})"
            )
        last: Exception | None = None
        for _ in range(max_retries):
            cur = self.snapshot()
            self._check_writer_features(cur)
            if txn_id is not None and cur and txn_id in cur.txn_ids:
                return cur.version
            cur_files = set(cur.files) if cur else set()
            old_files = set(old.files)
            # re-establish the restored version's deletion-vector state
            # for surviving files: set the old mask, or an explicit null
            # to CLEAR a mask added after it (replay: null -> pop)
            cur_dvs = cur.dvs if cur else {}
            entry_dv = {
                f: old.dvs.get(f)
                for f in old.files
                if old.dvs.get(f) != cur_dvs.get(f)
            }
            try:
                return self._commit(
                    [f for f in old.files if f not in cur_files],
                    [f for f in (cur.files if cur else ()) if f not in old_files],
                    StructType.fromJson(json.loads(old.schema_json)),
                    "restore",
                    txn_id,
                    cur.version if cur else -1,
                    partition_cols=list(old.partition_cols) or None,
                    metrics={"restored_version": version},
                    constraints=old.constraints,  # metadata travels with data
                    dv=entry_dv or None,
                    cleanup_on_conflict=False,  # adds are HISTORY, not staging
                )
            except ConcurrentWriteError as e:
                last = e  # recompute the diff on the fresh snapshot, retry
        raise last  # type: ignore[misc]

    def _read_snapshot(self, spark: SparkSession, snap: Snapshot) -> DataFrame:
        schema = StructType.fromJson(json.loads(snap.schema_json))
        if not snap.files:
            return spark.createDataFrame([], schema)
        # explicit files (+ basePath for hive layouts: partition columns
        # resolve from the dir names, pruning stays file-level), deletion
        # vectors applied — every snapshot consumer sees masked rows gone
        return self._read_files(spark, snap, list(snap.files))

    def version_at_timestamp(self, timestamp: float) -> int:
        """Latest committed version whose commit wall-clock ``ts`` is at or
        before ``timestamp`` (Delta's ``timestampAsOf`` resolution). Commits
        written before the ``ts`` field existed sort as time 0 (visible to
        any timestamp). Raises if the table has no commit that old."""
        best = -1
        for f in self._commit_files():
            e = json.loads(open(os.path.join(self.log_dir, f)).read())
            if e.get("ts", 0.0) <= timestamp:
                best = max(best, e["version"])
        if best < 0:
            raise ValueError(
                f"no commit at or before timestamp {timestamp} in {self.path}"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot (or time-travel) read: explicit committed file list
        under the committed schema — never a directory listing. Time travel
        by ``version`` or by ``timestamp`` (epoch seconds; resolves to the
        latest commit at or before it), not both."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version or timestamp, not both")
        if timestamp is not None:
            version = self.version_at_timestamp(timestamp)
        elif version is not None and version > self.version():
            # Delta's contract: time travel beyond the latest commit is an
            # error, not a silent clamp to HEAD
            raise ValueError(
                f"cannot time travel to v{version}: latest is v{self.version()}"
            )
        snap = self.snapshot(version)
        if snap is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        return self._read_snapshot(spark, snap)

    def window_is_insert_only(
        self, from_version: int, to_version: int
    ) -> bool:
        """METADATA-ONLY proof that every commit in ``(from_version,
        to_version]`` purely ADDED rows under ONE unchanged schema —
        O(window commits) driver file reads, no data pass. This is the
        gate incremental consumers (the matview additive fast path) use
        to fold monotone aggregates without reading the table back.

        Lives HERE because it hardcodes this log's commit-entry layout:
        any future mechanism that removes or masks rows, or rewrites
        them under a new shape, must be classified in this one place.
        Conservative by construction — a commit carrying removes,
        deletion vectors, a materialized change map with any non-insert
        class, or a DIFFERENT schema serialization fails the proof
        (mixed schemas would NULL-pad one side of ``read_cdf``'s
        ``unionByName(allowMissingColumns=True)``, silently feeding
        NULLs where renamed/dropped columns held data). Compaction is
        exempt: pure layout, content unchanged, and ``read_cdf`` skips
        it too."""
        schemas: set[str] = set()
        for e in self.commits_between(from_version, to_version):
            if e.get("op") == "compact":
                continue
            if e.get("remove") or e.get("dv"):
                return False
            cdf = e.get("cdf")
            if cdf and set(cdf) - {"insert"}:
                return False
            schemas.add(e["schema"])
            if len(schemas) > 1:
                return False
        return True

    # commit ops that cannot change what a VERSION-PINNED read sees:
    # pure table-property / constraint / feature toggles. Everything
    # else either changes rows, reshapes the schema (rename/drop), or
    # rewrites layout (compact — which matters to a pinned reader once
    # vacuum reclaims the superseded files).
    _METADATA_ONLY_OPS = frozenset(
        {
            "set_properties",
            "add_constraint",
            "drop_constraint",
            "enable_feature",
        }
    )

    def window_is_metadata_only(
        self, from_version: int, to_version: int
    ) -> bool:
        """METADATA-ONLY proof that every commit in ``(from_version,
        to_version]`` left the table's DATA and SCHEMA untouched — a
        version-pinned read at ``from_version`` sees exactly what a
        read at ``to_version`` would. Lives HERE for the same reason as
        :meth:`window_is_insert_only`: it hardcodes this log's
        commit-op taxonomy, so any future op must be classified in one
        place. O(window commits) driver file reads, no listing.
        Consumers: the matview dim-pin tolerance (a pin property commit
        on a dimension must not read as the dimension 'moving')."""
        return all(
            e.get("op") in self._METADATA_ONLY_OPS
            for e in self.commits_between(from_version, to_version)
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        allow_rewrites: bool = False,
    ) -> DataFrame:
        """Incremental read: the rows ADDED by commits in
        ``(from_version, to_version]`` — the files those commits added,
        read under the latest schema in range. This is the incremental-
        consumption primitive (Delta's streaming-source/CDF read): a
        downstream job remembers the last version it processed and reads
        only the delta, never re-scanning the table.

        Exact change semantics hold for append-only ranges. A commit that
        REWRITES data (overwrite / merge / delete / update / restore)
        makes "rows in new files" ≠ "new rows" — compact is exempt (pure
        layout, content unchanged, its adds are skipped). By default a
        rewrite commit in range raises; pass ``allow_rewrites=True`` to
        get the rewritten files' rows anyway (at-least-once semantics,
        the caller deduplicates downstream)."""
        to_version = self.version() if to_version is None else to_version
        if to_version > self.version():
            raise ValueError(
                f"cannot read changes to v{to_version}: latest is v{self.version()}"
            )
        adds: list[str] = []
        schema_json: str | None = None
        pcols: tuple[str, ...] = ()
        for e in self.commits_between(from_version, to_version):
            if e["op"] == "compact":
                continue  # layout-only: content unchanged, nothing new
            if (
                e["op"] not in ("append",)
                and (e["remove"] or e.get("dv"))
                and not allow_rewrites
            ):
                # a deletion-vector commit adds no files but CHANGES rows
                # (masks them) exactly like a rewrite — same refusal
                raise ValueError(
                    f"v{e['version']} ({e['op']}) rewrites data; rows-added "
                    "is not rows-changed — pass allow_rewrites=True for "
                    "at-least-once delivery"
                )
            adds.extend(e["add"])
            schema_json = e["schema"]
            pcols = tuple(e.get("partition_cols") or ())
        if schema_json is None:
            snap = self.snapshot(to_version)
            schema_json = snap.schema_json if snap else StructType([]).json()
        # a later commit may have already removed some added files'
        # content from the snapshot, but the FILES still exist until
        # vacuum — change reads stay correct within the retention window
        live = [f for f in adds if os.path.exists(os.path.join(self.path, f))]
        if len(live) != len(adds):
            raise FileNotFoundError(
                "change range includes vacuumed files; re-read the full "
                "snapshot instead"
            )
        fake = Snapshot(
            version=to_version,
            files=tuple(adds),
            schema_json=schema_json,
            partition_cols=pcols,
        )
        return self._read_snapshot(spark, fake)

    def read_cdf(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change Data Feed read (Delta's ``table_changes``): ROW-LEVEL
        changes committed in ``(from_version, to_version]``, each tagged
        with ``_change_type`` (``insert`` / ``delete`` /
        ``update_preimage`` / ``update_postimage``) and
        ``_commit_version``. Requires the ``cdf.enabled=true`` table
        property (``alter_properties``) to have been set BEFORE any
        delete/update/merge commit in the range — those ops materialize
        their change rows under ``_cdf/`` at commit time (reconstructing
        them after the fact is impossible once the rewritten files
        diverge). Appends, conversions, and overwrites are synthesized
        from the commit's own file lists (an overwrite's removed files
        are read under the PRE-commit deletion-vector state, so masked
        rows don't reappear as deletes). ``compact`` and metadata-only
        commits contribute nothing; ``restore`` is refused (its logical
        diff spans arbitrary history — read the two snapshots instead).
        CDF files age out with ``vacuum`` exactly like time travel."""
        to_version = self.version() if to_version is None else to_version
        if to_version > self.version():
            raise ValueError(
                f"cannot read changes to v{to_version}: latest is "
                f"v{self.version()}"
            )
        parts: list[DataFrame] = []
        last_schema: str | None = None
        for e in self.commits_between(from_version, to_version):
            op, v = e["op"], e["version"]
            schema = StructType.fromJson(json.loads(e["schema"]))
            last_schema = e["schema"]
            pcols = tuple(e.get("partition_cols") or ())

            def _tag(df: DataFrame, ctype: str, _v=v) -> DataFrame:
                return df.withColumn(
                    "_change_type", F.lit(ctype)
                ).withColumn("_commit_version", F.lit(_v))

            def _read_table_files(rels, dvs=None, _schema=schema, _pcols=pcols):
                # EAGER existence check, mirroring the materialized-cdf
                # branch below: a synthesized replay (append adds,
                # overwrite pre-images) whose files were vacuumed must
                # fail HERE with the retention story, not later inside
                # whatever action consumes the lazy frame (an
                # incremental consumer turns this into its typed
                # "window unreadable, rebuild" error)
                missing = [
                    r
                    for r in rels
                    if not os.path.exists(os.path.join(self.path, r))
                ]
                if missing:
                    raise FileNotFoundError(
                        f"change files of v{v} were vacuumed "
                        f"(first: {missing[0]}); CDF reads are bounded "
                        "by the vacuum retention window"
                    )
                fake = Snapshot(
                    version=v,
                    files=tuple(rels),
                    schema_json=_schema.json(),
                    partition_cols=_pcols,
                    dvs=dvs or {},
                )
                return self._read_snapshot(spark, fake)

            if op in (
                "compact",
                "add_constraint",
                "drop_constraint",
                "set_properties",
                "enable_feature",
                "enable_mapping",
                "rename_column",
                "drop_column",
                "add_generated_column",
            ):
                continue
            if op == "restore":
                raise ValueError(
                    f"v{v} is a restore; its logical diff spans arbitrary "
                    "history — compare read(version=...) snapshots instead"
                )
            if op in ("append", "convert", "clone"):
                if e["add"]:
                    # a clone commit may carry the source's deletion
                    # vectors — its bootstrap inserts are the UNMASKED rows
                    parts.append(
                        _tag(
                            _read_table_files(e["add"], e.get("dv")),
                            "insert",
                        )
                    )
                continue
            if op in ("overwrite", "overwrite_partitions"):
                if e["remove"]:
                    prior = self.snapshot(v - 1)
                    dvs = {
                        f: prior.dvs[f]
                        for f in e["remove"]
                        if prior and f in prior.dvs
                    }
                    # the removed files were written under the PRE-commit
                    # schema — an overwrite may have replaced it wholesale
                    # (int -> string), and reading old parquet under the
                    # new schema would fail or silently null columns
                    prior_schema = (
                        StructType.fromJson(json.loads(prior.schema_json))
                        if prior
                        else schema
                    )
                    prior_pcols = tuple(prior.partition_cols) if prior else ()
                    parts.append(
                        _tag(
                            _read_table_files(
                                e["remove"],
                                dvs,
                                _schema=prior_schema,
                                _pcols=prior_pcols,
                            ),
                            "delete",
                        )
                    )
                if e["add"]:
                    parts.append(_tag(_read_table_files(e["add"]), "insert"))
                continue
            # delete / update / merge / replace_where: materialized at
            # commit time
            cdf = e.get("cdf")
            if cdf is None:
                if not e["remove"] and not e.get("dv"):
                    # no cdf map, but the commit removed and masked
                    # NOTHING: it is insert-only regardless of op (e.g. a
                    # replace_where that matched no rows), so its changes
                    # are its added files — synthesizable exactly like an
                    # append, no materialization needed
                    if e["add"]:
                        parts.append(
                            _tag(_read_table_files(e["add"]), "insert")
                        )
                    continue
                raise ValueError(
                    f"v{v} ({op}) carries no change data — set the "
                    "cdf.enabled=true table property via alter_properties "
                    "BEFORE DML commits, or use read_changes/snapshot "
                    "diffs for this range"
                )
            for ctype, rels in cdf.items():
                missing = [
                    r
                    for r in rels
                    if not os.path.exists(os.path.join(self.path, r))
                ]
                if missing:
                    raise FileNotFoundError(
                        f"change files of v{v} were vacuumed "
                        f"(first: {missing[0]}); CDF reads are bounded by "
                        "the vacuum retention window"
                    )
                df = spark.read.schema(schema).parquet(
                    *[os.path.join(self.path, r) for r in rels]
                )
                parts.append(_tag(df, ctype))
        if not parts:
            if last_schema is None:
                snap = self.snapshot(to_version)
                last_schema = (
                    snap.schema_json if snap else StructType([]).json()
                )
            empty = StructType.fromJson(json.loads(last_schema))
            out = spark.createDataFrame([], empty)
            return out.withColumn("_change_type", F.lit(None).cast("string")) \
                .withColumn("_commit_version", F.lit(None).cast("long"))
        result = parts[0]
        for p in parts[1:]:
            result = result.unionByName(p, allowMissingColumns=True)
        return result

    def _maybe_auto_compact(self, spark: SparkSession) -> None:
        """Post-commit auto-compaction (Delta's ``autoCompact``), OPT-IN
        via the ``auto.compact.min.files`` table property: after a write
        commit, if the snapshot holds at least that many files smaller
        than the pack cutoff (``auto.compact.target.bytes``, default
        compact()'s 256 MB), run an incremental :meth:`compact` — the
        hands-off answer to streaming ingest fragmenting a table one
        micro-batch file at a time. Strictly best-effort AFTER the
        caller's commit is durable: a compaction conflict (concurrent
        DML rewrote a candidate) or any other failure is swallowed —
        the write must never fail because maintenance lost a race. Cost
        when enabled: one O(files) driver size stat per write; zero when
        the property is unset."""
        try:
            snap = self.snapshot()
            if snap is None:
                return
            try:
                min_files = int(
                    snap.properties.get("auto.compact.min.files", 0)
                )
            except (TypeError, ValueError):
                return  # alter_properties validates; legacy garbage: off
            if min_files <= 0:
                return
            target = int(
                snap.properties.get(
                    "auto.compact.target.bytes", 256 * 1024 * 1024
                )
            )
            small = 0
            for f in snap.files:
                p = os.path.join(self.path, f)
                if f in snap.dvs or (
                    os.path.exists(p) and os.path.getsize(p) < target
                ):
                    small += 1
                    if small >= min_files:
                        break
            if small >= min_files:
                self.compact(spark, target_file_bytes=target)
        except Exception:  # noqa: BLE001 - maintenance never fails a write
            pass

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 256 * 1024 * 1024,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 4,
        txn_id: str | None = None,
        min_file_bytes: int | None = None,
        full: bool = False,
    ) -> int:
        """Delta's OPTIMIZE (+ ZORDER BY) on the txlog: bin-pack the
        current snapshot's SMALL data files into ~``target_file_bytes``
        files and swap them in ONE atomic commit (add rewritten, remove
        packed). Content is unchanged: readers of any version, before or
        after, see identical rows; only the physical layout moves. The
        old files stay on disk for time travel until ``vacuum``.

        INCREMENTAL by default, exactly like Delta's OPTIMIZE: only files
        smaller than ``min_file_bytes`` (default: ``target_file_bytes``,
        Delta's minFileSize) are rewritten; files already at target size
        carry through BY REFERENCE. At 100 TB this is the difference
        between "rewrite the 0.5% of the table that streaming ingest
        fragmented" and "rewrite 100 TB every maintenance run". Fewer
        than two pack candidates -> no-op, no commit. ``full=True`` (or
        ``zorder_by``, which is a GLOBAL clustering and implies it)
        rewrites every file.

        A plain parquet directory is adopted first with
        :meth:`convert_from_parquet`; a single-column ``zorder_by`` is a
        range clustering on that column. The rewrite goes through the
        commit protocol: a concurrent
        APPEND that lands first simply serializes before the compaction
        (the rewrite re-commits at the next version, the appended files
        carry through untouched — compaction never clobbers a commit it
        didn't see, and ingest never starves it); a concurrent commit that
        REMOVED one of the files being compacted (delete/update/merge/
        another compact) is a true conflict and raises
        ``ConcurrentWriteError`` — re-run against the new snapshot. A
        ``txn_id`` seen before is a no-op (idempotent re-run for scheduled
        maintenance). Returns the committed version (or the current one on
        a no-op/replay).
        """
        snap = self.snapshot()
        if txn_id is not None and snap and txn_id in snap.txn_ids:
            return snap.version
        if snap is None or not snap.files:
            return snap.version if snap else -1  # nothing to compact
        full = full or bool(zorder_by)
        if full:
            rewrite = list(snap.files)
        else:
            cutoff = (
                target_file_bytes if min_file_bytes is None else min_file_bytes
            )
            # deletion-vector'd files are ALWAYS candidates regardless of
            # size (Delta's OPTIMIZE purge: the rewrite materializes the
            # mask and retires the DV)
            rewrite = [
                f
                for f in snap.files
                if f in snap.dvs
                or (
                    os.path.exists(os.path.join(self.path, f))
                    and os.path.getsize(os.path.join(self.path, f)) < cutoff
                )
            ]
            if len(rewrite) < 2 and not any(f in snap.dvs for f in rewrite):
                return snap.version  # nothing worth packing: no-op
        df = self._read_files(spark, snap, rewrite)
        size = sum(
            os.path.getsize(os.path.join(self.path, f))
            for f in rewrite
            if os.path.exists(os.path.join(self.path, f))
        )
        n_files = max(1, -(-size // target_file_bytes))
        # partitioned tables: hash on the partition columns so every hive
        # partition is written by exactly one task -> one compacted file
        # per partition dir (shuffling on a synthetic key instead would
        # spread each partition over many tasks and recreate small files)
        pcols = list(snap.partition_cols)
        if zorder_by:
            from bigdataingestion_spark.sinks.zorder import zorder_key

            keyed = df.withColumn("_z", zorder_key(df, zorder_by, bits=zorder_bits))
            if pcols:  # Delta ZORDER shape: cluster within each partition
                df = (
                    keyed.repartition(n_files, *pcols)
                    .sortWithinPartitions(*pcols, "_z")
                    .drop("_z")
                )
            else:
                df = (
                    keyed.repartitionByRange(n_files, "_z")
                    .sortWithinPartitions("_z")
                    .drop("_z")
                )
        elif pcols:
            df = df.repartition(n_files, *pcols)
        else:
            df = df.repartition(n_files)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        files, fstats = self._stage_files(
            df, list(snap.partition_cols) or None, write_schema=schema
        )
        # content-preserving: reads no predicate (its read set IS its
        # remove set, guarded by the removed-file check) and its rows were
        # all validated by earlier commits, so a concurrently-changed
        # constraint set is adopted rather than conflicting. Net effect:
        # OPTIMIZE on an actively-appended table succeeds on the first
        # staging pass instead of livelocking — the appends serialize
        # before it and their files carry through untouched.
        return self._commit_reconciled(
            files,
            rewrite,
            schema,
            "compact",
            txn_id,
            snap,
            partition_cols=list(snap.partition_cols) or None,
            adopt_constraints=True,
            precomputed_stats=fstats,
            metrics={
                "files_compacted": len(rewrite),
                "files_carried": len(snap.files) - len(rewrite),
                "bytes_compacted": size,
            },
        )

    def describe_detail(self) -> dict:
        """Delta's DESCRIBE DETAIL: one dict summarizing the table's
        current state — version, counts/bytes, layout, properties,
        constraints, required features, column mapping, and generated
        columns. Driver-side metadata only (one log resolution plus
        O(files) local stat calls); returns an empty-table marker for an
        uninitialized path."""
        snap = self.snapshot()
        if snap is None:
            return {"path": self.path, "version": -1, "num_files": 0}
        schema = StructType.fromJson(json.loads(snap.schema_json))
        size = 0
        for f in snap.files:
            try:
                size += os.path.getsize(os.path.join(self.path, f))
            except OSError:
                pass  # vacuumed/external file: size is best-effort
        l2p = _l2p(schema)
        return {
            "path": self.path,
            "format": "txlog",
            "version": snap.version,
            "num_files": len(snap.files),
            "size_bytes": size,
            "num_deletion_vectors": len(snap.dvs),
            "partition_columns": list(snap.partition_cols),
            "columns": [f.name for f in schema.fields],
            "properties": dict(snap.properties),
            "constraints": {n: e for n, e in snap.constraints},
            "reader_features": list(snap.reader_features),
            "writer_features": list(snap.writer_features),
            "column_mapping": (
                {
                    **{n: p for n, p in l2p.items() if n != p},
                    **{
                        f"{f.name}.{path}": phys
                        for f in schema.fields
                        for path, phys in _nested_map_of(f).items()
                        if phys != path.rsplit(".", 1)[-1]
                    },
                }
                if _schema_is_mapped(schema)
                else None
            ),
            "generated_columns": _generated_of(schema) or None,
        }

    def vacuum(self, retention_seconds: float = 7 * 24 * 3600.0) -> list[str]:
        """Delete data files unreachable from the LATEST snapshot (ends
        time travel to older versions; the commit log itself is kept as the
        audit trail). Returns the deleted root-relative file names.

        Safe to run concurrently with writers, on two grounds (the Delta
        VACUUM contract): ``_staging-*`` directories (a writer's in-flight
        spark output, not yet renamed into the root) are skipped while any
        of their files is younger than the retention window, and files
        younger than ``retention_seconds`` (default 7 days, Delta's
        default) are kept even when unreferenced — that covers the window
        where a writer has renamed parts into the table root but not yet
        won its commit. A staging dir untouched for longer than the window
        is an orphan (e.g. a failed data-source write task whose commit
        message never arrived) and is reclaimed whole. Pass
        ``retention_seconds=0`` only when no writer is running (tests,
        decommission); at 0, staging dirs are preserved outright."""
        snap = self.snapshot()
        live = set(snap.files) if snap else set()
        if snap:  # deletion vectors referenced by the latest snapshot
            live |= set(snap.dvs.values())
            # bloom sidecars referenced by live files' stats (resolution
            # pops a removed file's stats, so this set IS the live set)
            live |= {
                st["__bloom__"]
                for st in snap.file_stats.values()
                if isinstance(st, dict) and st.get("__bloom__")
            }
            # registered matview pins are a RETENTION FLOOR: a join view
            # enriches its fact deltas at a PINNED version of this table
            # (see sinks/matview.py), and folding later dimension changes
            # in replays this table's own change history since the pin —
            # so each pin keeps its snapshot's files AND the change
            # record (adds/removes/cdf images) of every commit after it.
            # The floor moves when the view re-pins (refresh_dimensions /
            # build) and disappears with unpin_dims(); a pin left behind
            # by a dropped view retains history until the property is
            # removed — the same trade Delta's CDC retention makes.
            for key, val in snap.properties.items():
                if not key.startswith("matview.pin."):
                    continue
                # a pin is a RETENTION FLOOR — silently treating a
                # corrupted one as absent would let this vacuum strand
                # the pinned view's snapshot with no signal; refuse and
                # make the operator fix or remove the property
                try:
                    pv = int(val)
                except (TypeError, ValueError):
                    raise ValueError(
                        f"vacuum at {self.path}: pin property {key!r} "
                        f"has unparseable value {val!r}; fix or remove "
                        "it (alter_properties) before vacuuming — "
                        "ignoring it would drop the view's retention "
                        "floor"
                    ) from None
                if not 0 <= pv <= snap.version:
                    raise ValueError(
                        f"vacuum at {self.path}: pin property {key!r} "
                        f"names version {pv}, outside this table's "
                        f"history [0, {snap.version}]; fix or remove it "
                        "before vacuuming — ignoring it would drop the "
                        "view's retention floor"
                    )
                ps = self.snapshot(pv)
                if ps is not None:
                    live |= set(ps.files) | set(ps.dvs.values())
                    live |= {
                        st["__bloom__"]
                        for st in ps.file_stats.values()
                        if isinstance(st, dict) and st.get("__bloom__")
                    }
                    for e in self.commits_between(pv, snap.version):
                        cdf = e.get("cdf")
                        if cdf:
                            live |= {r for fs in cdf.values() for r in fs}
                        live |= set(e.get("add") or ())
                        live |= set(e.get("remove") or ())
                        # DV sidecars too: read_cdf's overwrite branch
                        # reads removed files under the PRE-commit dv
                        # state (prior.dvs), so a post-pin point-delete's
                        # sidecar must outlive the files it masks
                        live |= set((e.get("dv") or {}).values())
        cutoff = time.time() - retention_seconds
        deleted = []
        for root, dirs, files in os.walk(self.path):
            # prune the log itself and any writer's in-flight staging dir —
            # but a staging dir whose last write predates the retention
            # window is an orphan (a failed task attempt whose commit
            # message never arrived; live writers touch theirs constantly):
            # reclaim the whole tree, Delta's uncommitted-file story
            keep = []
            for d in dirs:
                if d == _LOG_DIR:
                    continue
                if d.startswith("_staging-"):
                    if retention_seconds <= 0:
                        # retention 0 is the no-writers escape hatch and
                        # historically preserves staging dirs outright;
                        # orphan reclamation needs a positive window to
                        # tell "abandoned" from "in flight"
                        continue
                    full_dir = os.path.join(root, d)
                    try:
                        # RECURSIVE mtimes: partitioned staging nests files
                        # under hive dirs (a=1/b=2/part-*.parquet) and a new
                        # file only touches its leaf dir — a depth-1 check
                        # would see stale tops and reclaim a LIVE dir
                        mtimes = [os.path.getmtime(full_dir)]
                        for sroot, sdirs, sfiles in os.walk(full_dir):
                            mtimes += [
                                os.path.getmtime(os.path.join(sroot, e))
                                for e in sdirs + sfiles
                            ]
                        if max(mtimes) <= cutoff:
                            shutil.rmtree(full_dir, ignore_errors=True)
                            deleted.append(
                                os.path.relpath(full_dir, self.path) + os.sep
                            )
                    except OSError:
                        pass  # racing writer/vacuum: leave it
                    continue
                keep.append(d)
            dirs[:] = keep
            for f in files:
                rel = os.path.relpath(os.path.join(root, f), self.path)
                reclaimable = rel.endswith(".parquet") or (
                    # superseded/orphaned deletion-vector and bloom-index
                    # sidecars — same contract as data files (unreferenced
                    # + aged out) — including a .tmp orphaned by a crash
                    # mid-write
                    os.sep not in rel
                    and (rel.startswith("dv-") or rel.startswith("bloom-"))
                    and (rel.endswith(".json") or rel.endswith(".json.tmp"))
                )
                if not reclaimable or rel in live:
                    continue
                full = os.path.join(self.path, rel)
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # inside the retention window: maybe staged
                    os.remove(full)
                except OSError:
                    continue  # already gone (racing vacuum / loser cleanup)
                deleted.append(rel)
        return sorted(deleted)
