"""Structured Streaming ingestion — the streaming analogue of the batch
watermark-incremental pipeline.

The reference is scheduled batch with a hand-rolled watermark (SURVEY §2.9);
these map its concepts onto Spark Structured Streaming:

  reference concept                      streaming analogue here
  -------------------------------------  --------------------------------
  LastLoadDate state row + 80h lookback  ``withWatermark(col, '80 hours')``
  daily scheduled run                    ``Trigger.AvailableNow`` micro-batch
  chunked appends to dated paths         file sink partitioned by date
  at-least-once appends                  exactly-once file sink (checkpointed)

``stream_file_ingest`` is the lift-and-shift path: continuously (or via
available-now catch-up runs) move rows from a landing directory into the
lake, partitioned by event date. ``stream_windowed_counts`` shows stateful
windowed aggregation with late-data handling — the shape a 100 TB event
pipeline uses for rollups (state is bounded by the watermark horizon).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

WATERMARK_LAG = "80 hours"  # reference ING:350 (DATEADD(hour,-80,...))


def state_scaled_shuffle(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the cluster's
    ``defaultParallelism`` around a STATEFUL stream's ``start()``.

    A stateful operator creates (and per micro-batch loads, commits and
    snapshots) one state store per shuffle partition, and the count is
    PINNED into the checkpoint at first start — so it must track the
    cluster actually running the query, not the session's batch
    shuffle-partition setting (a constant tuned for neither a laptop
    nor a 1000-core cluster). ``defaultParallelism`` is the context's
    own core/executor-slot count: on ``local[8]`` this means 8 state
    stores instead of the 32-partition batch default (4x less per-batch
    store fixed cost), on a big cluster it scales the store count up
    with the executors. Restoring the session value after ``start()``
    is safe: StreamExecution clones the session (and thus the conf)
    synchronously when the query starts."""
    from contextlib import contextmanager

    @contextmanager
    def _scope():
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(
            key, str(spark.sparkContext.defaultParallelism)
        )
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _scope()


def path_txn_scope(path: str) -> str:
    """12-hex txn scope from a path's ABSOLUTE form — the one shared rule
    for checkpoint-scoped (and mirror source-scoped) txn ids. Absolute,
    not basename: two paths sharing a basename (.../a/ckpt, .../b/ckpt)
    must never collide, or one query's batches are dropped as the
    other's replays. Single definition on purpose: a divergent copy
    would silently change txn identities and break exactly-once replay
    dedup for that entry point."""
    import hashlib
    import os

    return hashlib.sha256(os.path.abspath(path).encode()).hexdigest()[:12]

def _normalize_event_time(df: DataFrame, ts_col: str, probe_dtypes: dict) -> DataFrame:
    """Make ``ts_col`` a TIMESTAMP (LTZ) event-time column.

    Raw ns-long parquet columns are converted (see ``functions.io``); parquet
    timestamps with isAdjustedToUTC=false load as TIMESTAMP_NTZ, which
    streaming watermarks/windows reject (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
    — cast to LTZ. Sessions here pin ``spark.sql.session.timeZone=UTC``
    (``session.py``), so the cast is wall-clock preserving.
    """
    dt = probe_dtypes.get(ts_col)
    if dt == "bigint":
        return df.withColumn(ts_col, F.expr(f"timestamp_micros(`{ts_col}` div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def _open_file_stream(
    spark: SparkSession,
    source_dir: str,
    fmt: str,
    max_files_per_trigger: int | None = None,
    schema=None,
) -> tuple[DataFrame, DataFrame]:
    """Probe the batch schema, then open the checkpointable file stream.
    Returns (probe, stream) — ``probe`` is an empty frame of the declared
    schema when one is passed. Accepts a single FILE as the source (the
    streaming file source itself only takes directories — a glob filter on
    the parent emulates it). One definition for the seven streaming entry
    points in this module plus the dead-letter gate, so source-handling
    fixes land once.

    Pass ``schema`` (a StructType) to start against a landing zone that
    has no files yet — schema probing needs at least one file, and a 24/7
    gate usually starts BEFORE the first drop."""
    import os

    if schema is not None:
        probe = spark.createDataFrame([], schema)
    else:
        try:
            probe = spark.read.format(fmt).load(source_dir)
        except Exception as exc:
            raise ValueError(
                f"cannot probe schema from {source_dir!r} (empty or absent); "
                "pass an explicit schema to start against an empty landing zone"
            ) from exc
    reader = spark.readStream.format(fmt).schema(probe.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(source_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(source_dir))
        stream = reader.load(os.path.dirname(source_dir))
    else:
        stream = reader.load(source_dir)
    return probe, stream


def stream_file_ingest(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    fmt: str = "parquet",
    available_now: bool = True,
    schema=None,
) -> StreamingQuery:
    """File-landing-zone -> lake streaming ingest, partitioned by event date.

    The file source tracks processed files in the checkpoint (the streaming
    equivalent of the reference's LastLoadDate row); the file sink commits
    via the manifest log, giving exactly-once per micro-batch — strictly
    stronger than the reference's at-least-once chunk appends.
    """
    probe, stream = _open_file_stream(spark, source_dir, fmt, 64, schema=schema)
    stream = _normalize_event_time(stream, ts_col, dict(probe.dtypes))
    stream = stream.withColumn("_ingest_date", F.to_date(F.col(ts_col)))
    writer = (
        stream.writeStream.format(fmt)
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("_ingest_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    fmt: str = "parquet",
    queryName: str = "windowed_counts",
) -> StreamingQuery:
    """Watermarked tumbling-window counts to an in-memory sink.

    ``update`` output mode, NOT ``complete``: only under update/append does
    the watermark actually drop late rows and evict window state (complete
    mode ignores watermarks entirely and retains all state forever). The
    80h horizon matches the reference's late-data allowance. Because update
    mode re-emits a window each time it changes, consumers take the LAST
    (= max, counts are monotonic) row per (window, key)."""
    probe, stream = _open_file_stream(spark, source_dir, fmt)
    stream = _normalize_event_time(stream, ts_col, dict(probe.dtypes))
    stream = (
        stream.withWatermark(ts_col, WATERMARK_LAG)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(key_col),
            F.col("cnt"),
        )
    )
    with state_scaled_shuffle(spark):
        return (
            stream.writeStream.format("memory")
            .queryName(queryName)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )


def stream_dedup_to_lake(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    id_cols: list[str],
    ts_col: str = "ts",
    fmt: str = "parquet",
) -> StreamingQuery:
    """Streaming exact deduplication: at-least-once file source ->
    effectively-once lake append.

    ``dropDuplicatesWithinWatermark`` keys state on ``id_cols`` and evicts
    each key once the watermark passes its event time — bounded state, unlike
    plain ``dropDuplicates`` whose key set grows forever (fatal on an
    unbounded 100 TB stream). Duplicates arriving within the 80h horizon
    (the reference's late-data allowance, ING:350) are suppressed; the
    checkpoint makes redelivered micro-batches idempotent across restarts.
    """
    probe, stream = _open_file_stream(spark, source_dir, fmt)
    stream = _normalize_event_time(stream, ts_col, dict(probe.dtypes))
    deduped = stream.withWatermark(ts_col, WATERMARK_LAG).dropDuplicatesWithinWatermark(
        id_cols
    )
    with state_scaled_shuffle(spark):
        return (
            deduped.writeStream.format(fmt)
            .option("path", target_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )


def stream_session_windows(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    fmt: str = "parquet",
    queryName: str = "session_windows",
) -> StreamingQuery:
    """Native stateful sessionization in a REAL stream: ``session_window``
    with a gap, complete-mode to an in-memory sink.

    Spark rejects update mode for streaming session windows (sessions can
    MERGE, which update cannot express downstream); append mode would hold
    back every session inside the watermark horizon (the final 80h of data
    would never emit in a catch-up run). Complete mode replaces the sink
    table with the full current result each batch — after the final
    available-now batch the table IS the exact session set, regardless of
    how many micro-batches the file source split the input into. The cost
    is unbounded state (complete mode ignores the watermark), acceptable
    for a gate/catch-up run; a 24/7 production pipeline uses
    ``streaming.stateful.streaming_sessionize`` (applyInPandasWithState,
    bounded state, per-session emission) instead.
    """
    probe, stream = _open_file_stream(spark, source_dir, fmt)
    stream = _normalize_event_time(stream, ts_col, dict(probe.dtypes))
    sessions = (
        stream.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sess"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("n_events"),
        )
    )
    with state_scaled_shuffle(spark):
        return (
            sessions.writeStream.format("memory")
            .queryName(queryName)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )


def stream_stream_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    fmt: str = "parquet",
    queryName: str = "stream_join",
) -> StreamingQuery:
    """Watermarked stream-stream interval join: attribute each right-side
    event (purchase) to the left-side events (clicks) by the same key that
    happened within ``within`` before it.

    Both sides carry an event-time watermark and the join condition bounds
    ``right_ts`` to ``[left_ts, left_ts + within]`` — together these let
    Spark evict join state once the watermark passes a row's match horizon,
    so state is bounded by (watermark lag + within) x arrival rate rather
    than growing with the whole stream. Without the time bound (or with
    only one watermark) Spark would have to buffer every row forever —
    the difference between a 100 TB attribution join that runs 24/7 and
    one that OOMs in an hour. Append mode emits each matched pair exactly
    once (inner joins emit only when a match is final).
    """
    def side(etype: str, prefix: str) -> DataFrame:
        probe, s = _open_file_stream(spark, source_dir, fmt)
        s = _normalize_event_time(s, ts_col, dict(probe.dtypes))
        # filter BEFORE the stateful join: only matching-type rows enter
        # join state (at scale the type predicate also prunes at the scan)
        return (
            s.filter(F.col(type_col) == etype)
            .select(
                F.col(key_col).alias(f"{prefix}_key"),
                F.col(id_col).alias(f"{prefix}_id"),
                F.col(ts_col).alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", WATERMARK_LAG)
        )

    left, right = side(left_type, "left"), side(right_type, "right")
    cond = (
        (F.col("left_key") == F.col("right_key"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {within}"))
    )
    joined = left.join(right, cond, "inner").select(
        F.col("left_key").alias(key_col),
        F.col("left_id").alias(f"{left_type}_id"),
        F.col("right_id").alias(f"{right_type}_id"),
        F.col("left_ts").alias(f"{left_type}_ts"),
        F.col("right_ts").alias(f"{right_type}_ts"),
    )
    with state_scaled_shuffle(spark):
        return (
            joined.writeStream.format("memory")
            .queryName(queryName)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )


def stream_static_enrich(
    spark: SparkSession,
    source_dir: str,
    dim: DataFrame,
    on: Column,
    select_cols: list[Column],
    row_filter: Column | None = None,
    fmt: str = "parquet",
    queryName: str = "stream_enrich",
    ts_col: str = "ts",
) -> StreamingQuery:
    """Stream-static join: enrich a stream against a batch dimension table.

    The static side is re-read per micro-batch (so slowly-changing dims
    pick up updates between batches) and explicitly broadcast — the stream
    never shuffles for the join, which at 100 TB/day is the difference
    between a narrow per-batch map join and repartitioning the firehose.
    Stateless, so append mode needs no watermark. This is the third join
    shape Structured Streaming offers (static-static, stream-stream,
    stream-static) — the lookup/enrichment stage every event pipeline has.
    """
    probe, stream = _open_file_stream(spark, source_dir, fmt)
    stream = _normalize_event_time(stream, ts_col, dict(probe.dtypes))
    if row_filter is not None:
        stream = stream.filter(row_filter)
    enriched = stream.join(F.broadcast(dim), on, "inner").select(*select_cols)
    return (
        enriched.writeStream.format("memory")
        .queryName(queryName)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_cdc_upsert(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_cols: list[str],
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
    app_id: str | None = None,
) -> StreamingQuery:
    """Streaming CDC -> txlog table upsert: each micro-batch is ONE
    atomic ``TxLogTable.merge_upsert`` commit with latest-wins-by-
    ``order_cols`` semantics, under a per-batch txn id.

    This is the streaming analogue of the reference's scheduled
    MERGE-into-state pattern (ING:373-415): a change stream keyed by
    ``keys`` converges to exactly the newest version of every key. The
    ordered merge makes the result independent of micro-batch arrival
    order (a batch carrying an older version cannot regress a key);
    readers racing a merge see the old or the new snapshot, never a
    half-written table; and a redelivered batch is a true NO-OP via the
    txn log. The txn scope hashes the checkpoint's absolute path (same
    rule as ``stream_txlog_ingest``); deleting the checkpoint to
    reprocess requires a fresh ``app_id``. ``max_files_per_trigger=1``
    deliberately exercises the multi-batch path; raise it in production
    to amortize merge rewrites."""
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    probe, stream = _open_file_stream(spark, source_dir, fmt, max_files_per_trigger)
    table = TxLogTable(target_dir)
    scope = app_id or path_txn_scope(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge_upsert(
            spark, batch_df, keys, order_cols, txn_id=f"{scope}:{batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cdc_apply_ops(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    op_col: str = "op",
    order_cols: list[str] | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
    app_id: str | None = None,
    views: list | None = None,
    views_recover: bool = False,
) -> StreamingQuery:
    """Op-coded CDC apply (a Debezium/DMS-style I/U/D feed) on a txlog
    table: each micro-batch is ONE conditional MERGE commit —

    - ``WHEN MATCHED AND s.op = 'D'  -> DELETE``
    - ``WHEN MATCHED                 -> UPDATE SET *``
    - ``WHEN NOT MATCHED AND op <> 'D' -> INSERT *``

    — the canonical CDC-apply shape ``stream_cdc_upsert`` cannot
    express (its latest-wins merge has no delete path; tombstones there
    need a second ``delete_matching`` commit, losing batch atomicity).
    SET */INSERT * map only source∩table columns, so the op column
    never lands in the table; a tombstone for an already-absent key is
    ignored (the insert clause's condition); and a redelivered batch is
    a true no-op under the per-batch txn id.

    ``order_cols`` (the CDC stream's LSN/sequence columns) collapse
    multi-event keys to their LAST event before the merge — MERGE's
    cardinality rule would otherwise refuse the batch, and applying
    only the final event per key is exactly log-compaction semantics.
    They must totally order each key's events within a batch; without
    them a multi-event batch fails loudly rather than guessing.

    ``views`` (optional ``sinks.matview.IncrementalAggView`` list over
    the target table, already built, source ``cdf.enabled=true``) are
    refreshed AFTER each batch's merge commit — continuously-maintained
    aggregates over a CDC-ingested table. The composition is exactly-
    once without any extra bookkeeping: a crash between the merge and a
    refresh makes the restarted batch's merge a txn-id no-op and the
    refresh simply catches up from its own recovered cursor, so a
    refresh failure is safe to let fail the batch (Spark retries it).

    ``views_recover=True`` makes the view maintenance SELF-HEALING:
    each view advances via its ``recover()`` remediation ladder instead
    of bare ``refresh()``, so conditions a plain refresh refuses with a
    typed error — a dimension that moved under a join view, a source
    schema break in the window, an unreadable/vacuumed window, an
    interrupted rebuild — are remediated in-batch (cheapest rung first:
    refresh → dimension fold → rebuild) rather than failing the batch
    into a retry loop that hits the same wall forever. Exactly-once is
    unaffected (every rung commits under the view's own txn
    machinery). Data-shaped errors (a NULL group key) still fail the
    batch: they need an upstream fix, not a rebuild. Default False —
    an unattended rebuild inside a micro-batch is a cost decision the
    operator should opt into."""
    from bigdataingestion_spark.sinks.merge_clauses import (
        when_matched_delete,
        when_matched_update,
        when_not_matched_insert,
    )
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    probe, stream = _open_file_stream(
        spark, source_dir, fmt, max_files_per_trigger
    )
    table = TxLogTable(target_dir)
    scope = app_id or path_txn_scope(checkpoint_dir)
    clauses = [
        when_matched_delete(condition=f"s.{op_col} = 'D'"),
        when_matched_update(),
        when_not_matched_insert(condition=f"{op_col} <> 'D'"),
    ]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        src = batch_df
        if order_cols:
            from pyspark.sql.window import Window

            rn = "_rn"  # fresh: never clobber a feed column of that name
            while rn.lower() in {c.lower() for c in src.columns}:
                rn += "_x"
            w = Window.partitionBy(*keys).orderBy(
                *[F.desc(c) for c in order_cols]
            )
            src = (
                src.withColumn(rn, F.row_number().over(w))
                .filter(F.col(rn) == 1)
                .drop(rn)
            )
        if table.snapshot() is None:
            # first batch bootstraps the table: MERGE (like Delta's)
            # needs an existing schema. Zero-row append under its own
            # txn id, so a crash-replay never double-creates.
            table.append(
                src.drop(op_col).limit(0), txn_id=f"{scope}:bootstrap"
            )
        table.merge(
            spark, src, keys, clauses, txn_id=f"{scope}:{batch_id}"
        )
        for v in views or ():
            v.recover(spark) if views_recover else v.refresh(spark)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_txlog_ingest(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 64,
    app_id: str | None = None,
    schema=None,
    views: list | None = None,
    views_recover: bool = False,
) -> StreamingQuery:
    """File landing zone -> txlog table, exactly-once at the TABLE level.

    ``foreachBatch`` sinks are at-least-once: after a crash between the
    batch write and the checkpoint commit, restart re-delivers the batch.
    The native file sink solves this with its manifest log but supports
    only a single plain file sink; merge/multi-sink topologies
    (``stream_cdc_upsert``, the dead-letter gate) need idempotency in the
    SINK. This is the canonical third pattern, Delta's ``txn``
    (appId, version) contract re-expressed on ``sinks.txlog``: each batch
    appends with ``txn_id=f"{app_id}:{batch_id}"`` and the table's log
    makes a replayed id a no-op — redelivery cannot duplicate rows no
    matter when the writer crashed, without rewriting any existing data
    (unlike the CDC merge, which pays a copy-on-write per batch for the
    same guarantee).

    ``app_id`` scopes batch ids PER QUERY (default: a short hash of the
    checkpoint dir's ABSOLUTE path — two queries feeding one table always
    have distinct checkpoint paths, so they get distinct txn ids and one
    query's batch 0 cannot be mistaken for the other's replay; a basename
    default would silently collide on the common ``.../checkpoint``
    convention and drop the second query's batches as replays). Exactly as
    with Delta's contract, deleting a checkpoint to reprocess from scratch
    restarts batch numbering — pass a fresh ``app_id`` in that case or the
    early batches will be deduplicated as replays. Moving the checkpoint
    directory changes the default scope for the same reason; pin an
    explicit ``app_id`` if the checkpoint path is not stable.
    """
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    probe, stream = _open_file_stream(
        spark, source_dir, fmt, max_files_per_trigger, schema=schema
    )
    table = TxLogTable(target_dir)
    scope = app_id or path_txn_scope(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.append(batch_df, txn_id=f"{scope}:{batch_id}")
        # maintained aggregates over the ingested table (see
        # stream_cdc_apply_ops: the same exactly-once composition —
        # replayed appends no-op under the txn id, refreshes catch up
        # from their own recovered cursor; views_recover walks each
        # view's remediation ladder instead, so a moved dimension or
        # broken window heals in-batch rather than failing every retry)
        for v in views or ():
            v.recover(spark) if views_recover else v.refresh(spark)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cdf_replicate(
    spark: SparkSession,
    source_table: str,
    target_table: str,
    checkpoint_dir: str,
    keys: list[str],
    app_id: str | None = None,
    starting_version: int | None = None,
    bootstrap: bool = False,
) -> StreamingQuery:
    """Follow one txlog table's CHANGE DATA FEED and converge a replica —
    the canonical Delta CDC-replication pipeline, deletes included,
    which plain rows-added streaming cannot express.

    ``readStream.format("txlog").option("readChangeFeed", "true")``
    delivers each commit's change rows; per micro-batch the changes are
    applied IN COMMIT ORDER (one batch may span several source
    versions, and applying v5's delete before v4's insert of the same
    key would resurrect it). Within a version, four steps:

    1. feed ``delete`` rows remove by key (``delete_matching``) —
       BEFORE the upserts, because an overwrite commit synthesizes
       delete(old)+insert(new) of possibly-overlapping keys in ONE
       version;
    2. VANISHED keys — ``update_preimage`` keys absent from the
       version's postimage/insert key set — are removed too: a source
       UPDATE may legally rewrite a KEY column, and skipping its
       preimage would orphan the old key on the replica forever;
    3. ``update_postimage`` rows upsert via ``merge_upsert``;
    4. ``insert`` rows APPEND (not upsert): an insert's key was absent
       (merge inserts, overwrite after its deletes) or the source
       legitimately holds duplicate keys (plain appends never merge) —
       appending preserves that multiplicity where an upsert would
       silently collapse it.

    ``keys`` must uniquely identify rows for any DML the stream
    crosses: deletes/updates apply BY KEY, so a source change touching
    only SOME rows of a duplicated key group is inexpressible by key
    and the batch FAILS (loudly, before applying anything) when a
    version's DML keys intersect keys duplicated on the replica.
    Duplicate keys remain fully supported on insert-only feeds.

    Every step commits under a txn id scoped to (checkpoint path,
    source version, step), so a replayed micro-batch — or a crash
    between steps — re-applies as no-ops: exactly-once end-to-end on
    top of Spark's at-least-once foreachBatch.

    Requires ``cdf.enabled=true`` on the source BEFORE any DML the
    stream will cross (the source fails the batch otherwise), and the
    source's vacuum retention must cover the replica's maximum lag —
    for a NEW replica that lag is the entire history, so bootstrap
    instead of replaying from v0: ``bootstrap=True`` copies the
    current source snapshot into an empty target in one idempotent
    overwrite and starts the feed AFTER the copied version (or pass an
    explicit ``starting_version`` with your own seeded target). The
    replica converges to the source snapshot after each drained batch;
    it is NOT bit-identical history (compactions and file layouts
    differ — content equality is the contract)."""
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    from bigdataingestion_spark.sources import txlog_datasource

    txlog_datasource.register(spark)
    target = TxLogTable(target_table)
    scope = app_id or path_txn_scope(checkpoint_dir)

    if bootstrap:
        if starting_version is not None:
            raise ValueError("pass bootstrap=True or starting_version, not both")
        # the bootstrap point is STICKY: the txn id recorded in the
        # target names the copied source version, so a re-run (or a
        # crash between the copy and the stream's first checkpoint)
        # resumes from the SAME point instead of re-copying a newer
        # snapshot under a fresh txn id and double-applying the commits
        # in between. With a live checkpoint, startingVersion is
        # ignored anyway (the checkpoint owns the offset); with a lost
        # checkpoint, re-reading from the bootstrap point re-applies
        # steps whose per-version txn ids no-op.
        marker = f"{scope}:bootstrap:"
        tsnap = target.snapshot()
        prior = [
            t for t in (tsnap.txn_ids if tsnap else ()) if t.startswith(marker)
        ]
        if prior:
            v0 = max(int(t.rsplit(":", 1)[1]) for t in prior)
        else:
            src = TxLogTable(source_table)
            v0 = src.version()
            if v0 >= 0:
                # read PINNED at v0: a source commit landing between
                # version() and read() must not be both copied into the
                # bootstrap AND re-delivered by the feed (which starts at
                # v0+1) — an unpinned read of the latest snapshot would
                # double-apply exactly those racing commits
                target.overwrite(
                    src.read(spark, version=v0), txn_id=f"{marker}{v0}"
                )
        starting_version = v0 + 1

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        try:
            versions = sorted(
                r[0]
                for r in batch_df.select("_commit_version").distinct().collect()
            )
            for v in versions:
                chunk = batch_df.filter(F.col("_commit_version") == v)
                deletes = chunk.filter(
                    F.col("_change_type") == "delete"
                ).drop("_change_type", "_commit_version")
                post = chunk.filter(
                    F.col("_change_type") == "update_postimage"
                ).drop("_change_type", "_commit_version")
                ins = chunk.filter(
                    F.col("_change_type") == "insert"
                ).drop("_change_type", "_commit_version")
                pre_keys = chunk.filter(
                    F.col("_change_type") == "update_preimage"
                ).select(*keys)
                # deletes and updates apply BY KEY — if the replica holds
                # DUPLICATED keys among the keys this version's DML
                # touches, key-application would remove/collapse ALL rows
                # of the group where the source changed only some, and the
                # replica diverges silently forever. Fail the batch loudly
                # instead: keys must uniquely identify rows for any DML
                # the stream crosses (duplicate keys remain fine on
                # insert-only feeds, where appends preserve multiplicity).
                dml_keys = (
                    deletes.select(*keys)
                    .unionByName(pre_keys)
                    .unionByName(post.select(*keys))
                    .distinct()
                )
                if target.version() >= 0 and not dml_keys.isEmpty():
                    # stats+bloom-pruned probe: the guard scans only the
                    # files that may hold the DML's keys (a duplicated
                    # key's files can never be proven disjoint, so the
                    # pruned scan keeps the guard exact) — O(plausibly
                    # touched files) per DML version, the same cost
                    # class as applying the DML itself
                    dup = (
                        target.read_matching_candidates(
                            spark, dml_keys, keys
                        )
                        .join(dml_keys, on=keys, how="left_semi")
                        .groupBy(*keys)
                        .count()
                        .filter(F.col("count") > 1)
                        .limit(1)
                    )
                    if not dup.isEmpty():
                        raise ValueError(
                            f"stream_cdf_replicate: source v{v} applies "
                            f"DML to key(s) duplicated on the replica "
                            f"{target_table!r} (keys={keys}); key-based "
                            "delete/update cannot tell which of the "
                            "duplicate rows changed. Use a unique key, "
                            "or keep the feed insert-only."
                        )
                if not deletes.isEmpty():
                    target.delete_matching(
                        spark, deletes, keys, txn_id=f"{scope}:v{v}:del"
                    )
                # a key-mutating UPDATE leaves its OLD key in no
                # postimage: those preimage keys must be deleted or the
                # replica orphans them forever
                vanished = (
                    chunk.filter(F.col("_change_type") == "update_preimage")
                    .select(*keys)
                    .distinct()
                    .join(
                        post.select(*keys)
                        .unionByName(ins.select(*keys))
                        .distinct(),
                        on=keys,
                        how="left_anti",
                    )
                )
                if not vanished.isEmpty():
                    target.delete_matching(
                        spark, vanished, keys, txn_id=f"{scope}:v{v}:pre"
                    )
                if not post.isEmpty():
                    target.merge_upsert(
                        spark, post, keys, txn_id=f"{scope}:v{v}:up"
                    )
                if not ins.isEmpty():
                    target.append(ins, txn_id=f"{scope}:v{v}:ins")
        finally:
            batch_df.unpersist()

    reader = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
    )
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    return (
        reader.load(source_table)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def recover_cdf_replica(
    spark: SparkSession,
    source_table: str,
    target_table: str,
    checkpoint_dir: str,
    keys: list[str],
    app_id: str | None = None,
) -> StreamingQuery:
    """The snapshot-restart path the CDF stream's ``restore`` refusal
    prescribes: a source RESTORE's logical diff spans arbitrary history,
    so :func:`stream_cdf_replicate` fails its batch rather than invent
    change rows. Recovery re-BASES the replica instead of replaying:

    1. overwrite the replica with the source snapshot PINNED at the
       probed version (idempotent — the same sticky ``bootstrap:<v>``
       txn-id machinery as ``bootstrap=True``, so a crash/re-run
       resumes the same point instead of double-applying);
    2. forget the pre-restore stream offset (the checkpoint would
       otherwise re-deliver the refused restore commit forever);
    3. resume the feed AFTER the copied version.

    Re-running the helper converges (every step is idempotent or
    re-based), and the ordinary ``stream_cdf_replicate`` call keeps
    working afterwards against the same checkpoint dir. Commits the
    pre-restore stream already applied are never re-delivered (the feed
    starts past the copied snapshot), so exactly-once holds across the
    recovery."""
    import shutil

    from bigdataingestion_spark.sinks.txlog import TxLogTable

    src = TxLogTable(source_table)
    v0 = src.version()
    if v0 < 0:
        raise ValueError(f"source {source_table!r} has no commits")
    scope = app_id or path_txn_scope(checkpoint_dir)
    TxLogTable(target_table).overwrite(
        src.read(spark, version=v0), txn_id=f"{scope}:bootstrap:{v0}"
    )
    shutil.rmtree(checkpoint_dir, ignore_errors=True)
    return stream_cdf_replicate(
        spark,
        source_table,
        target_table,
        checkpoint_dir,
        keys,
        app_id=app_id,
        starting_version=v0 + 1,
    )
