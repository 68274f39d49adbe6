"""runSync — the sync drivers and the delivery core they share.

Reference: ``packages/core/src/commands/sync.ts:345-585``. Pipeline per sync:
resolve model × connection × stream → compile the parameterized model SQL with
the persisted cursor → scan → per-row validate (skip invalid, abort past the
error threshold) → enrich (row → 0..N rows, each stage re-validated) → deliver
to the destination stream → checkpoint the max cursor every
``checkpointEvery`` rows and at end. Every driver reports one
``{received, success, skipped, failed}`` ledger (``StreamStats.fold``).

The delivery contract lives here once, as two pieces:

- **driver-side row path** (:func:`deliver_row`): validate the row, run the
  enrichment chain with each stage's output re-validated, ``handle_row``.
  Invalid rows count skipped, a sink's ``RowError`` counts failed, a
  ``HaltError`` propagates to the driver. When the destination schema's
  verdict on the model's column types is a constant
  (``validate.constant_verdict`` — e.g. ``true`` for an any-object schema),
  the driver takes it for every source row and validates none of them;
  enriched rows, plain dicts with no static types, are always validated.
- **executor-side chunk delivery** (:func:`deliver_chunk`, stateless sinks):
  one count aggregate over a ``_valid``-tagged chunk (a compiled Catalyst
  predicate when the schema compiles), the valid filter, the
  Arrow-batched enrichment chain (:func:`_enrich_distributed`) and
  ``foreachPartition`` delivery (:func:`deliver_partitions`), with the
  accumulators folded into a ``StreamStats``.

Three drivers call them (SURVEY §3.1: the model query runs through Catalyst,
``spark.sql`` over registered views / JDBC pushdown):

- :func:`run_sync` — **parity mode**: ordered ``toLocalIterator`` through the
  row path, plus what only parity needs: the cursor tracker, the error
  threshold, the checkpoint cadence and the halt clamp. Exact reference
  semantics; right for API-bound destinations where the sink itself is the
  bottleneck (HubSpot/Intercom rate limits dwarf driver throughput).
- :func:`run_sync_distributed` — **scale mode**: cursor-range chunks planned
  by one count+percentile aggregate (:func:`plan_cursor_chunks`) and cut by
  one filter loop (:func:`iter_cursor_chunks`), each a Catalyst-filtered scan
  committed independently — no global sort, no driver materialization. The
  file sink writes partition-parallel NDJSON, stateless sinks take the chunk
  delivery, state-backed sinks fall back to :func:`run_sync`.
- ``streaming.run_streaming_sync`` — one ``foreachBatch`` micro-batch at a
  time: stateless sinks take the chunk delivery, state-backed sinks the row
  path over a capped collect.

At-least-once + idempotency: rows at/after the last checkpointed cursor are
re-sent on restart (inclusive ``>=`` predicate); sinks dedup via external-id
upsert / ``$insert_id`` exactly like the reference (SURVEY §4).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from syncmaven_spark.cursor import (
    CursorError,
    CursorTracker,
    clear_cursor,
    compare_cursor,
    load_cursor,
    save_cursor,
)
from syncmaven_spark.sinks import get_destination
from syncmaven_spark.sinks.base import (
    DestinationProvider,
    HaltError,
    OutputStream,
    RowError,
    StreamStats,
)
from syncmaven_spark.sql import SqlError, SqlQuery
from syncmaven_spark.state import StateStore
from syncmaven_spark.validate import (
    ErrorThreshold,
    RowValidator,
    constant_verdict,
)

log = logging.getLogger("syncmaven_spark.runner")


@dataclass
class ModelDefinition:
    """A named, parameterized SQL SELECT + optional cursor column
    (``packages/core/src/types/objects.ts:4-22``)."""

    id: str
    query: str
    cursor: str | None = None
    datasource: str | None = None
    # None = unset (inferred: the datasource's grammar, else spark). An
    # explicit "spark" is respected even with a datasource — e.g. a pg-wire
    # proxy fronting a Spark-SQL engine.
    dialect: str | None = None
    # Reference model knobs for the HTTP-paged BigQuery scan
    # (objects.ts:11-12, bigquery.ts:56-96). Accepted so ported projects
    # load unchanged, but intentionally NOT translated: Spark's BigQuery
    # connector reads through the Storage Read API, where server-side
    # stream partitioning replaces HTTP result paging — there is no page
    # loop to size or pause. A set value logs an info once at compile.
    page_size: int | None = None
    pause_between_pages_ms: int | None = None


@dataclass
class SyncDefinition:
    """model × connection × stream × options
    (``packages/core/src/types/objects.ts:44-57``)."""

    id: str
    model: ModelDefinition
    destination: str | DestinationProvider
    stream: str
    credentials: dict[str, Any] = field(default_factory=dict)
    options: dict[str, Any] = field(default_factory=dict)
    enrichments: list[Any] = field(default_factory=list)

    @property
    def checkpoint_every(self) -> int | None:
        return self.options.get("checkpointEvery")


@dataclass
class SyncResult:
    sync_id: str
    stats: StreamStats
    checkpoints: int
    last_cursor: Any | None


def compile_model(
    model: ModelDefinition,
    cursor_value: Any | None,
    for_spark: bool | None = None,
    source_dialect: str | None = None,
) -> str:
    """Cursor guard + parameter substitution (sync.ts:455-459,490-492).

    ``for_spark`` states which engine will PARSE the compiled text (default:
    Spark iff the model has no datasource). A warehouse-dialect model that
    Spark executes is transpiled first (``to_spark_sql``) and its literals
    are then escaped under Spark lexing; a model pushed down to its
    warehouse compiles under the warehouse's own rules and ships verbatim.

    The model's dialect: explicit ``model.dialect`` wins (an explicit
    ``spark`` is honored even with a datasource); unset → the datasource's
    grammar (``source_dialect`` when the caller already resolved the
    Datasource, else resolved here), else ``spark``.
    """
    from syncmaven_spark.sql import to_spark_sql

    if model.page_size or model.pause_between_pages_ms:
        log.info(
            "model %s sets pageSize/pauseBetweenPagesMs — no-ops on Spark "
            "(Storage Read API has no HTTP page loop); accepted for "
            "project compatibility",
            model.id,
        )
    if for_spark is None:
        for_spark = not model.datasource
    dialect = model.dialect
    if dialect is None and model.datasource:
        if source_dialect is not None:
            dialect = source_dialect
        else:
            from syncmaven_spark.sources import create_datasource

            dialect = create_datasource(model.datasource).dialect
    dialect = dialect or "spark"
    q = SqlQuery(model.query, dialect)
    params = q.named_parameters()
    if model.cursor and "cursor" not in params:
        raise SqlError(
            f"model {model.id!r} declares cursor column {model.cursor!r} but "
            "its SQL does not reference :cursor"
        )
    if for_spark and dialect != "spark":
        # re-lex the transpiled text under Spark rules; the parameter set is
        # unchanged (the shim rewrites only string/identifier/comment spans)
        q = SqlQuery(to_spark_sql(model.query, dialect), "spark")
    return q.compile({"cursor": cursor_value} if "cursor" in params else {})


def model_dataframe(
    spark: SparkSession, model: ModelDefinition, cursor_value: Any | None
) -> DataFrame:
    """Compile the model and run it through its datasource.

    ``model.datasource`` picks the source from the registry (parquet dir /
    JDBC / BigQuery / Snowflake — SURVEY §2A A5-A8); without one the query
    runs against views already registered in the session (the reference's
    'warehouse executes the model SQL' contract, with Catalyst as the
    warehouse).
    """
    if model.datasource:
        from syncmaven_spark.sources import create_datasource

        # resolved ONCE: compile borrows its dialect, read_query executes
        ds = create_datasource(model.datasource)
        sql_text = compile_model(
            model, cursor_value, for_spark=False, source_dialect=ds.dialect
        )
        # pushed down VERBATIM — the warehouse parses its own dialect;
        # compile_model escaped literals under that dialect's rules
        return ds.read_query(spark, sql_text)
    # Spark executes this one — compile_model transpiles the model text and
    # escapes literals under Spark lexing
    return spark.sql(compile_model(model, cursor_value))


def resolve_destination(
    destination: str | DestinationProvider, credentials: dict[str, Any]
) -> DestinationProvider:
    """The sink a sync delivers to: a provider instance as given, a name
    looked up in the sink registry."""
    if isinstance(destination, DestinationProvider):
        return destination
    return get_destination(destination, credentials)


def deliver_row(
    row: dict[str, Any],
    validator: RowValidator,
    enrichments: list[Any],
    stream: Callable[[], OutputStream],
    stats: StreamStats,
    verdict: bool | None = None,
) -> bool:
    """The driver-side row path (sync.ts:493-573): validate the source row
    (or take ``verdict``, the schema's plan-time verdict on every source row),
    run the enrichment chain (row → 0..N per stage), hand the survivors to
    ``stream()``'s ``handle_row``. ``stream`` is called only when a row is
    left to deliver, so a driver can open its sink lazily (sync.ts:507-521).

    Every stage's output is re-validated before the next stage runs
    (applyEnrichment, sync.ts:600-607); invalid rows, source or enriched,
    count ``stats.skipped``. An enrichment error is logged and drops the row
    it was enriching. A sink-declared per-row ``RowError`` counts
    ``stats.failed`` and delivery continues (std.ts:147-175) — one bad
    record must not abort a million-row sync. ``HaltError`` (retries
    exhausted, fatal sink condition) and undeclared sink errors propagate:
    bulk delivery failures are never skipped past. Returns whether the
    source row was valid."""
    if not (validator.is_valid(row) if verdict is None else verdict):
        stats.skipped += 1
        return False
    rows = [row]
    for enrichment in enrichments:
        staged: list[dict[str, Any]] = []
        for r in rows:
            try:
                # list() inside the try: a generator raising mid-iteration
                # must drop this row, not crash the sync (or deliver a
                # partial expansion)
                enriched = list(enrichment.enrich(r))
            except Exception as e:  # noqa: BLE001 - enrichment errors drop the row
                log.warning("enrichment error, row dropped: %s", e)
                continue
            for er in enriched:
                if validator.is_valid(er):
                    staged.append(er)
                else:
                    stats.skipped += 1
        rows = staged
    if rows:
        out = stream()
        for r in rows:
            try:
                out.handle_row(r)
            except RowError as e:
                log.warning("sink rejected row: %s", e)
                stats.failed += 1
    return True


def run_sync(
    spark: SparkSession,
    sync: SyncDefinition,
    store: StateStore,
    full_refresh: bool = False,
    max_rows: int | None = None,
) -> SyncResult:
    """Execute one sync end-to-end in parity mode (ordered delivery,
    mid-stream checkpoints) — the reference's exact lifecycle."""
    provider = resolve_destination(sync.destination, sync.credentials)
    row_type = provider.stream_spec(sync.stream).row_type
    validator = RowValidator(row_type)
    threshold = ErrorThreshold()

    cursor_col = sync.model.cursor
    if full_refresh and cursor_col:
        clear_cursor(store, sync.id, cursor_col)
    last_cursor = load_cursor(store, sync.id, cursor_col) if cursor_col else None

    df = model_dataframe(spark, sync.model, last_cursor)
    if max_rows is not None:
        df = df.limit(max_rows)
    # plan metadata, no job: a constant verdict spares every source row its
    # JSON round-trip through jsonschema; a residual keeps per-row checks
    verdict = constant_verdict(row_type, df.schema)

    tracker = CursorTracker(cursor_col) if cursor_col else None
    total_stats = StreamStats()
    checkpoints = 0
    out: OutputStream | None = None
    rows_since_checkpoint = 0
    checkpoint_every = sync.checkpoint_every

    streams_opened = 0

    def stream() -> OutputStream:
        """The open sink stream — started lazily (sync.ts:507-521), and
        again after each checkpoint closed it."""
        nonlocal out, streams_opened
        if out is None:
            streams_opened += 1
            out = provider.create_output_stream(
                sync.stream,
                sync.credentials,
                sync.id,
                store,
                full_refresh=full_refresh,
                restart=streams_opened > 1,
                options=sync.options,
            )
        return out

    def checkpoint(final: bool) -> None:
        """Flush the sink, fold its stats, persist the cursor
        (sync.ts:472-488)."""
        nonlocal out, checkpoints
        if out is not None:
            total_stats.fold(out.finish())
            out = None
        if tracker is not None and tracker.max_value is not None:
            save_cursor(store, sync.id, cursor_col, tracker.max_value)
        checkpoints += 1
        if not final:
            log.info("checkpoint %d for sync %s", checkpoints, sync.id)

    def close_sink_tolerant(context: str) -> list[dict[str, Any]]:
        """Close the sink for stats on a failure/halt path — a final-flush
        error is logged, not raised (the sync is already stopping) — and
        return the sink's known-undelivered rows."""
        nonlocal out
        if out is None:
            return []
        try:
            total_stats.fold(out.finish())
        except Exception:  # noqa: BLE001 - already stopping; keep going
            log.warning(
                "final flush failed during %s; undelivered rows will be "
                "re-sent next run", context, exc_info=True,
            )
            total_stats.fold(out.stats)
        pending = out.undelivered_rows()
        out = None
        return pending

    def halt_checkpoint() -> None:
        """Post-halt close: fold stats, persist the cursor CLAMPED to the
        smallest undelivered cursor. Persisting the plain observed max here
        would lose data with a batching sink: a failed 1000-row flush has
        been observed by the tracker but never delivered, and the inclusive
        ``>=`` predicate would re-send only the boundary row — the other
        999 would be skipped forever (round-5 core review). Clamping to the
        sink's pending minimum re-sends exactly the undelivered suffix
        (cursors are non-decreasing — CursorTracker enforces ORDER BY — so
        the clamp never regresses below a prior checkpoint)."""
        nonlocal checkpoints
        pending = close_sink_tolerant("halt")
        if tracker is not None and tracker.max_value is not None:
            safe = tracker.max_value
            unknown = False
            for r in pending:
                c = r.get(cursor_col) if isinstance(r, dict) else None
                if c is None:
                    # a pending row without a usable cursor (shape-changing
                    # enrichment dropped the column, NULL cursor, or a sink
                    # buffering non-dict rows): we cannot prove any cursor
                    # value is safe — keep the last checkpointed cursor
                    # rather than silently re-opening the skip-past hole
                    unknown = True
                    break
                try:
                    if compare_cursor(c, safe) < 0:
                        safe = c
                except (TypeError, CursorError):
                    # enrichment rewrote the cursor column to a type that
                    # no longer compares with the tracker's max (e.g.
                    # datetime -> ISO string): same epistemic state as a
                    # missing cursor — keep the last checkpoint instead of
                    # turning a graceful halt into an uncaught exception
                    unknown = True
                    break
            if unknown:
                log.warning(
                    "halt: undelivered rows do not carry a usable cursor "
                    "column %r; keeping the last checkpointed cursor "
                    "(undelivered rows re-sent next run)", cursor_col,
                )
            else:
                save_cursor(store, sync.id, cursor_col, safe)
        checkpoints += 1

    halted = False
    try:
        for spark_row in df.toLocalIterator():
            row = spark_row.asDict(recursive=True)

            if tracker is not None:
                tracker.observe(row.get(cursor_col))

            # checkpoint cadence counts every source row, including skipped
            # invalid ones (sync.ts:566-569 counts totalRows)
            rows_since_checkpoint += 1

            try:
                valid = deliver_row(
                    row, validator, sync.enrichments, stream, total_stats,
                    verdict,
                )
            except HaltError as e:
                log.error("sink halted sync %s: %s", sync.id, e)
                halted = True
                break
            if not valid:
                threshold.fail()
                threshold.check()
                log.warning("invalid row skipped in sync %s: %s", sync.id, row)
                continue

            threshold.success()
            if checkpoint_every and rows_since_checkpoint >= checkpoint_every:
                checkpoint(final=False)
                rows_since_checkpoint = 0
    except BaseException:
        # Failure path: close the sink for stats, but do NOT persist the
        # cursor — the tracker has observed rows that were never delivered
        # (e.g. a batching sink's unflushed buffer). The reference only
        # checkpoints on success (sync.ts:573-577); saving here would make
        # the next incremental run skip undelivered rows permanently.
        close_sink_tolerant("error handling")
        raise
    else:
        if halted:
            # Graceful halt: delivered prefix checkpoints, but the cursor
            # is clamped to the sink's undelivered rows (see halt_checkpoint)
            halt_checkpoint()
        else:
            # Success: final flush + cursor persist.
            checkpoint(final=True)

    return SyncResult(
        sync_id=sync.id,
        stats=total_stats,
        checkpoints=checkpoints,
        last_cursor=tracker.max_value if tracker else None,
    )


# --- scale path -----------------------------------------------------------


def run_sync_distributed(
    spark: SparkSession,
    sync: SyncDefinition,
    store: StateStore,
    full_refresh: bool = False,
    num_chunks: int = 8,
    cache_input_max_rows: int = 5_000_000,
) -> SyncResult:
    """The 100-TB execution path for one sync.

    ``cache_input_max_rows``: when the chunk planner's row count is at or
    under this bound (and more than one chunk will run), the validated scan
    is persisted (MEMORY_AND_DISK) for the duration of the chunk loop so the
    N sequential chunk jobs don't each re-decode the row groups the range
    predicate can't prune. Set to 0 to always re-scan (the pure-pushdown
    behavior a 100 TB input gets regardless, since its row count exceeds
    any sane bound).

    Differences from parity-mode ``run_sync``:
    - **No driver materialization, no global sort.** Checkpoint chunks are
      cursor ranges planned by a single count+percentile aggregate
      (``plan_cursor_chunks``);
      each chunk is a Catalyst-filtered scan — the range predicate pushes
      into parquet/JDBC — processed executor-parallel and committed
      independently.
    - **Vectorized validation.** The JSON-Schema check runs as the
      ``_valid`` column (``validate.with_validation_column``: a compiled
      Catalyst predicate, or an Arrow-batched UDF for schemas outside the
      compiled subset); valid rows flow to the sink, counts feed the same
      20%/100-row error threshold, evaluated between chunk commits.
    - **Executor-side delivery.** The file sink writes partition-parallel
      NDJSON (``df.write.json`` with ISO-millis); stateless sinks (http)
      take :func:`deliver_chunk`, one OutputStream per partition via
      ``foreachPartition``. State-backed sinks (hubspot ID maps) belong on
      the parity path where the store is driver-local.
    - **Executor-side enrichment.** ``sync.enrichments`` run as Arrow-batched
      ``mapInPandas`` row→0..N stages between validation and delivery, with
      enriched outputs re-validated (``_enrich_distributed``) — the parity
      path's row path, distributed.
    - **Received counts the rows handed to the sink**, as in
      :func:`run_sync`: the sink-reported count on the chunk delivery, the
      rows written on the file branch.

    At-least-once contract is unchanged: a crash between chunk write and
    cursor commit re-sends that chunk on restart; sink idempotency
    (upsert-by-id, ``$insert_id``) absorbs the overlap, exactly as in the
    reference (SURVEY §4 checkpoint/restart row).
    """
    from syncmaven_spark.sinks.file import FileDestination, write_ndjson_distributed
    from syncmaven_spark.validate import with_validation_column

    provider = resolve_destination(sync.destination, sync.credentials)
    is_file = isinstance(provider, FileDestination)
    if not is_file and not provider.stateless:
        # State-backed sinks (hubspot ID maps, audience last-synced caches,
        # sheets clear-then-rewrite) need the driver-local store and a single
        # stream; foreachPartition would give each partition a throwaway
        # executor-local scratch store and re-run restart semantics per
        # partition. Mirror run_streaming_sync's stateless split and fall
        # back to parity delivery.
        log.info(
            "sync %s: destination %s is state-backed — using parity delivery",
            sync.id,
            getattr(provider, "name", type(provider).__name__),
        )
        return run_sync(spark, sync, store, full_refresh=full_refresh)
    spec = provider.stream_spec(sync.stream)
    threshold = ErrorThreshold()

    cursor_col = sync.model.cursor
    if full_refresh and cursor_col:
        clear_cursor(store, sync.id, cursor_col)
    last_cursor = load_cursor(store, sync.id, cursor_col) if cursor_col else None

    df = model_dataframe(spark, sync.model, last_cursor)

    total_stats = StreamStats()
    checkpoints = 0
    final_cursor = last_cursor

    # ONE validation plan, filtered per chunk (the range predicate pushes
    # through the projection to the scan) — round-3 rebuilt the Arrow-UDF
    # plan for every chunk, paying the py4j construction cost 10×.
    tagged_full = with_validation_column(df, spec.row_type)
    ranges: list[tuple[Any, Any]] = [(None, None)]
    cached_input: DataFrame | None = None
    if cursor_col:
        ranges, planned_total = plan_cursor_chunks(df, cursor_col, num_chunks)
        if planned_total == 0:
            # nothing to sync; leave any previous run's output untouched
            ranges = []
        # Cache the validated scan across the N sequential chunk jobs when
        # the planner says the whole input is small (row-count-bounded,
        # MEMORY_AND_DISK so a misestimate spills instead of OOMing). Each
        # chunk job otherwise re-decodes every row group the range
        # predicate cannot prune — irrelevant at 100 TB (thousands of row
        # groups, pushdown prunes per chunk) but the dominant cost when the
        # whole sync fits in a handful of row groups. Bonus: all chunks
        # then read ONE snapshot, so a live source changing mid-sync can't
        # make chunk boundaries overlap or gap.
        if len(ranges) > 1 and planned_total <= cache_input_max_rows:
            cached_input = tagged_full = tagged_full.persist()

    out_dir = sync.credentials.get("directory")
    if is_file and not out_dir:
        raise ValueError(
            "distributed file sync requires credentials.directory (an output "
            "directory for partition-parallel NDJSON)"
        )

    def write_file_chunk(tagged: DataFrame, chunk_idx: int, mode: str):
        """observe(): the row/validity counts and the cursor max ride the
        write action itself — ONE evaluation of the scan + validation UDF
        per chunk (no persist, no separate aggregate job), and the counts
        cannot diverge from what was written if the source moves between
        jobs."""
        obs = Observation(f"chunk_{chunk_idx}")
        valid = (
            tagged.observe(obs, *_chunk_counts(cursor_col))
            .filter(F.col("_valid"))
            .drop("_valid")
        )
        out_obs = None
        drop_acc = spark.sparkContext.accumulator(0)
        if sync.enrichments:
            valid = _enrich_distributed(
                valid, sync.enrichments, spec.row_type, drop_acc
            )
            # enrichment changes cardinality (row → 0..N): count what was
            # actually written with a second observation on the enriched
            # plan, still one job
            out_obs = Observation(f"chunk_{chunk_idx}_out")
            valid = valid.observe(out_obs, F.count(F.lit(1)).alias("n"))
        write_ndjson_distributed(valid, out_dir, mode=mode)
        counts = obs.get  # resolves when the write's job completes
        n_total, n_valid = counts["total"] or 0, counts["valid"] or 0
        if n_total == 0:
            return counts, StreamStats()
        # the distributed write either commits all valid rows or raises;
        # enriched rows the re-validation dropped never reach the file, so
        # they count skipped here
        written = out_obs.get["n"] if out_obs is not None else n_valid
        return counts, StreamStats(
            received=written,
            success=written,
            skipped=(n_total - n_valid) + drop_acc.value,
        )

    first_chunk = True
    try:
        for chunk_idx, (tagged, _hi) in enumerate(
            _cursor_chunks(tagged_full, cursor_col, ranges)
        ):
            if not is_file:
                # With the sync-wide input cache active the chunk is already
                # a cheap filter over cached partitions — a second per-chunk
                # persist would double-cache every row.
                counts, chunk_stats = deliver_chunk(
                    tagged, provider, sync.stream, sync.credentials, sync.id,
                    sync.options, sync.enrichments, restart=not first_chunk,
                    cursor_col=cursor_col, persist=cached_input is None,
                )
            elif first_chunk and tagged.isEmpty():
                # probe IMMEDIATELY before the destructive overwrite: an
                # empty first chunk must leave the previous run's output
                # untouched (append-mode chunks are harmless on empty
                # input). The planner's row count cannot stand in for this
                # — a live source can lose its rows between the planning
                # job and this write.
                continue
            else:
                counts, chunk_stats = write_file_chunk(
                    tagged, chunk_idx, "overwrite" if first_chunk else "append"
                )
            n_total, n_valid = counts["total"] or 0, counts["valid"] or 0
            if n_total == 0:
                # keep first_chunk/checkpoint semantics identical to a
                # skipped chunk
                continue

            threshold.success(n_valid)
            threshold.fail(n_total - n_valid)
            total_stats.fold(chunk_stats)

            if cursor_col and counts["max_cursor"] is not None:
                # `is not None`, not truthiness: 0 / 0.0 are valid cursor values
                final_cursor = counts["max_cursor"]
                save_cursor(store, sync.id, cursor_col, final_cursor)
            checkpoints += 1
            first_chunk = False
            threshold.check()  # abort between chunk commits (B6 at scale)
    finally:
        if cached_input is not None:
            cached_input.unpersist()

    return SyncResult(
        sync_id=sync.id,
        stats=total_stats,
        checkpoints=checkpoints,
        last_cursor=final_cursor,
    )


def _chunk_counts(cursor_col: str | None) -> list:
    """The per-chunk aggregate over a ``_valid``-tagged DataFrame: row
    count, valid count and, with a cursor, the cursor max."""
    cols = [
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("_valid"), 1).otherwise(0)).alias("valid"),
    ]
    if cursor_col:
        cols.append(F.max(cursor_col).alias("max_cursor"))
    return cols


def deliver_chunk(
    tagged: DataFrame,
    provider: DestinationProvider,
    stream_name: str,
    credentials: dict[str, Any],
    sync_id: str,
    options: dict[str, Any],
    enrichments: list[Any],
    restart: bool,
    cursor_col: str | None = None,
    persist: bool = True,
) -> tuple[Any, StreamStats]:
    """The executor-side delivery of one ``_valid``-tagged chunk (or
    micro-batch) into a stateless sink: the count aggregate, the valid
    filter, the enrichment chain with its drop accumulator, then
    :func:`deliver_partitions`. Returns the counts row (``total``,
    ``valid``, and ``max_cursor`` with a ``cursor_col``) and the chunk's
    stats: the sink-reported accumulators, with validation and
    re-validation drops added to ``skipped``. An empty chunk delivers
    nothing.

    foreachPartition is RDD-backed: observed metrics never reach the
    listener (measured — obs.get blocks forever), so the counts cost one
    aggregate job; ``persist`` keeps that job and the delivery on one pass
    over the input (pass False when the input is already cached)."""
    sc = tagged.sparkSession.sparkContext
    acc = {k: sc.accumulator(0) for k in ("received", "success", "skipped", "failed")}
    drop_acc = sc.accumulator(0)
    if persist:
        tagged = tagged.persist()
    try:
        counts = tagged.agg(*_chunk_counts(cursor_col)).first()
        n_total, n_valid = counts["total"] or 0, counts["valid"] or 0
        if n_total:
            valid = _enrich_distributed(
                tagged.filter(F.col("_valid")).drop("_valid"),
                enrichments,
                provider.stream_spec(stream_name).row_type,
                drop_acc,
            )
            deliver_partitions(
                valid, provider, stream_name, credentials, sync_id, options,
                restart=restart, stats_acc=acc,
            )
    finally:
        if persist:
            tagged.unpersist()
    return counts, StreamStats(
        received=acc["received"].value,
        success=acc["success"].value,
        skipped=(n_total - n_valid) + acc["skipped"].value + drop_acc.value,
        failed=acc["failed"].value,
    )


def _enrich_distributed(
    valid: DataFrame, enrichments: list[Any], row_type: dict[str, Any], drop_acc
) -> DataFrame:
    """Executor-parallel enrichment chain for the distributed path
    (reference applies enrichments between validation and delivery,
    sync.ts:539-554): each stage is an Arrow-batched ``mapInPandas``
    row→0..N expansion, and outputs are re-validated AFTER EACH STAGE —
    the reference (applyEnrichment, sync.ts:600-607) and the driver-side
    :func:`deliver_row` both drop a stage's invalid output before the next
    stage runs, so a row one stage invalidates never feeds the next.

    ``drop_acc`` (accumulator): counts enriched rows dropped by the
    re-validation so they surface in ``stats.skipped`` — observe() cannot
    report them on RDD-backed ``foreachPartition`` actions, and the file
    path's write-side observation only sees survivors. Task retries can
    over-count, the same caveat the delivery accumulators already carry."""
    from pyspark.sql import types as T

    from syncmaven_spark.enrich import enrich_dataframe
    from syncmaven_spark.validate import with_validation_column

    for enrichment in enrichments:
        tagged = with_validation_column(
            enrich_dataframe(valid, lambda e=enrichment: e), row_type
        )
        schema = T.StructType(
            [f for f in tagged.schema.fields if f.name != "_valid"]
        )

        def keep_valid(batches, cols=schema.fieldNames()):
            # an Arrow-batched filter(_valid) whose dropped-row count rides
            # drop_acc back from the executors
            for pdf in batches:
                mask = pdf["_valid"].fillna(False).astype(bool)
                dropped = int((~mask).sum())
                if dropped:
                    drop_acc.add(dropped)
                yield pdf.loc[mask, cols]

        valid = tagged.mapInPandas(keep_valid, schema)
    return valid


def deliver_partitions(
    df: DataFrame,
    provider: DestinationProvider,
    stream_name: str,
    credentials: dict[str, Any],
    sync_id: str,
    options: dict[str, Any],
    restart: bool,
    stats_acc: dict[str, Any] | None = None,
) -> None:
    """One OutputStream per partition, executor-side — the delivery path for
    ``stateless`` sinks (http): rows never materialize on the driver; each
    partition opens its own stream against an executor-local scratch store.
    State-backed sinks (hubspot ID maps, audience last-synced caches) need
    the driver-local store and belong on the collect path.

    ``stats_acc`` (optional): accumulators keyed received/success/skipped/
    failed — the only channel sink-reported stats have back from
    ``foreachPartition`` (observe() metrics never fire for RDD-backed
    actions). Task retries can over-count accumulators; with at-least-once
    delivery the same caveat already applies to the deliveries themselves.
    """
    credentials = dict(credentials)
    options = dict(options)

    def deliver(rows) -> None:
        from syncmaven_spark.state import InMemoryStore

        out = provider.create_output_stream(
            stream_name,
            credentials,
            sync_id,
            InMemoryStore(),  # executor-local scratch; stateless sinks only
            restart=restart,
            options=options,
        )
        row_errors = 0
        for row in rows:
            try:
                out.handle_row(row.asDict(recursive=True))
            except RowError:
                # sink-declared PER-ROW rejection: count failed and keep
                # going, matching both driver delivery paths
                # (std.ts:147-175) — before this, one rejected row failed
                # the whole Spark task, which was then RETRIED, re-sending
                # every prior row of the partition to the API
                row_errors += 1
        stats = out.finish()
        if stats_acc is not None:
            stats_acc["received"].add(stats.received)
            stats_acc["success"].add(stats.success)
            stats_acc["skipped"].add(stats.skipped)
            stats_acc["failed"].add(stats.failed + row_errors)

    df.foreachPartition(deliver)


def _cursor_codec(dt) -> tuple[Any, Any] | None:
    """``(to_num, from_lit)`` for a chunkable cursor type — ``to_num``
    maps the column into percentile_approx's numeric domain, ``from_lit``
    maps a planned bound back to a NATIVE-typed literal so the chunk
    predicate compares the raw column (cast-wrapped comparisons block
    parquet/JDBC filter pushdown — and ``cast(date as double)`` is an
    outright analysis error in Spark 4). None → not chunkable."""
    from pyspark.sql import types as T

    ident = lambda c: c  # noqa: E731
    if isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType)
    ):
        return ident, F.lit
    if isinstance(dt, T.DecimalType):
        # percentile over the double view; the bound literal casts back to
        # the column's exact decimal type so the comparison stays native
        return (lambda c: c.cast("double")), (lambda v: F.lit(v).cast(dt))
    if isinstance(dt, T.TimestampType):
        return F.unix_micros, (lambda v: F.timestamp_micros(F.lit(v)))
    if isinstance(dt, T.TimestampNTZType):
        # NTZ → LTZ under the engine's pinned-UTC session, deterministically
        return (
            lambda c: F.unix_micros(c.cast("timestamp")),
            lambda v: F.timestamp_micros(F.lit(v)).cast("timestamp_ntz"),
        )
    if isinstance(dt, T.DateType):
        return F.unix_date, (lambda v: F.date_from_unix_date(F.lit(v)))
    return None


def plan_cursor_chunks(
    df: DataFrame, cursor_col: str, num_chunks: int
) -> tuple[list[tuple[Any, Any]], int | None]:
    """Plan checkpoint chunks as cursor ranges, ONE job total.

    Returns ``(ranges, total_rows)`` — ranges are ``(lo, hi]`` half-open
    boundaries in percentile_approx's numeric domain (micros for
    timestamps, days for dates; first chunk includes nulls and its lower
    bound), and ``total_rows`` is the row count, observed by the same
    aggregate (None when planning was skipped). Each chunk becomes a
    Catalyst-filtered scan — the NATIVE-typed range predicate pushes into
    parquet/JDBC — so a 1000-executor cluster processes one committed
    chunk at a time with no global sort and no driver materialization.
    This replaces the reference's count-based ``checkpointEvery`` at
    scale.

    One aggregate (``count`` + ``percentile_approx`` with a fraction
    array) replaces the round-3 ``approxQuantile`` call. (The caller's
    pre-overwrite emptiness probe stays — a live source can lose rows
    between this planning job and the first write.)
    """
    codec = _cursor_codec(df.schema[cursor_col].dataType)
    if num_chunks <= 1 or codec is None:
        # string (or other) cursors have no meaningful numeric quantiles —
        # single chunk, emptiness probed by the caller where it matters
        return [(None, None)], None
    to_num, _ = codec
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            to_num(F.col(cursor_col)),
            F.array(*[F.lit(i / num_chunks) for i in range(1, num_chunks)]),
            F.lit(1000),
        ).alias("qs"),
    ).first()
    bounds: list[Any] = []
    for q in row["qs"] or []:
        if q is not None and (not bounds or q > bounds[-1]):
            bounds.append(q)
    edges = [None, *bounds, None]
    ranges = [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]
    return ranges, row["n"]


def iter_cursor_chunks(df: DataFrame, cursor_col: str, num_chunks: int):
    """Yield ``(chunk_df, upper_bound)`` in cursor order for per-chunk
    commit. Nulls (the smallest cursor value) ride in the first chunk."""
    ranges, _ = plan_cursor_chunks(df, cursor_col, num_chunks)
    yield from _cursor_chunks(df, cursor_col, ranges)


def _cursor_chunks(scan: DataFrame, cursor_col: str | None, ranges):
    """The chunk-filter loop: ``scan`` cut by each planned ``(lo, hi]``
    range. The plan may come from a different DataFrame with the same
    cursor column — :func:`run_sync_distributed` plans on the untagged
    model scan and filters the (possibly persisted) validation-tagged one;
    a single unbounded range yields ``scan`` itself."""
    for i, (lo, hi) in enumerate(ranges):
        if lo is None and hi is None:
            yield scan, hi
            continue
        # NATIVE-typed range predicate — pushdown-friendly: the raw cursor
        # column compares against literals of its own type
        _, from_lit = _cursor_codec(scan.schema[cursor_col].dataType)
        c = F.col(cursor_col)
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (c > from_lit(lo))
        if hi is not None:
            pred = pred & (c <= from_lit(hi))
        if i == 0:
            pred = pred | c.isNull()  # nulls are the smallest cursor value
        yield scan.filter(pred), hi
