"""Structured-Streaming incremental sync — the always-on variant of the
batch cursor loop.

The reference's incremental machinery (cursor state + checkpointEvery,
sync.ts:455-574) is offset tracking + micro-batch commit; Spark Structured
Streaming provides exactly that natively: file-source offsets in
``checkpointLocation`` replace the ``$lastCursor`` state row, and
``foreachBatch`` is the per-checkpoint sink commit (SURVEY §2D 'streaming
concepts' line). ``trigger(availableNow=True)`` gives the batch-incremental
behavior (process everything new, then stop) — re-running the sync picks up
only files that appeared since, the streaming analog of the second golden
part2 run.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from syncmaven_spark.sinks.base import DestinationProvider, StreamStats
from syncmaven_spark.validate import RowValidator, constant_verdict

#: default per-micro-batch row cap for the driver-delivery (state-backed
#: sink) path — large enough for any API-bound sink's realistic batch,
#: small enough that the driver never silently OOMs on a misrouted stream
DEFAULT_MAX_DRIVER_BATCH_ROWS = 100_000


class DriverBatchTooLarge(RuntimeError):
    """A micro-batch exceeded the driver-delivery row cap (fail-fast guard
    instead of an unbounded ``collect()``)."""


def run_streaming_sync(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    destination: str | DestinationProvider,
    stream: str,
    credentials: dict[str, Any],
    store: Any,
    sync_id: str,
    checkpoint_dir: str,
    options: dict[str, Any] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    enrichments: list[Any] | None = None,
    max_driver_batch_rows: int = DEFAULT_MAX_DRIVER_BATCH_ROWS,
) -> dict[str, int]:
    """Incrementally sync a growing parquet directory into a destination.

    Each micro-batch is validated and delivered through the same delivery
    core as the batch runner (``runner.deliver_chunk`` / ``deliver_row``);
    Spark's checkpoint tracks which source files were already processed
    (at-least-once into idempotent sinks, the same delivery contract as the
    reference). Returns the ``{received, success, skipped, failed}`` totals.

    Delivery is split by sink statefulness (``provider.stateless``):

    - **stateless sinks** (e.g. http): rows are delivered with
      ``foreachPartition`` — one OutputStream per partition on executors,
      nothing materializes on the driver, so micro-batch size is bounded by
      executor memory, not driver memory;
    - **state-backed sinks** (hubspot ID maps, audience caches, the
      single-file NDJSON sink): rows are collected to the driver where the
      shared store lives — correct but driver-bounded, exactly the
      reference's own delivery model (one row at a time through one
      process, sync.ts:493-573). That collection is guarded by
      ``max_driver_batch_rows`` (default 100k): a micro-batch larger than
      the cap fails fast with :class:`DriverBatchTooLarge` instead of
      OOMing the driver — raise the cap explicitly, or shrink micro-batches
      (``maxFilesPerTrigger`` on the source).
    """
    from syncmaven_spark.runner import deliver_chunk, deliver_row, resolve_destination
    from syncmaven_spark.validate import with_validation_column

    provider = resolve_destination(destination, credentials)
    spec = provider.stream_spec(stream)
    validator = RowValidator(spec.row_type)
    options = options or {}
    enrichments = enrichments or []
    stats = StreamStats()
    opened = 0

    reader = spark.readStream.schema(schema).parquet(source_dir)
    if transform is not None:
        reader = transform(reader)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal opened
        if provider.stateless:
            counts, batch_stats = deliver_chunk(
                with_validation_column(batch_df, spec.row_type), provider,
                stream, credentials, sync_id, options, enrichments,
                restart=opened > 0,
            )
            if counts["total"]:
                opened += 1
            stats.fold(batch_stats)
            return

        # Bounded driver delivery: LIMIT cap+1 (not collect-then-count) so
        # an oversized batch fails after materializing at most cap+1 rows,
        # never the whole micro-batch.
        collected = batch_df.limit(max_driver_batch_rows + 1).collect()
        if len(collected) > max_driver_batch_rows:
            raise DriverBatchTooLarge(
                f"micro-batch epoch {epoch_id} exceeds the driver-delivery "
                f"cap of {max_driver_batch_rows} rows for state-backed sink "
                f"{provider.name!r}. Remedies: raise max_driver_batch_rows "
                "explicitly, or bound micro-batch size at the source (e.g. "
                "maxFilesPerTrigger)."
            )
        if not collected:
            return
        out = provider.create_output_stream(
            stream, credentials, sync_id, store,
            restart=opened > 0, options=options,
        )
        opened += 1
        # plan metadata, no job: a constant verdict skips per-row validation
        verdict = constant_verdict(spec.row_type, batch_df.schema)
        # Rows convert to dicts one at a time inside the loop: a second
        # up-front full-batch list would double peak driver memory and
        # defeat the cap's bound.
        for spark_row in collected:
            deliver_row(
                spark_row.asDict(recursive=True), validator, enrichments,
                lambda: out, stats, verdict,
            )
        stats.fold(out.finish())

    query = (
        reader.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    totals = stats.as_dict()
    totals.pop("substreams", None)  # the four-key totals contract
    return totals


#: partition fan-out for the persisted state tables: the verification
#: artifacts (hashed shingle sets / normalized vectors) partition by an
#: id hash, and the LSH index partitions by a band/chunk/bucket-hash
#: modulus. Part of the stored recipe: probes compute the same bucket
#: functions to prune their reads.
DEFAULT_STATE_BUCKETS = 32

#: the compacted-base epoch. Reads filter ``epoch < epoch_id`` and every
#: live epoch id is >= 0, so a base written at -1 is visible to every
#: future batch while replays (which only ever re-deliver the LATEST,
#: uncompacted epoch) still exclude their own prior writes.
BASE_EPOCH = -1

#: on-disk state layout version, recorded in ``recipe.json``. Bump it when
#: the directory layout or recipe keys change incompatibly: a stored dict
#: whose version differs (or predates the key) gets a dedicated "written
#: by an older layout — rebuild from source" error instead of a misleading
#: 'recipe mismatch' / 'wiped or repointed' message (round-7 advice; the
#: round-7 layout itself changed epochs.json/recipe.json keys silently).
#: History: 1 = round-6 (corpus table, no epochs.json); 2 = round-7
#: (bucket-partitioned index/sets/vecs, epochs.json watermark);
#: 3 = round-8 (additive epoch-dir compaction — the base is merged into,
#: not rebuilt — and base_threshold_min/max records in epochs.json).
STATE_LAYOUT_VERSION = 3


def _id_bucket(id_col: str, n_buckets: int):
    """Deterministic id → partition bucket for the verification tables."""
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets))


def _atomic_write_json(path: str, payload: dict) -> None:
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def _load_json(path: str) -> dict | None:
    import json
    import os

    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _list_epoch_dirs(
    table_dir: str, below: int | None = None
) -> list[tuple[int, str]]:
    """Sorted ``(epoch, path)`` pairs for a state table's ``epoch=<n>``
    partition dirs, optionally bounded to ``epoch < below`` — the ONE
    directory-name parse shared by the per-batch reads and compaction
    (round-8 review: two hand-rolled copies of the parse can drift)."""
    import os

    out = [
        (epoch, os.path.join(table_dir, name))
        for name in os.listdir(table_dir)
        if name.startswith("epoch=")
        for epoch in (int(name.split("=", 1)[1]),)
        if below is None or epoch < below
    ]
    out.sort()
    return out


def _read_epoch_state(
    spark: SparkSession,
    path: str,
    cols: list[str],
    ddl: str,
    epoch_id: int,
    bucket_vals: list[int] | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Read an epoch-partitioned state table, excluding the current epoch's
    own (possibly replayed) writes, optionally pruned to a bucket list.

    A missing directory (not yet written) → empty; any OTHER read error
    must propagate — treating corrupted/unreadable state as "first epoch"
    would silently drop every cross-batch pair (round-6 review).

    With ``bucket_vals`` given (every per-batch read), the read is built
    from EXPLICIT leaf paths — ``<table>/epoch=<e>/<bucket>=<v>`` for the
    qualifying epochs × requested buckets — instead of a whole-table
    discovery plus partition filters. Partition pruning only happens
    AFTER Spark's file index has LISTED every leaf directory, so the
    filtered read still paid ``live epochs × state_buckets`` directory
    listings per call (the per-batch cost compaction exists to bound;
    round-7 verdict residue). Explicit leaves cut the listing to
    ``epochs × touched buckets``; ``basePath`` keeps the epoch/bucket
    partition columns in the schema, and the ``epoch < epoch_id`` filter
    stays on as a belt-and-suspenders guard. The requested-buckets-only
    I/O contract is machine-asserted the same way as before
    (``input_file_name()`` subsets in the tests).

    The schema is passed EXPLICITLY (data columns from ``ddl`` plus the
    epoch/bucket partition columns) rather than inferred: a state dir
    whose only epoch dirs carry zero parquet footers — written by an older
    layout for an all-unusable-rows batch — made inference fail with
    UNABLE_TO_INFER_SCHEMA and permanently wedged the stream (round-7
    advice; new writes skip empty artifacts entirely, this guards
    pre-existing state).
    """
    import os

    if not os.path.isdir(path):
        return spark.createDataFrame([], ddl)
    schema = f"{ddl}, epoch int, {bucket_col} int"
    reader = spark.read.schema(schema)
    wanted = (
        sorted({int(b) for b in bucket_vals})
        if bucket_vals is not None else None
    )
    if wanted is not None:
        leafs = [
            os.path.join(epoch_path, f"{bucket_col}={b}")
            for _, epoch_path in _list_epoch_dirs(path, below=int(epoch_id))
            for b in wanted
            if os.path.isdir(os.path.join(epoch_path, f"{bucket_col}={b}"))
        ]
        if not leafs:
            return spark.createDataFrame([], ddl)
        df = reader.option("basePath", path).parquet(*leafs)
    else:
        df = reader.parquet(path)
    df = df.filter(F.col("epoch") < F.lit(int(epoch_id)))
    if wanted is not None:
        df = df.filter(F.col(bucket_col).isin(wanted))
    return df.select(*cols)


def _refuse_pending_compaction(state_dir: str, fn_name: str) -> None:
    """Refuse any state with a pending compaction journal — folded dirs
    may already be deleted with their rows living only in the tmp output,
    so reading through it silently misses them. ONE helper for every
    consumer (drivers and read_pairs; round-8 review: the first fix
    hand-copied this check)."""
    import os

    if not os.path.isdir(state_dir):
        return
    pending = [
        n for n in os.listdir(state_dir)
        if n.startswith(".compact_journal_")
    ]
    if pending:
        raise ValueError(
            f"{fn_name}: state at {state_dir!r} has "
            f"an incomplete compaction ({pending}). Re-run "
            "compact_state on this state_dir to recover first — "
            "reading mid-surgery state would silently miss rows."
        )


def _guard_state_consistency(
    state_dir: str, checkpoint_dir: str, fn_name: str
) -> None:
    """Consistency guards shared by the streaming drivers (round-7
    review):

    1. a pending compaction journal means a compact_state crashed between
       deleting folded epoch dirs and installing the base — reads would
       silently miss rows; re-running compact_state recovers it.
    2. the symmetric twin of the stale-checkpoint guard: a WIPED (or
       repointed) state_dir under a SURVIVING checkpoint means earlier
       files will never be re-delivered or re-indexed — every pair
       between new docs and the pre-wipe corpus would silently never be
       emitted. epochs.json is written before every offset commit, so
       commits-without-epochs.json can only mean the state went missing.
    """
    import os

    _refuse_pending_compaction(state_dir, fn_name)
    commits_dir = os.path.join(checkpoint_dir, "commits")
    if (
        os.path.isdir(commits_dir)
        and any(n.isdigit() for n in os.listdir(commits_dir))
        and not os.path.exists(os.path.join(state_dir, "epochs.json"))
    ):
        raise ValueError(
            f"{fn_name}: checkpoint {checkpoint_dir!r} "
            f"has committed batches but state at {state_dir!r} has no "
            "epochs.json — the state was wiped or repointed under a "
            "surviving checkpoint, so already-committed source files "
            "would never be re-indexed and cross-corpus pairs would "
            "silently never be emitted. Start a fresh checkpoint with the "
            "fresh state (re-delivering the source), or restore the "
            "original state_dir."
        )


def _require_layout(
    stored: dict | None, state_dir: str, fn_name: str
) -> None:
    """The older-layout fail-fast (round-7 advice) shared by EVERY entry
    point that consumes a stored state — drivers, compact_state and
    read_pairs alike (round-8 review: the two new consumers skipped it,
    so a pre-round-8 state flowed through the threshold-completeness
    machinery with absent base_threshold records and silently
    undercut)."""
    if stored is None:
        return
    if stored.get("layout") != STATE_LAYOUT_VERSION:
        raise ValueError(
            f"{fn_name}: state at {state_dir!r} was "
            f"written by an older/different on-disk layout (stored "
            f"layout {stored.get('layout')!r}, this version writes "
            f"{STATE_LAYOUT_VERSION}). The directory structure and "
            "recipe keys are not compatible across layouts — rebuild "
            "the state from source with a fresh state_dir + checkpoint."
        )


def _check_or_write_recipe(state_dir: str, recipe: dict, fn_name: str) -> None:
    """Assert an existing state's recipe.json matches (with the dedicated
    older-layout message — round-7 advice) or write it for a fresh state."""
    import os

    recipe_path = os.path.join(state_dir, "recipe.json")
    stored = _load_json(recipe_path)
    if stored is not None:
        _require_layout(stored, state_dir, fn_name)
        if stored != recipe:
            raise ValueError(
                f"{fn_name}: LSH recipe mismatch with the "
                f"existing state at {state_dir!r}: stored {stored}, got "
                f"{recipe}. Hashes from different recipes never match "
                "— probing would silently find no cross-batch pairs. Use "
                "the stored recipe or start a fresh state_dir."
            )
    else:
        os.makedirs(state_dir, exist_ok=True)
        _atomic_write_json(recipe_path, recipe)


@contextmanager
def _spark_threads(spark: SparkSession, workers: int = 2):
    """A driver-side thread pool for overlapping independent Spark jobs
    (their costs are dominated by job barriers and dynamic-partition
    commits, ~25 ms per directory). Yields ``submit(fn, *args) -> Future``.

    Every task runs under the Spark job properties of the thread that
    SUBMITTED it — job group, description, scheduler pool and job tags,
    through ``inheritable_thread_target(spark)``. A plain pool thread
    starts with none of them, so its jobs escaped the caller's
    ``setJobGroup``/``cancelJobGroup`` (and, inside ``foreachBatch``, the
    streaming query's own run group). Leaving the block waits for every
    task, so a raising caller never leaves a thread driving Spark."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=workers) as pool:
        yield lambda fn, *args: pool.submit(
            inheritable_thread_target(spark)(fn), *args
        )


def _write_keyed(
    spark: SparkSession, writes: list[tuple[DataFrame, str | None, str]]
) -> None:
    """Write ``(df, key, path)`` triples concurrently, each a
    ``mode("overwrite")`` of its own directory, so a replayed epoch
    rewrites its dirs wholesale whichever subset a crash left behind.

    With a ``key``, the rows are repartitioned by it before
    ``partitionBy(key)``: an unshuffled partitioned write emits
    (input partitions × key values) files, while the bucket- and
    cell-pruned reads want one file per key value. The keyed repartition
    has no explicit count, so AQE collapses a tiny micro-batch to one
    task while a bulk backfill still spreads across keys."""
    with _spark_threads(spark, len(writes)) as submit:
        futures = [
            submit(
                (df.repartition(key).write.partitionBy(key) if key else df.write)
                .mode("overwrite").parquet,
                path,
            )
            for df, key, path in writes
        ]
        for f in futures:
            f.result()


def _bucket_values(df: DataFrame, expr) -> list:
    """The distinct values of a bucket expression over ``df`` — at most
    ``state_buckets`` ints in one job; the keys that prune a state read
    to the partitions that can contribute. An empty list means ``df`` is
    empty, which the drivers use as their emptiness probe."""
    return [r[0] for r in df.select(expr.alias("_b")).distinct().collect()]


def _threshold_record(epochs: dict, epoch_id: int, threshold: float) -> dict:
    """The ``thresholds`` key of an epoch commit: this epoch's mining
    threshold added to the recorded ones (read back by :func:`read_pairs`,
    since a run may change the threshold between epochs)."""
    return {
        "thresholds": {
            **(epochs.get("thresholds") or {}), str(epoch_id): float(threshold)
        }
    }


def _run_epochs(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    fn_name: str,
    process: Callable[[DataFrame, int, dict], dict | None],
    compact_every_n_epochs: int | None,
    deep_compact_max_partition_files: int | None,
) -> None:
    """The epoch engine behind every state-backed streaming driver — the
    cursor-and-checkpoint loop of the reference (guard, fetch, deliver,
    commit the cursor last), with Spark's checkpoint as the cursor.

    Runs one ``foreachBatch`` query over ``source_dir`` with
    ``trigger(availableNow=True)``: everything new is processed, then the
    query stops; re-running picks up later files. Per micro-batch:

    1. **Replay guard.** ``<state_dir>/epochs.json`` records the max epoch
       ever processed. A batch with an ``epoch_id`` LOWER than that means
       the checkpoint was recreated over surviving multi-epoch state — the
       source would be re-delivered from epoch 0 beside stale later
       epochs — so it fails fast. ``epoch_id == max_epoch`` is the
       legitimate at-least-once replay of a batch whose offset commit was
       lost, and stays allowed.
    2. **Family work.** ``process(batch_df, epoch_id, epochs)`` writes the
       epoch's state under ``epoch=<id>`` directories with
       ``mode("overwrite")`` — a replay rewrites its own dirs instead of
       duplicating rows, and state reads filter ``epoch < epoch_id`` so a
       replay never sees its own prior writes. It returns the keys to add
       to this epoch's commit, or ``None`` for an empty batch or one whose
       rows are all unusable.
    3. **Commit, last.** ``epochs.json`` is replaced atomically with the
       new ``max_epoch`` plus the returned keys, after every state write
       landed: a crash before it replays the epoch. An empty or
       all-unusable batch still advances the watermark and writes no
       epoch dir — a partitioned write of zero rows leaves a dir without
       parquet footers, and committed Spark offsets must stay in
       lock-step with ``epochs.json`` or the wiped-state guard
       (commits without ``epochs.json``) misfires.
    4. **Compaction cadence.** With ``compact_every_n_epochs`` set,
       :func:`maybe_compact` runs after each committed non-empty epoch:
       the state is consistent, the current epoch is ``max_epoch`` (never
       folded), and the next batch's reads happen strictly later — the
       same window a by-hand :func:`compact_state` call uses.
       ``deep_compact_max_partition_files`` escalates a table whose base
       accreted past it to the deep base rewrite.

    **Filesystem contract**: the parquet state tables are written by
    executors through Spark, but the manifests (``recipe.json``,
    ``epochs.json``, compaction journals) and the per-batch leaf listing
    use driver-local file APIs — ``state_dir`` must be a path the DRIVER
    can read and write with POSIX semantics (local disk on single-node,
    NFS or a FUSE-mounted object store on a cluster; plain
    ``s3://``/``hdfs://`` URIs are not supported for the manifests).
    """
    import os

    epochs_path = os.path.join(state_dir, "epochs.json")

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_id = int(epoch_id)
        epochs = _load_json(epochs_path) or {}
        max_seen = epochs.get("max_epoch")
        if max_seen is not None and epoch_id < int(max_seen):
            raise ValueError(
                f"{fn_name}: batch arrived with epoch {epoch_id} but state "
                f"at {state_dir!r} has already processed epoch {max_seen}. "
                "This means the streaming checkpoint was recreated over "
                "surviving multi-epoch state — the source would be "
                "re-delivered from epoch 0 beside stale later epochs. "
                "Restore the original checkpoint, or start a fresh "
                "state_dir with the fresh checkpoint."
            )
        added = process(batch_df, epoch_id, epochs)
        _atomic_write_json(
            epochs_path, {**epochs, **(added or {}), "max_epoch": epoch_id}
        )
        if added is not None and compact_every_n_epochs is not None:
            maybe_compact(
                spark, state_dir,
                every_n_epochs=compact_every_n_epochs,
                deep_when_max_partition_files=deep_compact_max_partition_files,
            )

    (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_streaming_near_dup_sync(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    max_bucket_size: int | None = 200,
    family: str = "minhash",
    max_hamming: int = 3,
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 6,
    seed: int = 42,
    state_buckets: int = DEFAULT_STATE_BUCKETS,
    compact_every_n_epochs: int | None = None,
    deep_compact_max_partition_files: int | None = None,
) -> None:
    """Continuous near-dup mining over a growing parquet directory — ONE
    streaming driver shared by all three incremental index families
    (round-6 verdict #5):

    - ``family="minhash"``: band-index probe + exact-Jaccard verification
      from the persisted hashed-shingle-set table (``threshold`` =
      jaccard; recipe = num_perm/bands/shingle_k).
    - ``family="simhash"``: pigeonhole-chunk probe; hamming comes from the
      signatures the index itself carries, so NO auxiliary verification
      table exists at all (recipe = max_hamming; emits pairs with
      ``hamming <= max_hamming``).
    - ``family="cosine"``: sign-LSH bucket probe + exact-cosine
      verification from the persisted normalized-vector table
      (``threshold`` = cosine; recipe = n_planes/n_tables/seed; reads
      ``vec_col`` instead of ``text_col``).

    Per micro-batch: probe the persisted index with the batch, verify,
    append pairs/index/verification rows under ``epoch=<id>``
    subdirectories. The replay guard, the watermark commit, crash safety,
    the ``compact_every_n_epochs`` / ``deep_compact_max_partition_files``
    cadence and the filesystem contract are the epoch engine's
    (:func:`_run_epochs`).

    **Bounded verification I/O** (round-6 verdict #1): the raw corpus is
    never persisted. Instead each batch appends its VERIFICATION ARTIFACT —
    hashed shingle sets (minhash) or normalized vectors (cosine), both far
    smaller than text — partitioned by ``pmod(xxhash64(id),
    state_buckets)``. Verification collects the candidate-touched ids'
    bucket values (≤ ``state_buckets`` ints, one tiny aggregate over the
    already-persisted candidate table) and reads ONLY those partitions,
    semi-joined down to the touched ids. Per-batch I/O is O(touched
    buckets), not O(corpus).

    **Bounded probe I/O**: the index table is partitioned the same way on
    its HASH key (``hbucket = pmod(band_hash | chunk_val | bucket,
    state_buckets)``). The batch's own index rows are built once (probe
    and state-write share them), their distinct hash-bucket values are
    collected (≤ ``state_buckets`` ints), and the stored-index read prunes
    to those partitions — sound because a candidate requires hash
    EQUALITY, which implies the same hbucket. A small ingest batch
    therefore probes a sliver of a 100-TB corpus's index instead of
    scanning all of it; a huge batch degrades gracefully to the full read
    it genuinely needs.

    State reads are filtered to ``epoch < epoch_id``: without that filter
    a replay saw its own prior writes and fanned every pair out 2×2
    through the verification join (round-6 review, reproduced live).
    State grows O(corpus) for index/sets/vecs and O(near-dup pairs) for
    the output, never O(n²); ``compact_state`` folds old epoch dirs into
    one base to keep the directory count bounded.

    The full recipe — family, hash parameters, ``max_bucket_size`` and
    ``id_buckets`` (round-6 advice: the cap silently changed per-epoch
    recall semantics when left unrecorded) — is written to
    ``<state_dir>/recipe.json`` on the first run and asserted on every
    later one; hashes from different recipes silently never match.
    ``threshold`` MAY legitimately vary between runs and is therefore
    recorded per epoch in ``epochs.json`` rather than asserted.

    New batches MUST carry ids disjoint from everything already indexed
    (the incremental operator's contract); Spark's source checkpoint
    guarantees each FILE is processed once, so id-unique input files
    satisfy this for free.
    """
    import os

    from syncmaven_spark.operators.cache import persist_scoped
    from syncmaven_spark.operators.dedup import (
        hashed_shingle_sets,
        minhash_lsh_candidates_incremental,
        minhash_lsh_index,
        minhash_verify_candidates,
        simhash_chunk_index,
        simhash_near_dups_incremental,
        touched_ids,
    )
    from syncmaven_spark.operators.similarity import (
        cosine_lsh_candidates_incremental,
        cosine_lsh_index,
        normalized_vectors,
        verify_cosine_candidates,
    )

    if family not in ("minhash", "simhash", "cosine"):
        raise ValueError(
            f"unknown near-dup family {family!r}; expected one of "
            "'minhash', 'simhash', 'cosine'"
        )
    value_col = vec_col if family == "cosine" else text_col
    index_dir = os.path.join(state_dir, "index")
    aux_dir = os.path.join(
        state_dir, "sets" if family == "minhash" else "vecs"
    )
    pairs_dir = os.path.join(state_dir, "pairs")
    id_type = schema[id_col].dataType.simpleString()

    recipe: dict = {"layout": STATE_LAYOUT_VERSION,
                    "family": family, "id_col": id_col,
                    "max_bucket_size": max_bucket_size,
                    "state_buckets": state_buckets}
    if family == "minhash":
        recipe.update(num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                      text_col=text_col)
    elif family == "simhash":
        recipe.update(max_hamming=max_hamming, text_col=text_col)
    else:
        recipe.update(n_planes=n_planes, n_tables=n_tables, seed=seed,
                      vec_col=vec_col)
    _guard_state_consistency(
        state_dir, checkpoint_dir, "run_streaming_near_dup_sync"
    )
    _check_or_write_recipe(
        state_dir, recipe, "run_streaming_near_dup_sync"
    )

    #: the index's hash-bucket per family — the pruning/partition key
    hbucket = F.pmod(
        F.col({"minhash": "band_hash", "simhash": "chunk_val",
               "cosine": "bucket"}[family]),
        F.lit(state_buckets),
    )

    def _build_batch_index(batch: DataFrame) -> DataFrame:
        if family == "minhash":
            return minhash_lsh_index(
                batch, text_col, id_col,
                num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                max_bucket_size=max_bucket_size,
            )
        if family == "simhash":
            return simhash_chunk_index(
                batch, text_col, id_col,
                max_hamming=max_hamming, max_bucket_size=max_bucket_size,
            )
        return cosine_lsh_index(
            batch, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, n_tables=n_tables, seed=seed,
            max_bucket_size=max_bucket_size,
        )

    def _build_batch_aux(batch: DataFrame) -> DataFrame | None:
        """The batch's verification artifact — built ONCE per micro-batch
        (probe and state write share it; round-7 review: the first layout
        ran the shingle/normalize projection twice per batch)."""
        if family == "minhash":
            return hashed_shingle_sets(batch, text_col, id_col, shingle_k)
        if family == "cosine":
            return normalized_vectors(batch, id_col, vec_col)
        return None  # simhash: signatures ride the index

    def _verified_pairs(
        batch: DataFrame,
        batch_index: DataFrame,
        batch_aux: DataFrame | None,
        epoch_id: int,
        hb_vals: list,
    ) -> DataFrame:
        index_cols = {
            "minhash": [id_col, "band_id", "band_hash"],
            "simhash": [id_col, "simhash", "chunk_id", "chunk_val"],
            "cosine": [id_col, "table_id", "bucket"],
        }[family]
        index_ddl = {
            "minhash": f"{id_col} {id_type}, band_id int, band_hash bigint",
            "simhash": (
                f"{id_col} {id_type}, simhash bigint, chunk_id int, "
                "chunk_val bigint"
            ),
            "cosine": f"{id_col} {id_type}, table_id int, bucket bigint",
        }[family]
        index = _read_epoch_state(
            spark, index_dir, index_cols, index_ddl, epoch_id,
            bucket_vals=hb_vals, bucket_col="hbucket",
        )

        if family == "simhash":
            # signatures ride the index — verification is self-contained
            return simhash_near_dups_incremental(
                batch, index, text_col, id_col,
                max_hamming=max_hamming, max_bucket_size=max_bucket_size,
                new_index=batch_index,
            )

        if family == "minhash":
            cands = minhash_lsh_candidates_incremental(
                batch, index, text_col, id_col,
                num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                max_bucket_size=max_bucket_size, new_index=batch_index,
            ).select("id_a", "id_b")
            aux_cols, aux_ddl = (
                [id_col, "_set"],
                f"{id_col} {id_type}, _set array<bigint>",
            )
        else:
            cands = cosine_lsh_candidates_incremental(
                batch, index, id_col=id_col, vec_col=vec_col,
                n_planes=n_planes, n_tables=n_tables, seed=seed,
                max_bucket_size=max_bucket_size, new_index=batch_index,
            )
            aux_cols, aux_ddl = (
                [id_col, "vec", "norm"],
                f"{id_col} {id_type}, vec array<double>, norm double",
            )
        cands = persist_scoped(cands)
        touched = persist_scoped(touched_ids(cands, id_col))
        # the touched ids' bucket values: ≤ state_buckets ints — THE
        # pruning key that bounds the verification fetch to
        # candidate-touched partitions of the persisted artifact table
        old_aux = _read_epoch_state(
            spark, aux_dir, aux_cols, aux_ddl, epoch_id,
            bucket_vals=_bucket_values(
                touched, _id_bucket(id_col, state_buckets)
            ),
        ).join(touched, id_col, "left_semi")
        aux = old_aux.unionByName(
            batch_aux.join(touched, id_col, "left_semi")
        )
        if family == "minhash":
            return minhash_verify_candidates(cands, aux, id_col, threshold)
        return verify_cosine_candidates(cands, aux, id_col, threshold)

    def process(batch_df: DataFrame, epoch_id: int, epochs: dict) -> dict | None:
        batch = batch_df.select(id_col, value_col)
        # the batch's index rows and verification artifact are each built
        # ONCE: the probe and the state write share the persisted tables
        batch_index = persist_scoped(_build_batch_index(batch))
        # prune the stored-index read to the batch's own hash buckets: a
        # candidate requires hash EQUALITY, which implies the same hbucket,
        # so partitions outside the batch's ≤ state_buckets values cannot
        # contribute. The collect doubles as the emptiness probe: an empty
        # batch and one whose rows are ALL unusable (NULL or
        # punctuation-only text, all-null embeddings) both index zero rows,
        # so one job per epoch covers both.
        hb_vals = _bucket_values(batch_index, hbucket)
        if not hb_vals:
            return None
        batch_aux = _build_batch_aux(batch)
        if batch_aux is not None:
            batch_aux = persist_scoped(batch_aux)
        pairs = _verified_pairs(
            batch, batch_index, batch_aux, epoch_id, hb_vals
        )
        epoch = f"epoch={epoch_id}"
        # the pairs write runs FIRST and alone: it is the job that
        # materializes the persisted batch_index/batch_aux tables (probe +
        # verify), so the two state dumps below read warm cache
        pairs.write.mode("overwrite").parquet(os.path.join(pairs_dir, epoch))
        writes = [(
            batch_index.withColumn("hbucket", hbucket), "hbucket",
            os.path.join(index_dir, epoch),
        )]
        if batch_aux is not None:
            writes.append((
                batch_aux.withColumn(
                    "bucket", _id_bucket(id_col, state_buckets)
                ),
                "bucket", os.path.join(aux_dir, epoch),
            ))
        _write_keyed(spark, writes)
        return _threshold_record(
            epochs, epoch_id,
            max_hamming if family == "simhash" else threshold,
        )

    _run_epochs(
        spark, source_dir, schema, state_dir, checkpoint_dir,
        "run_streaming_near_dup_sync", process,
        compact_every_n_epochs, deep_compact_max_partition_files,
    )


def prepare_decontamination_state(
    spark: SparkSession,
    benchmark: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    state_buckets: int = DEFAULT_STATE_BUCKETS,
) -> None:
    """Index a (small, static) benchmark corpus ONCE into ``state_dir`` for
    :func:`run_streaming_decontamination_sync` — the persisted form of
    :func:`~syncmaven_spark.operators.dedup.decontamination_index`:

    - ``bench_index``: banded rows partitioned by
      ``hbucket = pmod(band_hash, state_buckets)`` so each train batch's
      probe prunes to its own hash buckets (directory-level);
    - ``bench_sets``: hashed shingle sets partitioned by
      ``bucket = pmod(xxhash64(id), state_buckets)`` so verification
      fetches only candidate-touched benchmark partitions — benchmark
      text is never re-shingled after this call.

    Both tables keep their recipe stamps through parquet; the streaming
    probe fail-fasts on a mismatch. Refuses an already-prepared
    ``state_dir`` (rebuild into a fresh dir) and an effectively-empty
    benchmark (every doc unusable — streaming against it would silently
    report zero contamination forever).
    """
    import os

    from syncmaven_spark.operators.dedup import decontamination_index

    recipe_path = os.path.join(state_dir, "recipe.json")
    if _load_json(recipe_path) is not None:
        raise ValueError(
            f"prepare_decontamination_state: {state_dir!r} is already "
            "prepared. Rebuild into a fresh state_dir (and start a fresh "
            "checkpoint) instead of overwriting state a stream may be "
            "probing."
        )
    if any(
        os.path.isdir(os.path.join(state_dir, d))
        for d in ("bench_index", "bench_sets")
    ):
        # recipe.json is written LAST, so table dirs without it mean a
        # prior prepare crashed mid-write; the errorifexists writes below
        # would fail with a bare path-exists error — say what happened
        raise ValueError(
            f"prepare_decontamination_state: {state_dir!r} holds a "
            "PARTIALLY prepared state (benchmark tables without "
            "recipe.json — a prior prepare crashed mid-write). Delete the "
            "state_dir and re-prepare."
        )
    idx, sets = decontamination_index(
        benchmark, text_col, id_col,
        num_perm=num_perm, bands=bands, shingle_k=shingle_k,
    )
    idx = idx.withColumn(
        "hbucket", F.pmod(F.col("band_hash"), F.lit(state_buckets))
    ).persist()
    if idx.isEmpty():
        idx.unpersist()
        raise ValueError(
            "prepare_decontamination_state: the benchmark has no usable "
            "documents (all NULL/empty/punctuation-only text) — a stream "
            "probing it would silently report zero contamination forever."
        )
    try:
        idx.write.partitionBy("hbucket").mode("errorifexists").parquet(
            os.path.join(state_dir, "bench_index")
        )
        sets.withColumn(
            "bucket", _id_bucket(id_col, state_buckets)
        ).write.partitionBy("bucket").mode("errorifexists").parquet(
            os.path.join(state_dir, "bench_sets")
        )
    finally:
        idx.unpersist()
    _atomic_write_json(
        recipe_path,
        {"layout": STATE_LAYOUT_VERSION, "family": "decontamination",
         "id_col": id_col, "text_col": text_col,
         "num_perm": num_perm, "bands": bands, "shingle_k": shingle_k,
         "state_buckets": state_buckets},
    )


def run_streaming_decontamination_sync(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    method: str = "jaccard",
    compact_every_n_epochs: int | None = None,
    deep_compact_max_partition_files: int | None = None,
) -> None:
    """Continuous fuzzy decontamination of a growing train corpus against
    a benchmark prepared by :func:`prepare_decontamination_state` —
    round-7 verdict #1's streaming mode: the one-shot
    ``fuzzy_decontamination_pairs`` re-signs the FULL train side per
    call, while this driver signs each micro-batch once and probes the
    static benchmark index.

    Per micro-batch: band the batch, prune the stored ``bench_index``
    read to the batch's own hash buckets (hash equality ⇒ same hbucket,
    so other partitions cannot contribute), one (band_id, band_hash)
    equi-join for candidates, then exact-Jaccard verification reading
    ONLY candidate-touched partitions of the stored ``bench_sets``
    (benchmark text is never re-shingled) and a semi-join pruned
    re-shingle of the batch side. Pairs land under ``pairs/epoch=<id>``;
    unlike the near-dup driver NOTHING of the train side persists
    (batches never pair with each other or with later batches), so there
    is no epoch-filtered state read at all: state stays O(benchmark +
    emitted pairs). The replay guard, the watermark commit, crash safety
    and the compaction cadence (the pairs table is this state's only
    per-epoch dir) are the epoch engine's (:func:`_run_epochs`).

    The train batch's buckets default to UNCAPPED (``max_bucket_size``,
    same rationale as the one-shot: a cap exempts mass contamination past
    it); quadratic risk is bounded by the small benchmark side.
    ``threshold`` may vary between runs and is recorded per epoch in
    ``epochs.json`` (read back by :func:`read_pairs`); the recipe itself
    is pinned by ``recipe.json`` from the prepare step. The wiped-state
    and pending-compaction guards match the near-dup driver.

    ``method`` picks the contamination metric (pinned into the recipe on
    the first mining run — mixing methods in one pairs table would be
    semantically incoherent, and the pairs schema differs):

    - ``"jaccard"`` (default): MinHash band probe + exact symmetric
      Jaccard — the near-copy detector described above.
    - ``"containment"``: exact |A∩B|/|B| against the persisted benchmark
      shingle sets — the embedded-benchmark detector (a benchmark doc
      inside a longer train doc has tiny Jaccard but ~1.0 containment).
      No LSH probe at all: each batch's shingles meet the (broadcast)
      benchmark shingle table in one equi-join, so ``bench_index`` is
      never read and per-batch cost is one pass over the batch.
    """
    import os

    from syncmaven_spark.operators.cache import persist_scoped
    from syncmaven_spark.operators.dedup import (
        _cross_jaccard_scored,
        _hashed_shingle_sets,
        _prune_spread,
        _spread,
        check_index_recipe,
        minhash_lsh_index,
    )

    recipe_path = os.path.join(state_dir, "recipe.json")
    stored = _load_json(recipe_path)
    _guard_state_consistency(
        state_dir, checkpoint_dir, "run_streaming_decontamination_sync"
    )
    if stored is None:
        raise ValueError(
            f"run_streaming_decontamination_sync: no recipe.json under "
            f"{state_dir!r} — prepare the benchmark index first "
            "(prepare_decontamination_state)."
        )
    _require_layout(stored, state_dir, "run_streaming_decontamination_sync")
    if stored.get("family") != "decontamination":
        raise ValueError(
            f"run_streaming_decontamination_sync: state at {state_dir!r} "
            f"belongs to family {stored.get('family')!r}, not "
            "'decontamination' — point the near-dup driver at it instead."
        )
    if method not in ("jaccard", "containment"):
        raise ValueError(
            f"unknown decontamination method {method!r}; expected "
            "'jaccard' or 'containment'"
        )
    # pin the mining knobs in the stored recipe exactly like the near-dup
    # driver pins its cap: both change which pairs an epoch emits (and
    # the metric changes the pairs SCHEMA), so values that vary between
    # runs make the table undetectably incomplete/incoherent (round-8
    # review). The prepare step doesn't know them, so the first MINING
    # run records them and later runs must match.
    prior = _load_json(os.path.join(state_dir, "epochs.json"))
    has_epochs = prior is not None and "max_epoch" in prior
    if "method" not in stored:
        # unlike the cap, a missing method IS knowable for a state mined
        # by the pre-'method' driver: jaccard was the only metric that
        # existed (read_pairs defaults the same way) — pin the historical
        # value, never this run's (round-8 review pass 3: refusing such
        # states forced a pointless rebuild of unambiguous history)
        stored = {**stored, "method": "jaccard" if has_epochs else method}
        _atomic_write_json(recipe_path, stored)
    if stored["method"] != method:
        raise ValueError(
            f"run_streaming_decontamination_sync: this state's epochs "
            f"were mined with method={stored['method']!r} but this run "
            f"passes {method!r}. The metric changes both the pairs "
            "schema and what a pair MEANS — mixing them in one table is "
            "incoherent. Use the stored method or start a fresh "
            "state_dir."
        )
    # the bucket cap only exists on the jaccard path (containment has no
    # bucket stage at all — pinning it there would refuse runs over a
    # no-op knob; round-8 review pass 3)
    if method == "jaccard":
        if "max_bucket_size" not in stored:
            # never pin the cap RETROACTIVELY (round-8 review pass 2): a
            # state that already processed epochs without the record was
            # mined under an UNKNOWN cap — pinning this run's value would
            # bless the mixed history as uniform, the exact silent
            # incompleteness the pin exists to prevent.
            if has_epochs:
                raise ValueError(
                    f"run_streaming_decontamination_sync: state at "
                    f"{state_dir!r} already processed epochs up to "
                    f"{prior['max_epoch']} without a recorded "
                    "max_bucket_size — the cap those epochs were mined "
                    "under is unknown, so it cannot be pinned now. "
                    "Rebuild into a fresh state_dir (or restore the "
                    "original recipe.json)."
                )
            stored = {**stored, "max_bucket_size": max_bucket_size}
            _atomic_write_json(recipe_path, stored)
        elif stored["max_bucket_size"] != max_bucket_size:
            raise ValueError(
                f"run_streaming_decontamination_sync: this state's "
                f"epochs were mined with max_bucket_size="
                f"{stored['max_bucket_size']!r} but this run passes "
                f"{max_bucket_size!r}. The cap changes which pairs an "
                "epoch emits (train copies past it are silently exempt), "
                "so mixing caps makes the pairs table undetectably "
                "incomplete. Use the stored cap or start a fresh "
                "state_dir."
            )
    id_col = stored["id_col"]
    text_col = stored["text_col"]
    num_perm, bands = int(stored["num_perm"]), int(stored["bands"])
    shingle_k = int(stored["shingle_k"])
    state_buckets = int(stored["state_buckets"])
    lsh_recipe = {"num_perm": num_perm, "bands": bands,
                  "shingle_k": shingle_k}
    pairs_dir = os.path.join(state_dir, "pairs")

    # the static benchmark tables: read once up front (plain reads — the
    # recipe stamps ride the parquet footers and are asserted here, so a
    # repointed state_dir with a different recipe fails fast). The
    # containment method never touches bench_index at all (no LSH probe
    # — candidates ARE the shingle join's output).
    bench_sets = spark.read.parquet(os.path.join(state_dir, "bench_sets"))
    check_index_recipe(bench_sets, "_set", lsh_recipe)
    if method == "jaccard":
        bench_index = spark.read.parquet(
            os.path.join(state_dir, "bench_index")
        )
        check_index_recipe(bench_index, "band_hash", lsh_recipe)

    def process(batch_df: DataFrame, epoch_id: int, epochs: dict) -> dict | None:
        batch = batch_df.select(id_col, text_col)
        # no standalone empty-batch isEmpty job (round-12): an empty batch
        # falls through to the same all-rows-unusable drain each method
        # already pays one job for — t_sets.isEmpty for containment, the
        # hb_vals collect for minhash
        if method == "containment":
            # no LSH, no bench_index: the batch's shingles meet the
            # (broadcast) benchmark shingle table in one equi-join
            from syncmaven_spark.operators.dedup import _containment_pairs

            # _hashed_shingle_sets already persists through the pool — a
            # second wrap would re-run the alias scan per batch for a
            # guaranteed hit (round-8 review pass 3)
            t_sets = _hashed_shingle_sets(
                _spread(batch, id_col), text_col, id_col, shingle_k
            )
            if t_sets.isEmpty():  # all rows unusable
                return None
            pairs = _containment_pairs(
                t_sets, bench_sets, id_col, threshold,
                broadcast_benchmark=True,
            )
        else:
            batch_index = persist_scoped(
                minhash_lsh_index(
                    batch, text_col, id_col,
                    num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                    max_bucket_size=max_bucket_size,
                )
            )
            # prune the stored-index read to the batch's hash buckets
            # (equality ⇒ same hbucket, so the skipped partitions cannot
            # contribute candidates); the collect doubles as the
            # all-rows-unusable probe (empty hb_vals ⟺ empty index)
            hb_vals = _bucket_values(
                batch_index, F.pmod(F.col("band_hash"), F.lit(state_buckets))
            )
            if not hb_vals:
                return None
            key = ["band_id", "band_hash"]
            cands = persist_scoped(
                batch_index.select(*key, F.col(id_col).alias("train_id"))
                .join(
                    bench_index.filter(F.col("hbucket").isin(hb_vals)).select(
                        *key, F.col(id_col).alias("bench_id")
                    ),
                    key,
                )
                .select("train_id", "bench_id")
                .dropDuplicates(["train_id", "bench_id"])
            )
            t_touched = cands.select(F.col("train_id").alias(id_col)).distinct()
            b_touched = persist_scoped(
                cands.select(F.col("bench_id").alias(id_col)).distinct()
            )
            # candidate-touched benchmark partitions only — the
            # directory-level prune that keeps verification I/O
            # O(touched buckets) even against a huge benchmark
            b_buckets = _bucket_values(
                b_touched, _id_bucket(id_col, state_buckets)
            )
            b_sets = bench_sets.filter(F.col("bucket").isin(b_buckets)).join(
                b_touched, id_col, "left_semi"
            )
            t_sets = _hashed_shingle_sets(
                _prune_spread(batch, t_touched, id_col),
                text_col, id_col, shingle_k,
            )
            pairs = _cross_jaccard_scored(
                cands, t_sets, b_sets, id_col, threshold
            )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"epoch={epoch_id}")
        )
        return _threshold_record(epochs, epoch_id, threshold)

    _run_epochs(
        spark, source_dir, schema, state_dir, checkpoint_dir,
        "run_streaming_decontamination_sync", process,
        compact_every_n_epochs, deep_compact_max_partition_files,
    )


def _merge_tmp_into_base(tmp: str, base: str) -> None:
    """Install a compaction's tmp output ADDITIVELY: move every data file
    from ``tmp`` into ``base``, preserving partition subdirectories, then
    remove ``tmp``. Each move is an atomic single-file rename, so a crash
    mid-merge is recovered by re-running (already-moved files are no
    longer in tmp; never-moved files still are) — no file is ever moved
    twice and none is lost. Spark part-file names embed a per-job UUID,
    so collisions with existing base files cannot occur. ``_SUCCESS``
    markers and local-FS ``.crc`` shadows stay behind and die with tmp
    (a moved part file without its crc shadow reads fine)."""
    import os
    import shutil

    os.makedirs(base, exist_ok=True)
    for root, _dirs, files in os.walk(tmp):
        rel = os.path.relpath(root, tmp)
        dest = base if rel == "." else os.path.join(base, rel)
        made = False
        for name in files:
            if name == "_SUCCESS" or name.startswith("."):
                continue
            if not made:
                os.makedirs(dest, exist_ok=True)
                made = True
            os.replace(os.path.join(root, name), os.path.join(dest, name))
    shutil.rmtree(tmp)


#: every epoch-keyed state table any family driver writes — near-dup
#: (index/sets/vecs/pairs), decontamination (pairs) and ANN (store + the
#: ids sidecar) share ONE compaction path
_COMPACTABLE_TABLES = ("index", "sets", "vecs", "pairs", "store", "ids")


def _count_base_files(base: str) -> dict[str, int]:
    """Per-table file report for the compacted base: total data files and
    the max per partition directory — what the rewrite_base threshold
    decision keys off."""
    import os

    total = 0
    per_dir: dict[str, int] = {}
    for root, _dirs, files in os.walk(base):
        n = sum(
            1 for f in files if f != "_SUCCESS" and not f.startswith(".")
        )
        if n:
            per_dir[root] = n
            total += n
    return {
        "base_files": total,
        "base_files_max_partition": max(per_dir.values(), default=0),
    }


def compact_state(
    spark: SparkSession,
    state_dir: str,
    up_to_epoch: int,
    rewrite_base: bool = False,
    rewrite_tables: "frozenset[str] | set[str] | None" = None,
) -> dict[str, int] | dict[str, dict]:
    """Fold a streaming near-dup state's LIVE ``0 <= epoch < up_to_epoch``
    partition dirs into the ``epoch=-1`` base per table (round-6 verdict
    #4: the epoch-keyed layout grows one directory per micro-batch forever
    — a small-files problem after ~10⁴ epochs).

    **Additive, not a rewrite** (round-7 verdict #3): only the folded
    epochs' rows are read and re-written; the existing base's files are
    never rebuilt — the new rows are written to a tmp dir in the base's
    partition layout and their part files are MOVED into the base's
    partition dirs. Each compaction therefore costs O(rows folded since
    the last compaction), not O(total state) — at 100-TB state the
    previous rebuild-everything fold re-paid the whole history on every
    invocation. (The trade: the base accretes one file set per compaction
    instead of staying one-write tight; at a sane cadence that is dozens
    of files per partition, still ~epochs/cadence fewer than no
    compaction.)

    Replay-idempotence is preserved by construction:

    - reads filter ``epoch < epoch_id`` and the base sits at ``-1``, below
      every live epoch id, so every future batch sees exactly the rows it
      saw before compaction (identical probe inputs);
    - an at-least-once replay only ever re-delivers the LATEST epoch, and
      ``up_to_epoch`` must be ≤ ``max_epoch`` from ``epochs.json``
      (exceeding it raises — the latest epoch's dirs are never folded), so
      a replayed epoch still excludes its own prior writes — folding the
      latest epoch into the base would make its replay see itself and fan
      pairs out 2×2, the exact round-6 bug the epoch filter exists to
      prevent.

    Crash safety (round-7 review): the dangerous window — folded epoch
    dirs deleted, new rows not yet merged into the base — is covered by a
    per-table write-ahead journal (``.compact_journal_<table>.json``,
    written AFTER the tmp output is fully materialized and removed after
    the merge completes). A re-run of ``compact_state`` first completes
    any journaled surgery (delete remaining listed dirs, merge the
    remaining tmp files) instead of rebuilding from a table that no longer
    contains the deleted rows; ``run_streaming_near_dup_sync`` refuses to
    probe a state with a pending journal.

    **Cadence guidance**: what compaction bounds is per-batch partition
    discovery — every probe lists ``live epoch dirs × state_buckets``
    leaf directories per table (index + sets/vecs), so e.g. 500 live
    epochs × 32 buckets × 2 tables ≈ 32k directory listings per
    micro-batch, which on object stores is seconds of pure metadata
    latency. Compact when live epoch dirs exceed ~100 (e.g. every ~100
    micro-batches, ``up_to_epoch = max_epoch`` from ``epochs.json``);
    being additive, running it that often costs only the new epochs'
    rows each time.

    Partition-layout fidelity: the index's tmp output is written
    ``partitionBy("hbucket")``, the sets/vecs tables
    ``partitionBy("bucket")`` and the ANN family's store table
    ``partitionBy("cell")``, so the directory-level pruning that bounds
    per-batch probe/verification I/O survives compaction. Returns
    ``{table: n_dirs_folded}``.

    **Deep compaction** (``rewrite_base=True``, round-8 verdict #5): the
    additive base accretes one file set per compaction — dozens of files
    per partition at a sane cadence, unbounded at an insane one. The
    deep pass folds the BASE ITSELF into the rewrite: base + live epochs
    < ``up_to_epoch`` are read together, written fresh, and installed
    under the same WAL journal (the journal's fold list simply includes
    the old base dir, so crash recovery is identical). It costs O(total
    folded state) — run it only when the additive base's file count
    exceeds a threshold, which is why the return value switches to
    ``{table: {"folded_dirs": n, "base_files": total,
    "base_files_max_partition": max}}`` so callers can key the next
    deep pass off the report.

    ``rewrite_tables`` scopes the deep rewrite to the NAMED tables only
    (round-10 advice: one table's base tripping the file threshold was
    escalating the O(total state) rewrite onto every table): listed
    tables fold base-inclusive, the rest stay additive. The return value
    switches to the deep report shape whenever ANY table rewrote
    (additive-only tables report ``{"folded_dirs": n}`` without the
    file-count walk). ``rewrite_base=True`` remains "deep for all".

    Threshold bookkeeping: folded epochs' per-epoch threshold records are
    dropped from ``epochs.json`` and their min/max fold into
    ``base_threshold_min`` / ``base_threshold_max`` so
    :func:`read_pairs` can still reason about the base's completeness.
    The threshold keys are only written for states that RECORD thresholds
    (the near-dup families) — an ANN state driven through
    :func:`maybe_compact` no longer accretes a foreign empty
    ``thresholds`` key (round-10 advice).
    """
    import os
    import shutil

    # refuse an older layout BEFORE any surgery (round-8 review: the
    # drivers enforced this; the state-mutating maintenance path did not)
    _require_layout(
        _load_json(os.path.join(state_dir, "recipe.json")),
        state_dir, "compact_state",
    )

    # phase 0 — complete any journaled surgery from a crashed prior run
    # BEFORE reading anything: the journal means folded dirs may already
    # be deleted and the only copy of their rows lives in the tmp output.
    for table in _COMPACTABLE_TABLES:
        journal_path = os.path.join(
            state_dir, f".compact_journal_{table}.json"
        )
        journal = _load_json(journal_path)
        if journal is None:
            continue
        tmp = os.path.join(state_dir, f".compact_tmp_{table}")
        base = os.path.join(state_dir, table, f"epoch={BASE_EPOCH}")
        if os.path.isdir(tmp):
            fold = journal.get("fold", [])
            # deep iff the base itself is being folded — derivable from
            # the fold list, so the dispatch never depends on the 'mode'
            # field alone (a journal lacking it can still only be
            # recovered correctly one way; round-9 review pass 2)
            is_deep = journal.get("mode") == "deep" or any(
                os.path.normpath(p) == os.path.normpath(base) for p in fold
            )
            for path in fold:
                shutil.rmtree(path, ignore_errors=True)
            if is_deep:
                # the deep pass installs by ATOMIC directory rename, never
                # file-by-file merge INTO a dir that is itself in the fold
                # list — a mid-merge crash would otherwise leave moved
                # files' only copy inside a path the recovery rmtree's
                # (round-9 review finding #1, the silent-data-loss window)
                os.replace(tmp, base)
            else:
                _merge_tmp_into_base(tmp, base)
        # tmp missing → the install already completed; journal is stale
        os.remove(journal_path)

    epochs = _load_json(os.path.join(state_dir, "epochs.json"))
    if epochs is None or "max_epoch" not in epochs:
        raise ValueError(
            f"compact_state: no epochs.json under {state_dir!r} — nothing "
            "recorded to compact (state written by an older layout must "
            "keep its epoch dirs)."
        )
    max_epoch = int(epochs["max_epoch"])
    if up_to_epoch > max_epoch:
        raise ValueError(
            f"compact_state: up_to_epoch={up_to_epoch} exceeds the max "
            f"processed epoch {max_epoch}. The latest epoch can never be "
            "compacted — an at-least-once replay re-delivers it and must "
            "not see its own prior writes in the base."
        )
    any_deep = rewrite_base or bool(rewrite_tables)
    folded: dict[str, int] = {}
    reports: dict[str, dict] = {}
    folded_epochs: set[int] = set()
    for table in _COMPACTABLE_TABLES:
        deep = rewrite_base or (
            rewrite_tables is not None and table in rewrite_tables
        )
        table_dir = os.path.join(state_dir, table)
        if not os.path.isdir(table_dir):
            continue
        # only LIVE epochs fold by default; the base itself is never
        # re-read or re-written (the additive contract). The deep pass
        # folds the base too, trading O(folded state) cost for a
        # one-write-tight base — scoped to this table when the caller
        # passed rewrite_tables.
        to_fold = {
            e: p
            for e, p in _list_epoch_dirs(table_dir, below=up_to_epoch)
            if deep or e != BASE_EPOCH
        }
        base_dir = os.path.join(table_dir, f"epoch={BASE_EPOCH}")
        if not to_fold:
            # nothing to fold — note that in DEEP mode an accreted base
            # alone still folds (rewriting it into one tight file set is
            # the deep pass's whole point). The file-count walk only runs
            # on the deep pass that returns it (round-9 review #3: the
            # routine additive cadence was paying an os.walk of the whole
            # base per call and throwing the report away).
            folded[table] = 0
            if deep:
                reports[table] = {
                    "folded_dirs": 0, **_count_base_files(base_dir)
                }
            elif any_deep:
                reports[table] = {"folded_dirs": 0}
            continue
        folded_epochs.update(to_fold)
        # partition pruning on the epoch filter keeps this read to exactly
        # the folded dirs — in additive mode the base's files are never
        # opened
        low = BASE_EPOCH if deep else 0
        df = spark.read.parquet(table_dir).filter(
            (F.col("epoch") >= low)
            & (F.col("epoch") < F.lit(int(up_to_epoch)))
        )
        out_cols = [c for c in df.columns if c != "epoch"]
        tmp = os.path.join(state_dir, f".compact_tmp_{table}")
        # a stale tmp WITHOUT a journal means a prior run crashed before
        # any deletion — the epoch dirs are intact, so rebuilding is safe
        shutil.rmtree(tmp, ignore_errors=True)
        if "hbucket" in out_cols:
            # the index keeps its hash-bucket layout (probe pruning)
            part_col = "hbucket"
        elif "bucket" in out_cols and table in ("sets", "vecs"):
            # the verification tables keep their id-bucket layout
            part_col = "bucket"
        elif "cell" in out_cols and table == "store":
            # the ANN store keeps its cell layout (probe directory pruning)
            part_col = "cell"
        elif "ibucket" in out_cols and table == "ids":
            # the ANN id sidecar keeps its id-bucket layout (the
            # disjointness guard's pruning key)
            part_col = "ibucket"
        else:
            part_col = None
        out = df.select(*out_cols)
        if part_col is not None:
            # co-locate each partition value before the write: without
            # this the fold writes one file per (input task × partition),
            # so a deep rewrite of a 16-file base emitted 16 files again —
            # compaction that doesn't compact. One shuffle of the folded
            # rows buys one tight file set per partition dir.
            out = out.repartition(part_col)
        writer = out.write.mode("overwrite")
        if part_col is not None:
            writer = writer.partitionBy(part_col)
        writer.parquet(tmp)
        # write-ahead journal: from here until the install completes, the
        # tmp dir may hold the ONLY copy of the folded rows — a crash in
        # this window is recovered by phase 0 above instead of silently
        # rebuilding from the already-deleted dirs. The journal records
        # the install MODE: additive merges tmp's files INTO the
        # preserved base; deep (base itself in the fold list) installs by
        # atomic rename — merging into a fold-listed path would leave a
        # mid-merge crash's moved files inside a dir the recovery deletes.
        journal_path = os.path.join(
            state_dir, f".compact_journal_{table}.json"
        )
        _atomic_write_json(
            journal_path,
            {"fold": sorted(to_fold.values()), "up_to": int(up_to_epoch),
             "mode": "deep" if deep else "additive"},
        )
        for path in to_fold.values():
            shutil.rmtree(path)
        if deep:
            os.replace(tmp, base_dir)
        else:
            _merge_tmp_into_base(tmp, base_dir)
        os.remove(journal_path)
        folded[table] = len(to_fold)
        if deep:
            reports[table] = {
                "folded_dirs": len(to_fold), **_count_base_files(base_dir)
            }
        elif any_deep:
            reports[table] = {"folded_dirs": len(to_fold)}
    # drop per-epoch threshold records whose dirs folded into the base,
    # carrying their range into the base_threshold_{min,max} records so
    # read_pairs can still judge the base's completeness for a cutoff
    old_thresholds = epochs.get("thresholds") or {}
    folded_thr = [
        float(t) for e, t in old_thresholds.items()
        if int(e) in folded_epochs
    ]
    pool = folded_thr + [
        float(epochs[k])
        for k in ("base_threshold_min", "base_threshold_max")
        if epochs.get(k) is not None
    ]
    thresholds = {
        e: t for e, t in old_thresholds.items()
        if int(e) not in folded_epochs
    }
    updated = {**epochs, "compacted_up_to": int(up_to_epoch)}
    # only states that RECORD thresholds (the near-dup families) carry the
    # threshold keys forward — writing "thresholds": {} into an ANN
    # state's epochs.json accreted a foreign key (round-10 advice)
    if "thresholds" in epochs or pool:
        updated["thresholds"] = thresholds
    if pool:
        updated["base_threshold_min"] = min(pool)
        updated["base_threshold_max"] = max(pool)
    _atomic_write_json(os.path.join(state_dir, "epochs.json"), updated)
    # the additive mode keeps its historical {table: n_dirs_folded} shape
    # (existing callers/tests compare it directly); any deep rewrite
    # returns the report shape its threshold decision needs
    return reports if any_deep else folded


def maybe_compact(
    spark: SparkSession,
    state_dir: str,
    every_n_epochs: int = 100,
    deep_when_max_partition_files: int | None = None,
) -> dict | None:
    """The compaction-cadence decision as a callable (round-9 verdict #4:
    the deep pass returns the per-table file report precisely so a
    threshold can key off it, but cadence was still caller-operated).
    Call it after any epoch commit — from your own orchestration loop, or
    opt-in from the family drivers via their ``compact_every_n_epochs``
    parameter.

    - Nothing to do (no committed epochs, or fewer than ``every_n_epochs``
      live foldable epochs since the last compaction) → returns ``None``
      without touching state. The check is two json reads — no Spark job,
      no directory walk — so it is safe to call per epoch.
    - Cadence tripped → additive :func:`compact_state` up to the current
      ``max_epoch`` (the latest epoch itself is never folded, preserving
      replay idempotence).
    - Additionally, when ``deep_when_max_partition_files`` is set and a
      compactable table's base holds at least that many files in one
      partition dir (the additive mode's accretion signal), THAT table
      folds with the deep base rewrite — the pass is scoped to the
      tripped table(s) (round-10 advice: one tripped table no longer
      escalates the O(total state) rewrite onto every table); the rest
      stay additive. The file-count walk only runs when the cadence
      already tripped, so the routine per-epoch call never pays it (the
      round-9 review #3 contract).

    Returns :func:`compact_state`'s report when a pass ran, else ``None``.
    """
    import os

    epochs = _load_json(os.path.join(state_dir, "epochs.json"))
    if epochs is None or "max_epoch" not in epochs:
        return None
    max_epoch = int(epochs["max_epoch"])
    compacted_up_to = int(epochs.get("compacted_up_to") or 0)
    # epochs in [compacted_up_to, max_epoch) still live as their own dirs
    if max_epoch - compacted_up_to < every_n_epochs:
        return None
    tripped: set[str] = set()
    if deep_when_max_partition_files is not None:
        for table in _COMPACTABLE_TABLES:
            base = os.path.join(state_dir, table, f"epoch={BASE_EPOCH}")
            if not os.path.isdir(base):
                continue
            report = _count_base_files(base)
            if (
                report["base_files_max_partition"]
                >= deep_when_max_partition_files
            ):
                tripped.add(table)
    return compact_state(
        spark, state_dir, up_to_epoch=max_epoch,
        rewrite_tables=tripped or None,
    )


def read_pairs(
    spark: SparkSession,
    state_dir: str,
    min_threshold: float | None = None,
) -> DataFrame:
    """Threshold-aware consumer of a streaming near-dup state's pairs table
    (round-7 verdict #4: ``epochs.json`` records per-epoch thresholds
    precisely because the table may mix them — a run may legitimately
    change ``threshold`` between epochs — but nothing read the record
    back, so a naive ``spark.read.parquet(pairs)`` silently mixed
    completeness guarantees).

    Returns the pairs with their partition ``epoch`` plus a ``threshold``
    column joined from the per-epoch record (NULL for the compacted
    ``epoch=-1`` base, whose folded epochs may have mixed thresholds —
    their range lives in ``base_threshold_min/max``).

    - ``min_threshold=None``: return everything; WARNS (``UserWarning``)
      when the state mixes thresholds, since downstream consumers usually
      assume one mining cutoff.
    - ``min_threshold=t`` (minhash/cosine): return pairs with score ≥ t —
      but only after checking COMPLETENESS: an epoch mined at a threshold
      ABOVE t never emitted its pairs in ``[t, epoch_threshold)``, so
      filtering alone would silently undercount; such epochs (or a base
      whose ``base_threshold_max`` exceeds t) raise instead.
    - for the simhash family the value is a hamming BOUND: pairs with
      ``hamming ≤ t`` are returned and the completeness direction flips
      (an epoch mined at ``max_hamming`` BELOW t is the incomplete one).

    The join is a broadcast of the tiny epoch→threshold map (≤ live
    epochs after compaction), so the read stays one pruned parquet scan.
    """
    import os
    import warnings

    recipe = _load_json(os.path.join(state_dir, "recipe.json"))
    epochs = _load_json(os.path.join(state_dir, "epochs.json"))
    if recipe is None or epochs is None:
        raise ValueError(
            f"read_pairs: {state_dir!r} has no recipe.json/epochs.json — "
            "not a streaming near-dup state (or written by an older "
            "layout; rebuild from source)."
        )
    _require_layout(recipe, state_dir, "read_pairs")
    # round-8 review: the drivers refused mid-surgery state, the consumer
    # API did not — a pending journal means the pairs table is missing
    # the folded epochs' rows
    _refuse_pending_compaction(state_dir, "read_pairs")
    family = recipe.get("family", "minhash")
    score_col = {
        "minhash": "jaccard", "simhash": "hamming", "cosine": "cos_sim",
        # the decon driver pins its metric on the first mining run
        "decontamination": (
            "containment" if recipe.get("method") == "containment"
            else "jaccard"
        ),
    }[family]
    pairs_dir = os.path.join(state_dir, "pairs")
    if not os.path.isdir(pairs_dir):
        # a state whose batches were all empty/unusable never wrote pairs
        raise ValueError(
            f"read_pairs: {state_dir!r} has no pairs table yet — no "
            "non-empty micro-batch has been processed."
        )
    df = spark.read.parquet(pairs_dir)

    thresholds = {
        int(e): float(t) for e, t in (epochs.get("thresholds") or {}).items()
    }
    base_min = epochs.get("base_threshold_min")
    base_max = epochs.get("base_threshold_max")
    has_base = os.path.isdir(
        os.path.join(pairs_dir, f"epoch={BASE_EPOCH}")
    )

    thr_map = spark.createDataFrame(
        [(e, t) for e, t in thresholds.items()]
        or [(None, None)],  # empty-map placeholder, filtered by the join
        "epoch int, threshold double",
    )
    joined = df.join(F.broadcast(thr_map), "epoch", "left")

    if min_threshold is None:
        distinct = set(thresholds.values())
        if has_base:
            distinct |= {v for v in (base_min, base_max) if v is not None}
        if len(distinct) > 1:
            warnings.warn(
                f"read_pairs: state at {state_dir!r} mixes mining "
                f"thresholds {sorted(distinct)} — pairs from different "
                "epochs carry different completeness guarantees. Pass "
                "min_threshold to get a uniformly-complete cut.",
                UserWarning,
                stacklevel=2,
            )
        return joined

    t = float(min_threshold)
    if family == "simhash":
        # recorded value = the epoch's max_hamming; an epoch mined with a
        # SMALLER bound never emitted pairs in (its bound, t]
        incomplete = {e: v for e, v in thresholds.items() if v < t}
        base_bad = has_base and base_min is not None and base_min < t
        keep = F.col(score_col) <= F.lit(t)
    else:
        incomplete = {e: v for e, v in thresholds.items() if v > t}
        base_bad = has_base and base_max is not None and base_max > t
        keep = F.col(score_col) >= F.lit(t)
    if incomplete or base_bad:
        detail = ", ".join(
            f"epoch {e} mined at {v}" for e, v in sorted(incomplete.items())
        )
        if base_bad:
            rng = f"[{base_min}, {base_max}]"
            detail += (", " if detail else "") + (
                f"compacted base folded thresholds in {rng}"
            )
        raise ValueError(
            f"read_pairs: requested cut {t} is not complete over this "
            f"state ({detail}). Pairs inside the gap were never emitted "
            "for those epochs — filtering would silently undercount. "
            "Request a cut every epoch covers, or re-mine the offending "
            "epochs."
        )
    return joined.filter(keep)


def dedup_within_watermark(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the incremental counterpart of
    ``operators.exact_dedup``: drop re-deliveries of the same key arriving
    within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes it, so state size is bounded by the horizon × key
    arrival rate — the property that makes exactly-once-per-key feasible on
    an unbounded stream (plain ``dropDuplicates`` on a stream grows state
    forever). Complements the at-least-once batch sync path, which gets
    idempotency from sink-side keys (hubspot external_id, mixpanel
    ``$insert_id``) instead.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_size: str = "5 minutes",
    group_col: str = "event_type",
    value_col: str | None = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the late-data policy the
    reference approximates with mixpanel's lookback window (SURVEY §2D).
    ``value_col=None`` emits counts only (streams without a numeric value
    column used to fail analysis on the hardcoded ``sum(value)``)."""
    aggs = [F.count("*").alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("total_value"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_size), group_col)
        .agg(*aggs)
    )
