"""Structured-Streaming incremental sync tests."""

import os

import pytest

from pyspark.sql import functions as F

from syncmaven_spark.streaming import run_streaming_sync, windowed_event_counts


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    df.coalesce(1).write.mode("append").parquet(path)


def test_streaming_sync_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_file = tmp_path / "out.ndjson"
    _write_batch(spark, src, [(1, "click", 1.0), (2, "view", 2.0)])

    schema = spark.read.parquet(src).schema
    from syncmaven_spark.state import InMemoryStore

    store = InMemoryStore()
    creds = {"filename": str(out_file)}

    totals = run_streaming_sync(
        spark, src, schema, "file", "raw", creds, store, "stream1", ckpt
    )
    assert totals["success"] == 2
    assert len(out_file.read_text().splitlines()) == 2

    # second invocation with one new file: only the delta is processed —
    # Spark's checkpoint is the cursor state (offsets analog)
    _write_batch(spark, src, [(3, "purchase", 3.0)])
    out_file2 = tmp_path / "out2.ndjson"
    creds["filename"] = str(out_file2)
    totals2 = run_streaming_sync(
        spark, src, schema, "file", "raw", creds, store, "stream1", ckpt
    )
    assert totals2["success"] == 1
    assert '"event_id":3' in out_file2.read_text()

    # nothing new → no-op
    totals3 = run_streaming_sync(
        spark, src, schema, "file", "raw", creds, store, "stream1", ckpt
    )
    assert totals3["success"] == 0


def test_streaming_sync_applies_transform_and_validation(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_file = tmp_path / "out.ndjson"
    _write_batch(
        spark, src, [(1, "click", 1.0), (2, "drop_me", 2.0), (3, "view", None)]
    )
    schema = spark.read.parquet(src).schema
    from syncmaven_spark.state import InMemoryStore

    totals = run_streaming_sync(
        spark,
        src,
        schema,
        "file",
        "raw",
        {"filename": str(out_file)},
        InMemoryStore(),
        "stream2",
        ckpt,
        transform=lambda df: df.filter(F.col("event_type") != "drop_me"),
    )
    assert totals["success"] == 2  # transform dropped one; null value row passes (any-schema)


def test_dedup_within_watermark(spark, tmp_path):
    """Re-delivered keys within the watermark horizon are dropped once."""
    from syncmaven_spark.streaming import dedup_within_watermark

    src = str(tmp_path / "dup_events")
    # ids 0..9 delivered twice at nearby timestamps
    spark.sql(
        "select cast(id % 10 as long) as event_id, "
        "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts, "
        "cast(id as double) as value from range(20)"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select event_id from dedup_stream").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == list(range(10))


def test_windowed_event_counts_plan(spark, tmp_path):
    """Watermark + tumbling window compiles and runs via availableNow."""
    src = str(tmp_path / "events")
    df = spark.sql(
        "select timestamp '2024-01-01 00:01:00' + make_interval(0,0,0,0,0,id,0) as ts, "
        "case when id % 2 = 0 then 'click' else 'view' end as event_type, "
        "cast(id as double) as value from range(30)"
    )
    df.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_event_counts(stream, window_size="5 minutes", watermark="1 minute")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from win_counts").collect()
    assert sum(r.n for r in rows) == 30
    assert all(r.window.end > r.window.start for r in rows)


def test_streaming_executor_side_delivery_for_stateless_sinks(spark, tmp_path):
    """Stateless sinks deliver via foreachPartition on executors: one
    OutputStream per partition, and the micro-batch is never collect()ed to
    the driver (DataFrame.collect is patched to fail for the duration)."""
    import glob
    import json
    import os
    import uuid

    from pyspark.sql import DataFrame
    from syncmaven_spark.sinks.base import (
        DestinationProvider,
        OutputStream,
        StreamSpec,
    )
    from syncmaven_spark.state import InMemoryStore

    out_dir = tmp_path / "delivered"
    out_dir.mkdir()

    class RecordingStream(OutputStream):
        def __init__(self, directory: str) -> None:
            super().__init__()
            self._directory = directory
            self._rows = []

        def handle_row(self, row):
            self.stats.received += 1
            self._rows.append(row)
            self.stats.success += 1

        def finish(self):
            # one file per opened stream == per partition with rows
            path = os.path.join(
                self._directory, f"part-{os.getpid()}-{uuid.uuid4().hex}.json"
            )
            with open(path, "w") as f:
                json.dump(self._rows, f)
            return self.stats

    class RecordingDestination(DestinationProvider):
        name = "recording"
        stateless = True

        def __init__(self, directory: str) -> None:
            self._directory = directory

        def streams(self):
            return [StreamSpec(name="rec", row_type={"type": "object"})]

        def create_output_stream(
            self, stream_name, credentials, sync_id, store,
            full_refresh=False, restart=False, options=None,
        ):
            return RecordingStream(self._directory)

    src = str(tmp_path / "src")
    spark.sql(
        "select cast(id as long) as event_id, cast(id as double) as value "
        "from range(100)"
    ).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    # Patch the CONCRETE DataFrame class (pyspark.sql.classic) — instances
    # resolve collect from the subclass __dict__, so patching the public
    # base class is a no-op. The counts aggregate legitimately collects ≤1
    # row (first() routes through limit(1).collect()); anything larger is a
    # micro-batch materializing on the driver.
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    real_collect = ClassicDataFrame.collect

    def guarded_collect(self):
        rows = real_collect(self)
        assert len(rows) <= 1, (
            "micro-batch rows must not materialize on the driver for a "
            f"stateless sink (collected {len(rows)} rows)"
        )
        return rows

    ClassicDataFrame.collect = guarded_collect
    try:
        totals = run_streaming_sync(
            spark,
            src,
            schema,
            RecordingDestination(str(out_dir)),
            "rec",
            {},
            InMemoryStore(),
            "stream_exec",
            str(tmp_path / "ckpt"),
        )
    finally:
        ClassicDataFrame.collect = real_collect

    assert totals["received"] == 100
    assert totals["success"] == 100
    files = glob.glob(str(out_dir / "part-*.json"))
    # one stream per non-empty partition — parallel delivery, not one loop
    assert len(files) > 1
    delivered = sorted(
        row["event_id"] for f in files for row in json.load(open(f))
    )
    assert delivered == list(range(100))


def test_streaming_enrichment_both_paths(spark, tmp_path):
    """Enrichment stages apply on both streaming delivery paths: per-row on
    the driver path (file sink), mapInPandas on the executor path."""
    from syncmaven_spark.enrich import CallableEnrichment
    from syncmaven_spark.state import InMemoryStore

    src = str(tmp_path / "src")
    _write_batch(spark, src, [(1, "click", 1.0), (2, "view", 2.0)])
    schema = spark.read.parquet(src).schema

    def fan_out(row):
        twin = dict(row)
        twin["event_id"] = row["event_id"] + 100
        return [row, twin]

    out_file = tmp_path / "enriched.ndjson"
    totals = run_streaming_sync(
        spark, src, schema, "file", "raw",
        {"filename": str(out_file)}, InMemoryStore(), "enrich_drv",
        str(tmp_path / "ckpt1"),
        enrichments=[CallableEnrichment(fan_out)],
    )
    assert totals["success"] == 4  # 2 rows fanned out to 4
    import json as _json

    ids = sorted(
        _json.loads(line)["event_id"]
        for line in out_file.read_text().splitlines()
    )
    assert ids == [1, 2, 101, 102]


def test_streaming_revalidation_drops_counted_both_paths(spark, tmp_path):
    """Enriched rows dropped by re-validation count as skipped on BOTH
    streaming delivery paths, so received/success/skipped/failed reconcile
    with the source row count."""
    from syncmaven_spark.enrich import CallableEnrichment
    from syncmaven_spark.sinks.base import (
        DestinationProvider,
        OutputStream,
        StreamSpec,
    )
    from syncmaven_spark.state import InMemoryStore

    strict = {
        "type": "object",
        "properties": {"event_id": {"type": "integer"}},
        "required": ["event_id"],
    }

    class CountingStream(OutputStream):
        def handle_row(self, row):
            self.stats.received += 1
            self.stats.success += 1

        def finish(self):
            return self.stats

    class CountingDestination(DestinationProvider):
        name = "counting"

        def __init__(self, stateless):
            self.stateless = stateless

        def streams(self):
            return [StreamSpec(name="s", row_type=strict)]

        def create_output_stream(
            self, stream_name, credentials, sync_id, store,
            full_refresh=False, restart=False, options=None,
        ):
            return CountingStream()

    def fan_out(row):
        twin = dict(row)
        twin["event_id"] = None  # fails the strict schema on re-validation
        return [row, twin]

    src = str(tmp_path / "src")
    _write_batch(spark, src, [(1, "click", 1.0), (2, "view", 2.0)])
    schema = spark.read.parquet(src).schema

    for label, stateless in (("driver", False), ("executor", True)):
        totals = run_streaming_sync(
            spark, src, schema, CountingDestination(stateless), "s", {},
            InMemoryStore(), f"drops_{label}",
            str(tmp_path / f"ckpt_{label}"),
            enrichments=[CallableEnrichment(fan_out)],
        )
        assert totals["success"] == 2, label   # valid originals delivered
        assert totals["skipped"] == 2, label   # dropped twins accounted for


def test_streaming_driver_batch_cap_fails_fast(spark, tmp_path):
    """Round-5 task: the state-backed (driver-delivery) path must fail fast
    with a remediation message when a micro-batch exceeds the row cap,
    instead of collecting unbounded rows to the driver."""
    import pytest

    from syncmaven_spark.state import InMemoryStore

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        spark, src, [(i, "click", float(i)) for i in range(20)]
    )
    schema = spark.read.parquet(src).schema

    with pytest.raises(Exception) as exc_info:
        run_streaming_sync(
            spark, src, schema, "file", "raw",
            {"filename": str(tmp_path / "out.ndjson")},
            InMemoryStore(), "cap1", ckpt,
            max_driver_batch_rows=10,
        )
    # the DriverBatchTooLarge message survives the StreamingQueryException
    # wrapping — users see the cap and the remedies
    msg = str(exc_info.value)
    assert "driver-delivery cap of 10 rows" in msg
    assert "maxFilesPerTrigger" in msg

    # under the cap the same stream syncs fine from a fresh checkpoint
    out2 = tmp_path / "out2.ndjson"
    totals = run_streaming_sync(
        spark, src, schema, "file", "raw", {"filename": str(out2)},
        InMemoryStore(), "cap2", str(tmp_path / "ckpt2"),
        max_driver_batch_rows=20,
    )
    assert totals["success"] == 20


def test_streaming_near_dup_sync_probes_index_across_runs(spark, tmp_path):
    """Continuous near-dup mining: run 1 indexes the base corpus; run 2's
    new files are probed AGAINST that persisted index (old docs are never
    re-signed) and cross-run + within-batch pairs both land in the pairs
    table. Replaying an epoch is idempotent (epoch-keyed overwrites)."""
    from syncmaven_spark.streaming import run_streaming_near_dup_sync

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden"
    )
    near = base.replace("warm windowsill", "cold doorstep")
    other = (
        "completely different content about distributed query engines "
        "shuffling partitioned columnar data across executors tonight"
    )
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    write([(1, base), (2, other)])
    schema = spark.read.parquet(src).schema
    kwargs = dict(threshold=0.3, max_bucket_size=None)

    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    pairs0 = spark.read.parquet(state + "/pairs")
    assert pairs0.count() == 0  # base and other are unrelated

    # run 2: one near-dup of an INDEXED doc + an exact copy within the batch
    write([(3, near), (4, near)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in spark.read.parquet(state + "/pairs").collect()
    }
    assert (1, 3) in pairs          # new batch vs run-1 index
    assert (1, 4) in pairs
    assert pairs[(3, 4)] == 1.0     # within-batch exact copy
    assert all(a in (3, 4) or b in (3, 4) for a, b in pairs)

    # the index now carries all four docs' band rows exactly once
    idx = spark.read.parquet(state + "/index")
    assert sorted(
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    ) == [1, 2, 3, 4]

    # run 3 with nothing new: a no-op (no new epochs, pairs unchanged)
    n_before = spark.read.parquet(state + "/pairs").count()
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    assert spark.read.parquet(state + "/pairs").count() == n_before


def test_streaming_near_dup_replay_is_idempotent(spark, tmp_path):
    """Round-6 review (reproduced live): a replayed epoch used to read its
    own prior writes from the corpus/index state and fan each pair out 2x2
    through the verification join. State reads are now epoch-filtered, so
    replaying from a wiped checkpoint rewrites identical pairs, once."""
    from syncmaven_spark.streaming import run_streaming_near_dup_sync
    import shutil

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.5, max_bucket_size=None
    )
    first = [
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(state + "/pairs").collect()
    ]
    assert first == [(1, 2, 1.0)]

    # crash-after-write simulation: offsets lost, same files re-delivered
    shutil.rmtree(ckpt)
    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.5, max_bucket_size=None
    )
    replayed = [
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(state + "/pairs").collect()
    ]
    assert replayed == [(1, 2, 1.0)]  # exactly once, not 4 copies


def test_streaming_near_dup_rejects_recipe_mismatch(spark, tmp_path):
    """Round-6 review (reproduced live): probing a 16-band index with a
    32-band recipe silently found zero cross-batch pairs. The state dir now
    carries a recipe manifest and a mismatched re-run fails fast."""
    from syncmaven_spark.streaming import run_streaming_near_dup_sync

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    run_streaming_near_dup_sync(
        spark, src, schema, state, str(tmp_path / "ck1"), bands=32
    )
    with pytest.raises(ValueError, match="recipe mismatch"):
        run_streaming_near_dup_sync(
            spark, src, schema, state, str(tmp_path / "ck2"), bands=16
        )
