"""Halt handling (B11) + stream-stats aggregation (B12) through the runner."""

import pytest

from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
from syncmaven_spark.sinks.base import (
    ANY_OBJECT_SCHEMA,
    BatchingOutputStream,
    DestinationProvider,
    HaltError,
    OutputStream,
    RowError,
    StreamSpec,
)
from syncmaven_spark.state import InMemoryStore


class HaltingStream(OutputStream):
    def __init__(self, halt_after: int):
        super().__init__()
        self.halt_after = halt_after

    def handle_row(self, row):
        self.stats.received += 1
        if self.stats.received > self.halt_after:
            raise HaltError("destination says stop")
        self.stats.success += 1
        self.stats.substreams["default"] = self.stats.substreams.get("default", 0) + 1


class HaltingDestination(DestinationProvider):
    name = "halting"

    def __init__(self, halt_after):
        self.halt_after = halt_after
        self.opened = []

    def streams(self):
        return [StreamSpec(name="s", row_type=ANY_OBJECT_SCHEMA)]

    def create_output_stream(self, stream_name, credentials, sync_id, store,
                             full_refresh=False, restart=False, options=None):
        out = HaltingStream(self.halt_after)
        self.opened.append(out)
        return out


def test_halt_stops_feeding_and_preserves_state(spark):
    """A sink halt mid-sync stops delivery (sync.ts:551-553) but the rows
    already delivered still checkpoint their cursor."""
    spark.sql("select id from range(100)").createOrReplaceTempView("halt_src")
    dest = HaltingDestination(halt_after=10)
    store = InMemoryStore()
    sync = SyncDefinition(
        id="halt1",
        model=ModelDefinition(
            id="m",
            query="select id from halt_src where :cursor is null or id >= :cursor order by id",
            cursor="id",
        ),
        destination=dest,
        stream="s",
    )
    result = run_sync(spark, sync, store)
    assert result.stats.success == 10
    assert result.stats.substreams == {"default": 10}
    # delivered prefix was checkpointed: ids 0..9 done, halt on row 10
    assert store.get(["syncId=halt1", "$lastCursor=id"])["val"] == 10
    # only one stream was opened; no rows after the halt
    assert len(dest.opened) == 1
    assert dest.opened[0].stats.received == 11  # 10 ok + the halting row


def test_row_error_counts_failed_and_continues(spark):
    """A sink-declared per-row rejection (RowError) counts failed and the
    sync keeps going — one bad record must not abort a million-row run —
    while undeclared exceptions still abort without persisting the cursor
    (covered by test_failed_delivery_does_not_advance_cursor)."""
    from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
    from syncmaven_spark.sinks.base import (
        DestinationProvider,
        OutputStream,
        RowError,
        StreamSpec,
    )
    from syncmaven_spark.state import InMemoryStore

    class PickyStream(OutputStream):
        def handle_row(self, row):
            self.stats.received += 1
            if row["id"] == 3:
                raise RowError("record rejected: id 3")
            self.stats.success += 1

    class PickyDestination(DestinationProvider):
        name = "picky"

        def streams(self):
            return [StreamSpec(name="s", row_type=None)]

        def create_output_stream(self, *a, **kw):
            return PickyStream()

    spark.sql("select id from range(10)").createOrReplaceTempView("picky_src")
    store = InMemoryStore()
    result = run_sync(
        spark,
        SyncDefinition(
            id="picky1",
            model=ModelDefinition(
                id="m",
                query="select id from picky_src where :cursor is null or id >= :cursor order by id",
                cursor="id",
            ),
            destination=PickyDestination(),
            stream="s",
        ),
        store,
    )
    assert result.stats.received == 10
    assert result.stats.success == 9
    assert result.stats.failed == 1
    # the sync completed, so the cursor advanced (reference semantics)
    assert store.get(["syncId=picky1", "$lastCursor=id"])["val"] == 9


def test_halt_clamp_survives_enrichment_retyped_cursor(spark):
    """halt_checkpoint compares pending-row cursor values against the
    tracker max; an enrichment that rewrites the cursor column to a
    different type (int -> str here) made compare_cursor raise TypeError
    and turned a graceful halt into an uncaught exception. Now it routes to
    the keep-last-checkpoint fallback (round-5 advice)."""
    from syncmaven_spark.enrich import Enrichment
    from syncmaven_spark.sinks.base import BatchingOutputStream

    class BufferThenHalt(BatchingOutputStream):
        def __init__(self):
            super().__init__(max_batch_size=4)
            self.flushes = 0

        def process_batch(self, rows):
            self.flushes += 1
            if self.flushes > 1:
                raise HaltError("destination says stop")
            self.stats.success += len(rows)

    class BufferingDestination(DestinationProvider):
        name = "buffer-halt"

        def streams(self):
            return [StreamSpec(name="s", row_type=ANY_OBJECT_SCHEMA)]

        def create_output_stream(self, *a, **kw):
            return BufferThenHalt()

    class RetypeCursor(Enrichment):
        def enrich(self, row):
            yield {**row, "id": f"id-{row['id']:04d}"}

    spark.sql("select id from range(10)").createOrReplaceTempView("halt_retype")
    store = InMemoryStore()
    sync = SyncDefinition(
        id="haltretype",
        model=ModelDefinition(
            id="m",
            query="select id from halt_retype where :cursor is null or id >= :cursor order by id",
            cursor="id",
        ),
        destination=BufferingDestination(),
        stream="s",
        enrichments=[RetypeCursor()],
    )
    result = run_sync(spark, sync, store)  # must not raise
    assert result.stats.failed >= 4  # the halted batch counted failed
    # the clamp could not compare str pending cursors with the int tracker
    # max -> keeps the last checkpointed cursor (none here: first flush
    # succeeded but no checkpoint ran before the halt)
    assert store.get(["syncId=haltretype", "$lastCursor=id"]) is None


class _FlushFailBatchDestination(DestinationProvider):
    """Batching sink (3 rows per flush) whose first ``failures`` flushes
    raise ``exc_factory()``; later flushes deliver and record the ids."""

    name = "flush-fail"

    def __init__(self, exc_factory, failures=float("inf")):
        self.exc_factory = exc_factory
        self.failures = failures
        self.delivered: list[int] = []

    def streams(self):
        return [StreamSpec("raw", ANY_OBJECT_SCHEMA)]

    def create_output_stream(self, *a, **kw):
        provider = self

        class S(BatchingOutputStream):
            def process_batch(self, rows):
                if provider.failures > 0:
                    provider.failures -= 1
                    raise provider.exc_factory()
                provider.delivered.extend(r["id"] for r in rows)
                self.stats.success += len(rows)

        return S(max_batch_size=3)


def _id_cursor_sync(spark, sync_id, n_rows, destination, **kw):
    """An incremental sync over ids 0..n_rows-1 with an inclusive cursor."""
    spark.sql(f"select id from range({n_rows})").createOrReplaceTempView(
        f"{sync_id}_src"
    )
    return SyncDefinition(
        id=sync_id,
        model=ModelDefinition(
            id="m",
            query=f"select id from {sync_id}_src where :cursor is null "
                  "or id >= :cursor order by id",
            cursor="id",
        ),
        destination=destination,
        stream="raw",
        credentials={},
        **kw,
    )


@pytest.mark.parametrize(
    "exc,match",
    [
        # a failed sync must NOT persist the cursor past undelivered rows
        # (the reference checkpoints only on success)
        (lambda: RuntimeError("flush failed"), "flush failed"),
        # a RowError escaping process_batch cannot name WHICH row failed:
        # it aborts as an undeclared batch failure, not a skipped row
        (lambda: RowError("bad row"), "per-row"),
    ],
    ids=["runtime-error", "row-error"],
)
def test_batch_flush_failure_aborts_without_cursor(spark, exc, match):
    store = InMemoryStore()
    sync = _id_cursor_sync(spark, "flushfail", 5, _FlushFailBatchDestination(exc))
    with pytest.raises(RuntimeError, match=match):
        run_sync(spark, sync, store)
    # nothing was delivered → no cursor may be persisted
    assert store.get(["syncId=flushfail", "$lastCursor=id"]) is None


def test_halt_clamp_skips_save_when_cursor_not_in_sink_rows(spark):
    """The halt-time cursor clamp probed SINK rows for the cursor column; a
    shape-changing enrichment drops it, making the clamp a silent no-op
    that re-opened the skip-past-failed-batch hole. With unknown pending
    cursors the final save must be skipped entirely."""
    from syncmaven_spark.enrich import CallableEnrichment

    store = InMemoryStore()
    sync = _id_cursor_sync(
        spark, "haltr", 5,
        _FlushFailBatchDestination(lambda: HaltError("stop")),
        enrichments=[CallableEnrichment(lambda r: [{"email": f"u{r['id']}@x"}])],
    )
    run_sync(spark, sync, store)
    # the failed batch rows carry no 'id' -> no provably-safe cursor ->
    # nothing persisted (next run re-sends everything; nothing lost)
    assert store.get(["syncId=haltr", "$lastCursor=id"]) is None


def test_halt_clamp_then_resume_delivers_everything(spark):
    """A HaltError from a batching sink's flush must clamp the persisted
    cursor to the smallest UNDELIVERED cursor, not the observed max (with
    the inclusive >= predicate only the boundary row would be re-sent and
    the rest of the failed batch lost). A re-run with a healthy sink then
    delivers every undelivered row — the only acceptable duplication is
    the inclusive >= boundary overlap."""
    dest = _FlushFailBatchDestination(
        lambda: HaltError("transient outage"), failures=1
    )
    store = InMemoryStore()
    sync = _id_cursor_sync(spark, "flaky", 7, dest)
    r1 = run_sync(spark, sync, store)
    # rows 0,1,2 were popped into the failed flush — none delivered; the
    # persisted cursor must be 0 (min undelivered), NOT 2 (observed max)
    assert dest.delivered == []
    assert r1.stats.failed == 3
    assert store.get(["syncId=flaky", "$lastCursor=id"])["val"] == 0
    r2 = run_sync(spark, sync, store)
    # re-run from the clamped cursor: ALL rows delivered, no gaps
    assert sorted(dest.delivered) == [0, 1, 2, 3, 4, 5, 6]
    assert r2.stats.success == 7
