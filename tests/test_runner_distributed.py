"""Distributed (scale-path) runner tests: cursor-range chunked commits,
partition-parallel delivery, crash-resume."""

import glob
import json
from functools import partial

import pytest

from syncmaven_spark.runner import (
    ModelDefinition,
    SyncDefinition,
    plan_cursor_chunks,
    run_sync,
    run_sync_distributed,
)
from syncmaven_spark.session import load_tables
from syncmaven_spark.state import InMemoryStore

from tests.conftest import SF_SMOKE


def _read_ndjson_dir(path):
    rows = []
    for f in sorted(glob.glob(f"{path}/part-*")):
        for line in open(f):
            if line.strip():
                rows.append(json.loads(line))
    return rows


def _sync(out_dir, cursor="event_id"):
    return SyncDefinition(
        id="dist1",
        model=ModelDefinition(
            id="m",
            query=(
                "select event_id, ts, user_id, event_type, value from events "
                "where :cursor is null or event_id >= :cursor"
            ),
            cursor=cursor,
        ),
        destination="file",
        stream="raw",
        credentials={"directory": str(out_dir)},
    )


def test_chunk_ranges_cover_domain(spark, testdata):
    df = testdata["events"]
    ranges = plan_cursor_chunks(df, "event_id", 4)[0]
    assert ranges[0][0] is None and ranges[-1][1] is None
    # interior bounds ascend
    interior = [hi for _, hi in ranges[:-1]]
    assert interior == sorted(interior)


def test_distributed_sync_full_then_incremental(spark, tmp_path):
    load_tables(spark, SF_SMOKE)
    store = InMemoryStore()
    out = tmp_path / "out"
    result = run_sync_distributed(spark, _sync(out), store, num_chunks=4)
    rows = _read_ndjson_dir(out)
    assert len(rows) == 1000
    assert result.stats.received == 1000 and result.stats.success == 1000
    assert result.checkpoints >= 2  # chunked commits happened
    assert result.last_cursor == 999
    assert store.get(["syncId=dist1", "$lastCursor=event_id"])["val"] == 999
    # ISO-millis date format at the sink boundary
    assert rows[0]["ts"].endswith("Z") and "." in rows[0]["ts"]

    # incremental second run: inclusive >= re-emits only the boundary row
    out2 = tmp_path / "out2"
    sync2 = _sync(out2)
    result2 = run_sync_distributed(spark, sync2, store, num_chunks=4)
    rows2 = _read_ndjson_dir(out2)
    assert [r["event_id"] for r in rows2] == [999]
    assert result2.stats.received == 1


def test_distributed_resume_after_mid_run_crash(spark, tmp_path, monkeypatch):
    """Crash after N chunks → restart resumes from the committed cursor."""
    load_tables(spark, SF_SMOKE)
    store = InMemoryStore()
    out = tmp_path / "out"

    calls = {"n": 0}
    from syncmaven_spark.sinks import file as file_mod

    orig = file_mod.write_ndjson_distributed

    def flaky(df, path, mode="overwrite"):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated crash during chunk 3")
        return orig(df, path, mode)

    monkeypatch.setattr(file_mod, "write_ndjson_distributed", flaky)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_sync_distributed(spark, _sync(out), store, num_chunks=5)

    committed = store.get(["syncId=dist1", "$lastCursor=event_id"])
    assert committed is not None  # chunks 1-2 committed their cursor
    crash_cursor = committed["val"]
    assert 0 < crash_cursor < 999

    monkeypatch.setattr(file_mod, "write_ndjson_distributed", orig)
    out2 = tmp_path / "resume"
    result = run_sync_distributed(spark, _sync(out2), store, num_chunks=5)
    rows = _read_ndjson_dir(out2)
    # resumed run covers everything from the committed cursor (inclusive)
    assert min(r["event_id"] for r in rows) == crash_cursor
    assert max(r["event_id"] for r in rows) == 999
    assert result.last_cursor == 999


def test_distributed_validation_threshold(spark, tmp_path):
    """Rows failing the declared schema are skipped and counted at scale."""
    spark.sql(
        "select id as event_id, cast(null as string) as required_field from range(50)"
    ).createOrReplaceTempView("bad_rows")
    sync = SyncDefinition(
        id="dist_validate",
        model=ModelDefinition(id="m", query="select * from bad_rows"),
        destination="file",
        stream="raw",
        credentials={"directory": str(tmp_path / "o")},
    )
    # file sink accepts anything → all rows valid
    result = run_sync_distributed(spark, sync, InMemoryStore())
    assert result.stats.success == 50


def test_distributed_foreach_partition_http(spark, tmp_path):
    """Non-file sinks deliver via foreachPartition (stateless http)."""
    import http.server
    import threading

    received = []
    recv_lock = threading.Lock()

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with recv_lock:
                received.append(json.loads(body))
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *a):
            pass

    # Threading server: foreachPartition fires concurrent POSTs (one per
    # partition) and a single-threaded HTTPServer resets connections when
    # its accept backlog overflows under host load — observed as a flaky
    # ConnectionResetError in the full-suite run. Even threaded, the
    # default socketserver listen backlog is 5, which a burst of
    # simultaneous connects can still overflow on a loaded host; raise it,
    # and cap delivery concurrency via the source partition count so the
    # test exercises the executor path without a 20-way connect storm.
    class Srv(http.server.ThreadingHTTPServer):
        request_queue_size = 128

    srv = Srv(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        spark.sql(
            "select id, id * 2 as v from range(0, 20, 1, 4)"
        ).createOrReplaceTempView("http_dist_src")
        sync = SyncDefinition(
            id="dist_http",
            model=ModelDefinition(id="m", query="select * from http_dist_src"),
            destination="http",
            stream="default",
            credentials={
                "url": f"http://127.0.0.1:{srv.server_port}/hook",
                "format": "array",
                "batchSize": 50,
            },
        )
        result = run_sync_distributed(spark, sync, InMemoryStore())
        assert result.stats.success == 20
        got = sorted(r["id"] for batch in received for r in batch)
        assert got == list(range(20))
    finally:
        srv.shutdown()


def test_distributed_enrichment_expands_rows(spark, tmp_path):
    """Enrichments run executor-parallel on the scale path (row → 0..N via
    mapInPandas), outputs are re-validated, and success counts what was
    actually written after expansion."""
    from syncmaven_spark.enrich import CallableEnrichment

    load_tables(spark, SF_SMOKE)
    out_dir = str(tmp_path / "enriched_out")

    def fan_out(row):
        twin = dict(row)
        twin["event_id"] = row["event_id"] + 1_000_000
        return [row, twin]

    sync = SyncDefinition(
        id="dist_enrich",
        model=ModelDefinition(
            id="m",
            query=(
                "select event_id, ts, user_id, event_type, value from events "
                "where (:cursor is null or event_id >= :cursor) "
                "and event_id < 20"
            ),
            cursor="event_id",
        ),
        destination="file",
        stream="raw",
        credentials={"directory": out_dir},
        enrichments=[CallableEnrichment(fan_out)],
    )
    result = run_sync_distributed(spark, sync, InMemoryStore(), num_chunks=3)
    rows = _read_ndjson_dir(out_dir)
    assert result.stats.received == 40       # rows handed to the sink
    assert result.stats.success == 40        # written after 1→2 expansion
    assert len(rows) == 40
    ids = sorted(r["event_id"] for r in rows)
    assert ids[:20] == list(range(20))
    assert ids[20:] == [i + 1_000_000 for i in range(20)]
    # cursor tracks the SOURCE column, not enriched twins
    assert result.last_cursor == 19


def test_distributed_stateful_sink_falls_back_to_parity(spark):
    """A state-backed (non-stateless) sink must not take the foreachPartition
    path: per-partition scratch stores would discard ID-map state and re-run
    restart semantics once per partition. The scale path auto-falls-back to
    parity delivery against the driver-local store."""
    from syncmaven_spark.sinks.base import (
        DestinationProvider,
        OutputStream,
        StreamSpec,
    )

    stores_seen = []

    class StatefulStream(OutputStream):
        def __init__(self, store):
            super().__init__()
            self._store = store

        def handle_row(self, row):
            self.stats.received += 1
            self._store.set(["ids", str(row["id"])], True)
            self.stats.success += 1

        def finish(self):
            return self.stats

    class StatefulDestination(DestinationProvider):
        name = "stateful"  # stateless defaults to False

        def streams(self):
            return [StreamSpec(name="s", row_type={"type": "object"})]

        def create_output_stream(
            self, stream_name, credentials, sync_id, store,
            full_refresh=False, restart=False, options=None,
        ):
            stores_seen.append(store)
            return StatefulStream(store)

    store = InMemoryStore()
    spark.sql("select id from range(10)").createOrReplaceTempView("stateful_src")
    sync = SyncDefinition(
        id="dist_stateful",
        model=ModelDefinition(id="m", query="select * from stateful_src"),
        destination=StatefulDestination(),
        stream="s",
        credentials={},
    )
    result = run_sync_distributed(spark, sync, store)
    assert result.stats.success == 10
    # parity delivery: exactly one stream, against the DRIVER store
    assert stores_seen == [store]
    assert sum(1 for _ in store.stream(["ids"])) == 10


STRICT_EVENT_SCHEMA = {
    "type": "object",
    "properties": {"event_id": {"type": "integer"}},
    "required": ["event_id"],
}


def _make_invalid_twin_enrichment():
    """1 → 2 expansion where the twin fails the stream schema. Built inside
    a factory so cloudpickle serializes the function by value (a module-level
    test function would pickle by reference and fail to import on workers)."""
    from syncmaven_spark.enrich import CallableEnrichment

    def fan_out(row):
        twin = dict(row)
        twin["event_id"] = None
        return [row, twin]

    return CallableEnrichment(fan_out)


def test_distributed_file_revalidation_drops_counted(spark, tmp_path):
    """Enriched rows dropped by re-validation surface in stats.skipped on
    the distributed FILE path (they never reach the written output, but
    must not vanish from the received/success/skipped/failed ledger)."""
    from syncmaven_spark.sinks.base import StreamSpec
    from syncmaven_spark.sinks.file import FileDestination

    class StrictFileDestination(FileDestination):
        def streams(self):
            return [StreamSpec(name="raw", row_type=STRICT_EVENT_SCHEMA)]

    load_tables(spark, SF_SMOKE)
    out_dir = str(tmp_path / "drop_out")
    sync = SyncDefinition(
        id="dist_drops_file",
        model=ModelDefinition(
            id="m",
            query=(
                "select event_id from events where "
                "(:cursor is null or event_id >= :cursor) and event_id < 20"
            ),
            cursor="event_id",
        ),
        destination=StrictFileDestination(),
        stream="raw",
        credentials={"directory": out_dir},
        enrichments=[_make_invalid_twin_enrichment()],
    )
    result = run_sync_distributed(spark, sync, InMemoryStore(), num_chunks=2)
    assert len(_read_ndjson_dir(out_dir)) == 20  # valid originals only
    assert result.stats.received == 20
    assert result.stats.success == 20
    assert result.stats.skipped == 20  # the dropped twins


@pytest.mark.parametrize(
    "run",
    [
        pytest.param(run_sync, id="run_sync"),
        pytest.param(
            partial(run_sync_distributed, num_chunks=2),
            id="run_sync_distributed",
        ),
    ],
)
def test_distributed_foreach_revalidation_drops_counted(spark, tmp_path, run):
    """Same ledger contract on the foreachPartition (stateless sink) path
    and on the parity driver's row path."""
    from syncmaven_spark.sinks.base import (
        DestinationProvider,
        OutputStream,
        StreamSpec,
    )

    class CountingStream(OutputStream):
        def handle_row(self, row):
            self.stats.received += 1
            self.stats.success += 1

        def finish(self):
            return self.stats

    class CountingDestination(DestinationProvider):
        name = "counting"
        stateless = True

        def streams(self):
            return [StreamSpec(name="s", row_type=STRICT_EVENT_SCHEMA)]

        def create_output_stream(
            self, stream_name, credentials, sync_id, store,
            full_refresh=False, restart=False, options=None,
        ):
            return CountingStream()

    load_tables(spark, SF_SMOKE)
    sync = SyncDefinition(
        id="dist_drops_foreach",
        model=ModelDefinition(
            id="m",
            query=(
                "select event_id from events where "
                "(:cursor is null or event_id >= :cursor) and event_id < 20 "
                "order by event_id"
            ),
            cursor="event_id",
        ),
        destination=CountingDestination(),
        stream="s",
        credentials={},
        enrichments=[_make_invalid_twin_enrichment()],
    )
    result = run(spark, sync, InMemoryStore())
    assert result.stats.success == 20
    assert result.stats.skipped == 20


def test_distributed_sync_timestamp_cursor(spark, tmp_path):
    """Full chunked sync keyed on the TIMESTAMP column: chunk planning runs
    in the micros domain, the persisted cursor round-trips as a datetime,
    and the incremental second run re-emits exactly the max-ts rows
    (inclusive >=). Timestamp cursors previously planned chunks through a
    cast-to-double that defeated parquet pushdown entirely."""
    import datetime as dt

    load_tables(spark, SF_SMOKE)
    store = InMemoryStore()
    out = tmp_path / "out"
    sync = SyncDefinition(
        id="dist_ts",
        model=ModelDefinition(
            id="m",
            query=(
                "select event_id, ts, user_id, event_type, value from events "
                "where :cursor is null or ts >= :cursor"
            ),
            cursor="ts",
        ),
        destination="file",
        stream="raw",
        credentials={"directory": str(out)},
    )
    result = run_sync_distributed(spark, sync, store, num_chunks=5)
    rows = _read_ndjson_dir(out)
    assert len(rows) == 1000 and result.checkpoints >= 2
    assert isinstance(result.last_cursor, dt.datetime)

    out2 = tmp_path / "out2"
    sync2 = SyncDefinition(
        id="dist_ts", model=sync.model, destination="file", stream="raw",
        credentials={"directory": str(out2)},
    )
    result2 = run_sync_distributed(spark, sync2, store, num_chunks=5)
    rows2 = _read_ndjson_dir(out2)
    max_ts = max(r["ts"] for r in rows)
    assert {r["ts"] for r in rows2} == {max_ts}
    assert result2.stats.received == len(rows2) >= 1


def test_deliver_partitions_row_error_continues(spark):
    """Round-5 review: a sink-declared RowError on the executor path must
    count failed and continue — before, it failed (and Spark retried) the
    whole task, re-POSTing every prior row of the partition."""
    from syncmaven_spark.runner import deliver_partitions
    from syncmaven_spark.sinks.base import (
        ANY_OBJECT_SCHEMA,
        DestinationProvider,
        OutputStream,
        RowError,
        StreamSpec,
    )

    class RejectingStream(OutputStream):
        def handle_row(self, row):
            self.stats.received += 1
            if row["k"] % 3 == 0:
                raise RowError(f"rejected {row['k']}")
            self.stats.success += 1

    class RejectingDest(DestinationProvider):
        name = "rejecting"
        stateless = True

        def streams(self):
            return [StreamSpec(name="s", row_type=ANY_OBJECT_SCHEMA)]

        def create_output_stream(self, *a, **kw):
            return RejectingStream()

    df = spark.range(0, 30).selectExpr("id AS k").repartition(4)
    sc = spark.sparkContext
    acc = {n: sc.accumulator(0) for n in ("received", "success", "skipped", "failed")}
    deliver_partitions(
        df, RejectingDest(), "s", {}, "sync1", {}, restart=False, stats_acc=acc
    )
    assert acc["received"].value == 30
    assert acc["success"].value == 20   # 10 of 30 are divisible by 3
    assert acc["failed"].value == 10


def test_distributed_string_cursor_single_chunk(spark, tmp_path):
    spark.sql(
        "select concat('k', lpad(cast(id as string), 3, '0')) as skey, id as v "
        "from range(40)"
    ).createOrReplaceTempView("str_cursor_src")
    sync = SyncDefinition(
        id="strcur",
        model=ModelDefinition(
            id="m",
            query="select * from str_cursor_src where :cursor is null or skey >= :cursor",
            cursor="skey",
        ),
        destination="file",
        stream="raw",
        credentials={"directory": str(tmp_path / "o")},
    )
    result = run_sync_distributed(spark, sync, InMemoryStore(), num_chunks=4)
    # string cursor → no double-cast chunking; every row delivered
    assert result.stats.success == 40
    assert result.last_cursor == "k039"


def test_distributed_zero_cursor_persisted(spark, tmp_path):
    spark.sql("select id - 5 as c, id as v from range(6)").createOrReplaceTempView(
        "zero_src"
    )  # cursor values -5..0 → max is 0 (falsy!)
    store = InMemoryStore()
    sync = SyncDefinition(
        id="zerocur",
        model=ModelDefinition(
            id="m",
            query="select * from zero_src where :cursor is null or c >= :cursor",
            cursor="c",
        ),
        destination="file",
        stream="raw",
        credentials={"directory": str(tmp_path / "z")},
    )
    result = run_sync_distributed(spark, sync, store, num_chunks=1)
    assert result.last_cursor == 0
    assert store.get(["syncId=zerocur", "$lastCursor=c"])["val"] == 0
