"""End-to-end type-surface coverage for the sync loop.

Decimal cursors and bytearray (BinaryType) rows each crashed only
end-to-end, in the parity encoder (test_review_regressions pins both);
these tests pin the rest of the probed surface so new row/cursor types
keep working through the WHOLE loop: query compile, cursor persistence,
validation, and sink serialization.
"""

import json

import pytest

from syncmaven_spark.runner import (
    ModelDefinition,
    SyncDefinition,
    run_sync,
    run_sync_distributed,
)
from syncmaven_spark.state import InMemoryStore


@pytest.fixture(scope="module")
def spark():
    from syncmaven_spark import get_spark

    return get_spark(shuffle_partitions=4)


def _sync(query, cursor, credentials):
    return SyncDefinition(
        id="ts1",
        model=ModelDefinition(id="m", query=query, cursor=cursor),
        destination="file",
        stream="raw",
        credentials=credentials,
    )


def test_timestamp_ntz_cursor_two_run_boundary(spark, tmp_path):
    spark.sql(
        "select timestamp_ntz'2024-01-01 00:00:00' + "
        "make_interval(0,0,0,0,0,0,id) as ts_ntz, id from range(4)"
    ).createOrReplaceTempView("ntz_src")
    store = InMemoryStore()
    sync = _sync(
        "select ts_ntz, id from ntz_src where :cursor is null "
        "or ts_ntz >= :cursor order by ts_ntz",
        "ts_ntz",
        {"filename": str(tmp_path / "out.ndjson")},
    )
    assert run_sync(spark, sync, store).stats.success == 4
    # inclusive >= boundary: exactly the max row re-emitted
    assert run_sync(spark, sync, store).stats.success == 1
    last = json.loads((tmp_path / "out.ndjson").read_text().splitlines()[-1])
    assert last["ts_ntz"] == "2024-01-01T00:00:03.000Z"


def test_nested_temporal_decimal_binary_columns(spark, tmp_path):
    """struct/array/map values containing timestamps, decimals, dates, and
    binary all serialize through the parity sink with the documented JSON
    images (ISO-millis, JS numbers, utf-8 text)."""
    spark.sql(
        "select id, named_struct('when', timestamp'2024-01-01 10:00:00', "
        "'amt', cast(1.50 as decimal(8,2))) as meta, "
        "array(date'2024-03-01', date'2024-03-02') as dates, "
        "map('k', cast('v' as binary)) as attrs from range(2)"
    ).createOrReplaceTempView("nested_src")
    store = InMemoryStore()
    sync = _sync(
        "select * from nested_src where :cursor is null or id >= :cursor "
        "order by id",
        "id",
        {"filename": str(tmp_path / "out.ndjson")},
    )
    assert run_sync(spark, sync, store).stats.success == 2
    row = json.loads((tmp_path / "out.ndjson").read_text().splitlines()[0])
    assert row["meta"] == {"when": "2024-01-01T10:00:00.000Z", "amt": 1.5}
    assert row["dates"] == [
        "2024-03-01T00:00:00.000Z", "2024-03-02T00:00:00.000Z"
    ]
    assert row["attrs"] == {"k": "v"}


def test_distributed_chunked_sync_decimal_cursor(spark, tmp_path):
    """DecimalType is a chunkable cursor type in _cursor_codec — the whole
    chunk-planning + native-literal-predicate + state loop must work."""
    spark.sql(
        "select cast(id * 1.01 as decimal(12,2)) as amount, id "
        "from range(1000)"
    ).createOrReplaceTempView("decd_src")
    store = InMemoryStore()
    sync = _sync(
        "select amount, id from decd_src where :cursor is null "
        "or amount >= :cursor",
        "amount",
        {"directory": str(tmp_path / "out")},
    )
    r1 = run_sync_distributed(spark, sync, store, num_chunks=4)
    assert r1.stats.success == 1000
    assert r1.checkpoints >= 2  # genuinely chunked
    r2 = run_sync_distributed(spark, sync, store, num_chunks=4)
    assert r2.stats.success == 1  # inclusive boundary row only
