"""Golden-file sync harness — the reference's core correctness test.

Reproduces packages/core/__tests__/integration/integration.test.ts:30-202:
seed part1 (ids 1-5) → sync to file NDJSON → byte-compare → seed part2
(ids 6-7) → sync again with persisted state → byte-compare incremental
output. Both int-cursor and date-cursor variants; the inclusive ``>=``
predicate re-emits the boundary row(s).
"""

import json

import pytest

from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
from syncmaven_spark.state import InMemoryStore

from tests.conftest import COLUMNS, PART1, PART2, _expected_line

def _seed(spark, rows):
    df = spark.createDataFrame(rows, COLUMNS)
    df.createOrReplaceTempView("syncmaven_test_table")


def _sync_def(cursor_col, out_path, sync_id):
    query = (
        "select * from syncmaven_test_table "
        f"where :cursor is null or {cursor_col} >= :cursor order by id asc"
    )
    return SyncDefinition(
        id=sync_id,
        model=ModelDefinition(id="m", query=query, cursor=cursor_col),
        destination="file",
        stream="raw",
        credentials={"filename": str(out_path)},
    )


@pytest.mark.parametrize(
    "cursor_col,part2_expected_ids",
    [
        ("id", [5, 6, 7]),  # int cursor: boundary row 5 re-emitted
        ("time", [4, 5, 6, 7]),  # date cursor: ids 4+5 share the max timestamp
    ],
)
def test_two_phase_incremental_golden(spark, tmp_path, cursor_col, part2_expected_ids):
    store = InMemoryStore()
    out1 = tmp_path / "part1.ndjson"
    sync_id = f"golden_{cursor_col}"

    _seed(spark, PART1)
    result = run_sync(spark, _sync_def(cursor_col, out1, sync_id), store)
    assert result.stats.received == 5
    expected1 = "\n".join(_expected_line(r) for r in PART1) + "\n"
    assert out1.read_text() == expected1

    # part2: two more rows appear; persisted cursor makes the second sync
    # incremental, re-emitting the inclusive boundary row(s)
    _seed(spark, PART1 + PART2)
    out2 = tmp_path / "part2.ndjson"
    result2 = run_sync(spark, _sync_def(cursor_col, out2, sync_id), store)
    all_rows = {r[0]: r for r in PART1 + PART2}
    expected2 = (
        "\n".join(_expected_line(all_rows[i]) for i in part2_expected_ids) + "\n"
    )
    assert out2.read_text() == expected2
    assert result2.stats.received == len(part2_expected_ids)


def test_full_refresh_clears_cursor(spark, tmp_path):
    store = InMemoryStore()
    sync_id = "golden_fr"
    _seed(spark, PART1)
    out1 = tmp_path / "a.ndjson"
    run_sync(spark, _sync_def("id", out1, sync_id), store)

    out2 = tmp_path / "b.ndjson"
    run_sync(spark, _sync_def("id", out2, sync_id), store, full_refresh=True)
    assert len(out2.read_text().splitlines()) == 5  # full scan again


def test_checkpoint_every_persists_midway(spark, tmp_path):
    store = InMemoryStore()
    _seed(spark, PART1)
    sync = _sync_def("id", tmp_path / "c.ndjson", "golden_ckpt")
    sync.options["checkpointEvery"] = 2
    result = run_sync(spark, sync, store)
    # 5 rows / checkpointEvery 2 → checkpoints after rows 2, 4, + final
    assert result.checkpoints == 3
    assert store.get(["syncId=golden_ckpt", "$lastCursor=id"]) == {
        "type": "integer",
        "val": 5,
    }


def test_missing_cursor_reference_rejected(spark, tmp_path):
    from syncmaven_spark.sql import SqlError

    sync = SyncDefinition(
        id="bad",
        model=ModelDefinition(
            id="m", query="select * from syncmaven_test_table", cursor="id"
        ),
        destination="file",
        stream="raw",
        credentials={"filename": str(tmp_path / "x.ndjson")},
    )
    _seed(spark, PART1)
    with pytest.raises(SqlError):
        run_sync(spark, sync, InMemoryStore())


def test_decimal_cursor_sync_end_to_end(spark, tmp_path):
    """A DECIMAL cursor column must work
    through the WHOLE loop — checkpoint into a persistent (json-backed)
    store, reload, literal-encode into the next run's predicate — not just
    the codec unit tests. Two runs: the second re-emits only the inclusive
    boundary row."""
    import decimal

    from syncmaven_spark.state import create_store

    spark.sql(
        "select cast(id as decimal(12,2)) as amount, id from range(5)"
    ).createOrReplaceTempView("dec_src")
    store = create_store(str(tmp_path / ".state"))
    sync = SyncDefinition(
        id="dec1",
        model=ModelDefinition(
            id="m",
            query="select amount, id from dec_src where :cursor is null "
                  "or amount >= :cursor order by amount",
            cursor="amount",
        ),
        destination="file",
        stream="raw",
        credentials={"filename": str(tmp_path / "out.ndjson")},
    )
    r1 = run_sync(spark, sync, store)
    assert r1.stats.success == 5
    assert r1.last_cursor == decimal.Decimal("4.00")
    r2 = run_sync(spark, sync, store)
    # inclusive >= boundary: exactly the max row re-emitted
    assert r2.stats.success == 1


def test_binary_column_sync_end_to_end(spark, tmp_path):
    """Spark hands BinaryType
    columns to Python as BYTEARRAY (not bytes), which RowJSONEncoder's
    bytes branch missed — any sync selecting a binary column crashed the
    driver-path validator on the first row."""
    spark.sql(
        "select id, cast(concat('blob-', id) as binary) as payload "
        "from range(3)"
    ).createOrReplaceTempView("bin_src")
    store = InMemoryStore()
    sync = SyncDefinition(
        id="bin1",
        model=ModelDefinition(
            id="m",
            query="select id, payload from bin_src where :cursor is null "
                  "or id >= :cursor order by id",
            cursor="id",
        ),
        destination="file",
        stream="raw",
        credentials={"filename": str(tmp_path / "out.ndjson")},
    )
    result = run_sync(spark, sync, store)
    assert result.stats.success == 3
    lines = [json.loads(ln) for ln in
             (tmp_path / "out.ndjson").read_text().splitlines()]
    assert [r["payload"] for r in lines] == ["blob-0", "blob-1", "blob-2"]
