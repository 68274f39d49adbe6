"""Golden-file sync harness — the reference's core correctness test.

Reproduces packages/core/__tests__/integration/integration.test.ts:30-202:
seed part1 (ids 1-5) → sync to file NDJSON → byte-compare → seed part2
(ids 6-7) → sync again with persisted state → byte-compare incremental
output. Both int-cursor and date-cursor variants; the inclusive ``>=``
predicate re-emits the boundary row(s).
"""

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
