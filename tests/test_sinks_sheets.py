"""Google Sheets sink tests (reference: google-sheets/__tests__/to-table.test.ts)."""

import datetime as dt

import pytest

from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
from syncmaven_spark.sinks.google_sheets import (
    GoogleSheetsDestination,
    format_date_for_sheets,
    to_table,
)
from syncmaven_spark.state import InMemoryStore


def test_to_table_ragged_union_and_types():
    rows = [
        {"a": "x", "n": 1, "flag": True},
        {"a": "y", "n": 2.5, "extra": "later-column"},
        {"a": None, "n": 3, "flag": False, "when": dt.datetime(2024, 5, 15, 1, 2, 3)},
    ]
    table = to_table(rows)
    assert table.header_names == ["a", "n", "flag", "extra", "when"]
    # a: strings + empty → string?; n: all numbers → number;
    # flag: booleans + empty → boolean?; when: date + empties → date?
    assert table.column_types == ["string?", "number", "boolean?", "string?", "date?"]
    assert table.data[0] == ["x", 1, True, None, None]
    assert table.data[1] == ["y", 2.5, None, "later-column", None]


def test_to_table_mixed_type_column_untyped():
    table = to_table([{"m": "s"}, {"m": 5}])
    assert table.column_types == [None]


def test_to_table_rejects_nested():
    with pytest.raises(ValueError):
        to_table([{"bad": {"nested": 1}}])
    with pytest.raises(TypeError):
        to_table(["not-an-object"])


def test_date_format():
    assert format_date_for_sheets(dt.datetime(2024, 5, 15, 13, 39, 5, 172000)) == (
        "2024-05-15 13:39:05"
    )


class FakeSheets:
    def __init__(self):
        self.written = None

    def write_table(self, spreadsheet_id, sheet_name, header, rows):
        self.written = (spreadsheet_id, sheet_name, header, rows)


def test_stream_buffers_all_then_writes():
    client = FakeSheets()
    out = GoogleSheetsDestination().create_output_stream(
        "sheet", {"_client": client, "spreadsheetId": "ss1"}, "s1", InMemoryStore(),
        options={"sheetName": "Data"},
    )
    out.handle_row({"a": 1, "t": dt.datetime(2024, 5, 15, 1, 2, 3)})
    out.handle_row({"a": 2, "b": "x"})
    assert client.written is None  # nothing until finish
    stats = out.finish()
    ss, sheet, header, rows = client.written
    assert (ss, sheet) == ("ss1", "Data")
    assert header == ["a", "t", "b"]
    assert rows == [[1, "2024-05-15 01:02:03", ""], [2, "", "x"]]
    assert stats.success == 2


def test_missing_client_raises_not_implemented():
    with pytest.raises(NotImplementedError):
        GoogleSheetsDestination().create_output_stream(
            "sheet", {"spreadsheetId": "x"}, "s1", InMemoryStore()
        )


def test_live_client_request_payloads():
    """LiveSheetsClient issues the reference's two requests
    (google-sheets.ts:127-154): values.clear on the sheet range, then one
    values.update with valueInputOption=RAW and [header, *rows]."""
    from syncmaven_spark.sinks.google_sheets import LiveSheetsClient

    calls = []

    class FakeCall:
        def __init__(self, kind, kwargs):
            self.kind, self.kwargs = kind, kwargs

        def execute(self):
            calls.append((self.kind, self.kwargs))

    class FakeValues:
        def clear(self, **kw):
            return FakeCall("clear", kw)

        def update(self, **kw):
            return FakeCall("update", kw)

    class FakeService:
        def spreadsheets(self):
            return self

        def values(self):
            return FakeValues()

    client = LiveSheetsClient(service=FakeService())
    client.write_table("sheet-123", "Sheet1", ["a", "b"], [[1, "x"], [2, "y"]])

    assert calls[0] == ("clear", {"spreadsheetId": "sheet-123", "range": "Sheet1"})
    kind, kw = calls[1]
    assert kind == "update"
    assert kw["spreadsheetId"] == "sheet-123"
    assert kw["range"] == "Sheet1"
    assert kw["valueInputOption"] == "RAW"
    assert kw["body"] == {"values": [["a", "b"], [1, "x"], [2, "y"]]}


def test_live_client_missing_library_message():
    from syncmaven_spark.sinks.google_sheets import LiveSheetsClient

    try:
        import googleapiclient  # noqa: F401

        return  # library present — the real path would be exercised live
    except ImportError:
        pass
    import pytest

    with pytest.raises(NotImplementedError, match="googleapiclient"):
        LiveSheetsClient({"client_email": "x"})


class FakeAppendSheets(FakeSheets):
    def __init__(self):
        super().__init__()
        self.appended = []

    def append_rows(self, spreadsheet_id, sheet_name, rows):
        self.appended.append((spreadsheet_id, sheet_name, rows))


def test_streaming_append_mode_chunked_writes():
    """Round-5 task: streamingAppend=true writes per-batch values.append
    with the same date formatting, bounding the driver buffer to one
    batch. First flush = clear + header + batch (write_table), later
    flushes = append_rows."""
    client = FakeAppendSheets()
    out = GoogleSheetsDestination().create_output_stream(
        "sheet", {"_client": client, "spreadsheetId": "ss1"}, "s1",
        InMemoryStore(),
        options={"sheetName": "Data", "streamingAppend": True,
                 "appendBatchSize": 2},
    )
    out.handle_row({"a": 1, "t": dt.datetime(2024, 5, 15, 1, 2, 3)})
    assert client.written is None  # under batch size: nothing yet
    out.handle_row({"a": 2, "t": "2024-05-16T00:00:00Z"})  # ISO parses as date
    ss, sheet, header, rows = client.written
    assert (ss, sheet, header) == ("ss1", "Data", ["a", "t"])
    assert rows == [[1, "2024-05-15 01:02:03"], [2, "2024-05-16 00:00:00"]]
    assert client.appended == []
    out.handle_row({"a": 3})
    out.handle_row({"a": 4, "t": None})
    assert client.appended == [("ss1", "Data", [[3, ""], [4, ""]])]
    out.handle_row({"a": 5})
    stats = out.finish()  # flushes the 1-row remainder
    assert client.appended[-1] == ("ss1", "Data", [[5, ""]])
    assert stats.received == 5 and stats.success == 5
    # at most appendBatchSize rows were ever buffered
    assert out._buf == []


def test_streaming_append_locked_header_rejects_new_column():
    client = FakeAppendSheets()
    out = GoogleSheetsDestination().create_output_stream(
        "sheet", {"_client": client, "spreadsheetId": "ss1"}, "s2",
        InMemoryStore(),
        options={"streamingAppend": True, "appendBatchSize": 1},
    )
    out.handle_row({"a": 1})
    import pytest as _pytest

    with _pytest.raises(ValueError, match="locked header"):
        out.handle_row({"a": 2, "surprise": True})


def test_streaming_append_explicit_columns_and_restart_continuation():
    client = FakeAppendSheets()
    dest = GoogleSheetsDestination()
    opts = {"streamingAppend": True, "appendBatchSize": 10,
            "columns": ["a", "b"]}
    out = dest.create_output_stream(
        "sheet", {"_client": client, "spreadsheetId": "ss1"}, "s3",
        InMemoryStore(), options=opts,
    )
    out.handle_row({"b": "x"})  # missing 'a' fills empty via locked columns
    out.finish()
    assert client.written[2] == ["a", "b"]
    assert client.written[3] == [["", "x"]]
    # checkpoint reopen: same instance, header NOT rewritten — appends
    out2 = dest.create_output_stream(
        "sheet", {"_client": client, "spreadsheetId": "ss1"}, "s3",
        InMemoryStore(), restart=True, options=opts,
    )
    assert out2 is out
    out2.handle_row({"a": 9, "b": "y"})
    stats = out2.finish()
    assert client.appended == [("ss1", None, [[9, "y"]])] or client.appended == [
        ("ss1", "Sheet1", [[9, "y"]])
    ]
    assert stats.success == 1  # delta stats per checkpointed finish


def test_live_client_append_payload():
    from syncmaven_spark.sinks.google_sheets import LiveSheetsClient

    calls = []

    class FakeCall:
        def __init__(self, kind, kwargs):
            self.kind, self.kwargs = kind, kwargs

        def execute(self):
            calls.append((self.kind, self.kwargs))

    class FakeValues:
        def append(self, **kw):
            return FakeCall("append", kw)

    class FakeService:
        def spreadsheets(self):
            return self

        def values(self):
            return FakeValues()

    LiveSheetsClient(service=FakeService()).append_rows(
        "sheet-123", "Sheet1", [[1, "x"]]
    )
    kind, kw = calls[0]
    assert kind == "append"
    assert kw["range"] == "Sheet1"
    assert kw["valueInputOption"] == "RAW"
    assert kw["insertDataOption"] == "INSERT_ROWS"
    assert kw["body"] == {"values": [[1, "x"]]}


def test_streaming_append_through_run_sync(spark):
    """Integration: stream options flow from the SyncDefinition through
    run_sync's parity delivery into the append-mode stream."""
    from syncmaven_spark.runner import (
        ModelDefinition,
        SyncDefinition,
        run_sync,
    )

    client = FakeAppendSheets()
    spark.range(0, 7).selectExpr(
        "id AS k", "concat('u', id) AS name"
    ).createOrReplaceTempView("sheet_rows")
    sync = SyncDefinition(
        id="sheets-append",
        model=ModelDefinition(id="m", query="select k, name from sheet_rows"),
        destination=GoogleSheetsDestination(),
        stream="sheet",
        credentials={"_client": client, "spreadsheetId": "ss9"},
        options={"streamingAppend": True, "appendBatchSize": 3,
                 "sheetName": "Out"},
    )

    result = run_sync(spark, sync, InMemoryStore())
    assert result.stats.success == 7
    # 7 rows at batch 3: header write (3 rows) + appends (3, then 1)
    assert client.written[1] == "Out" and client.written[2] == ["k", "name"]
    assert len(client.written[3]) == 3
    assert [len(r) for _, _, r in client.appended] == [3, 1]
    all_rows = client.written[3] + [row for _, _, rs in client.appended for row in rs]
    assert sorted(r[0] for r in all_rows) == list(range(7))


def test_buffered_stream_reports_undelivered_rows():
    """The fully-buffering stream must expose its buffer as undelivered so
    halt_checkpoint cannot advance the cursor past unwritten rows; after a
    successful finish nothing is pending (round-5 advice)."""
    client = FakeSheets()
    out = GoogleSheetsDestination().create_output_stream(
        "sheet", {"_client": client, "spreadsheetId": "ss1"}, "s1",
        InMemoryStore(), options={"sheetName": "Data"},
    )
    r1, r2 = {"a": 1}, {"a": 2}
    out.handle_row(r1)
    out.handle_row(r2)
    assert out.undelivered_rows() == [r1, r2]
    out.finish()
    assert out.undelivered_rows() == []
    # the instance survives reopens; new rows are pending again
    out.handle_row({"a": 3})
    assert out.undelivered_rows() == [{"a": 3}]
