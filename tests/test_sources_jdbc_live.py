"""LIVE JDBC round-trip through an embedded Apache Derby database.

Every other JDBC/warehouse test in this repo stops at the option contract
(no credentials or server in the sandbox); this one actually executes
``spark.read.format("jdbc")`` end-to-end against the Derby engine that
ships on Spark's own classpath (``$SPARK_HOME/jars/derby*.jar`` backs the
built-in Hive metastore), reproducing the reference's dockerized-postgres
integration harness (``packages/core/__tests__/integration/
integration.test.ts:30-202``): seed part1 → sync to NDJSON via a
persisted cursor → seed part2 → re-sync incrementally, with the compiled
model SQL pushed down VERBATIM to the warehouse through the JDBC
``query`` option.

Derby lexes as strict ANSI (the ``derby`` dialect: '' doubling, literal
backslashes, double-quoted identifiers), so this also live-tests the
dialect-keyed literal encoding on a real non-Spark parser.
"""

import glob
import os

import pytest

from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
from syncmaven_spark.sources.registry import GenericJdbcSource, create_datasource
from syncmaven_spark.state import InMemoryStore

from tests.conftest import COLUMNS, PART1, PART2, _expected_line

_SPARK_JARS = os.path.join(
    os.path.dirname(__import__("pyspark").__file__), "jars"
)

pytestmark = pytest.mark.skipif(
    not glob.glob(os.path.join(_SPARK_JARS, "derby-*.jar")),
    reason="Derby jar not on the Spark classpath",
)


def _seed_derby(spark, url: str, rows) -> None:
    """(Re)create and fill the test table over plain JDBC — DDL/DML the
    Spark JDBC *reader* cannot issue, exactly like the reference harness
    seeding postgres outside the engine under test."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate("DROP TABLE syncmaven_test_table")
        except Exception:
            pass  # first run: table does not exist yet
        # quoted lowercase column names: "time" is reserved unquoted, and
        # the golden files expect lowercase keys in the NDJSON output
        cols = ", ".join(
            f'"{c}" {t}'
            for c, t in zip(
                COLUMNS,
                [
                    "BIGINT",
                    "TIMESTAMP",
                    "VARCHAR(32)",
                    "BIGINT",
                    "BIGINT",
                    "BIGINT",
                    "BIGINT",
                    "VARCHAR(32)",
                    "VARCHAR(32)",
                ],
            )
        )
        st.executeUpdate(f"CREATE TABLE syncmaven_test_table ({cols})")
        st.close()
        ps = conn.prepareStatement(
            "INSERT INTO syncmaven_test_table VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)"
        )
        for row in rows:
            for i, v in enumerate(row, start=1):
                if i == 2:  # the timestamp column
                    ts = v.strftime("%Y-%m-%d %H:%M:%S.") + f"{v.microsecond:06d}"
                    ps.setTimestamp(i, jvm.java.sql.Timestamp.valueOf(ts))
                elif v is None:
                    ps.setNull(i, jvm.java.sql.Types.VARCHAR)
                elif isinstance(v, int):
                    ps.setLong(i, v)
                else:
                    ps.setString(i, v)
            ps.executeUpdate()
        ps.close()
        conn.commit()
    finally:
        conn.close()


def _sync_def(url: str, cursor_col: str, out_path, sync_id: str) -> SyncDefinition:
    # Derby rejects the untyped NULL keyword in expression position, so the
    # reference's one-template first-run (`NULL is null or ...`) cannot
    # parse there: a Derby model uses a bare >= guard with a seeded initial
    # cursor (epoch / 0) instead — the tests below seed it.
    cols = ", ".join(f'"{c}"' for c in COLUMNS)
    query = (
        f"select {cols} from syncmaven_test_table "
        f'where "{cursor_col}" >= :cursor order by "id" asc'
    )
    return SyncDefinition(
        id=sync_id,
        model=ModelDefinition(
            id="m", query=query, cursor=cursor_col, datasource=url
        ),
        destination="file",
        stream="raw",
        credentials={"filename": str(out_path)},
    )


@pytest.mark.parametrize(
    "cursor_col,part2_expected_ids",
    [
        ("id", [5, 6, 7]),  # int cursor: boundary row 5 re-emitted
        ("time", [4, 5, 6, 7]),  # timestamp cursor: ids 4+5 share the max
    ],
)
def test_two_phase_incremental_against_live_derby(
    spark, tmp_path, cursor_col, part2_expected_ids
):
    import datetime as dt

    from syncmaven_spark.cursor import save_cursor

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    ds = create_datasource(url)
    assert isinstance(ds, GenericJdbcSource) and ds.dialect == "derby"

    store = InMemoryStore()
    sync_id = f"derby_{cursor_col}"
    # seed the initial cursor below every row (see _sync_def: Derby cannot
    # parse the untyped-NULL first-run template)
    save_cursor(
        store,
        sync_id,
        cursor_col,
        0 if cursor_col == "id" else dt.datetime(1970, 1, 1),
    )
    _seed_derby(spark, url, PART1)
    out1 = tmp_path / "part1.ndjson"
    result = run_sync(spark, _sync_def(url, cursor_col, out1, sync_id), store)
    assert result.stats.received == 5
    assert out1.read_text() == "\n".join(_expected_line(r) for r in PART1) + "\n"

    _seed_derby(spark, url, PART1 + PART2)
    out2 = tmp_path / "part2.ndjson"
    result2 = run_sync(spark, _sync_def(url, cursor_col, out2, sync_id), store)
    all_rows = {r[0]: r for r in PART1 + PART2}
    assert (
        out2.read_text()
        == "\n".join(_expected_line(all_rows[i]) for i in part2_expected_ids) + "\n"
    )
    assert result2.stats.received == len(part2_expected_ids)


def test_derby_read_table_and_string_pushdown(spark, tmp_path):
    """read_table loads the whole table; a compiled string literal with a
    quote survives the derby ('' doubling) encoding on a real ANSI parser."""
    url = f"jdbc:derby:{tmp_path}/wh2;create=true"
    _seed_derby(spark, url, PART1)
    ds = create_datasource(url)
    t = ds.read_table(spark, "syncmaven_test_table")
    assert t.count() == 5

    from syncmaven_spark.runner import model_dataframe

    m = ModelDefinition(
        id="m",
        query='select "id" from syncmaven_test_table where "source" = :s',
        datasource=url,
    )
    from syncmaven_spark.runner import compile_model

    compiled = compile_model(m, None, for_spark=False, source_dialect="derby")
    # :s compiles under derby rules; push a value with a quote through
    from syncmaven_spark.sql import SqlQuery

    sql = SqlQuery(m.query, "derby").compile({"s": "google"})
    assert ds.read_query(spark, sql).count() == 3
    sql_quote = SqlQuery(
        'select count(*) as "n" from syncmaven_test_table where "source" = :s',
        "derby",
    ).compile({"s": "it's"})
    assert "''" in sql_quote
    assert ds.read_query(spark, sql_quote).collect()[0].n == 0
    assert compiled  # compile path exercised without substitution too


def test_sync_with_warehouse_backed_state(spark, tmp_path):
    """Cursor state persisted in the SAME live warehouse as the data (the
    reference's postgres-state deployment shape): two-phase incremental
    sync with a JdbcStateStore — the persisted cursor survives a store
    re-open (new connection) and drives the second sync's pushdown."""
    from syncmaven_spark.state import JdbcStateStore, create_store

    url = f"jdbc:derby:{tmp_path}/wh3;create=true"
    _seed_derby(spark, url, PART1)
    store = create_store(url, spark=spark)
    assert isinstance(store, JdbcStateStore)
    import datetime as dt

    from syncmaven_spark.cursor import save_cursor

    save_cursor(store, "wh_state", "id", 0)
    out1 = tmp_path / "p1.ndjson"
    r1 = run_sync(spark, _sync_def(url, "id", out1, "wh_state"), store)
    assert r1.stats.received == 5 and r1.last_cursor == 5
    store.close()

    # re-open: state must have survived in the warehouse table
    store2 = JdbcStateStore(url, spark)
    _seed_derby(spark, url, PART1 + PART2)
    out2 = tmp_path / "p2.ndjson"
    r2 = run_sync(spark, _sync_def(url, "id", out2, "wh_state"), store2)
    assert r2.stats.received == 3  # boundary row 5 + new rows 6, 7
    assert r2.last_cursor == 7
    store2.close()


def test_distributed_chunked_sync_over_live_jdbc(spark, tmp_path):
    """The scale path against a real warehouse: cursor-range chunks are
    planned by one aggregate over the JDBC-backed model DataFrame, and
    each chunk's native-typed range predicate pushes into the remote
    query. Output equals the seeded table exactly."""
    import json

    from syncmaven_spark.cursor import save_cursor
    from syncmaven_spark.runner import run_sync_distributed

    url = f"jdbc:derby:{tmp_path}/wh4;create=true"
    _seed_derby(spark, url, PART1 + PART2)
    store = InMemoryStore()
    save_cursor(store, "derby_dist", "id", 0)
    out = tmp_path / "out"
    sync = SyncDefinition(
        id="derby_dist",
        model=ModelDefinition(
            id="m",
            query=(
                "select "
                + ", ".join(f'"{c}"' for c in COLUMNS)
                + ' from syncmaven_test_table where "id" >= :cursor'
            ),
            cursor="id",
            datasource=url,
        ),
        destination="file",
        stream="raw",
        credentials={"directory": str(out)},
    )
    result = run_sync_distributed(spark, sync, store, num_chunks=3)
    rows = sorted(
        (
            json.loads(line)
            for f in out.glob("*.json")
            for line in f.read_text().splitlines()
        ),
        key=lambda r: r["id"],
    )
    assert [r["id"] for r in rows] == [1, 2, 3, 4, 5, 6, 7]
    assert result.stats.received == 7 and result.checkpoints >= 2
    assert result.last_cursor == 7
    # incremental: only the boundary row re-syncs
    out2 = tmp_path / "out2"
    sync2 = SyncDefinition(
        id="derby_dist", model=sync.model, destination="file", stream="raw",
        credentials={"directory": str(out2)},
    )
    result2 = run_sync_distributed(spark, sync2, store, num_chunks=3)
    assert result2.stats.received == 1


def test_project_cli_sync_against_live_derby(spark, tmp_path, monkeypatch):
    """Full stack: an on-disk project (model file with an env-templated
    jdbc datasource + frontmatter cursor, sync yaml) driven through the
    CLI sync verb against the live warehouse — incremental across two
    invocations with a persisted SQLite state file."""
    from syncmaven_spark import cli
    from syncmaven_spark.state import SqliteStore
    from syncmaven_spark.cursor import save_cursor

    url = f"jdbc:derby:{tmp_path}/wh5;create=true"
    _seed_derby(spark, url, PART1)
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    out1 = tmp_path / "o1.ndjson"
    (tmp_path / "models" / "ev.sql").write_text(
        '-- {{ config "cursor" "id" }}\n'
        '-- {{ config "datasource" "${env.WH_URL}" }}\n'
        'select "id", "source" from syncmaven_test_table '
        'where "id" >= :cursor order by "id" asc\n'
    )
    (tmp_path / "syncs" / "s.yaml").write_text(
        "model: ev\ndestination:\n  package: file\n  credentials:\n"
        f"    filename: {out1}\n"
    )
    monkeypatch.setenv("WH_URL", url)
    state_dir = tmp_path / ".state"
    # Derby's untyped-NULL limitation: seed the initial cursor (see above)
    store = SqliteStore(str(state_dir / "store.sqlite"))
    save_cursor(store, "s", "id", 0)
    store.close()
    assert cli.main(["sync", str(tmp_path), "--state", str(state_dir)]) == 0
    assert len(out1.read_text().splitlines()) == 5

    _seed_derby(spark, url, PART1 + PART2)
    (tmp_path / "syncs" / "s.yaml").write_text(
        "model: ev\ndestination:\n  package: file\n  credentials:\n"
        f"    filename: {tmp_path / 'o2.ndjson'}\n"
    )
    assert cli.main(["sync", str(tmp_path), "--state", str(state_dir)]) == 0
    lines = (tmp_path / "o2.ndjson").read_text().splitlines()
    import json

    assert [json.loads(ln)["id"] for ln in lines] == [5, 6, 7]


def test_derby_literal_encoding_fuzz(spark, tmp_path):
    """Round-trip fuzz of encode_literal('derby') against the LIVE ANSI
    parser: every generated string (quotes, backslashes, percent signs,
    colons, newlines) must come back byte-identical from a VALUES query,
    and timestamp literals must survive the CAST."""
    import datetime as dt
    import itertools
    import random

    from syncmaven_spark.sql import encode_literal

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(
        f"jdbc:derby:{tmp_path}/fuzz;create=true"
    )
    try:
        st = conn.createStatement()
        rng = random.Random(42)
        alphabet = list("ab01 _-%\\'\":;\n$")
        cases = ["", "'", "''", "\\", "\\'", "it's", "C:\\x", "100%"] + [
            "".join(rng.choices(alphabet, k=rng.randint(1, 16)))
            for _ in range(60)
        ]
        for s in cases:
            rs = st.executeQuery(f"VALUES {encode_literal(s, 'derby')}")
            rs.next()
            assert rs.getString(1) == s, repr(s)
        for ts in [
            dt.datetime(2024, 5, 15, 13, 39, 5, 172000),
            dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
            dt.datetime(2024, 1, 1),
        ]:
            rs = st.executeQuery(f"VALUES {encode_literal(ts, 'derby')}")
            rs.next()
            got = rs.getTimestamp(1).toString()  # yyyy-mm-dd hh:mm:ss.f…
            want = ts.strftime("%Y-%m-%d %H:%M:%S") + (
                f".{ts.microsecond:06d}".rstrip("0").rstrip(".") or ".0"
            )
            # java.sql.Timestamp prints at least one fractional digit
            if "." not in want:
                want += ".0"
            assert got == want, (got, want)
        st.close()
    finally:
        conn.close()


def test_crash_resume_with_warehouse_source_and_warehouse_state(
    spark, tmp_path, monkeypatch
):
    """Round-5 addition: the full production failure story on live JDBC at
    BOTH ends — model reads from Derby, cursors persist into a Derby-backed
    JdbcStateStore, the sink dies mid-sync, and the resumed run continues
    from the last warehouse-committed cursor (at-least-once: only the
    boundary row may re-deliver)."""
    import json

    import syncmaven_spark.sinks.file as file_mod
    from syncmaven_spark.cursor import load_cursor, save_cursor
    from syncmaven_spark.runner import run_sync_distributed
    from syncmaven_spark.state import JdbcStateStore

    src_url = f"jdbc:derby:{tmp_path}/wh_src;create=true"
    state_url = f"jdbc:derby:{tmp_path}/wh_state;create=true"
    _seed_derby(spark, src_url, PART1 + PART2)
    store = JdbcStateStore(state_url, spark)
    save_cursor(store, "crash", "id", 0)

    out = tmp_path / "out"
    sync = SyncDefinition(
        id="crash",
        model=ModelDefinition(
            id="m",
            query=(
                "select "
                + ", ".join(f'"{c}"' for c in COLUMNS)
                + ' from syncmaven_test_table where "id" >= :cursor'
            ),
            cursor="id",
            datasource=src_url,
        ),
        destination="file",
        stream="raw",
        credentials={"directory": str(out)},
    )

    orig = file_mod.write_ndjson_distributed
    calls = {"n": 0}

    def flaky(df, path, mode="overwrite"):
        calls["n"] += 1
        if calls["n"] == 3:  # third chunk write dies mid-sync
            raise RuntimeError("sink crashed")
        return orig(df, path, mode)

    monkeypatch.setattr(file_mod, "write_ndjson_distributed", flaky)
    with pytest.raises(RuntimeError, match="sink crashed"):
        run_sync_distributed(spark, sync, store, num_chunks=4)

    # the cursor in the WAREHOUSE store is exactly the last committed
    # chunk's max — crash after 2 committed chunks of 7 rows over 4 ranges
    resumed_from = load_cursor(store, "crash", "id")
    assert 0 < resumed_from < 7, resumed_from

    monkeypatch.setattr(file_mod, "write_ndjson_distributed", orig)
    out2 = tmp_path / "out2"
    sync2 = SyncDefinition(
        id="crash", model=sync.model, destination="file", stream="raw",
        credentials={"directory": str(out2)},
    )
    result = run_sync_distributed(spark, sync2, store, num_chunks=4)
    ids = sorted(
        json.loads(line)["id"]
        for f in out2.glob("*.json")
        for line in f.read_text().splitlines()
    )
    # resume re-reads from the inclusive boundary: everything from the
    # persisted cursor through 7, nothing before it skipped, no gaps
    assert ids == list(range(resumed_from, 8))
    assert result.last_cursor == 7
    assert load_cursor(store, "crash", "id") == 7
