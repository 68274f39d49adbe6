"""Enrichment stage tests (protocol semantics + mapInPandas scale path)."""

from syncmaven_spark.enrich import CallableEnrichment, HttpEnrichment, enrich_dataframe
from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
from syncmaven_spark.state import InMemoryStore


def test_http_enrichment_with_transport():
    def transport(url, row):
        return [{**row, "enriched": True}, {**row, "enriched": False}]

    e = HttpEnrichment("http://x.test/enrich", transport=transport)
    out = e.enrich({"id": 1})
    assert len(out) == 2 and out[0]["enriched"] is True


def test_http_enrichment_scalar_and_null_results():
    e1 = HttpEnrichment("http://x", transport=lambda u, r: {"id": 1})
    assert e1.enrich({}) == [{"id": 1}]
    e2 = HttpEnrichment("http://x", transport=lambda u, r: None)
    assert e2.enrich({}) == []


def test_runner_applies_enrichment_expansion(spark, tmp_path):
    spark.createDataFrame([(1,), (2,)], ["id"]).createOrReplaceTempView("enrich_src")
    out_file = tmp_path / "out.ndjson"
    sync = SyncDefinition(
        id="e1",
        model=ModelDefinition(id="m", query="select * from enrich_src order by id"),
        destination="file",
        stream="raw",
        credentials={"filename": str(out_file)},
        enrichments=[
            CallableEnrichment(lambda row: [dict(row, copy=i) for i in range(2)])
        ],
    )
    result = run_sync(spark, sync, InMemoryStore())
    lines = out_file.read_text().splitlines()
    assert len(lines) == 4  # 2 rows × 2 enriched copies
    assert result.stats.received == 4


def test_runner_drops_rows_on_enrichment_error(spark, tmp_path):
    spark.createDataFrame([(1,), (2,), (3,)], ["id"]).createOrReplaceTempView("enrich_src2")

    def boom(row):
        if row["id"] == 2:
            raise RuntimeError("enrichment failed")
        return [row]

    out_file = tmp_path / "out.ndjson"
    sync = SyncDefinition(
        id="e2",
        model=ModelDefinition(id="m", query="select * from enrich_src2 order by id"),
        destination="file",
        stream="raw",
        credentials={"filename": str(out_file)},
        enrichments=[CallableEnrichment(boom)],
    )
    run_sync(spark, sync, InMemoryStore())
    ids = [line for line in out_file.read_text().splitlines()]
    assert len(ids) == 2 and '"id":2' not in out_file.read_text()


def test_enrich_dataframe_map_in_pandas(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"])

    def factory():
        return CallableEnrichment(
            lambda row: [] if row["id"] == 2 else [row, {**row, "v": row["v"].upper()}]
        )

    out = enrich_dataframe(df, factory)
    rows = {(r.id, r.v) for r in out.collect()}
    assert rows == {(1, "a"), (1, "A"), (3, "c"), (3, "C")}


def test_enrichment_generator_failure_drops_whole_row(spark):
    """A generator enrichment raising mid-iteration drops the SOURCE row's
    entire output (reference applyEnrichment catch) — the rows yielded
    before the error must not be delivered (they'd double up on
    restarts)."""
    class ExplodingEnrichment:
        def enrich(self, row):
            yield dict(row, part=1)
            if row["id"] == 2:
                raise RuntimeError("boom mid-expansion")
            yield dict(row, part=2)

    df = spark.createDataFrame([(1,), (2,), (3,)], "id long").withColumn(
        "part", __import__("pyspark").sql.functions.lit(0)
    )
    out = enrich_dataframe(df, lambda: ExplodingEnrichment()).collect()
    got = sorted((r.id, r.part) for r in out)
    # row 2 contributes NOTHING — not even its first yielded expansion
    assert got == [(1, 1), (1, 2), (3, 1), (3, 2)]


def test_enrich_dataframe_hands_datetime_objects_to_enrichment(spark):
    """Distributed enrichments received temporal
    values as ISO STRINGS (JSON boundary) while the parity path hands
    datetime objects — an enrichment using row['ts'].year raised on every
    row and the rows were silently dropped."""
    import datetime as dt


    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1, 12, 0, 0), dt.date(2024, 3, 1))],
        "id long, ts timestamp, d date",
    )

    def fn(row):
        # the parity-path contract: temporal columns are objects
        assert isinstance(row["ts"], dt.datetime), type(row["ts"])
        assert isinstance(row["d"], dt.date), type(row["d"])
        assert row["ts"].year == 2024
        return [row]

    out = enrich_dataframe(df, lambda: CallableEnrichment(fn)).collect()
    assert len(out) == 1
    assert out[0]["ts"] == dt.datetime(2024, 3, 1, 12, 0, 0)
    assert out[0]["d"] == dt.date(2024, 3, 1)
