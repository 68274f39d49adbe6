"""Property tests: sliding-window chunking reconstructs the token stream;
md5 hash sampling is a pure deterministic predicate (Spark ≡ hashlib)."""

import hashlib
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

CHUNK, STRIDE = 32, 16

word = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
doc_words = st.lists(word, min_size=0, max_size=90)


def _chunks_spark(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    words = F.split("text", " ")
    return (
        df.select(
            "doc_id",
            words.alias("words"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(words) - F.lit(1), F.lit(0)),
                    F.lit(STRIDE),
                )
            ).alias("chunk_start"),
        )
        .select(
            "doc_id",
            "chunk_start",
            F.slice("words", F.col("chunk_start") + 1, F.lit(CHUNK)).alias("chunk"),
        )
        .collect()
    )


@pytest.mark.usefixtures("spark")
@given(docs=st.lists(doc_words, min_size=1, max_size=4))
@settings(max_examples=10, deadline=None)
def test_chunks_cover_and_overlap_exactly(spark, docs):
    texts = [" ".join(ws) for ws in docs]
    rows = _chunks_spark(spark, texts)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in enumerate(texts):
        words = text.split(" ")  # "" splits to [''] — matches Spark's split
        got = sorted(by_doc[i], key=lambda r: r["chunk_start"])
        # chunk starts are exactly 0, STRIDE, ... ≤ max(len-1, 0)
        assert [r["chunk_start"] for r in got] == list(
            range(0, max(len(words) - 1, 0) + 1, STRIDE)
        )
        for r in got:
            assert r["chunk"] == words[r["chunk_start"] : r["chunk_start"] + CHUNK]
        # stride-aligned reconstruction: taking the first STRIDE tokens of
        # each chunk (all of the last) rebuilds the doc exactly
        rebuilt = []
        for j, r in enumerate(got):
            take = len(r["chunk"]) if j == len(got) - 1 else STRIDE
            rebuilt.extend(r["chunk"][:take])
        assert rebuilt == words


@pytest.mark.usefixtures("spark")
@given(ids=st.lists(st.integers(0, 10**12), min_size=1, max_size=40, unique=True))
@settings(max_examples=10, deadline=None)
def test_hash_sample_matches_hashlib(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    sampled = {
        r["doc_id"]
        for r in df.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
                "0", "1", "2", "3"
            )
        ).collect()
    }
    expected = {
        i for i in ids if hashlib.md5(str(i).encode()).hexdigest()[0] in "0123"
    }
    assert sampled == expected


def test_chunk_predicates_push_down_natively(spark, tmp_path):
    """Chunk range predicates compare the RAW cursor column to literals of
    its own type: round 3 wrapped the column in cast-to-double, which
    blocked parquet filter pushdown entirely for timestamp cursors (and
    was an analysis ERROR for date cursors in Spark 4)."""
    from pyspark.sql import functions as F

    from syncmaven_spark.runner import iter_cursor_chunks

    src = spark.sql(
        "select timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) "
        "as ts, date_add(date'2024-01-01', cast(id as int)) as d, id "
        "from range(1000)"
    )
    path = str(tmp_path / "t")
    src.write.parquet(path)
    df = spark.read.parquet(path)

    for cursor in ("ts", "d", "id"):
        chunks = list(iter_cursor_chunks(df, cursor, 4))
        assert len(chunks) == 4
        total = 0
        for i, (chunk, _hi) in enumerate(chunks):
            plan = chunk._jdf.queryExecution().executedPlan().toString()
            pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
            if i > 0:  # interior chunks carry a pushed lower bound
                assert f"GreaterThan({cursor}" in pushed, (cursor, pushed)
            total += chunk.count()
        assert total == 1000  # chunks partition the table exactly


def test_date_cursor_chunking(spark):
    """Date cursors plan real chunks (unix_date domain) — they previously
    crashed at analysis (cannot cast DATE to DOUBLE)."""
    from syncmaven_spark.runner import plan_cursor_chunks

    df = spark.sql(
        "select date_add(date'2024-01-01', cast(id as int)) as d from range(365)"
    )
    ranges, total = plan_cursor_chunks(df, "d", 4)
    assert total == 365
    assert len(ranges) == 4
    assert plan_cursor_chunks(df, "d", 1)[0] == [(None, None)]


@pytest.mark.usefixtures("spark")
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-(10**9), 10**9)),
        min_size=0,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=10, deadline=None)
def test_cursor_chunks_partition_rows_exactly(spark, vals, k):
    """Property: cursor-range chunks are an exact partition of the input —
    every row lands in exactly one chunk — for any mix of nulls,
    negatives, and duplicate cursor values, at any chunk count
    (duplicate-heavy inputs collapse boundaries; nulls ride chunk 0)."""
    from syncmaven_spark.runner import iter_cursor_chunks

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, c long"
    )
    ids = [
        r.i
        for chunk_df, _hi in iter_cursor_chunks(df, "c", k)
        for r in chunk_df.select("i").collect()
    ]
    assert sorted(ids) == list(range(len(vals)))


def test_chunk_input_cache_scoped_to_sync(spark, tmp_path):
    """Round-5 perf: the bounded input cache a multi-chunk sync takes out
    must be released by sync end (success AND failure paths), and
    cache_input_max_rows=0 must disable it entirely."""
    from syncmaven_spark.runner import (
        ModelDefinition,
        SyncDefinition,
        run_sync_distributed,
    )
    from syncmaven_spark.state import InMemoryStore

    df = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS v")
    df.createOrReplaceTempView("cache_scope_src")

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_cached()
    sync = SyncDefinition(
        id="cs",
        model=ModelDefinition(
            id="m",
            query="select k, v from cache_scope_src "
            "where :cursor is null or k >= :cursor",
            cursor="k",
        ),
        destination="file",
        stream="raw",
        credentials={"directory": str(tmp_path / "out")},
    )
    res = run_sync_distributed(spark, sync, InMemoryStore(), num_chunks=4)
    assert res.checkpoints == 4 and res.stats.success == 5000
    assert n_cached() == before, "input cache leaked past the sync"

    res2 = run_sync_distributed(
        spark, sync, InMemoryStore(), full_refresh=True, num_chunks=4,
        cache_input_max_rows=0,
    )
    assert res2.stats.success == 5000
    assert n_cached() == before
