"""As-of join and range join tests."""

import datetime as dt

import pytest

from syncmaven_spark.operators.joins import asof_join, asof_join_grouped, range_join

T = dt.datetime


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            ("A", T(2024, 1, 1, 10, 0, 0), 100),
            ("A", T(2024, 1, 1, 10, 5, 0), 101),
            ("A", T(2024, 1, 1, 9, 0, 0), 99),   # before any quote
            ("B", T(2024, 1, 1, 10, 3, 0), 200),
        ],
        ["sym", "ts", "qty"],
    )
    quotes = spark.createDataFrame(
        [
            ("A", T(2024, 1, 1, 9, 59, 0), 10.0),
            ("A", T(2024, 1, 1, 10, 0, 0), 10.5),   # exact-ts match
            ("A", T(2024, 1, 1, 10, 4, 0), 11.0),
            ("B", T(2024, 1, 1, 10, 0, 0), 20.0),
        ],
        ["sym", "ts", "price"],
    )
    return trades, quotes


def test_asof_join_backward(trades_quotes):
    trades, quotes = trades_quotes
    out = {(r.sym, r.qty): r.right_price for r in asof_join(
        trades, quotes, on="ts", by="sym"
    ).collect()}
    assert out[("A", 100)] == 10.5   # exact timestamp counts as at-or-before
    assert out[("A", 101)] == 11.0   # newest preceding quote
    assert out[("A", 99)] is None    # nothing precedes
    assert out[("B", 200)] == 20.0


def test_asof_join_tolerance(trades_quotes):
    trades, quotes = trades_quotes
    out = {(r.sym, r.qty): r.right_price for r in asof_join(
        trades, quotes, on="ts", by="sym", tolerance_seconds=90
    ).collect()}
    assert out[("A", 101)] == 11.0       # 60s gap within tolerance
    assert out[("B", 200)] is None       # 180s gap outside tolerance


def test_asof_join_grouped_matches_composition(trades_quotes):
    trades, quotes = trades_quotes
    a = {(r.sym, r.qty): r.right_price for r in asof_join(
        trades, quotes, on="ts", by="sym"
    ).collect()}
    b = {(r.sym, r.qty): (None if r.right_price != r.right_price else r.right_price)
         for r in asof_join_grouped(trades, quotes, on="ts", by="sym").collect()}
    # NaN (pandas) normalizes to None for comparison
    b = {k: (None if v is None else v) for k, v in b.items()}
    assert a == b


def test_asof_join_preserves_left_rowcount(spark, testdata):
    events = testdata["events"].select("event_id", "ts", "user_id").limit(200)
    # self-as-of: each event matched to the latest event at-or-before it
    out = asof_join(events, events.withColumnRenamed("event_id", "ref_id"),
                    on="ts", by="user_id")
    assert out.count() == 200


def test_range_join_intervals(spark):
    points = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0), (4, 9.99)], ["pid", "v"]
    )
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 20.0), ("wide", 0.0, 30.0)],
        ["band", "lo", "hi"],
    )
    out = range_join(points, bands, "v", "lo", "hi", bucket_size=10.0)
    got = sorted((r.pid, r.band) for r in out.collect())
    assert got == [
        (1, "low"), (1, "wide"),
        (2, "mid"), (2, "wide"),
        (3, "wide"),
        (4, "low"), (4, "wide"),
    ]


def test_range_join_with_extra_key(spark):
    points = spark.createDataFrame([("x", 5.0), ("y", 5.0)], ["k", "v"])
    bands = spark.createDataFrame([("x", 0.0, 10.0)], ["k", "lo", "hi"])
    out = range_join(points, bands, "v", "lo", "hi", bucket_size=5.0, extra_key="k")
    assert [r.k for r in out.collect()] == ["x"]  # y has no band in its key


def test_asof_join_null_in_matched_row_not_backfilled(spark):
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 3))], ["k", "ts"]
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 1), 5.0, "x"),
            (1, dt.datetime(2024, 1, 1, 0, 2), None, "y"),  # matched row, v NULL
        ],
        "k long, ts timestamp, v double, tag string",
    )
    row = asof_join(left, right, on="ts", by="k").first()
    # all values must come from the ts=0:02 row — no stale backfill from 0:01
    assert row.right_v is None
    assert row.right_tag == "y"


def test_asof_grouped_numeric_on_with_tolerance(spark):
    """A Timedelta tolerance against a numeric ordering
    column crashed pd.merge_asof inside the UDF."""
    left = spark.createDataFrame(
        [("k", 10.0, "l1"), ("k", 20.0, "l2")], "k string, ts double, lv string"
    )
    right = spark.createDataFrame(
        [("k", 9.0, "r1"), ("k", 12.0, "r2")], "k string, ts double, rv string"
    )
    out = {r.lv: r.right_rv for r in asof_join_grouped(
        left, right, on="ts", by="k", tolerance_seconds=2.0
    ).collect()}
    assert out == {"l1": "r1", "l2": None}  # 20-12=8 > 2 → no match


def test_asof_join_null_keys_never_match(spark):
    """NULL by-keys matched each other through the
    window partitionBy, diverging from SQL ASOF (NULL = NULL is never true).
    Null-keyed/null-ts LEFT rows must pass through unmatched; null-keyed or
    null-ts RIGHT rows must never be carried into any match."""
    left = spark.createDataFrame(
        [(None, 10.0), ("u1", 10.0), ("u1", None)],
        "user_id string, ts double",
    )
    right = spark.createDataFrame(
        [(None, 5.0, 99.0), ("u1", 5.0, 7.0), ("u1", None, 42.0)],
        "user_id string, ts double, value double",
    )
    for fn in (asof_join, asof_join_grouped):
        rows = {
            (r["user_id"], r["ts"]): r["right_value"]
            for r in fn(left, right, on="ts", by="user_id").collect()
        }
        assert len(rows) == 3, fn.__name__
        # null key: no match even though a null-keyed right row exists
        assert rows[(None, 10.0)] is None, fn.__name__
        # normal match unaffected; the null-ts right row (42.0) never wins
        assert rows[("u1", 10.0)] == 7.0, fn.__name__
        # null left ts: r.ts <= NULL is unknown -> unmatched
        assert rows[("u1", None)] is None, fn.__name__


def test_asof_join_rejects_non_backward_direction(spark):
    df = spark.createDataFrame([("u", 1.0)], "user_id string, ts double")
    with pytest.raises(ValueError, match="backward"):
        asof_join(df, df, on="ts", by="user_id", direction="forward")


def test_asof_variants_agree_on_nan_right_ts_and_long_precision(spark):
    """A NaN right `on` crashed the grouped
    variant inside pd.merge_asof; and merge_asof's NaN-fill upcast int64
    value columns to float64, corrupting ids above 2^53 whenever the group
    had any unmatched left row. Both variants must agree and keep exact
    longs."""
    big = 9007199254740993  # 2^53 + 1: not representable as float64
    left = spark.createDataFrame(
        [("u", 0.5), ("u", 2.0)], "k string, ts double"
    )
    right = spark.createDataFrame(
        [("u", float("nan"), 1), ("u", 1.0, big)],
        "k string, ts double, event_id long",
    )
    for fn in (asof_join, asof_join_grouped):
        rows = {r["ts"]: r["right_event_id"]
                for r in fn(left, right, on="ts", by="k").collect()}
        assert rows[0.5] is None, fn.__name__   # nothing precedes 0.5
        assert rows[2.0] == big, fn.__name__    # exact long, not 2^53


def test_asof_grouped_unmatched_floats_are_null_not_nan(spark):
    """Unmatched rows came back as NaN (isNull false,
    aggregates poisoned) in float right columns instead of true NULL."""
    from pyspark.sql import functions as F


    left = spark.createDataFrame(
        [("u", 1.0), ("u", 5.0)], "k string, ts double"
    )
    right = spark.createDataFrame(
        [("u", 3.0, 7.5)], "k string, ts double, v double"
    )
    out = asof_join_grouped(left, right, on="ts", by="k")
    unmatched = out.filter(F.col("ts") == 1.0).first()
    assert unmatched["right_v"] is None
    assert out.filter(F.col("right_v").isNull()).count() == 1


def test_asof_grouped_tied_right_ts_deterministic(spark):
    """Tied right timestamps resolved by shuffle order (unstable
    quicksort) — a task retry could emit a different match. Both variants
    must pick the same struct-max winner across runs and partitionings."""
    left = spark.createDataFrame([("u", 10.0)], "k string, ts double")
    right = spark.createDataFrame(
        [("u", 10.0, "a"), ("u", 10.0, "b"), ("u", 10.0, "c")],
        "k string, ts double, tag string",
    ).repartition(8)
    for fn in (asof_join, asof_join_grouped):
        for _ in range(3):
            assert fn(left, right, on="ts", by="k").first()["right_tag"] == "c"


def test_asof_join_supports_map_value_columns(spark):
    """The determinism tie-break ordered by the full
    right struct, so any map value column failed analysis
    (INVALID_ORDERING_TYPE); maps now fall back to a hashed tie-break."""
    left = spark.createDataFrame([("u", 5.0)], "k string, ts double")
    right = spark.createDataFrame(
        [("u", 1.0, {"plan": "pro"})],
        "k string, ts double, props map<string,string>",
    )
    row = asof_join(left, right, on="ts", by="k").first()
    assert row["right_props"] == {"plan": "pro"}


def test_range_join_rejects_pathological_interval(spark):
    """One open-ended interval (hi=1e12) exploded into
    a ~1e12-element sequence and killed the job with an opaque error; the
    guard now fails fast with the offending bounds in the message."""
    left = spark.createDataFrame([(5.0,)], "v double")
    right = spark.createDataFrame(
        [(0.0, 1.0e12, "open-ended")], "lo double, hi double, band string"
    )
    ok = range_join(
        left, right, "v", "lo", "hi", bucket_size=1.0,
        max_buckets_per_interval=10_000_000_000_000,
    )
    # with a big-enough bound the guard is inert (plan-level sanity only)
    assert "band" in ok.columns
    with pytest.raises(Exception, match="range_join: interval spans"):
        range_join(
            left, right, "v", "lo", "hi", bucket_size=1.0
        ).collect()


def test_asof_grouped_left_ridx_column_survives(spark):
    """The grouped variant's indexed lookup reserved the
    name `_ridx`; a left DataFrame already carrying `_ridx` made
    pd.merge_asof suffix the overlap and KeyError in every executor group."""
    left = spark.createDataFrame(
        [("u", 2.0, 99)], "k string, ts double, _ridx long"
    )
    right = spark.createDataFrame(
        [("u", 1.0, "hit")], "k string, ts double, tag string"
    )
    row = asof_join_grouped(left, right, on="ts", by="k").first()
    assert row["_ridx"] == 99          # left column preserved verbatim
    assert row["right_tag"] == "hit"   # match still found
