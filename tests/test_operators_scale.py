"""Scale-pattern tests: salted joins preserve semantics; bucketed joins
eliminate the shuffle."""

import pytest
from pyspark.sql import functions as F

from syncmaven_spark.operators.scale import (
    bucketed_join_ready,
    salted_join,
    write_bucketed,
)


@pytest.fixture()
def skewed(spark):
    # one hot key (90% of rows) + a long tail
    left = spark.sql(
        "select case when id % 10 < 9 then 'HOT' else concat('k', id) end as key, "
        "id as payload from range(2000)"
    )
    right = spark.createDataFrame(
        [("HOT", 1.0)] + [(f"k{i}", float(i)) for i in range(2000)], ["key", "weight"]
    )
    return left, right


def test_salted_join_matches_plain_join(spark, skewed):
    left, right = skewed
    plain = left.join(right, "key").select("key", "payload", "weight")
    salted = salted_join(left, right, "key", factor=8).select(
        "key", "payload", "weight"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([("a", 1), ("b", 2)], ["key", "v"])
    right = spark.createDataFrame([("a", 10.0)], ["key", "w"])
    out = {(r.key, r.w) for r in salted_join(left, right, "key", 4, "left").collect()}
    assert out == {("a", 10.0), ("b", None)}


def test_salted_join_spreads_hot_key(spark, skewed):
    left, right = skewed
    salted = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
    )
    n_salts = (
        salted.filter(F.col("key") == "HOT").select("_salt").distinct().count()
    )
    assert n_salts == 8  # the hot key occupies all salt buckets


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # managed tables land in the session's spark-warehouse dir (static conf,
    # can't be redirected at runtime); dropped in the finally block
    orders = spark.sql("select id as k, id * 2 as o_val from range(1000)")
    customers = spark.sql("select id as k, concat('c', id) as name from range(200)")
    write_bucketed(orders, "t_orders_b", "k", num_buckets=4)
    write_bucketed(customers, "t_cust_b", "k", num_buckets=4)
    try:
        joined = bucketed_join_ready(
            spark, "t_orders_b", "t_cust_b", "k", join_hint="merge"
        )
        assert joined.count() == 200
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucket-aware scan: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


@pytest.fixture()
def hotkeys(spark):
    # one hot key (90% of rows) + a 3-key cold tail; v is NULL every 7th
    # row so count(v) vs count(*) semantics are exercised
    return spark.sql(
        "select case when id % 10 < 9 then 'HOT' else concat('k', id % 3) end as k, "
        "case when id % 7 = 0 then null else cast(id as double) end as v "
        "from range(2000)"
    )


def test_salted_aggregate_matches_direct_groupby(spark, hotkeys):
    from syncmaven_spark.operators.scale import salted_aggregate

    got = salted_aggregate(
        hotkeys, ["k"], {"n": ("count", "v"), "s": ("sum", "v"), "mx": ("max", "v")},
        factor=4,
    )
    want = hotkeys.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx")
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_salted_aggregate_rejects_non_decomposable(spark, hotkeys):
    from syncmaven_spark.operators.scale import salted_aggregate

    with pytest.raises(ValueError, match="non-decomposable"):
        salted_aggregate(hotkeys, ["k"], {"a": ("avg", "v")})


def test_salted_join_rejects_right_outer_and_spreads_duplicates(spark):
    """Right/full outer emits spurious NULL-padded rows
    under salting (reject); and byte-identical hot rows must spread over
    salts (a content-hash salt put them all on one)."""
    import pytest as _pytest


    left = spark.createDataFrame([("k", 1)] * 64, "key string, v int")
    right = spark.createDataFrame([("k", 9)], "key string, w int")
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, "key", how="right")
    out = salted_join(left, right, "key", factor=8)
    assert out.count() == 64  # equivalent to the plain join
    salts = (
        left.withColumn("_s", __import__("pyspark").sql.functions.floor(
            __import__("pyspark").sql.functions.rand(0x5A17) * 8))
        .select("_s").distinct().count()
    )
    assert salts > 1  # identical rows land on multiple salts


def test_salted_ops_reject_preexisting_salt_column(spark):
    """An input already carrying '_salt' was
    silently overwritten (and then dropped / mis-aggregated)."""
    from syncmaven_spark.operators.scale import salted_aggregate, salted_join

    df = spark.createDataFrame([(1, 9)], "k long, _salt long")
    clean = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(df, clean, "k")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(clean, df, "k")
    with pytest.raises(ValueError, match="_salt"):
        salted_aggregate(df, ["k"], {"s": ("sum", "_salt")})
