"""Embedding-cosine near-dup tests: exact correctness + LSH recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from syncmaven_spark.operators import cosine_pairs_exact, cosine_pairs_lsh


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with planted near-duplicate pairs (cos > 0.95) among noise."""
    rng = np.random.RandomState(7)
    rows = []
    base_vectors = rng.standard_normal((10, 32))
    vid = 0
    for b in base_vectors:
        rows.append((vid, [float(x) for x in b]))
        vid += 1
        # near-dup: tiny perturbation
        rows.append((vid, [float(x) for x in b + rng.standard_normal(32) * 0.05]))
        vid += 1
    for _ in range(80):  # unrelated noise
        rows.append((vid, [float(x) for x in rng.standard_normal(32)]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_exact_pairs_find_planted_dups(planted):
    pairs = {(r.id_a, r.id_b) for r in cosine_pairs_exact(planted, 0.9).collect()}
    expected = {(2 * i, 2 * i + 1) for i in range(10)}
    assert expected <= pairs
    # noise vectors in 32 dims essentially never reach 0.9
    assert len(pairs - expected) <= 2


def test_exact_pairs_symmetric_free(planted):
    rows = cosine_pairs_exact(planted, 0.9).collect()
    assert all(r.id_a < r.id_b for r in rows)
    assert all(-1.0001 <= r.cos_sim <= 1.0001 for r in rows)


def test_lsh_recall_on_planted_dups(planted):
    exact = {(r.id_a, r.id_b) for r in cosine_pairs_exact(planted, 0.9).collect()}
    lsh = {(r.id_a, r.id_b) for r in cosine_pairs_lsh(
        planted, 0.9, n_planes=8, n_tables=6
    ).collect()}
    # every LSH pair is verified exactly → subset of exact
    assert lsh <= exact
    # high-similarity pairs survive sign-LSH with high probability
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8


def test_lsh_deterministic(planted):
    a = sorted((r.id_a, r.id_b) for r in cosine_pairs_lsh(planted, 0.9).collect())
    b = sorted((r.id_a, r.id_b) for r in cosine_pairs_lsh(planted, 0.9).collect())
    assert a == b


def test_incremental_cosine_lsh_equals_full_pass_on_union(spark):
    """The continuous-ingestion contract for the cosine family: indexing
    the old vectors and probing only the new batch yields exactly the
    full-pass verified pairs that touch the batch (uncapped, same seed)."""
    from syncmaven_spark.operators import (
        cosine_lsh_index,
        cosine_pairs_lsh,
        cosine_pairs_lsh_incremental,
    )
    from syncmaven_spark.session import load_tables

    emb = load_tables(
        spark, "/root/testdata/sf0.001", register_views=False
    )["embeddings"]
    new = emb.filter("vec_id % 5 = 0")
    old = emb.filter("vec_id % 5 <> 0")
    cfg = dict(n_planes=4, n_tables=48, max_bucket_size=None)

    full = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in cosine_pairs_lsh(emb, threshold=0.4, **cfg).collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    index = cosine_lsh_index(old, **cfg)
    inc = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in cosine_pairs_lsh_incremental(
            new, index, emb, threshold=0.4, **cfg
        ).collect()
    }
    assert inc == full
    assert len(inc) > 0


def test_cosine_index_recipe_stamp_and_new_id_guard(planted, tmp_path):
    """The cosine index carries its (n_planes, n_tables, seed, dim) recipe
    as parquet-surviving column metadata; a mismatched probe fails fast and
    assert_new_ids enforces the disjoint-ids contract (round-6 advice +
    verdict, cosine family)."""
    from syncmaven_spark.operators import (
        cosine_lsh_candidates_incremental,
        cosine_lsh_index,
    )

    spark = planted.sparkSession
    old = planted.filter("vec_id < 50")
    new = planted.filter("vec_id >= 50")
    path = str(tmp_path / "cos_index")
    cosine_lsh_index(old, n_planes=4, n_tables=8).write.parquet(path)
    stored = spark.read.parquet(path)
    with pytest.raises(ValueError, match="recipe mismatch"):
        cosine_lsh_candidates_incremental(new, stored, n_planes=8, n_tables=8)
    with pytest.raises(ValueError, match="recipe mismatch"):
        cosine_lsh_candidates_incremental(
            new, stored, n_planes=4, n_tables=8, seed=43
        )
    assert cosine_lsh_candidates_incremental(
        new, stored, n_planes=4, n_tables=8
    ).count() >= 0

    overlapping = planted.filter("vec_id in (0, 99)")  # 0 is indexed
    with pytest.raises(ValueError, match="re-ingests id"):
        cosine_lsh_candidates_incremental(
            overlapping, stored, n_planes=4, n_tables=8, assert_new_ids=True
        )


def test_cosine_incremental_new_index_skips_batch_scan(spark):
    """With new_index supplied, the probe derived dim by
    eagerly scanning new_df — one Spark job per call, re-executing the
    micro-batch source once per epoch in the streaming driver. dim now
    comes from the recipe stamps; a poisoned new_df (raising UDF) proves
    the batch is never scanned, and recipe mismatches still fail fast."""
    from syncmaven_spark.operators import (
        cosine_lsh_candidates_incremental,
        cosine_lsh_index,
    )

    rng = np.random.RandomState(7)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = emb.filter("vec_id < 30")
    new = emb.filter("vec_id >= 30")
    cfg = dict(n_planes=4, n_tables=8, max_bucket_size=None)
    index = cosine_lsh_index(old, **cfg)
    batch_index = cosine_lsh_index(new, **cfg)

    @F.udf("array<double>")
    def boom(v):
        raise RuntimeError("batch scanned")

    poisoned = new.withColumn("embedding", boom("embedding"))
    got = cosine_lsh_candidates_incremental(
        poisoned, index, new_index=batch_index, **cfg
    )
    assert got.count() >= 0  # evaluating candidates never touches new_df

    # the stamp-only path still fails fast on a wrong probe recipe
    with pytest.raises(ValueError, match="recipe mismatch"):
        cosine_lsh_candidates_incremental(
            poisoned, index, n_planes=8, n_tables=8,
            max_bucket_size=None, new_index=batch_index,
        )
    # and matches the clean-batch result exactly
    clean = {
        (r.id_a, r.id_b)
        for r in cosine_lsh_candidates_incremental(
            new, index, **cfg
        ).collect()
    }
    assert {(r.id_a, r.id_b) for r in got.collect()} == clean
