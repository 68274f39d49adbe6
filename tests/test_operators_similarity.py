"""Similarity search tests: brute-force exactness + IVF recall."""

import numpy as np
import pytest

from syncmaven_spark.operators import cosine_topk_bruteforce, cosine_topk_ivf
from syncmaven_spark.operators.similarity import assign_cells, train_centroids
from syncmaven_spark.session import load_tables

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_tables(spark, SF_SMOKE)["embeddings"]


def test_bruteforce_known_neighbors(spark):
    # construct vectors where neighbor structure is known
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    topk = cosine_topk_bruteforce(df, df.filter("vec_id = 0"), k=3)
    ordered = [r.n_id for r in topk.orderBy("rank").collect()]
    assert ordered == [1, 2, 3]


def test_bruteforce_on_testdata(embeddings):
    q = embeddings.filter("vec_id < 3")
    res = cosine_topk_bruteforce(embeddings, q, k=5).collect()
    assert len(res) == 15
    by_q = {}
    for r in res:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == [1, 2, 3, 4, 5]
        sims = [r.cos_sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.n_id != q_id for r in rows)


def test_train_centroids_deterministic(embeddings):
    c1 = train_centroids(embeddings, n_centroids=8, order_col="vec_id")
    c2 = train_centroids(embeddings, n_centroids=8, order_col="vec_id")
    assert np.allclose(c1, c2)
    assert c1.shape == (8, 64)


def test_assign_cells_shapes(embeddings):
    centroids = train_centroids(embeddings, n_centroids=8, order_col="vec_id")
    assigned = assign_cells(embeddings.limit(20), centroids, n_probe=3)
    rows = assigned.collect()
    assert all(len(r.cell) == 3 for r in rows)
    assert all(0 <= c < 8 for r in rows for c in r.cell)


def test_ivf_recall_against_bruteforce(embeddings):
    queries = embeddings.filter("vec_id < 8")
    exact = cosine_topk_bruteforce(embeddings, queries, k=5).collect()
    centroids = train_centroids(embeddings, n_centroids=8, order_col="vec_id")
    approx = cosine_topk_ivf(
        embeddings, queries, k=5, centroids=centroids, n_probe=4
    ).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.n_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.n_id)

    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # probing half the cells should recover most true neighbors
    assert sum(recalls) / len(recalls) >= 0.5
    # every approx hit is a real corpus vector with a valid score
    assert all(-1.0001 <= r.cos_sim <= 1.0001 for r in approx)


def test_zero_norm_and_null_embeddings(spark):
    """Review regressions: a zero vector must score 0 (not NaN — Spark
    orders NaN above every double, so it ranked #1 for every query and
    passed threshold filters), and null embeddings must not crash the
    pandas kernels."""
    from syncmaven_spark.operators.similarity import (
        cosine_pairs_exact,
        cosine_pairs_lsh,
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero norm
        (4, None),  # null embedding
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    top = cosine_topk_bruteforce(df, df, k=1).collect()
    by_q = {r.q_id: r for r in top}
    assert by_q[1].n_id == 2  # the real neighbor, not the zero vector
    assert by_q[3].cos_sim == 0.0  # zero vector scores 0 everywhere
    assert 4 not in by_q  # null embedding excluded

    exact = {(r.id_a, r.id_b) for r in cosine_pairs_exact(df, 0.8).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_lsh(df, 0.8, n_planes=4, n_tables=8).collect()
    }
    assert exact == {(1, 2)}
    assert lsh <= exact  # no NaN pair leaks through the threshold

    ivf = cosine_topk_ivf(df, df, k=1, n_centroids=2).collect()
    assert {r.q_id for r in ivf} <= {1, 2, 3}
    assert all(r.n_id != 3 or r.cos_sim == 0.0 for r in ivf)


def test_similarity_empty_corpus(spark):
    """Empty (or all-null) corpora short-circuit instead of crashing
    centroid training with a numpy AxisError."""
    import pytest as _pytest

    from syncmaven_spark.operators.similarity import (
        cosine_pairs_exact,
        cosine_topk_ivf,
        train_centroids,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_topk_ivf(empty, empty, k=3).count() == 0
    assert cosine_pairs_exact(empty, 0.9).count() == 0
    with _pytest.raises(ValueError, match="empty"):
        train_centroids(empty)


def test_ivf_index_probe_roundtrip_and_checksum(embeddings, tmp_path):
    """The persistable IVF split: index once, probe from parquet — results
    match the one-shot cosine_topk_ivf under the same centroids; probing
    assignments with the WRONG codebook fails fast on the checksum stamp;
    the probed read prunes to the probed cells' partitions."""
    from pyspark.sql import functions as F
    from syncmaven_spark.operators import ivf_index, ivf_probe

    spark = embeddings.sparkSession
    corpus = embeddings.filter("vec_id % 5 <> 0")
    queries = embeddings.filter("vec_id % 5 = 0 AND vec_id < 40")

    assignments, centroids_df = ivf_index(corpus, n_centroids=8)
    a_path, c_path = str(tmp_path / "assign"), str(tmp_path / "cents")
    assignments.write.partitionBy("cell").parquet(a_path)
    centroids_df.write.parquet(c_path)
    stored_a = spark.read.parquet(a_path)
    stored_c = spark.read.parquet(c_path)

    got = ivf_probe(
        queries, stored_a, stored_c, k=5, n_probe=4, exclude_self=False
    )
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append((r.rank, r.n_id, r.cos_sim))
    assert len(by_q) == queries.count()
    for q_id, hits in by_q.items():
        assert sorted(r for r, _, _ in hits) == [1, 2, 3, 4, 5]

    # equivalence with the one-shot composition under the SAME centroids
    cents = np.array(
        [r[1] for r in sorted(
            stored_c.collect(), key=lambda r: r["centroid_id"]
        )]
    )
    oneshot = cosine_topk_ivf(
        corpus, queries, k=5, n_probe=4, centroids=cents,
        exclude_self=False,
    )
    a = {(r.q_id, r.n_id, r.cos_sim, r.rank) for r in rows}
    b = {(r.q_id, r.n_id, r.cos_sim, r.rank) for r in oneshot.collect()}
    assert a == b

    # cell pruning reaches the partitioned store
    q_cells = {
        int(c)
        for r in assign_cells(
            queries, cents, n_probe=4, out_col="_cells"
        ).select("_cells").collect()
        for c in r[0]
    }
    if len(q_cells) < 8:  # only assert pruning when some cell is unprobed
        read_files = {
            r[0]
            for r in stored_a.filter(
                F.col("cell").isin(sorted(q_cells))
            ).select(F.input_file_name()).distinct().collect()
        }
        assert read_files and all(
            any(f"cell={c}" in f for c in q_cells) for f in read_files
        )

    # the stamp must survive the DOCUMENTED partitionBy('cell') layout:
    # parquet drops field metadata on PARTITION columns, so the stamp
    # rides `norm` (round-7 review found the cell-stamped variant's
    # fail-fast silently never fired on persisted indexes)
    from syncmaven_spark.operators.dedup import RECIPE_META_KEY

    assert RECIPE_META_KEY in (stored_a.schema["norm"].metadata or {})
    # wrong codebook against the PERSISTED assignments → fail fast
    _, wrong_cents = ivf_index(corpus, n_centroids=4)
    with pytest.raises(ValueError, match="recipe mismatch"):
        ivf_probe(queries, stored_a, wrong_cents, k=5)
    # and the in-memory direction too (wrong assignments, right codebook)
    wrong_assignments, _ = ivf_index(corpus, n_centroids=4)
    with pytest.raises(ValueError, match="recipe mismatch"):
        ivf_probe(queries, wrong_assignments, stored_c, k=5)

    # empty codebook → explicit error
    with pytest.raises(ValueError, match="empty centroid table"):
        ivf_probe(queries, stored_a, stored_c.limit(0), k=5)


def test_ivf_append_roundtrip_equals_union_assign(embeddings, tmp_path):
    """Round-7 verdict #2: ivf_append assigns a new batch under the
    STAMPED codebook and parquet-appends into the cell-partitioned store —
    probes over index(a) ⊕ append(b) must equal probes over a from-scratch
    assignment of a ∪ b under the same codebook, checksum still enforced."""
    from pyspark.sql import functions as F

    from syncmaven_spark.operators import (
        ivf_append,
        ivf_drift,
        ivf_index,
        ivf_probe,
    )
    from syncmaven_spark.operators.dedup import RECIPE_META_KEY

    spark = embeddings.sparkSession
    a = embeddings.filter("vec_id % 5 <> 0")
    b = embeddings.filter("vec_id % 5 = 0")
    queries = embeddings.filter("vec_id < 8")

    assignments, centroids_df = ivf_index(a, n_centroids=8)
    store = str(tmp_path / "ivf")
    cpath = str(tmp_path / "cents")
    assignments.write.partitionBy("cell").parquet(store)
    centroids_df.write.parquet(cpath)

    stored_c = spark.read.parquet(cpath)
    appended = ivf_append(b, stored_c)
    # same stamp as the build path (rides `norm`, survives parquet)
    assert RECIPE_META_KEY in (appended.schema["norm"].metadata or {})
    appended.write.partitionBy("cell").mode("append").parquet(store)

    merged = spark.read.parquet(store)
    got = {
        (r.q_id, r.n_id, r.cos_sim, r.rank)
        for r in ivf_probe(
            queries, merged, stored_c, k=5, n_probe=4, exclude_self=False
        ).collect()
    }
    # reference: one from-scratch assignment of the union, SAME codebook
    union_assign = ivf_append(embeddings, stored_c)
    want = {
        (r.q_id, r.n_id, r.cos_sim, r.rank)
        for r in ivf_probe(
            queries, union_assign, stored_c, k=5, n_probe=4,
            exclude_self=False,
        ).collect()
    }
    assert got == want and len(got) == 8 * 5

    # rows appended under the WRONG codebook carry ITS stamp, so probing
    # them with the store's codebook fails fast (checksum stamp)
    _, wrong_c = ivf_index(a, n_centroids=4)
    with pytest.raises(ValueError, match="recipe mismatch"):
        ivf_probe(queries, ivf_append(b, wrong_c), stored_c, k=5)
    # a codebook edited after build fails its own recomputed checksum
    doctored = stored_c.withColumn(
        "centroid", F.transform("centroid", lambda x: x * 2.0)
    )
    with pytest.raises(ValueError, match="recipe mismatch"):
        ivf_append(b, doctored)


def test_ivf_drift_signals_distribution_shift(spark):
    """ivf_drift: assigned-cell cosine stays high for the training
    distribution and falls for a drifted batch — the retrain signal."""
    from syncmaven_spark.operators import ivf_append, ivf_drift, ivf_index

    rng = np.random.RandomState(3)
    # training corpus: 3 tight clusters
    centers = rng.standard_normal((3, 16)) * 4
    rows = [
        (i, (centers[i % 3] + rng.standard_normal(16) * 0.1).tolist())
        for i in range(120)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    assignments, centroids_df = ivf_index(corpus, n_centroids=3)
    base = ivf_drift(assignments, centroids_df).first()
    assert base.n_vectors == 120
    assert base.mean_cell_cos > 0.95

    # drifted batch: vectors unrelated to any training cluster
    drifted = spark.createDataFrame(
        [(1000 + i, rng.standard_normal(16).tolist()) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    drift = ivf_drift(
        ivf_append(drifted, centroids_df), centroids_df
    ).first()
    assert drift.n_vectors == 60
    assert drift.mean_cell_cos < base.mean_cell_cos - 0.2
    assert drift.p10_cell_cos < base.p10_cell_cos


def test_ivf_append_assert_new_ids(spark):
    """A replayed append re-ingests stored ids — the
    duplicate assignment rows consume top-k slots and silently evict true
    neighbors. assert_new_ids enforces the disjointness contract eagerly."""
    from syncmaven_spark.operators import ivf_append, ivf_index

    rng = np.random.RandomState(5)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    a = emb.filter("vec_id < 40")
    b = emb.filter("vec_id >= 40")
    assignments, centroids_df = ivf_index(a, n_centroids=4)

    ok = ivf_append(
        b, centroids_df, assignments=assignments, assert_new_ids=True
    )
    assert ok.count() == 20
    overlapping = emb.filter("vec_id in (0, 45)")  # 0 is stored
    with pytest.raises(ValueError, match="re-ingests id"):
        ivf_append(
            overlapping, centroids_df,
            assignments=assignments, assert_new_ids=True,
        )
    # supplying the table turns the check ON (the
    # table-without-flag call was a silent no-op)
    with pytest.raises(ValueError, match="re-ingests id"):
        ivf_append(overlapping, centroids_df, assignments=assignments)
    # ids repeated WITHIN the batch are caught too
    with pytest.raises(ValueError, match="more than once"):
        ivf_append(
            b.unionByName(b.limit(1)), centroids_df,
            assignments=assignments,
        )
    # explicit opt-out carries the table without checking
    assert ivf_append(
        overlapping, centroids_df,
        assignments=assignments, assert_new_ids=False,
    ).count() == 2
    with pytest.raises(ValueError, match="needs the stored"):
        ivf_append(b, centroids_df, assert_new_ids=True)


def test_cosine_topk_disjoint_id_space_opt_out(spark):
    """The implicit q_id != n_id self-exclusion
    silently dropped a corpus row whose id collides with a query id from a
    SEPARATE table; exclude_self=False must retrieve it."""
    corpus = spark.createDataFrame(
        [(5, [1.0, 0.0]), (6, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(5, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    top_default = cosine_topk_bruteforce(corpus, queries, k=1).collect()
    assert [r["n_id"] for r in top_default] == [6]  # documented default
    top = cosine_topk_bruteforce(corpus, queries, k=1, exclude_self=False).collect()
    assert [r["n_id"] for r in top] == [5]

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    ivf = cosine_topk_ivf(
        corpus, queries, k=1, centroids=cents, n_probe=2, exclude_self=False
    ).collect()
    assert [r["n_id"] for r in ivf] == [5]


def test_train_centroids_sample_is_spread_not_prefix(spark):
    """The order_col 'reproducible sample' took an
    ordered PREFIX — on a corpus whose ids correlate with embedding
    structure the 2-centroid fit collapsed onto the head cluster. The
    hash-ordered sample must cover both clusters."""
    rows = [(i, [10.0, 0.0]) for i in range(100)] + [
        (100 + i, [0.0, 10.0]) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_centroids(
        df, n_centroids=2, sample_size=50, order_col="vec_id"
    )
    # each cluster axis must own one centroid; a prefix sample puts both
    # centroids on the x-axis cluster
    axis = {int(np.argmax(np.abs(c))) for c in cents}
    assert axis == {0, 1}, cents


def test_nan_embeddings_never_rank_or_pair(spark):
    """A NaN element made cos_sim NaN, which Spark
    orders above every double and passes >= threshold — NaN vectors ranked
    #1 for every query (evicting true neighbors) and emitted false LSH
    pairs while the exact kernel excluded them. Non-finite vectors are now
    filtered like nulls at every entry point."""
    from syncmaven_spark.operators.similarity import (
        cosine_pairs_exact,
        cosine_pairs_lsh,
        cosine_topk_bruteforce,
    )

    nan, inf = float("nan"), float("inf")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]),
         (3, [nan, 1.0, 0.0]), (4, [inf, 2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    top = cosine_topk_bruteforce(corpus, corpus.filter("vec_id = 1"), k=2).collect()
    assert [r["n_id"] for r in top] == [2], top  # only the finite neighbor
    lsh = cosine_pairs_lsh(corpus, threshold=0.9, n_planes=2, n_tables=4).collect()
    exact = cosine_pairs_exact(corpus, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 2)}
    assert {(r["id_a"], r["id_b"]) for r in lsh} <= {(1, 2)}  # never a NaN pair
