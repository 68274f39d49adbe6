"""Product-quantization (ADC) tests: plumbing exactness against a numpy
reference, lossless quantization on code-coverable corpora, recall gate,
stamp/fail-fast contracts, and the stateless-append property."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import syncmaven_spark.operators.pq as pq_mod
from syncmaven_spark.operators import (
    cosine_topk_bruteforce,
    ivfpq_index,
    ivfpq_probe,
    load_pq_codebooks,
    pq_drift,
    pq_drift_assigned,
    pq_encode,
    pq_probe,
    pq_train,
    rerank_exact_topk,
)
from syncmaven_spark.operators.dedup import stamped_recipe
from syncmaven_spark.operators.pq import _assign_codes
from syncmaven_spark.operators.similarity import (
    _load_codebook,
    ivf_append,
    ivf_drift,
    ivf_index,
)
from syncmaven_spark.streaming.ann import _epoch_drift_record
from syncmaven_spark.session import load_tables

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_tables(spark, SF_SMOKE)["embeddings"]


def _toy_corpus(spark, n=40, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, dim)
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_probe_matches_numpy_adc(spark):
    """pq_probe's distributed LUT scoring must equal the ADC computed
    directly in numpy from the SAME trained codebooks — the plumbing
    (normalization, subspace split, local top-k, global window) adds no
    approximation of its own."""
    df = _toy_corpus(spark, n=40, dim=8)
    books_df = pq_train(df, m=4, n_codes=8, seed=3)
    books, recipe = load_pq_codebooks(books_df)
    codes_df = pq_encode(df, books_df)
    queries = df.filter("vec_id < 3")
    got = {
        (r.q_id, r.n_id): r.approx_sim
        for r in pq_probe(
            queries, codes_df, books_df, k=4, exclude_self=True
        ).collect()
    }

    # numpy reference
    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], float)
    Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    m, n_codes, sd = books.shape
    codes = np.stack(
        [
            ((Xn[:, j * sd : (j + 1) * sd][:, None, :] - books[j][None]) ** 2)
            .sum(2)
            .argmin(1)
            for j in range(m)
        ],
        axis=1,
    )
    for q in range(3):
        lut = [Xn[q, j * sd : (j + 1) * sd] @ books[j].T for j in range(m)]
        sims = np.round(
            np.sum([lut[j][codes[:, j]] for j in range(m)], axis=0), 6
        )
        order = sorted(
            [(i, s) for i, s in zip(ids, sims) if i != q],
            key=lambda t: (-t[1], t[0]),
        )[:4]
        for n_id, s in order:
            assert got[(q, n_id)] == pytest.approx(s, abs=1e-9), (q, n_id)


def test_lossless_when_codes_cover_subvectors(spark):
    """A corpus whose normalized sub-vectors take <= n_codes distinct
    values quantizes losslessly (init covers every distinct sub-vector and
    Lloyd keeps singleton centroids fixed), so ADC == exact cosine."""
    base = np.array(
        [
            [1.0, 0.0, 0.0, 2.0],
            [0.0, 1.0, 3.0, 0.0],
            [1.0, 1.0, 0.0, 1.0],
        ]
    )
    # repeat the same 3 vectors under many ids: 3 distinct sub-vectors/subspace
    rows = [(i, [float(x) for x in base[i % 3]]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books_df = pq_train(df, m=2, n_codes=4, seed=11)
    codes_df = pq_encode(df, books_df)
    queries = df.filter("vec_id = 0")
    adc = {
        r.n_id: r.approx_sim
        for r in pq_probe(
            queries, codes_df, books_df, k=11, exclude_self=True
        ).collect()
    }
    exact = {
        r.n_id: r.cos_sim
        for r in cosine_topk_bruteforce(
            df, queries, k=11, round_to=6
        ).collect()
    }
    assert set(adc) == set(exact)
    for n_id in exact:
        assert adc[n_id] == pytest.approx(exact[n_id], abs=2e-6), n_id


def test_parquet_roundtrip_preserves_stamp_and_results(spark, tmp_path):
    df = _toy_corpus(spark, n=30, dim=8)
    books_df = pq_train(df, m=4, n_codes=8)
    codes_df = pq_encode(df, books_df)
    books_df.write.parquet(str(tmp_path / "books"))
    codes_df.write.parquet(str(tmp_path / "codes"))
    books2 = spark.read.parquet(str(tmp_path / "books"))
    codes2 = spark.read.parquet(str(tmp_path / "codes"))
    assert stamped_recipe(books2, "centroid") is not None
    assert stamped_recipe(codes2, "codes") is not None
    q = df.filter("vec_id < 2")
    before = {
        (r.q_id, r.n_id, r.rank)
        for r in pq_probe(q, codes_df, books_df, k=3).collect()
    }
    after = {
        (r.q_id, r.n_id, r.rank)
        for r in pq_probe(q, codes2, books2, k=3).collect()
    }
    assert before == after and before


def test_wrong_codebook_fails_fast(spark):
    df = _toy_corpus(spark, n=20, dim=8)
    books_a = pq_train(df, m=4, n_codes=8, seed=1)
    books_b = pq_train(df, m=4, n_codes=8, seed=2)
    codes_a = pq_encode(df, books_a)
    with pytest.raises(ValueError, match="recipe mismatch"):
        pq_probe(df.filter("vec_id = 0"), codes_a, books_b, k=3)


def test_tampered_codebook_fails_fast(spark):
    df = _toy_corpus(spark, n=20, dim=8)
    books_df = pq_train(df, m=4, n_codes=8)
    tampered = books_df.filter("NOT (subspace = 0 AND code = 0)")
    with pytest.raises(ValueError, match="rectangular|recipe mismatch"):
        load_pq_codebooks(tampered)


def test_append_equals_full_encode(spark):
    """pq_encode is stateless under a fixed codebook: encoding two batches
    separately and unioning equals encoding the union — the whole
    continuous-ingestion contract (no retrain, no re-encode)."""
    df = _toy_corpus(spark, n=40, dim=8)
    a = df.filter("vec_id % 2 = 0")
    b = df.filter("vec_id % 2 = 1")
    books_df = pq_train(a, m=4, n_codes=8)  # codebook from the BASE only
    merged = {
        (r.vec_id, tuple(r.codes))
        for r in pq_encode(a, books_df)
        .unionByName(pq_encode(b, books_df))
        .collect()
    }
    full = {
        (r.vec_id, tuple(r.codes)) for r in pq_encode(df, books_df).collect()
    }
    assert merged == full and len(full) == 40


def test_encode_drops_null_and_nonfinite(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, None),
        (2, [float("nan"), 0.0, 0.0, 1.0]),
        (None, [1.0, 1.0, 0.0, 1.0]),
        (3, [0.0, 1.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books_df = pq_train(df, m=2, n_codes=2)
    got = {r.vec_id for r in pq_encode(df, books_df).collect()}
    assert got == {0, 3}


def test_exclude_self_still_returns_k(spark):
    df = _toy_corpus(spark, n=30, dim=8)
    books_df = pq_train(df, m=4, n_codes=8)
    codes_df = pq_encode(df, books_df)
    res = pq_probe(
        df.filter("vec_id < 4"), codes_df, books_df, k=5, exclude_self=True
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rows in by_q.items():
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]
        assert all(r.n_id != q_id for r in rows)


def test_dim_not_divisible_raises(spark):
    df = _toy_corpus(spark, n=10, dim=6)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=4, n_codes=4)


def test_empty_queries_empty_result(spark):
    df = _toy_corpus(spark, n=10, dim=8)
    books_df = pq_train(df, m=4, n_codes=4)
    codes_df = pq_encode(df, books_df)
    res = pq_probe(df.filter("vec_id < 0"), codes_df, books_df, k=3)
    assert res.count() == 0
    assert res.columns == ["q_id", "n_id", "approx_sim", "rank"]


def test_recall_gate_on_testdata(embeddings):
    """The catalog entry's contract with margin: every query's ADC top-5
    recalls >= 2 of the exact top-5, mean recall >= 0.7 (measured 0.93 at
    sf0.001 with the entry's 32x256 recipe)."""
    corpus = embeddings.filter(F.col("vec_id") % 5 != 0)
    queries = embeddings.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 40)
    )
    books_df = pq_train(corpus, m=32, n_codes=256)
    codes_df = pq_encode(corpus, books_df)
    pq = {
        (r.q_id, r.n_id)
        for r in pq_probe(
            queries, codes_df, books_df, k=5, exclude_self=False
        ).collect()
    }
    bf = {
        (r.q_id, r.n_id)
        for r in cosine_topk_bruteforce(
            corpus, queries, k=5, exclude_self=False
        ).collect()
    }
    q_ids = {q for q, _ in bf}
    recalls = [
        len({p for p in pq if p[0] == q} & {p for p in bf if p[0] == q}) / 5
        for q in q_ids
    ]
    assert min(recalls) >= 0.4
    assert sum(recalls) / len(recalls) >= 0.7


def test_rerank_exact_equals_bruteforce_when_shortlist_complete(spark):
    """Re-ranking a shortlist that contains every corpus id reproduces the
    brute-force top-k exactly (scores AND ranks) — the re-rank stage adds
    no approximation of its own."""
    from syncmaven_spark.operators import rerank_exact_topk

    df = _toy_corpus(spark, n=25, dim=8)
    queries = df.filter("vec_id < 3")
    full = queries.select(F.col("vec_id").alias("q_id")).crossJoin(
        df.select(F.col("vec_id").alias("n_id"))
    ).filter("q_id != n_id")
    got = {
        (r.q_id, r.n_id, r.cos_sim, r.rank)
        for r in rerank_exact_topk(full, queries, df, k=5).collect()
    }
    want = {
        (r.q_id, r.n_id, r.cos_sim, r.rank)
        for r in cosine_topk_bruteforce(df, queries, k=5).collect()
    }
    assert got == want and len(want) == 15


def test_rerank_closes_pq_recall_gap(embeddings):
    """The two-stage recipe: PQ shortlist with k'=25, exact re-rank to 5.
    Re-ranked recall must dominate the codes-only top-5 recall and reach
    >= 0.8 per query on the smoke corpus."""
    from syncmaven_spark.operators import rerank_exact_topk

    corpus = embeddings.filter(F.col("vec_id") % 5 != 0)
    queries = embeddings.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 40)
    )
    books_df = pq_train(corpus, m=32, n_codes=256)
    codes_df = pq_encode(corpus, books_df)
    shortlist = pq_probe(
        queries, codes_df, books_df, k=25, exclude_self=False
    )
    reranked = {
        (r.q_id, r.n_id)
        for r in rerank_exact_topk(
            shortlist, queries, corpus, k=5
        ).collect()
    }
    adc_only = {
        (r.q_id, r.n_id)
        for r in pq_probe(
            queries, codes_df, books_df, k=5, exclude_self=False
        ).collect()
    }
    bf = {
        (r.q_id, r.n_id)
        for r in cosine_topk_bruteforce(
            corpus, queries, k=5, exclude_self=False
        ).collect()
    }
    q_ids = {q for q, _ in bf}

    def recall(found, q):
        return len({p for p in found if p[0] == q} & {p for p in bf if p[0] == q}) / 5

    for q in q_ids:
        assert recall(reranked, q) >= recall(adc_only, q), q
        assert recall(reranked, q) >= 0.8, q


def test_duplicate_codebook_rows_fail_fast(spark):
    df = _toy_corpus(spark, n=20, dim=8)
    books_df = pq_train(df, m=4, n_codes=8)
    doubled = books_df.unionByName(books_df)
    with pytest.raises(ValueError, match="duplicate"):
        load_pq_codebooks(doubled)


def test_corrupt_codes_fail_fast(spark):
    """A codes row outside the codebook's (m, n_codes) shape raises a
    clear error instead of an executor IndexError inside LUT indexing."""
    df = _toy_corpus(spark, n=20, dim=8)
    books_df = pq_train(df, m=4, n_codes=8)
    codes_df = pq_encode(df, books_df)
    corrupt = codes_df.withColumn(
        "codes",
        F.when(F.col("vec_id") == 0, F.array(*[F.lit(99)] * 4)).otherwise(
            F.col("codes")
        ),
    )
    # re-stamp survives the withColumn? metadata rides the column — the
    # when() rebuild drops it, which load-side tolerates (hand-built
    # indexes are accepted); the shape guard is what must fire here
    with pytest.raises(Exception, match="outside the codebook"):
        pq_probe(df.filter("vec_id < 2"), corrupt, books_df, k=3).collect()


def _two_cluster_corpus(spark, per=12, dim=8, seed=5):
    """Two well-separated clusters so the 2-centroid IVF split is stable."""
    rng = np.random.RandomState(seed)
    a = rng.randn(per, dim) * 0.05 + np.r_[[1.0] * (dim // 2), [0.0] * (dim // 2)]
    b = rng.randn(per, dim) * 0.05 + np.r_[[0.0] * (dim // 2), [-1.0] * (dim // 2)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivfpq_nprobe1_masks_to_own_cell(spark):
    """With n_probe=1 each query's candidates are exactly its own cell —
    the kernel's probe mask is semantic per query, not just the I/O union
    (two queries from different clusters make the union cover BOTH cells,
    so without the mask cross-cell candidates would leak through)."""
    from syncmaven_spark.operators import ivfpq_index, ivfpq_probe

    df = _two_cluster_corpus(spark)
    cells_codes, cents, books = ivfpq_index(
        df, n_centroids=2, m=4, n_codes=8
    )
    cell_of = {r.vec_id: r.cell for r in cells_codes.collect()}
    queries = df.filter("vec_id IN (0, 12)")  # one per cluster
    res = ivfpq_probe(
        queries, cells_codes, cents, books, k=5, n_probe=1,
        exclude_self=True,
    ).collect()
    assert {r.q_id for r in res} == {0, 12}
    for r in res:
        assert cell_of[r.n_id] == cell_of[r.q_id], (r.q_id, r.n_id)


def test_ivfpq_roundtrip_partitioned_store(spark, tmp_path):
    """partitionBy('cell') write → read keeps the combined stamp (it rides
    the codes DATA column, not the partition column) and probe results."""
    from syncmaven_spark.operators import ivfpq_index, ivfpq_probe

    df = _toy_corpus(spark, n=40, dim=8)
    cells_codes, cents, books = ivfpq_index(df, n_centroids=4, m=4, n_codes=8)
    cells_codes.write.partitionBy("cell").parquet(str(tmp_path / "cc"))
    cents.write.parquet(str(tmp_path / "ce"))
    books.write.parquet(str(tmp_path / "bo"))
    cc2 = spark.read.parquet(str(tmp_path / "cc"))
    assert stamped_recipe(cc2, "codes") is not None
    q = df.filter("vec_id < 3")
    before = {
        (r.q_id, r.n_id, r.rank)
        for r in ivfpq_probe(q, cells_codes, cents, books, k=4).collect()
    }
    after = {
        (r.q_id, r.n_id, r.rank)
        for r in ivfpq_probe(
            q,
            cc2,
            spark.read.parquet(str(tmp_path / "ce")),
            spark.read.parquet(str(tmp_path / "bo")),
            k=4,
        ).collect()
    }
    assert before == after and before


def test_ivfpq_combined_stamp_fails_on_either_half(spark):
    from syncmaven_spark.operators import ivfpq_index, ivfpq_probe

    df = _toy_corpus(spark, n=30, dim=8)
    cells_codes, cents, books = ivfpq_index(df, n_centroids=4, m=4, n_codes=8)
    # wrong PQ codebook (same IVF centroids)
    other_books = pq_train(df, m=4, n_codes=8, seed=99)
    with pytest.raises(ValueError, match="recipe mismatch"):
        ivfpq_probe(df.filter("vec_id = 0"), cells_codes, cents, other_books)
    # wrong IVF centroids (same PQ codebook)
    _, other_cents, _ = ivfpq_index(df, n_centroids=3, m=4, n_codes=8)
    with pytest.raises(ValueError, match="recipe mismatch"):
        ivfpq_probe(df.filter("vec_id = 0"), cells_codes, other_cents, books)


def test_ivfpq_rerank_recall_on_testdata(embeddings):
    """The catalog entry's contract with margin: IVF-PQ k'=15 shortlist +
    exact re-rank to 5, every query >= 2/5 hits, mean >= 0.7."""
    from syncmaven_spark.operators import (
        ivfpq_index,
        ivfpq_probe,
        rerank_exact_topk,
    )

    corpus = embeddings.filter(F.col("vec_id") % 5 != 0)
    queries = embeddings.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 40)
    )
    cells_codes, cents, books = ivfpq_index(
        corpus, n_centroids=8, m=32, n_codes=256
    )
    short = ivfpq_probe(
        queries, cells_codes, cents, books, k=15, n_probe=5,
        exclude_self=False,
    )
    ann = {
        (r.q_id, r.n_id)
        for r in rerank_exact_topk(short, queries, corpus, k=5).collect()
    }
    bf = {
        (r.q_id, r.n_id)
        for r in cosine_topk_bruteforce(
            corpus, queries, k=5, exclude_self=False
        ).collect()
    }
    q_ids = {q for q, _ in bf}
    recalls = [
        len({p for p in ann if p[0] == q} & {p for p in bf if p[0] == q}) / 5
        for q in q_ids
    ]
    assert min(recalls) >= 0.4
    assert sum(recalls) / len(recalls) >= 0.7


def test_tied_scores_break_to_lowest_n_id_across_partitions(spark):
    """Exact-duplicate corpus vectors share codes, hence identical ADC
    sims — the local per-batch top-k must keep the LOWEST-n_id tied
    candidates (matching the global window's tie-break), or results
    become partitioning-dependent (round-8 review #1)."""
    vec = [1.0, 0.5, -0.25, 2.0, 0.0, 1.0, -1.0, 0.5]
    other = [-2.0, 1.0, 0.75, -0.5, 1.0, -1.0, 2.0, 0.25]
    rows = [(i, vec) for i in range(12)] + [(i, other) for i in range(12, 24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books_df = pq_train(df, m=4, n_codes=4, seed=2)
    q = spark.createDataFrame([(100, vec)], "vec_id long, embedding array<double>")
    for n_parts in (1, 4, 7):
        codes_df = pq_encode(df, books_df).repartition(n_parts)
        res = (
            pq_probe(q, codes_df, books_df, k=3, exclude_self=False)
            .orderBy("rank")
            .collect()
        )
        assert [r.n_id for r in res] == [0, 1, 2], (n_parts, res)


def test_ivfpq_append_equals_full_index(spark, tmp_path):
    """index(a) ⊕ append(b) ≡ index(a∪b) under the same frozen codebooks —
    both halves (cell, codes) are per-row functions, so the merged store
    probes identically to a from-scratch build (parquet round-trip
    included, mixed-write store keeps the combined stamp)."""
    from syncmaven_spark.operators import ivfpq_append, ivfpq_index, ivfpq_probe

    df = _toy_corpus(spark, n=40, dim=8)
    a = df.filter("vec_id % 2 = 0")
    b = df.filter("vec_id % 2 = 1")
    # codebooks train on the BASE only, then freeze
    cc_a, cents, books = ivfpq_index(a, n_centroids=4, m=4, n_codes=8)
    appended = ivfpq_append(b, cents, books)
    store = str(tmp_path / "cc")
    cc_a.write.partitionBy("cell").parquet(store)
    appended.write.partitionBy("cell").mode("append").parquet(store)
    merged = spark.read.parquet(store)
    assert stamped_recipe(merged, "codes") is not None

    rows_merged = {
        (r.vec_id, int(r.cell), tuple(r.codes)) for r in merged.collect()
    }
    from syncmaven_spark.operators.similarity import ivf_append

    # from-scratch under the SAME codebooks: assign all of df's cells via
    # ivf_append (codebook-stable) + encode via pq_encode
    cells_full = ivf_append(df, cents).select("vec_id", "cell")
    codes_full = pq_encode(df, books)
    rows_full = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in cells_full.join(codes_full, "vec_id").collect()
    }
    assert rows_merged == rows_full and len(rows_full) == 40

    q = df.filter("vec_id < 3")
    probe_merged = {
        (r.q_id, r.n_id, r.rank)
        for r in ivfpq_probe(q, merged, cents, books, k=4).collect()
    }
    # a from-scratch ivfpq_index(df) would train its OWN codebooks on
    # a∪b, so the equivalence is stated against the frozen-codebook
    # reconstruction instead
    recon = cells_full.join(codes_full, "vec_id")
    from syncmaven_spark.operators.dedup import _with_recipe_meta

    recon = _with_recipe_meta(
        recon, "codes", stamped_recipe(merged, "codes")
    )
    probe_recon = {
        (r.q_id, r.n_id, r.rank)
        for r in ivfpq_probe(q, recon, cents, books, k=4).collect()
    }
    assert probe_merged == probe_recon and probe_merged


def test_ivfpq_append_rejects_reingested_and_duplicate_ids(spark):
    """Passing the stored cells_codes turns on the disjoint-ids guard
    (the ivf_append convention): a re-ingested id or an in-batch
    duplicate would put two differently-coded rows in the store, making
    probe scores nondeterministic with zero errors."""
    from syncmaven_spark.operators import ivfpq_append, ivfpq_index

    df = _toy_corpus(spark, n=20, dim=8)
    a = df.filter("vec_id < 10")
    cc, cents, books = ivfpq_index(a, n_centroids=2, m=4, n_codes=8)
    overlap = df.filter("vec_id >= 5")  # 5..9 already stored
    with pytest.raises(ValueError, match="re-ingests id"):
        ivfpq_append(overlap, cents, books, cells_codes=cc)
    fresh = df.filter("vec_id >= 10")
    doubled = fresh.unionByName(fresh.limit(1))
    with pytest.raises(ValueError, match="more than once"):
        ivfpq_append(doubled, cents, books, cells_codes=cc)
    # explicit opt-out carries the table without checking
    assert ivfpq_append(
        fresh, cents, books, cells_codes=cc, assert_new_ids=False
    ).count() == 10


def test_residual_probe_matches_numpy(spark):
    """Residual IVFPQ scoring must equal the decomposition computed
    directly in numpy from the SAME artifacts: approx_sim = <qn, cn[cell]>
    + Σ_j <qn_sub_j, residual_book_j[code_j]> — the plumbing (stored-cell
    residuals, per-query offsets, masking) adds no approximation. n_probe
    covers every cell so the reference needs no mask."""
    from syncmaven_spark.operators import ivfpq_index, ivfpq_probe

    df = _toy_corpus(spark, n=40, dim=8)
    cells_codes, cents_df, books_df = ivfpq_index(
        df, n_centroids=4, m=4, n_codes=8, encode_residuals=True
    )
    books, _ = load_pq_codebooks(books_df)
    m, n_codes, sd = books.shape
    queries = df.filter("vec_id < 3")
    got = {
        (r.q_id, r.n_id): r.approx_sim
        for r in ivfpq_probe(
            queries, cells_codes, cents_df, books_df, k=4, n_probe=4,
            exclude_self=True, encode_residuals=True,
        ).collect()
    }

    cents = np.array(
        [r.centroid for r in cents_df.orderBy("centroid_id").collect()],
        float,
    )
    cn = cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12)
    stored = {
        r.vec_id: (int(r.cell), np.array(r.codes, dtype=int))
        for r in cells_codes.collect()
    }
    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    X = np.array([r.embedding for r in rows], float)
    Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    for q in range(3):
        qn = Xn[q]
        sims = {}
        for n_id, (cell, codes) in stored.items():
            if n_id == q:
                continue
            recon_r = np.concatenate([books[j][codes[j]] for j in range(m)])
            sims[n_id] = round(float(qn @ cn[cell] + qn @ recon_r), 6)
        order = sorted(sims.items(), key=lambda t: (-t[1], t[0]))[:4]
        for n_id, s in order:
            assert got[(q, n_id)] == pytest.approx(s, abs=1e-9), (q, n_id)


def test_residual_append_equals_full_assignment(spark, tmp_path):
    """index(a, residual) ⊕ append(b, residual) ≡ append(a∪b, residual)
    under the same frozen codebooks — the index path encodes from the
    assignments table's (vec, cell) and the append path from a fresh
    assign+encode projection, so this also cross-checks the two encode
    paths row for row (parquet round-trip included)."""
    from syncmaven_spark.operators import ivfpq_append, ivfpq_index, ivfpq_probe

    df = _toy_corpus(spark, n=40, dim=8)
    a = df.filter("vec_id % 2 = 0")
    b = df.filter("vec_id % 2 = 1")
    cc_a, cents, books = ivfpq_index(
        a, n_centroids=4, m=4, n_codes=8, encode_residuals=True
    )
    appended = ivfpq_append(b, cents, books, encode_residuals=True)
    store = str(tmp_path / "cc")
    cc_a.write.partitionBy("cell").parquet(store)
    appended.write.partitionBy("cell").mode("append").parquet(store)
    merged = spark.read.parquet(store)
    assert stamped_recipe(merged, "codes") is not None

    rows_merged = {
        (r.vec_id, int(r.cell), tuple(r.codes)) for r in merged.collect()
    }
    full = ivfpq_append(df, cents, books, encode_residuals=True)
    rows_full = {
        (r.vec_id, int(r.cell), tuple(r.codes)) for r in full.collect()
    }
    assert rows_merged == rows_full and len(rows_full) == 40

    # the merged store probes as a first-class residual store
    q = df.filter("vec_id < 3")
    res = ivfpq_probe(
        q, merged, cents, books, k=4, encode_residuals=True
    )
    assert res.groupBy("q_id").count().filter("count != 4").count() == 0


def test_residual_mode_stamps_fail_fast_both_ways(spark):
    """A residual store probed raw (or a raw store probed residual) would
    silently score with the wrong decomposition — the encode mode rides
    the combined stamp, so both directions fail fast, and ivfpq_append
    refuses to mix modes into an existing store."""
    from syncmaven_spark.operators import ivfpq_append, ivfpq_index, ivfpq_probe

    df = _toy_corpus(spark, n=30, dim=8)
    q = df.filter("vec_id < 2")
    cc_res, cents, books = ivfpq_index(
        df, n_centroids=2, m=4, n_codes=8, encode_residuals=True
    )
    with pytest.raises(ValueError, match="recipe"):
        ivfpq_probe(q, cc_res, cents, books, k=3, encode_residuals=False)
    cc_raw, cents2, books2 = ivfpq_index(
        df, n_centroids=2, m=4, n_codes=8, encode_residuals=False
    )
    with pytest.raises(ValueError, match="recipe"):
        ivfpq_probe(q, cc_raw, cents2, books2, k=3, encode_residuals=True)
    batch = _toy_corpus(spark, n=50, dim=8).filter("vec_id >= 30")
    with pytest.raises(ValueError, match="recipe"):
        ivfpq_append(
            batch, cents, books, cells_codes=cc_res,
            assert_new_ids=False, encode_residuals=False,
        )


def test_residual_recall_on_testdata(embeddings):
    """The residual layout's recall contract on real testdata, same gate
    as the raw entry (every query >= 2/5, mean >= 0.7) — the measured
    floors recorded in the ivfpq_index docstring come from this shape."""
    from syncmaven_spark.operators import ivfpq_index, ivfpq_probe

    corpus = embeddings.filter(F.col("vec_id") % 5 != 0)
    queries = embeddings.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 40)
    )
    cells_codes, cents, books = ivfpq_index(
        corpus, n_centroids=8, m=32, n_codes=256, encode_residuals=True
    )
    ann = {
        (r.q_id, r.n_id)
        for r in ivfpq_probe(
            queries, cells_codes, cents, books, k=5, n_probe=5,
            exclude_self=False, encode_residuals=True,
        ).collect()
    }
    bf = {
        (r.q_id, r.n_id)
        for r in cosine_topk_bruteforce(
            corpus, queries, k=5, exclude_self=False
        ).collect()
    }
    q_ids = {q for q, _ in bf}
    recalls = [
        len({p for p in ann if p[0] == q} & {p for p in bf if p[0] == q}) / 5
        for q in q_ids
    ]
    assert min(recalls) >= 0.4
    assert sum(recalls) / len(recalls) >= 0.7


def test_pq_drift_detects_distribution_shift(spark):
    """pq_drift over a batch FROM the training distribution reconstructs
    well; a structurally different batch scores measurably lower on mean
    and p10 — the retrain signal the docstring thresholds key off."""
    from syncmaven_spark.operators import pq_drift

    rng = np.random.RandomState(0)
    base = rng.randn(200, 8)
    base[:, 0] += 4.0  # give the training corpus real structure
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    books_df = pq_train(df, m=4, n_codes=16, seed=1)
    fresh = pq_drift(df, books_df).first()
    assert fresh.n_vectors == 200
    assert fresh.mean_recon_cos > 0.8

    shifted = -base + rng.randn(200, 8) * 3.0
    drifted_df = spark.createDataFrame(
        [(i, [float(x) for x in shifted[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    drifted = pq_drift(drifted_df, books_df).first()
    assert drifted.mean_recon_cos < fresh.mean_recon_cos - 0.05
    assert drifted.p10_recon_cos < fresh.p10_recon_cos


def test_pq_drift_residual_mode(spark):
    """With centroids_df given, pq_drift reconstructs through the
    residual layout (cn[cell] + r̂) — on a residual-trained store the
    fresh-batch reconstruction must be at least as good as raw-PQ's,
    and the numpy recon math is pinned by the probe parity test."""
    from syncmaven_spark.operators import ivfpq_index, pq_drift

    df = _toy_corpus(spark, n=100, dim=8, seed=5)
    _, cents, books_res = ivfpq_index(
        df, n_centroids=4, m=4, n_codes=8, encode_residuals=True
    )
    res = pq_drift(df, books_res, centroids_df=cents).first()
    assert res.n_vectors == 100
    assert -1.0 <= res.min_recon_cos <= res.mean_recon_cos <= 1.0
    assert res.mean_recon_cos > 0.7


def test_residual_beats_raw_reconstruction_on_clustered_data(spark):
    """The regime residual encoding exists for: a corpus the coarse
    quantizer genuinely explains (separated clusters). There the PQ
    budget spent on the residual reconstructs materially better than on
    the raw vector — the ivfpq_index docstring's measured claim, pinned
    here. (On near-i.i.d. data the coarse term explains nothing and the
    two modes measure equal — see test_residual_recall_on_testdata.)"""
    from syncmaven_spark.operators import ivfpq_index, pq_drift

    rng = np.random.RandomState(0)
    centers = rng.randn(8, 32) * 5.0
    X = np.vstack(
        [centers[i % 8] + rng.randn(1, 32) * 0.6 for i in range(600)]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(600)],
        "vec_id long, embedding array<double>",
    )
    _, cents_raw, books_raw = ivfpq_index(
        df, n_centroids=8, m=8, n_codes=16, encode_residuals=False
    )
    _, cents_res, books_res = ivfpq_index(
        df, n_centroids=8, m=8, n_codes=16, encode_residuals=True
    )
    raw = pq_drift(df, books_raw).first()
    res = pq_drift(df, books_res, centroids_df=cents_res).first()
    assert res.mean_recon_cos > raw.mean_recon_cos
    assert res.p10_recon_cos > raw.p10_recon_cos
    # the headline claim: reconstruction error at least ~1.5x smaller
    assert (1 - res.mean_recon_cos) < (1 - raw.mean_recon_cos) / 1.5


def test_encode_assigned_rejects_foreign_assignments(spark):
    """Round-9 review pass 2: ivfpq_encode_assigned verifies the
    assignments' own stamp against the codebook it encodes under —
    rows assigned under a DIFFERENT coarse codebook would otherwise be
    re-stamped as valid and probed in the wrong cells with zero
    errors."""
    from syncmaven_spark.operators import ivfpq_encode_assigned, pq_train
    from syncmaven_spark.operators.similarity import ivf_index

    df_a = _toy_corpus(spark, n=30, dim=8, seed=1)
    df_b = _toy_corpus(spark, n=30, dim=8, seed=2)
    assignments_a, cents_a = ivf_index(df_a, n_centroids=2)
    _, cents_b = ivf_index(df_b, n_centroids=2)
    books = pq_train(df_a, m=4, n_codes=8)
    # matching codebook: fine
    assert ivfpq_encode_assigned(
        assignments_a, cents_a, books
    ).count() == 30
    # foreign codebook: the assignments' stamp mismatches and fails fast
    with pytest.raises(ValueError, match="recipe mismatch"):
        ivfpq_encode_assigned(assignments_a, cents_b, books)


def _pairs(df):
    return {(r.q_id, r.n_id, r.approx_sim, r.rank) for r in df.collect()}


def test_encode_udf_skips_empty_arrow_batch():
    """An empty Arrow batch made series.tolist() == [] reshape
    to (0,) and trip the 'expected N-dim vectors' guard, failing the job.
    The kernel must yield an empty series instead."""
    books = np.zeros((2, 4, 3))
    udf = pq_mod._encode_udf(books)
    out = list(udf.func(iter([pd.Series([], dtype=object)])))
    assert len(out) == 1 and len(out[0]) == 0
    # non-empty batches still validate dimensions
    with pytest.raises(ValueError, match="expected 6-dim"):
        list(udf.func(iter([pd.Series([[1.0, 2.0]])])))


def test_rerank_exact_topk_bounds_broadcasts(spark):
    """Both broadcast sides (shortlist pairs, query vectors)
    now carry the limit(n+1)-probe guard with an actionable error."""
    df = _toy_corpus(spark, n=20, dim=8)
    shortlist = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "q_id long, n_id long"
    )
    queries = df.filter("vec_id = 0")
    # in-bound call unchanged
    got = rerank_exact_topk(shortlist, queries, df, k=3)
    assert got.count() == 3
    with pytest.raises(ValueError, match="shortlist"):
        rerank_exact_topk(shortlist, queries, df, k=3, max_broadcast_rows=4)
    big_short = spark.createDataFrame(
        [(0, 1)], "q_id long, n_id long"
    )
    with pytest.raises(ValueError, match="query-vector"):
        rerank_exact_topk(
            big_short, df.limit(10), df, k=3, max_broadcast_rows=5
        )


def test_pq_probe_plan_reads_codes_only(spark, tmp_path):
    """The ADC probe's plan properties, asserted on the plan
    string itself — the scan reads the codes table (ReadSchema carries
    ``codes``, never the float vector column) and Python appears only
    Arrow-batched (no BatchEvalPython)."""
    df = _toy_corpus(spark, n=40, dim=8)
    books_df = pq_train(df, m=4, n_codes=8, seed=3)
    codes_path = str(tmp_path / "codes")
    pq_encode(df, books_df).write.parquet(codes_path)
    codes_df = spark.read.parquet(codes_path)
    probe = pq_probe(
        df.filter("vec_id < 3"), codes_df, books_df, k=4, exclude_self=True
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan and "ReadSchema" in plan
    assert "embedding" not in plan  # the query read happened at call time
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan


def test_ivfpq_probe_plan_prunes_to_codes_and_cells(spark, tmp_path):
    df = _toy_corpus(spark, n=60, dim=8, seed=11)
    cells_codes, centroids_df, codebooks_df = ivfpq_index(
        df, n_centroids=4, m=4, n_codes=8
    )
    store = str(tmp_path / "store")
    cells_codes.write.partitionBy("cell").parquet(store)
    stored = spark.read.parquet(store)
    probe = ivfpq_probe(
        df.filter("vec_id < 3"), stored, centroids_df, codebooks_df,
        k=4, n_probe=2, exclude_self=True,
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan and "ReadSchema" in plan
    assert "embedding" not in plan
    assert "BatchEvalPython" not in plan
    # the probed-cell restriction reaches the scan as a partition filter
    assert "cell" in plan


@pytest.fixture(scope="module")
def _assigned(spark):
    rng = np.random.RandomState(5)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignments, cents = ivf_index(df, n_centroids=4, sample_size=300)
    books = pq_train(df, m=8, n_codes=16, sample_size=300)
    return df, assignments, cents, books


@pytest.mark.parametrize("residual", [False, True])
def test_epoch_drift_record_equals_two_job_layout(_assigned, residual):
    df, assignments, cents, books_df = _assigned
    centroids, ivf_recipe = _load_codebook(cents)
    books, pq_recipe = load_pq_codebooks(books_df)
    loaded = (centroids, ivf_recipe, books, pq_recipe)
    rec = _epoch_drift_record(
        assignments, (centroids, ivf_recipe), (books, pq_recipe), residual
    )
    cell_row = ivf_drift(assignments, cents, _loaded=(centroids, ivf_recipe)).first()
    recon_row = pq_drift_assigned(
        assignments, cents, books_df,
        encode_residuals=residual, _loaded=loaded,
    ).first()
    assert rec["n_vectors"] == cell_row["n_vectors"] == recon_row["n_vectors"]
    for key in ("mean_cell_cos", "p10_cell_cos", "min_cell_cos"):
        assert rec[key] == cell_row[key]
    for key in ("mean_recon_cos", "p10_recon_cos", "min_recon_cos"):
        assert rec[key] == recon_row[key]


def test_bounded_artifact_tables_roundtrip_and_are_single_partition(_assigned):
    _df, _assignments, cents, books_df = _assigned
    assert cents.rdd.getNumPartitions() == 1
    assert books_df.rdd.getNumPartitions() == 1
    centroids, recipe = _load_codebook(cents)
    assert recipe["n_centroids"] == 4
    books, pq_recipe = load_pq_codebooks(books_df)
    assert books.shape == (8, 16, 2)
    assert pq_recipe["m"] == 8 and pq_recipe["n_codes"] == 16


@pytest.mark.parametrize("residual", [False, True])
def test_pq_drift_assigned_matches_pq_drift(_assigned, residual):
    """pq_drift_assigned over ivf_append's assignment rows equals pq_drift
    over the raw batch in both modes (raw ignores the cell; residual
    commits to the same argmax assignment pq_drift recomputes), so the
    driver's wiring measures exactly what the operator defines."""
    df, _assignments, cents, books_df = _assigned
    direct = pq_drift(
        df, books_df, centroids_df=cents if residual else None
    ).first()
    assigned = pq_drift_assigned(
        ivf_append(df, cents), cents, books_df, encode_residuals=residual
    ).first()
    assert direct.asDict() == assigned.asDict()


@pytest.mark.parametrize(
    "probe,knob,cap,warns",
    [
        # per-query LUT = m × n_codes × 8 B = 256 B: the 7-query batch
        # needs 3 chunks, i.e. 3 scans of the codes table
        ("pq", "LUT_BYTES_CAP", 3 * 256, "3 scans of the codes table"),
        ("ivfpq", "LUT_BYTES_CAP", 2 * 256, "ivfpq_probe"),
        # the finest query-axis slab: one query per ADC slab
        ("pq", "_ADC_SLAB_BYTES", 1, None),
    ],
    ids=["pq-lut-chunks", "ivfpq-lut-chunks", "pq-adc-slab-1"],
)
def test_probe_chunking_is_exact(spark, monkeypatch, probe, knob, cap, warns):
    """A query batch past LUT_BYTES_CAP is chunked internally (one
    codes-table scan per chunk, announced by a UserWarning), and the ADC
    transient is slabbed under _ADC_SLAB_BYTES; neither changes any
    emitted (pair, sim, rank) — both are memory bounds, not
    approximations."""
    df = _toy_corpus(spark, n=60, dim=8, seed=11)
    queries = df.filter("vec_id < 7")
    if probe == "pq":
        books_df = pq_train(df, m=4, n_codes=8, seed=3)
        codes_df = pq_encode(df, books_df)

        def run():
            return _pairs(
                pq_probe(queries, codes_df, books_df, k=4, exclude_self=True)
            )
    else:
        cells_codes, centroids_df, codebooks_df = ivfpq_index(
            df, n_centroids=4, m=4, n_codes=8
        )

        def run():
            return _pairs(ivfpq_probe(
                queries, cells_codes, centroids_df, codebooks_df,
                k=4, n_probe=2, exclude_self=True,
            ))

    baseline = run()
    monkeypatch.setattr(pq_mod, knob, cap)
    if warns is None:
        assert run() == baseline
        return
    assert pq_mod._lut_chunk_size(4, 8) == cap // 256
    with pytest.warns(UserWarning, match=warns):
        assert run() == baseline


def _reference_assign(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """argmin over codes of ‖c‖² − 2·x·c per subspace, by the plain
    einsum: the formulation every trained codebook, recall floor and
    checksum stamp is pinned against. Row blocks only bound memory."""
    m, n_codes, sub_dim = books.shape
    Xs = X.reshape(len(X), m, sub_dim)
    c2 = (books * books).sum(axis=2)
    return np.concatenate([
        np.argmin(
            c2 - 2.0 * np.einsum(
                "njs,jcs->njc", Xs[i : i + 256], books, optimize=False
            ),
            axis=2,
        )
        for i in range(0, len(Xs), 256)
    ])


@pytest.mark.parametrize("threads", [1, 8])
@pytest.mark.parametrize(
    "n,m,n_codes,sub_dim,case",
    [
        (2048, 32, 256, 2, None),  # the catalog's m=32 recipe
        (1, 32, 256, 2, None),
        (777, 8, 64, 8, None),
        (5, 4, 16, 16, None),
        (997, 32, 16, 2, "slabs"),
        (64, 4, 8, 2, "ties"),
        *[(512, 8, 32, k, "near-ties") for k in (2, 4, 8, 16)],
        *[(512, 8, 32, k, "fma") for k in (2, 4, 8, 16)],
    ],
    ids=["m32", "one-row", "sub-dim-8", "sub-dim-16", "slab-boundaries",
         "exact-ties",
         *[f"near-ties-sub-dim-{k}" for k in (2, 4, 8, 16)],
         *[f"fma-emulated-sub-dim-{k}" for k in (2, 4, 8, 16)]],
)
def test_assign_codes_matches_reference_bitwise(
    monkeypatch, n, m, n_codes, sub_dim, case, threads
):
    """_assign_codes — slabbed, thread-split, its GEMM argmin certified or
    recomputed — is BIT-identical to the reference for every sub_dim, so
    codebooks do not depend on the host's BLAS."""
    rng = np.random.RandomState(11)
    X = rng.standard_normal((n, m * sub_dim))
    books = rng.standard_normal((m, n_codes, sub_dim))
    if case == "slabs":
        # 37-row slabs: several boundaries, and none divides the prime n
        monkeypatch.setattr(pq_mod, "_ASSIGN_SLAB_BYTES", 37 * m * n_codes * 8)
    elif case == "ties":
        # cycle-padded (duplicate) entries give EXACT score ties, which
        # must break to the lowest code index on every path
        books = np.concatenate(
            [books[:, :3], books[:, :3], books[:, :2]], axis=1
        )
    elif case in ("near-ties", "fma"):
        # every sub-vector sits just off the midpoint of two codes, so
        # their scores differ by about the noise: 1e-13 straddles the
        # certificate's margin, 1e-15 is a few ULP of the scores
        noise = 1e-13 if case == "near-ties" else 1e-15
        pick = rng.randint(n_codes, size=(n, m, 2))
        j = np.arange(m)
        mid = (books[j, pick[..., 0]] + books[j, pick[..., 1]]) / 2
        X = (mid + noise * rng.standard_normal(mid.shape)).reshape(n, -1)
    expected = _reference_assign(X, books)
    if case == "fma":
        # emulate a BLAS that rounds differently (FMA, another summation
        # order): every GEMM result one ULP off, odd codes up, even down
        def one_ulp_off(r):
            up = np.arange(r.shape[-1]) % 2 == 1
            return np.nextafter(r, np.where(up, np.inf, -np.inf), out=r)

        # the nudge flips the plain argmin of the reference scores ...
        scores = (books * books).sum(axis=2) - 2.0 * np.einsum(
            "njs,jcs->njc", X.reshape(n, m, sub_dim), books, optimize=False
        )
        assert (one_ulp_off(scores).argmin(axis=2) != expected).any()
        # ... but not the certified kernel's codes
        matmul = np.matmul
        monkeypatch.setattr(
            np, "matmul", lambda *a, **kw: one_ulp_off(matmul(*a, **kw))
        )
    assert np.array_equal(expected, _assign_codes(X, books, threads=threads))
