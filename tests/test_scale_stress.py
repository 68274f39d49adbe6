"""Opt-in 10× scale stress (SPARK_GRAFT_SCALE_STRESS=1): the dedup/graph
operators run against a 500k-word-scale corpus — 10 replicas of the sf0.1
documents table with disjoint id ranges (50k docs) — to exercise the
behaviors that only appear past bench scale:

- LSH bucket blowup: every replicated doc shares ALL band buckets with its 9
  copies, so bucket sizes grow 10×; the production bucket cap must keep the
  pair stage bounded while still finding every within-group pair.
- Connected components on diameter-heavy graphs: replica chains (doc →
  copy1 → … → copy9) are the O(diameter) worst case for label propagation;
  star rewriting must converge in O(log² 10) rounds on the pure distributed
  path (``local_finish_edges=0`` — no driver union-find shortcut).
- Exact dedup grouping at 10× multiplicity.

Ground truth is construction-provable (identical texts, known chain
topology) — no quadratic oracle needed at this scale. Run once per round:

    SPARK_GRAFT_SCALE_STRESS=1 python -m pytest tests/test_scale_stress.py -q
"""

import os
from functools import reduce

import pytest
from pyspark.sql import DataFrame, functions as F

RUN = os.environ.get("SPARK_GRAFT_SCALE_STRESS") == "1"
SF_DIR = os.environ.get("SPARK_GRAFT_SCALE_SF_DIR", "/root/testdata/sf0.1")
N_REPLICAS = 10
OFFSET = 1_000_000

pytestmark = pytest.mark.skipif(
    not RUN, reason="scale stress: set SPARK_GRAFT_SCALE_STRESS=1"
)


@pytest.fixture(scope="module")
def docs(spark):
    from syncmaven_spark.session import load_tables

    return load_tables(spark, SF_DIR, register_views=False)["documents"]


@pytest.fixture(scope="module")
def big_docs(spark, docs):
    replicas = [
        docs.select(
            (F.col("doc_id") + F.lit(i * OFFSET)).alias("doc_id"),
            "text",
            "lang",
            "source",
        )
        for i in range(N_REPLICAS)
    ]
    return reduce(DataFrame.union, replicas)


def test_exact_dedup_collapses_replica_groups(spark, docs, big_docs):
    from syncmaven_spark.operators.dedup import exact_dedup

    n_texts = docs.select("text").distinct().count()
    kept = exact_dedup(big_docs, ["text"], "doc_id")
    assert kept.count() == n_texts
    # every kept row is the true minimum id of its group (replica 0's id,
    # except when distinct base docs share a text — then the group min)
    assert kept.filter(~F.col("is_duplicate_group")).count() == 0
    assert kept.filter(F.col("doc_id") >= OFFSET).count() == 0


def test_capped_lsh_finds_all_replica_pairs_at_10x(spark, docs, big_docs):
    """Production recipe (3-word shingles, bucket cap 200) at 50k docs:
    identical replicas agree on every band, so each group concentrates in
    one bucket per band — the cap must bound the join while keeping all
    C(10,2)=45 within-group pairs for groups under the cap."""
    from syncmaven_spark.operators.dedup import minhash_lsh_candidates

    cands = minhash_lsh_candidates(
        big_docs, "text", "doc_id",
        num_perm=64, bands=32, shingle_k=3, max_bucket_size=200,
    ).persist()
    try:
        n_cands = cands.count()
        assert n_cands > 0
        # structural sanity: ordered ids, no self-pairs, band count bounded
        assert cands.filter(F.col("id_a") >= F.col("id_b")).count() == 0
        assert cands.filter(F.col("n_shared_bands") > 32).count() == 0

        # sample 20 base docs whose text is unique in the base corpus →
        # their replica group is exactly 10 docs; all 45 pairs must appear
        unique_texts = (
            docs.groupBy("text")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("doc_id"))
            .filter(F.col("n") == 1)
            .select("doc_id")
            .orderBy("doc_id")  # deterministic sample, not limit()'s arbitrary pick
            .limit(20)
        )
        base_ids = [r.doc_id for r in unique_texts.collect()]
        assert base_ids, "no unique-text docs in base corpus?"
        pair_counts = {
            base: cands.filter(
                (F.col("id_a") % OFFSET == base) & (F.col("id_b") % OFFSET == base)
            ).count()
            for base in base_ids
        }
        missing = {b: n for b, n in pair_counts.items() if n != 45}
        assert not missing, f"replica groups missing pairs: {missing}"
    finally:
        cands.unpersist()


def test_distributed_cc_on_replica_chains(spark, docs):
    """Chains doc→copy1→…→copy9 (length-10 paths, 45k edges, diameter 9):
    the distributed star-rewriting loop (driver union-find disabled) must
    label every copy with the base doc id in ≤ max_iter rounds."""
    from syncmaven_spark.operators.graph import connected_components

    base = docs.select("doc_id")
    chain_edges = reduce(
        DataFrame.union,
        [
            base.select(
                (F.col("doc_id") + F.lit(i * OFFSET)).alias("id_a"),
                (F.col("doc_id") + F.lit((i + 1) * OFFSET)).alias("id_b"),
            )
            for i in range(N_REPLICAS - 1)
        ],
    )
    labels = connected_components(
        chain_edges, "id_a", "id_b", local_finish_edges=0
    )
    bad = labels.filter(F.col("component") != F.col("v") % OFFSET).count()
    assert bad == 0
    assert labels.count() == docs.count() * N_REPLICAS


def test_incremental_lsh_equals_full_pass_at_sf01(spark, docs):
    """sf0.1 stand-in for the quadratic-oracle-excluded
    ``dedup_minhash_incremental`` entry: the incremental probe of an
    indexed 80% base by the 20% batch must emit exactly the full-corpus
    pass's candidates that touch the batch — the same Spark-vs-Spark
    equivalence the sf0.001 property test asserts, at 5k docs with the
    production recipe's uncapped oracle configuration."""
    from syncmaven_spark.operators import (
        minhash_lsh_candidates,
        minhash_lsh_candidates_incremental,
        minhash_lsh_index,
    )

    new = docs.filter("doc_id % 5 = 0")
    old = docs.filter("doc_id % 5 <> 0")
    cfg = dict(num_perm=64, bands=32, shingle_k=3, max_bucket_size=None)

    full = {
        (r.id_a, r.id_b, r.n_shared_bands)
        for r in minhash_lsh_candidates(docs, "text", "doc_id", **cfg).collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    index = minhash_lsh_index(old, "text", "doc_id", **cfg)
    inc = {
        (r.id_a, r.id_b, r.n_shared_bands)
        for r in minhash_lsh_candidates_incremental(
            new, index, "text", "doc_id", **cfg
        ).collect()
    }
    assert inc == full
    assert len(inc) > 0


def test_streaming_near_dup_equals_full_pass_at_sf01(spark, docs, tmp_path):
    """The streaming composition's incremental≡full property at sf0.1: the
    5k-doc corpus arrives as three micro-batches, verification runs from
    the bucket-pruned persisted sets table, and the accumulated pairs must
    equal the uncapped full-corpus batch pass (same recipe/threshold)."""
    from syncmaven_spark.operators import minhash_verified_pairs
    from syncmaven_spark.streaming import run_streaming_near_dup_sync

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    kwargs = dict(
        threshold=0.8, num_perm=64, bands=32, shingle_k=3,
        max_bucket_size=None,
    )
    corpus = docs.select("doc_id", "text")
    schema = corpus.schema
    for part in range(3):
        corpus.filter(F.col("doc_id") % 3 == part).write.mode(
            "append"
        ).parquet(src)
        run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    streamed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(state + "/pairs").collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_verified_pairs(
            corpus, "text", "doc_id", **kwargs
        ).collect()
    }
    assert streamed == full
    assert len(full) > 0


def test_incremental_decontamination_equals_one_shot_at_sf01(spark, docs):
    """sf0.1 stand-in for the quadratic-oracle-excluded
    ``decontamination_fuzzy_incremental`` entry: the benchmark (doc_id %
    7 = 0, ~700 docs) is indexed once and the 3-batch incremental union
    must equal the one-shot cross pass at 5k docs — the same
    Spark-vs-Spark equivalence the sf0.001 property test asserts, on the
    real corpus with the production recipe."""
    from syncmaven_spark.operators import (
        decontamination_index,
        fuzzy_decontamination_pairs,
        fuzzy_decontamination_pairs_incremental,
    )
    from syncmaven_spark.operators.cache import persist_scoped

    train = docs.filter("doc_id % 7 <> 0")
    bench = docs.filter("doc_id % 7 = 0")
    kw = dict(threshold=0.8, max_bucket_size=None)
    one_shot = {
        (r.train_id, r.bench_id, r.jaccard)
        for r in fuzzy_decontamination_pairs(
            train, bench, "text", "doc_id", **kw
        ).collect()
    }
    idx, sets = decontamination_index(bench, "text", "doc_id")
    idx, sets = persist_scoped(idx), persist_scoped(sets)
    inc = set()
    for i in range(3):
        inc |= {
            (r.train_id, r.bench_id, r.jaccard)
            for r in fuzzy_decontamination_pairs_incremental(
                train.filter(f"doc_id % 3 = {i}"), idx, sets,
                "text", "doc_id", **kw,
            ).collect()
        }
    assert inc == one_shot
    assert len(inc) > 0


def test_streaming_ann_equals_one_shot_at_sf01(spark, tmp_path):
    """The ANN driver's 3-batch ≡ one-shot property at sf0.1 (the unit
    tier runs it on 70 vectors; this drives the full 50k-vector table
    through prepare → streamed appends WITH the round-10 surface live:
    the bucket-pruned ids-sidecar disjointness guard on every batch,
    both drift halves recorded per epoch, and the compaction cadence
    folding store+ids mid-stream — then probes the compacted state and
    compares against a one-shot assignment of the whole corpus under
    the same frozen codebooks."""
    from syncmaven_spark.operators import ivfpq_append, ivfpq_probe
    from syncmaven_spark.session import load_tables
    from syncmaven_spark.streaming import (
        prepare_ann_state,
        probe_ann_store,
        read_ann_drift,
        read_ann_store,
        run_streaming_ann_sync,
    )

    emb = load_tables(spark, SF_DIR, register_views=False)["embeddings"]
    base = emb.filter("vec_id % 5 <> 0")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    prepare_ann_state(
        spark, base, state, n_centroids=16, m=8, n_codes=64
    )
    stream_side = emb.filter("vec_id % 5 = 0")
    schema = stream_side.schema
    for part in range(3):
        stream_side.filter(F.col("vec_id") % 3 == part).write.mode(
            "append"
        ).parquet(src)
        run_streaming_ann_sync(
            spark, src, schema, state, ckpt,
            compact_every_n_epochs=2,
        )

    # the cadence fired at epoch 2: store and ids live dirs are bounded
    store_dirs = {
        n for n in os.listdir(state + "/store") if n.startswith("epoch=")
    }
    assert store_dirs == {"epoch=-1", "epoch=2"}
    assert store_dirs == {
        n for n in os.listdir(state + "/ids") if n.startswith("epoch=")
    }

    # both drift halves recorded for all three epochs, sane ranges
    hist = read_ann_drift(spark, state).collect()
    assert {r.epoch for r in hist} == {0, 1, 2}
    for r in hist:
        assert 0.0 < r.mean_recon_cos <= 1.0
        assert -1.0 <= r.mean_cell_cos <= 1.0

    queries = emb.filter("vec_id < 40")
    got = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in probe_ann_store(
            spark, queries, state, k=5, n_probe=4
        ).collect()
    }
    cells_codes, cents, books = read_ann_store(spark, state)
    assert cells_codes.count() == emb.count()
    full = ivfpq_append(emb, cents, books)
    ref = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in ivfpq_probe(
            queries, full, cents, books, k=5, n_probe=4
        ).collect()
    }
    assert got == ref and len(got) > 0


def test_reindex_under_load_at_sf01(spark, tmp_path):
    """Round-11: the full tripped-gate remedy loop at sf0.1 (round-10
    verdict #4 residue asked for one reindex-under-load case in the
    stress tier): generation 0 streams TWO epochs with a 1-record drift
    tail — so the live tail ROLLS into drift/live segments mid-stream —
    then a (deliberately strict, 0.999) recon gate trips on the next
    batch, reindex_ann_state migrates the 44k-row store (codebook
    retrain over the full corpus + the O(old store) id-parity anti-join,
    both at real scale), and the stream CONTINUES into the new
    generation, whose probe matches a one-shot assignment under the new
    codebooks. The segmented drift history survives the migration: every
    generation-0 epoch is still readable. The gate is tripped by
    strictness, not a planted distribution shift — drift realism is
    pinned at unit scale (test_streaming_ann_state); what only this tier
    exercises is the migration's cost-bearing paths on 50k vectors."""
    from syncmaven_spark.operators import ivfpq_append, ivfpq_probe
    from syncmaven_spark.session import load_tables
    from syncmaven_spark.streaming import (
        prepare_ann_state,
        probe_ann_store,
        read_ann_drift,
        read_ann_store,
        reindex_ann_state,
        run_streaming_ann_sync,
    )

    emb = load_tables(spark, SF_DIR, register_views=False)["embeddings"]
    base = emb.filter("vec_id % 5 <> 0")
    stream_side = emb.filter("vec_id % 5 = 0")
    a1 = stream_side.filter("vec_id % 20 = 0")
    a2 = stream_side.filter("vec_id % 20 = 10")
    b = stream_side.filter("vec_id % 10 = 5")
    schema = stream_side.schema
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    prepare_ann_state(spark, base, state, n_centroids=16, m=8, n_codes=64)
    for part in (a1, a2):
        part.write.mode("append").parquet(src)
        run_streaming_ann_sync(
            spark, src, schema, state, ckpt,
            min_mean_recon_cos=0.2, drift_tail_epochs=1,
        )
    # the 1-epoch tail rolled epoch 0 into a segment mid-stream
    assert os.path.isdir(os.path.join(state, "drift", "live"))

    b.write.mode("append").parquet(src)
    with pytest.raises(Exception, match="reconstruction cosine"):
        run_streaming_ann_sync(
            spark, src, schema, state, ckpt, min_mean_recon_cos=0.999
        )

    # migrate: full corpus = everything the old store holds
    state2 = str(tmp_path / "state2")
    corpus = base.unionByName(a1).unionByName(a2)
    report = reindex_ann_state(spark, corpus, state, state2)
    assert report["old_n_ids"] == report["new_n_ids"] == corpus.count()

    # the stream continues into the new generation (fresh checkpoint)
    src2, ckpt2 = str(tmp_path / "src2"), str(tmp_path / "ckpt2")
    b.write.parquet(src2)
    run_streaming_ann_sync(
        spark, src2, schema, state2, ckpt2, min_mean_recon_cos=0.2
    )

    hist = read_ann_drift(spark, state2).collect()
    assert {(r.generation, r.epoch) for r in hist} == {
        (0, 0), (0, 1), (1, 0)
    }
    queries = emb.filter("vec_id < 40")
    got = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in probe_ann_store(
            spark, queries, state2, k=5, n_probe=4
        ).collect()
    }
    cells_codes, cents, books = read_ann_store(spark, state2)
    assert cells_codes.count() == emb.count()
    full = ivfpq_append(emb, cents, books)
    ref = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in ivfpq_probe(
            queries, full, cents, books, k=5, n_probe=4
        ).collect()
    }
    assert got == ref and len(got) > 0
