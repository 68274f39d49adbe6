"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

import pytest

from syncmaven_spark.operators import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
)
from tests.conftest import SF_SMOKE

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden all afternoon long"
)
NEAR = BASE.replace("warm windowsill", "cold doorstep")  # small edit
OTHER = (
    "completely different content about distributed query engines shuffling "
    "partitioned columnar data across executors with adaptive optimization"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "srcA"),
        (2, BASE, "srcA"),        # exact duplicate of 1
        (3, NEAR, "srcA"),        # near duplicate of 1
        (4, OTHER, "srcA"),
        (5, OTHER + " extra tail words here", "srcB"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_exact_dedup_keeps_lowest_id(docs):
    kept = exact_dedup(docs, ["text"], "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 collapsed into 1
    flags = {r.doc_id: r.is_duplicate_group for r in kept.collect()}
    assert flags[1] is True and flags[4] is False


def test_minhash_identical_docs_identical_signatures(docs):
    sig = minhash_signatures(docs, "text", "doc_id", num_perm=32).collect()
    by_id = {r.doc_id: [r[f"mh{i}"] for i in range(32)] for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[4]
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert shared >= 16


def test_minhash_lsh_candidates_find_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.n_shared_bands
        for r in minhash_lsh_candidates(
            docs, "text", "doc_id", num_perm=32, bands=16
        ).collect()
    }
    assert (1, 2) in pairs  # exact dup shares all bands
    assert pairs[(1, 2)] == 16
    assert (1, 3) in pairs  # near dup shares some band
    assert (1, 4) not in pairs  # unrelated content


def test_simhash_hamming_ordering(docs):
    sims = {r.doc_id: r.simhash for r in simhash(docs, "text", "doc_id").collect()}
    assert sims[1] == sims[2]

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(sims[1], sims[3]) < hamming(sims[1], sims[4])


def test_simhash_near_dups_blocking(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups(docs, "text", "doc_id", max_hamming=16).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs


def test_ngram_jaccard_with_blocking(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["source"], threshold=0.3
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.7 <= pairs[(1, 3)] < 1.0
    # 4↔5 share a source block and overlap heavily by words
    assert (1, 4) not in pairs
    # cross-block pair (4 in srcA, 5 in srcB) never considered
    assert (4, 5) not in pairs


def _exact_pairs(docs, threshold, shingle_k):
    from pyspark.sql import functions as F

    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs.withColumn("_all", F.lit(1)),
            "text",
            "doc_id",
            ["_all"],
            threshold=threshold,
            shingle_k=shingle_k,
        ).collect()
    }


def test_capped_lsh_production_recipe_full_recall(testdata):
    """The production recipe — 3-word shingles, max_bucket_size=200 — has
    recall 1.0 on the real documents table: shingle sets at k=3 are
    discriminative, buckets stay far under the cap, and the verified output
    equals the unblocked exact ≥0.8 Jaccard pair set."""
    from syncmaven_spark.operators.dedup import minhash_verified_pairs

    docs = testdata["documents"].select("doc_id", "text")
    exact = _exact_pairs(docs, threshold=0.8, shingle_k=3)
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_verified_pairs(
            docs, "text", "doc_id", threshold=0.8, shingle_k=3,
            max_bucket_size=200,
        ).collect()
    }
    assert exact, "testdata must contain near-duplicate documents at k=3"
    assert capped == exact


def test_capped_lsh_wordset_config_documents_recall_loss(testdata):
    """Why the ORACLE entry runs uncapped: at shingle_k=1 (word sets — what
    the SQL oracle can express) the driver testdata is the degenerate case —
    500 distinct texts whose word SETS nearly coincide, so LSH buckets reach
    ~340 docs and the 200 cap drops real pairs (recall ≈ 0.53 measured).
    Precision stays 1.0 (capped ⊆ exact: survivors are exact-verified).
    This is the boilerplate-heavy regime the docstring warns about."""
    from syncmaven_spark.operators.dedup import minhash_verified_pairs

    docs = testdata["documents"].select("doc_id", "text")
    exact = _exact_pairs(docs, threshold=0.8, shingle_k=1)
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_verified_pairs(
            docs, "text", "doc_id", threshold=0.8, shingle_k=1,
            max_bucket_size=200,
        ).collect()
    }
    assert capped <= exact  # never a false positive
    recall = len(capped) / len(exact)
    assert 0.4 <= recall < 1.0  # the cap bites here, by design


def test_capped_lsh_loses_pairs_only_past_the_cap(spark):
    """What the cap costs on degenerate input: n identical docs all share
    every band bucket, so only the cap-lowest ids pair up — recall drops to
    C(cap,2)/C(n,2). This is the deliberate scale trade (a 100k-doc
    boilerplate bucket would otherwise emit ~5e9 pairs); raise
    max_bucket_size only when the corpus is known boilerplate-light or for
    oracle-exact runs."""
    from syncmaven_spark.operators.dedup import minhash_verified_pairs

    n, cap = 30, 20
    df = spark.createDataFrame(
        [(i, "same boilerplate text repeated everywhere") for i in range(n)],
        ["doc_id", "text"],
    )
    pairs = minhash_verified_pairs(
        df, "text", "doc_id", threshold=0.8, max_bucket_size=cap
    ).collect()
    assert len(pairs) == cap * (cap - 1) // 2
    # the survivors are exactly the cap lowest ids (deterministic order-by-id cap)
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert ids == set(range(cap))


def test_minhash_empty_and_short_docs(spark):
    """Shorter-than-k docs fall back to the whole-text shingle; EMPTY (and
    NULL / punctuation-only) docs get NO signature at all — they used to
    shingle to [''] and pair with every other empty-ish doc as jaccard 1.0
    (round-5 max review)."""
    df = spark.createDataFrame(
        [(1, "short"), (2, ""), (3, "one two"), (4, None), (5, "?!...")],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(df, "text", "doc_id", num_perm=8)
    assert {r["doc_id"] for r in sig.select("doc_id").collect()} == {1, 3}


def test_incremental_lsh_candidates_equal_full_pass_on_union(spark):
    """The continuous-ingestion contract: with disjoint ids and no caps,
    indexing the old corpus and probing only the new batch yields exactly
    the full-pass candidates that touch the new batch."""
    from syncmaven_spark.operators import (
        minhash_lsh_candidates_incremental,
        minhash_lsh_index,
    )
    from syncmaven_spark.session import load_tables

    docs = load_tables(
        spark, SF_SMOKE, register_views=False
    )["documents"]
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
    assert len(inc) > 0  # the fixture corpus must actually exercise this


def test_incremental_verified_pairs_and_batch_internal_dups(docs):
    """New-vs-indexed AND new-vs-new pairs both surface, verified with the
    exact Jaccard; every emitted pair touches the new batch."""
    from syncmaven_spark.operators import (
        minhash_lsh_index,
        minhash_verified_pairs_incremental,
    )

    old = docs.filter("doc_id in (1, 4)")
    new = docs.filter("doc_id in (2, 3, 5)")
    index = minhash_lsh_index(
        old, "text", "doc_id", num_perm=64, bands=32, max_bucket_size=None
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_verified_pairs_incremental(
            new, index, docs, "text", "doc_id",
            threshold=0.3, num_perm=64, bands=32, max_bucket_size=None,
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0          # new doc 2 == indexed doc 1
    assert (1, 3) in pairs               # near-dup of an indexed doc
    assert (2, 3) in pairs               # near-dup WITHIN the new batch
    assert (4, 5) in pairs               # indexed doc 4 vs new doc 5
    assert all(a in (2, 3, 5) or b in (2, 3, 5) for (a, b) in pairs)


def test_incremental_simhash_equals_full_pass_on_union(spark):
    """SimHash's continuous-ingestion contract, mirroring the MinHash one:
    indexing the old corpus and probing only the new batch yields exactly
    the full-pass hamming pairs that touch the batch."""
    from syncmaven_spark.operators import (
        simhash_chunk_index,
        simhash_near_dups_incremental,
    )
    from syncmaven_spark.session import load_tables

    docs = load_tables(
        spark, SF_SMOKE, register_views=False
    )["documents"]
    # mirror the corpus so hamming-0 pairs exist by construction
    mirrored = docs.select("doc_id", "text").union(
        docs.select((docs.doc_id + 100000).alias("doc_id"), "text")
    )
    new = mirrored.filter("doc_id % 5 = 0")
    old = mirrored.filter("doc_id % 5 <> 0")
    cfg = dict(max_hamming=8, max_bucket_size=None)

    full = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dups(mirrored, "text", "doc_id", **cfg).collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    index = simhash_chunk_index(old, "text", "doc_id", **cfg)
    inc = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dups_incremental(
            new, index, "text", "doc_id", **cfg
        ).collect()
    }
    assert inc == full
    assert len(inc) > 0


def test_simhash_chunk_index_rejects_bad_max_hamming(spark):
    """Round-6 review: max_hamming > 63 creates zero-width chunks whose
    value is 0 for every doc — one bucket holding the whole corpus."""
    from syncmaven_spark.operators import simhash_chunk_index

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    for bad in (64, -1, 100):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_chunk_index(df, "text", "doc_id", max_hamming=bad)


def test_index_recipe_stamp_survives_parquet_and_rejects_mismatch(
    docs, tmp_path
):
    """Round-6 advice: a default-built index probed with a different recipe
    silently found zero cross-batch pairs. The index now carries its recipe
    as column metadata (which survives parquet), and probes fail fast."""
    from syncmaven_spark.operators import (
        minhash_lsh_candidates_incremental,
        minhash_lsh_index,
        minhash_verified_pairs_incremental,
        simhash_chunk_index,
        simhash_near_dups_incremental,
    )

    spark = docs.sparkSession
    old = docs.filter("doc_id in (1, 4)")
    new = docs.filter("doc_id in (2, 3)")

    path = str(tmp_path / "mh_index")
    minhash_lsh_index(old, "text", "doc_id", bands=16).write.parquet(path)
    stored = spark.read.parquet(path)
    with pytest.raises(ValueError, match="recipe mismatch"):
        minhash_lsh_candidates_incremental(
            new, stored, "text", "doc_id", bands=32
        )
    # matching probe through the SAME persisted index works
    assert minhash_lsh_candidates_incremental(
        new, stored, "text", "doc_id", bands=16
    ).count() >= 0

    sh_path = str(tmp_path / "sh_index")
    simhash_chunk_index(old, "text", "doc_id", max_hamming=3).write.parquet(
        sh_path
    )
    with pytest.raises(ValueError, match="recipe mismatch"):
        simhash_near_dups_incremental(
            new, spark.read.parquet(sh_path), "text", "doc_id", max_hamming=8
        )

    # build/probe DEFAULTS are now aligned end-to-end (the advice's exact
    # failure shape: index built with one function's defaults, probed with
    # another's) — a default-default round trip must not raise
    default_index = minhash_lsh_index(old, "text", "doc_id")
    assert minhash_verified_pairs_incremental(
        new, default_index, docs, "text", "doc_id", threshold=0.3
    ).count() >= 0


def test_assert_new_ids_rejects_reingested_id(docs):
    """Round-6 verdict: the disjoint-ids contract was documented but
    unenforced — a violating re-ingest silently lost the (old, new) pair.
    Opt-in eager enforcement raises with the offending id instead."""
    from syncmaven_spark.operators import (
        minhash_lsh_candidates_incremental,
        minhash_lsh_index,
        simhash_chunk_index,
        simhash_near_dups_incremental,
    )

    old = docs.filter("doc_id in (1, 4)")
    overlapping = docs.filter("doc_id in (1, 3)")  # re-ingests id 1
    mh_index = minhash_lsh_index(old, "text", "doc_id")
    with pytest.raises(ValueError, match="re-ingests id"):
        minhash_lsh_candidates_incremental(
            overlapping, mh_index, "text", "doc_id", assert_new_ids=True
        )
    # default-off: the same call stays lazy and silent (documented trade)
    minhash_lsh_candidates_incremental(overlapping, mh_index, "text", "doc_id")

    sh_index = simhash_chunk_index(old, "text", "doc_id")
    with pytest.raises(ValueError, match="re-ingests id"):
        simhash_near_dups_incremental(
            overlapping, sh_index, "text", "doc_id", assert_new_ids=True
        )


def test_fuzzy_decontamination_cross_pairs_only(spark):
    """Planted contamination: a train doc near-copies a benchmark doc →
    pair emitted; train-train and bench-bench near-dups are NOT emitted;
    overlapping id spaces are handled (ids are per-side)."""
    from syncmaven_spark.operators import fuzzy_decontamination_pairs

    train = spark.createDataFrame(
        [
            (1, BASE),                 # near-copy of bench doc 10
            (2, BASE),                 # train-train dup of 1 (must NOT pair)
            (3, OTHER),
            (10, OTHER + " more tail"),  # id collides with bench id 10
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(10, NEAR), (11, "totally unrelated benchmark prompt text here")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.train_id, r.bench_id): r.jaccard
        for r in fuzzy_decontamination_pairs(
            train, bench, "text", "doc_id",
            threshold=0.3, max_bucket_size=None,
        ).collect()
    }
    assert (1, 10) in pairs and (2, 10) in pairs
    # the id-10 train doc (OTHER-based) must not match bench id 10 (NEAR)
    assert (10, 10) not in pairs
    assert all(b in (10, 11) for _, b in pairs)
    # decontamination = anti-join on the pair table
    clean = train.join(
        spark.createDataFrame(
            [(t,) for t, _ in pairs], ["doc_id"]
        ).distinct(),
        "doc_id",
        "left_anti",
    )
    assert sorted(r.doc_id for r in clean.collect()) == [3, 10]

    # DEFAULTS must catch mass contamination: many train near-copies of
    # one benchmark doc share every band bucket, so a default build-time
    # cap would silently exempt the copies past it (round-7 review —
    # max_bucket_size defaults to None here, unlike self-dedup)
    many = spark.createDataFrame(
        [(100 + i, BASE) for i in range(30)], ["doc_id", "text"]
    )
    caught = {
        r.train_id
        for r in fuzzy_decontamination_pairs(
            many, bench, "text", "doc_id", threshold=0.3
        ).collect()
    }
    assert caught == {100 + i for i in range(30)}


def test_fuzzy_decontamination_incremental_equals_one_shot(spark, tmp_path):
    """Round-7 verdict #1: the benchmark is indexed ONCE
    (decontamination_index, parquet-roundtripped so the recipe stamps are
    exercised) and the train side streams through in 3 batches — the
    union must equal the one-shot pass exactly, including a train doc
    whose id COLLIDES with its benchmark near-copy's id (the case the
    dedup incrementals' least/greatest normalization silently drops)."""
    from syncmaven_spark.operators import (
        decontamination_index,
        fuzzy_decontamination_pairs,
        fuzzy_decontamination_pairs_incremental,
    )

    train = spark.createDataFrame(
        [
            (1, BASE),            # near-copy of bench 10
            (2, BASE),            # another copy, lands in a different batch
            (3, OTHER),
            (5, NEAR),            # id 5 ALSO a bench id, text near bench 5
            (10, OTHER + " more tail"),
            (12, NEAR.replace("garden", "meadow")),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(10, NEAR), (5, NEAR), (11, "totally unrelated benchmark prompt")],
        ["doc_id", "text"],
    )
    kw = dict(threshold=0.3, max_bucket_size=None)
    one_shot = {
        (r.train_id, r.bench_id, r.jaccard)
        for r in fuzzy_decontamination_pairs(
            train, bench, "text", "doc_id", **kw
        ).collect()
    }
    assert (5, 5, 1.0) in one_shot  # same-id cross pair must survive

    idx, sets = decontamination_index(bench, "text", "doc_id")
    idx.write.parquet(str(tmp_path / "bidx"))
    sets.write.parquet(str(tmp_path / "bsets"))
    idx = spark.read.parquet(str(tmp_path / "bidx"))
    sets = spark.read.parquet(str(tmp_path / "bsets"))

    inc = set()
    for i in range(3):
        batch = train.filter(f"doc_id % 3 = {i}")
        inc |= {
            (r.train_id, r.bench_id, r.jaccard)
            for r in fuzzy_decontamination_pairs_incremental(
                batch, idx, sets, "text", "doc_id", **kw
            ).collect()
        }
    assert inc == one_shot and len(inc) >= 4

    # a probe with a different recipe fails fast on the parquet-survived
    # stamp (both artifacts carry it)
    with pytest.raises(ValueError, match="recipe mismatch"):
        fuzzy_decontamination_pairs_incremental(
            train, idx, sets, "text", "doc_id", bands=16, **kw
        )


def test_containment_catches_embedded_benchmark_doc(spark):
    """The contamination shape Jaccard structurally misses: a benchmark
    doc embedded verbatim inside a much longer train doc has near-1.0
    containment but tiny Jaccard (union dominated by the host doc)."""
    from syncmaven_spark.operators import (
        containment_decontamination_pairs,
        fuzzy_decontamination_pairs,
    )

    filler = " ".join(f"filler{i} token{i} pad{i}" for i in range(120))
    train = spark.createDataFrame(
        [
            (1, filler + " " + NEAR + " " + filler[::-1].lower()),  # embeds 10
            (2, OTHER),
            (3, NEAR),  # near-copy (both passes should flag it)
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(10, NEAR), (11, "totally unrelated benchmark prompt text")],
        ["doc_id", "text"],
    )
    cont = {
        (r.train_id, r.bench_id): r.containment
        for r in containment_decontamination_pairs(
            train, bench, "text", "doc_id", threshold=0.8, shingle_k=3
        ).collect()
    }
    assert cont[(1, 10)] >= 0.9   # embedded doc caught
    assert cont[(3, 10)] == 1.0   # exact copy fully contained
    assert all(b in (10, 11) for _, b in cont)
    assert (2, 10) not in cont and (2, 11) not in cont

    # the symmetric-Jaccard pass misses the EMBEDDED copy (tiny union
    # overlap) while still catching the near-copy — the reason both
    # passes exist
    jac = {
        (r.train_id, r.bench_id)
        for r in fuzzy_decontamination_pairs(
            train, bench, "text", "doc_id",
            threshold=0.8, shingle_k=3, max_bucket_size=None,
        ).collect()
    }
    assert (1, 10) not in jac and (3, 10) in jac


def test_containment_zero_shingle_and_overlapping_ids(spark):
    """Zero-shingle docs are excluded on both sides (containment is
    undefined against an empty benchmark doc); overlapping id spaces keep
    their sides; the non-broadcast fallback agrees with the broadcast
    path."""
    from syncmaven_spark.operators import containment_decontamination_pairs

    train = spark.createDataFrame(
        [(5, NEAR), (6, "?!?!"), (7, None)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame(
        [(5, NEAR), (8, "...")], ["doc_id", "text"]
    )
    kw = dict(threshold=0.5, shingle_k=3)
    got = {
        (r.train_id, r.bench_id): r.containment
        for r in containment_decontamination_pairs(
            train, bench, "text", "doc_id", **kw
        ).collect()
    }
    assert got == {(5, 5): 1.0}  # same-id cross pair survives; empties drop
    shuffled = {
        (r.train_id, r.bench_id): r.containment
        for r in containment_decontamination_pairs(
            train, bench, "text", "doc_id",
            broadcast_benchmark=False, **kw,
        ).collect()
    }
    assert shuffled == got


def test_containment_incremental_equals_one_shot(spark, tmp_path):
    """Batches are independent (no train-train interaction), so the
    3-batch union over the PERSISTED benchmark sets equals the one-shot
    containment pass; a shingle_k-mismatched probe fails fast."""
    from syncmaven_spark.operators import (
        containment_decontamination_pairs,
        containment_decontamination_pairs_incremental,
        decontamination_index,
    )

    filler = " ".join(f"word{i} item{i}" for i in range(80))
    train = spark.createDataFrame(
        [
            (1, filler + " " + NEAR + " tail"),  # embeds bench 10
            (2, OTHER),
            (3, NEAR),
            (4, BASE),
            (5, filler),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(10, NEAR), (11, "unrelated benchmark prompt")], ["doc_id", "text"]
    )
    kw = dict(threshold=0.5, shingle_k=3)
    one_shot = {
        (r.train_id, r.bench_id, r.containment)
        for r in containment_decontamination_pairs(
            train, bench, "text", "doc_id", **kw
        ).collect()
    }
    assert any(t == 1 for t, _, _ in one_shot)  # the embedded doc

    _, sets = decontamination_index(bench, "text", "doc_id", shingle_k=3)
    sets.write.parquet(str(tmp_path / "bsets"))
    stored = spark.read.parquet(str(tmp_path / "bsets"))
    inc = set()
    for i in range(3):
        inc |= {
            (r.train_id, r.bench_id, r.containment)
            for r in containment_decontamination_pairs_incremental(
                train.filter(f"doc_id % 3 = {i}"), stored,
                "text", "doc_id", **kw,
            ).collect()
        }
    assert inc == one_shot

    with pytest.raises(ValueError, match="recipe mismatch"):
        containment_decontamination_pairs_incremental(
            train, stored, "text", "doc_id", threshold=0.5, shingle_k=8
        )


def test_check_index_recipe_compares_floats(spark):
    """_norm coerced every numeric with int(), so two
    genuinely different float recipe values (0.8 vs 0.3) compared equal
    (int both → 0), silently disabling the fail-fast. Non-integral floats
    now compare as floats; integral widening (32 vs 32.0, the parquet
    JSON round-trip case) stays tolerated."""
    from syncmaven_spark.operators.dedup import (
        _with_recipe_meta,
        check_index_recipe,
    )

    df = spark.createDataFrame([(1, 2)], "id long, h long")
    stamped = _with_recipe_meta(df, "h", {"threshold": 0.8, "bands": 32})
    check_index_recipe(stamped, "h", {"threshold": 0.8, "bands": 32})
    check_index_recipe(stamped, "h", {"threshold": 0.8, "bands": 32.0})
    with pytest.raises(ValueError, match="recipe mismatch"):
        check_index_recipe(stamped, "h", {"threshold": 0.3, "bands": 32})
