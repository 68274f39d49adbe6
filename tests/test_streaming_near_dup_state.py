"""Round-7 streaming near-dup state machinery: bounded verification fetch
(id-bucket-pruned sets/vecs tables), the generalized family driver,
the stale-checkpoint guard, and epoch-dir compaction."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from syncmaven_spark.streaming import compact_state, run_streaming_near_dup_sync

from tests.conftest import drop_latest_commit

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)
NEAR = BASE.replace("warm windowsill", "cold doorstep")
OTHER = (
    "completely different content about distributed query engines "
    "shuffling partitioned columnar data across executors tonight"
)


def _write_docs(spark, src, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)


def _pairs(spark, state):
    return spark.read.parquet(state + "/pairs")


def test_minhash_state_persists_sets_not_corpus(spark, tmp_path):
    """Round-6 verdict #1: the raw text corpus is no longer persisted at
    all — the hashed-shingle-set table (id → array<long>, id-bucket
    partitioned) replaces it, and cross-run verification works from it."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_docs(spark, src, [(1, BASE), (2, OTHER)])
    schema = spark.read.parquet(src).schema
    kwargs = dict(threshold=0.3, max_bucket_size=None)

    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    _write_docs(spark, src, [(3, NEAR)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    got = {(r.id_a, r.id_b) for r in _pairs(spark, state).collect()}
    assert (1, 3) in got  # cross-run pair verified from the sets table
    assert not os.path.isdir(state + "/corpus")
    sets = spark.read.parquet(state + "/sets")
    assert set(sets.columns) >= {"doc_id", "_set", "bucket", "epoch"}
    assert sorted(
        r.doc_id for r in sets.select("doc_id").distinct().collect()
    ) == [1, 2, 3]
    # the partition layout is the pruning contract: id-bucket dirs on the
    # sets table, hash-bucket dirs on the index
    epoch_dirs = [d for d in os.listdir(state + "/sets") if "epoch=" in d]
    assert epoch_dirs
    assert any(
        b.startswith("bucket=")
        for b in os.listdir(os.path.join(state + "/sets", epoch_dirs[0]))
    )
    idx_epochs = [d for d in os.listdir(state + "/index") if "epoch=" in d]
    assert any(
        b.startswith("hbucket=")
        for b in os.listdir(os.path.join(state + "/index", idx_epochs[0]))
    )
    # the epochs manifest records the watermark and per-epoch thresholds
    # (round-6 advice: a threshold change between runs was unrecorded)
    import json

    with open(state + "/epochs.json", encoding="utf-8") as f:
        epochs = json.load(f)
    assert epochs["max_epoch"] == 1
    assert epochs["thresholds"] == {"0": 0.3, "1": 0.3}
    with open(state + "/recipe.json", encoding="utf-8") as f:
        recipe = json.load(f)
    assert recipe["max_bucket_size"] is None
    assert recipe["state_buckets"] == 32


def test_pruned_state_read_skips_untouched_buckets(spark, tmp_path):
    """The verification fetch reads only candidate-touched id-bucket
    partitions: the pruned plan's input files are a strict subset of the
    table's files and only cover the requested buckets."""
    from syncmaven_spark.streaming.incremental import (
        _id_bucket,
        _read_epoch_state,
    )
    from pyspark.sql import functions as F

    table = str(tmp_path / "sets")
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id")).alias("_set"),
    ).withColumn("bucket", _id_bucket("doc_id", 8))
    df.write.partitionBy("bucket").parquet(table + "/epoch=0")

    all_files = spark.read.parquet(table).inputFiles()
    pruned = _read_epoch_state(
        spark, table, ["doc_id", "_set"],
        "doc_id long, _set array<bigint>", epoch_id=1, bucket_vals=[0, 3],
    )
    # the bucket filter reaches the scan as a PARTITION filter (directory
    # pruning at planning time, not a post-scan row filter) ...
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part_filters = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert part_filters and "bucket" in part_filters[0]
    # ... and the files ACTUALLY read (input_file_name at execution) are a
    # strict subset of the table's files, all under the requested buckets
    from pyspark.sql.functions import input_file_name

    read_files = {
        r[0] for r in pruned.select(input_file_name()).distinct().collect()
    }
    assert 0 < len(read_files) < len(all_files)
    assert all("bucket=0" in f or "bucket=3" in f for f in read_files)
    # and the rows really are the two buckets' rows
    expected = {r.doc_id for r in df.filter("bucket in (0, 3)").collect()}
    assert {r.doc_id for r in pruned.collect()} == expected


def test_streaming_family_simhash(spark, tmp_path):
    """The generalized driver runs the SimHash family: signatures ride the
    index (no auxiliary table), and cross-run hamming-0 pairs surface."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_docs(spark, src, [(1, BASE), (2, OTHER)])
    schema = spark.read.parquet(src).schema
    kwargs = dict(family="simhash", max_hamming=8, max_bucket_size=None)

    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    _write_docs(spark, src, [(3, BASE)])  # exact token copy of indexed doc 1
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    got = {
        (r.id_a, r.id_b): r.hamming for r in _pairs(spark, state).collect()
    }
    assert got[(1, 3)] == 0
    assert not os.path.isdir(state + "/sets")
    assert not os.path.isdir(state + "/vecs")
    idx = spark.read.parquet(state + "/index")
    assert "simhash" in idx.columns


def test_streaming_family_cosine(spark, tmp_path):
    """The generalized driver runs the cosine family: normalized vectors
    are the persisted verification artifact (bucket-partitioned) and
    cross-run near-identical vectors pair up."""
    rng = np.random.RandomState(11)
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.01
    far = rng.standard_normal(16)
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))

    def write_vecs(rows):
        spark.createDataFrame(
            rows, "doc_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)

    write_vecs([(1, [float(x) for x in base]), (2, [float(x) for x in far])])
    schema = spark.read.parquet(src).schema
    kwargs = dict(
        family="cosine", threshold=0.9, n_planes=4, n_tables=12,
        max_bucket_size=None,
    )
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    write_vecs([(3, [float(x) for x in near])])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    got = {(r.id_a, r.id_b) for r in _pairs(spark, state).collect()}
    assert (1, 3) in got
    vecs = spark.read.parquet(state + "/vecs")
    assert set(vecs.columns) >= {"doc_id", "vec", "norm", "bucket", "epoch"}
    assert not os.path.isdir(state + "/sets")


def test_streaming_rejects_unknown_family(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown near-dup family"):
        run_streaming_near_dup_sync(
            spark, str(tmp_path / "src"), None, str(tmp_path / "state"),
            str(tmp_path / "ckpt"), family="phash",
        )


def _doc_writer(spark, src):
    return lambda i: _write_docs(spark, src, [(i, (OTHER, BASE)[i % 2])])


def _near_dup_case(spark, src, state):
    def run(ckpt):
        run_streaming_near_dup_sync(
            spark, src, spark.read.parquet(src).schema, state, ckpt,
            threshold=0.5, max_bucket_size=None,
        )

    return _doc_writer(spark, src), run


def _decontamination_case(spark, src, state):
    from syncmaven_spark.streaming import (
        prepare_decontamination_state,
        run_streaming_decontamination_sync,
    )

    prepare_decontamination_state(
        spark, spark.createDataFrame([(10, NEAR)], "doc_id long, text string"),
        state,
    )

    def run(ckpt):
        run_streaming_decontamination_sync(
            spark, src, spark.read.parquet(src).schema, state, ckpt,
            threshold=0.3,
        )

    return _doc_writer(spark, src), run


def _ann_case(spark, src, state):
    from syncmaven_spark.streaming import (
        prepare_ann_state,
        run_streaming_ann_sync,
    )

    rng = np.random.RandomState(7)
    ddl = "vec_id long, embedding array<double>"

    def vecs(n, start):
        return [
            (start + i, [float(v) for v in rng.randn(8)]) for i in range(n)
        ]

    prepare_ann_state(
        spark, spark.createDataFrame(vecs(40, 0), ddl), state,
        n_centroids=4, m=4, n_codes=8, state_buckets=8,
    )

    def write(i):
        spark.createDataFrame(vecs(5, 100 * i), ddl).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ckpt):
        run_streaming_ann_sync(
            spark, src, spark.read.parquet(src).schema, state, ckpt
        )

    return write, run


@pytest.mark.parametrize(
    "case, driver",
    [
        (_near_dup_case, "run_streaming_near_dup_sync"),
        (_decontamination_case, "run_streaming_decontamination_sync"),
        (_ann_case, "run_streaming_ann_sync"),
    ],
    ids=["near-dup", "decontamination", "ann"],
)
def test_stale_checkpoint_fails_fast(spark, tmp_path, case, driver):
    """Round-6 advice: a recreated checkpoint over multi-epoch state used
    to re-deliver the whole corpus as epoch 0 beside stale higher-epoch
    dirs. epochs.json records the max processed epoch and an
    out-of-order batch fails fast, in every state-backed driver, with an
    error naming the driver."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    write, run = case(spark, src, state)
    for i in (1, 2):
        write(i)
        run(ckpt)

    # checkpoint recreated from scratch over the 2-epoch state
    shutil.rmtree(ckpt)
    with pytest.raises(Exception, match="checkpoint was recreated") as err:
        run(ckpt)
    assert f"{driver}: batch arrived with epoch 0" in str(err.value)


def test_compaction_preserves_probe_results_and_replay(spark, tmp_path):
    """compact_state folds epoch dirs < up_to_epoch into one epoch=-1 base:
    (a) a later batch over compacted state yields EXACTLY the pairs the
    uncompacted clone yields; (b) an at-least-once replay of the latest
    (never-compacted) epoch still excludes its own writes and rewrites
    identical pairs once."""
    src = str(tmp_path / "src")
    state_a, ckpt_a = str(tmp_path / "state_a"), str(tmp_path / "ckpt_a")
    kwargs = dict(threshold=0.3, max_bucket_size=None)

    _write_docs(spark, src, [(1, BASE), (2, OTHER)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(spark, src, schema, state_a, ckpt_a, **kwargs)
    _write_docs(spark, src, [(3, NEAR)])
    run_streaming_near_dup_sync(spark, src, schema, state_a, ckpt_a, **kwargs)

    # clone the 2-epoch state+checkpoint, compact the clone
    state_b, ckpt_b = str(tmp_path / "state_b"), str(tmp_path / "ckpt_b")
    shutil.copytree(state_a, state_b)
    shutil.copytree(ckpt_a, ckpt_b)
    folded = compact_state(spark, state_b, up_to_epoch=1)
    assert folded["index"] == 1 and folded["sets"] == 1
    assert os.path.isdir(state_b + "/index/epoch=-1")
    assert not os.path.isdir(state_b + "/index/epoch=0")
    # the never-compacted latest epoch keeps its own dir
    assert os.path.isdir(state_b + "/index/epoch=1")
    # the compacted bases keep their partition layouts (the pruning
    # contracts): id buckets on sets, hash buckets on the index
    assert any(
        b.startswith("bucket=")
        for b in os.listdir(state_b + "/sets/epoch=-1")
    )
    assert any(
        b.startswith("hbucket=")
        for b in os.listdir(state_b + "/index/epoch=-1")
    )

    # (a) identical next-batch results on both clones
    _write_docs(spark, src, [(4, BASE)])
    run_streaming_near_dup_sync(spark, src, schema, state_a, ckpt_a, **kwargs)
    run_streaming_near_dup_sync(spark, src, schema, state_b, ckpt_b, **kwargs)
    pa = {(r.id_a, r.id_b, r.jaccard) for r in _pairs(spark, state_a).collect()}
    pb = {(r.id_a, r.id_b, r.jaccard) for r in _pairs(spark, state_b).collect()}
    assert pa == pb
    assert any(a == 1 and b == 4 for a, b, _ in pb)  # probes span the base

    # (b) replay the latest epoch on the compacted clone: drop its commit
    # marker (crash between state write and offset commit) and re-run
    before = sorted(pb)
    drop_latest_commit(ckpt_b)
    run_streaming_near_dup_sync(spark, src, schema, state_b, ckpt_b, **kwargs)
    after = sorted(
        (r.id_a, r.id_b, r.jaccard) for r in _pairs(spark, state_b).collect()
    )
    assert after == before  # exactly once, no 2×2 fan-out, no loss


def test_compaction_guards(spark, tmp_path):
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_docs(spark, src, [(1, BASE)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.5, max_bucket_size=None
    )
    with pytest.raises(ValueError, match="latest epoch can never"):
        compact_state(spark, state, up_to_epoch=5)
    with pytest.raises(ValueError, match="no epochs.json"):
        compact_state(spark, str(tmp_path / "nostate"), up_to_epoch=0)
    # compacting below the first epoch is a no-op
    assert compact_state(spark, state, up_to_epoch=0) == {
        "index": 0, "sets": 0, "pairs": 0
    }


def test_streaming_accumulated_pairs_equal_full_corpus_pass(spark, tmp_path):
    """The composition-level incremental≡full property: pairs accumulated
    over THREE micro-batches (verified from the pruned sets table) equal
    the uncapped full-corpus batch pass over the final corpus."""
    from syncmaven_spark.operators import minhash_verified_pairs

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    batches = [
        [(1, BASE), (2, OTHER)],
        [(3, NEAR), (4, OTHER + " with a short extra tail")],
        [(5, BASE), (6, NEAR.replace("garden", "meadow"))],
    ]
    kwargs = dict(
        threshold=0.3, num_perm=64, bands=32, shingle_k=3,
        max_bucket_size=None,
    )
    schema = None
    for rows in batches:
        _write_docs(spark, src, rows)
        if schema is None:
            schema = spark.read.parquet(src).schema
        run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    streamed = {
        (r.id_a, r.id_b, r.jaccard) for r in _pairs(spark, state).collect()
    }
    corpus = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"
    )
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_verified_pairs(
            corpus, "text", "doc_id", **kwargs
        ).collect()
    }
    assert streamed == full
    assert len(full) >= 4  # the fixture really exercises cross-batch pairs


def test_index_read_prunes_on_hash_buckets(spark, tmp_path):
    """The stored index is partitioned by hbucket = pmod(hash, N) and the
    probe's read prunes to the batch's own hash buckets (sound: candidates
    need hash equality → same hbucket)."""
    from pyspark.sql import functions as F
    from syncmaven_spark.streaming.incremental import _read_epoch_state

    table = str(tmp_path / "index")
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        F.xxhash64(F.col("id").cast("string")).alias("band_hash"),
    ).withColumn("hbucket", F.pmod(F.col("band_hash"), F.lit(8)))
    df.write.partitionBy("hbucket").parquet(table + "/epoch=0")

    pruned = _read_epoch_state(
        spark, table, ["doc_id", "band_id", "band_hash"],
        "doc_id long, band_id int, band_hash bigint",
        epoch_id=1, bucket_vals=[2, 5], bucket_col="hbucket",
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "hbucket" in pf[0]
    read_files = {
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_files and all(
        "hbucket=2" in f or "hbucket=5" in f for f in read_files
    )
    expected = {r.doc_id for r in df.filter("hbucket in (2, 5)").collect()}
    assert {r.doc_id for r in pruned.collect()} == expected


def test_new_index_passthrough_matches_internal_build(spark, tmp_path):
    """The new_index pass-through (probe and state-write share one batch
    index) yields identical candidates to the internal rebuild, and a
    wrong-recipe pass-through fails fast on the stamp."""
    from syncmaven_spark.operators import (
        minhash_lsh_candidates_incremental,
        minhash_lsh_index,
    )

    rows = [(1, BASE), (2, OTHER)], [(3, NEAR), (4, BASE)]
    old = spark.createDataFrame(rows[0], "doc_id long, text string")
    new = spark.createDataFrame(rows[1], "doc_id long, text string")
    cfg = dict(num_perm=64, bands=32, shingle_k=3, max_bucket_size=None)
    index = minhash_lsh_index(old, "text", "doc_id", **cfg)
    batch_index = minhash_lsh_index(new, "text", "doc_id", **cfg)

    internal = {
        (r.id_a, r.id_b, r.n_shared_bands)
        for r in minhash_lsh_candidates_incremental(
            new, index, "text", "doc_id", **cfg
        ).collect()
    }
    passed = {
        (r.id_a, r.id_b, r.n_shared_bands)
        for r in minhash_lsh_candidates_incremental(
            new, index, "text", "doc_id", new_index=batch_index, **cfg
        ).collect()
    }
    assert passed == internal and len(passed) > 0

    wrong = minhash_lsh_index(
        new, "text", "doc_id", num_perm=64, bands=16, max_bucket_size=None
    )
    with pytest.raises(ValueError, match="recipe mismatch"):
        minhash_lsh_candidates_incremental(
            new, index, "text", "doc_id", new_index=wrong, **cfg
        )


def test_compaction_journal_recovers_crash_window(spark, tmp_path):
    """Round-7 review: a crash between deleting the folded epoch dirs and
    installing the new base left the tmp dir holding the ONLY copy of the
    folded rows — and a naive re-run destroyed it. The write-ahead journal
    makes the re-run COMPLETE the surgery; streaming refuses to probe a
    mid-surgery state."""
    src = str(tmp_path / "src")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    kwargs = dict(threshold=0.3, max_bucket_size=None)
    _write_docs(spark, src, [(1, BASE), (2, OTHER)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    _write_docs(spark, src, [(3, NEAR)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    # clean-compacted clone = the expected end state
    clean_state, clean_ckpt = str(tmp_path / "clean"), str(tmp_path / "ckc")
    shutil.copytree(state, clean_state)
    shutil.copytree(ckpt, clean_ckpt)
    compact_state(spark, clean_state, up_to_epoch=1)

    # reproduce the exact crash window on the victim: compact fully, then
    # move the installed base back to tmp and restore the journal — folded
    # dirs deleted, base missing, tmp + journal present
    import json

    compact_state(spark, state, up_to_epoch=1)
    base = state + "/index/epoch=-1"
    tmp = state + "/.compact_tmp_index"
    os.rename(base, tmp)
    with open(state + "/.compact_journal_index.json", "w") as f:
        json.dump({"fold": [state + "/index/epoch=0"], "up_to": 1}, f)

    # streaming fails fast on the pending journal
    with pytest.raises(Exception, match="incomplete compaction"):
        run_streaming_near_dup_sync(
            spark, src, schema, state, ckpt, **kwargs
        )
    # a compact_state re-run completes the surgery instead of rebuilding
    # a base from the already-deleted dirs
    compact_state(spark, state, up_to_epoch=1)
    assert os.path.isdir(base) and not os.path.exists(tmp)
    assert not os.path.exists(state + "/.compact_journal_index.json")

    # both clones now yield identical next-batch results
    _write_docs(spark, src, [(4, BASE)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    run_streaming_near_dup_sync(
        spark, src, schema, clean_state, clean_ckpt, **kwargs
    )
    pa = {(r.id_a, r.id_b, r.jaccard) for r in _pairs(spark, state).collect()}
    pc = {
        (r.id_a, r.id_b, r.jaccard)
        for r in _pairs(spark, clean_state).collect()
    }
    assert pa == pc
    assert any(a == 1 and b == 4 for a, b, _ in pa)


def test_wiped_state_under_surviving_checkpoint_fails_fast(spark, tmp_path):
    """Round-7 review: the twin of the stale-checkpoint case — a wiped
    state_dir under a surviving checkpoint meant already-committed files
    were never re-indexed, silently losing every cross-corpus pair."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    kwargs = dict(threshold=0.5, max_bucket_size=None)
    _write_docs(spark, src, [(1, BASE)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    shutil.rmtree(state)
    _write_docs(spark, src, [(2, BASE)])
    with pytest.raises(Exception, match="wiped or repointed"):
        run_streaming_near_dup_sync(
            spark, src, schema, state, ckpt, **kwargs
        )


def test_empty_batch_advances_epoch_watermark(spark, tmp_path):
    """An empty micro-batch (a 0-row source file) still advances the
    epochs.json watermark so committed offsets and the manifest stay in
    lock-step (otherwise the wiped-state guard would misfire)."""
    import json

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    kwargs = dict(threshold=0.5, max_bucket_size=None)
    _write_docs(spark, src, [(1, BASE)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    # a new file with zero rows → a delivered batch with no data
    spark.createDataFrame([], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    with open(state + "/epochs.json", encoding="utf-8") as f:
        epochs = json.load(f)
    assert epochs["max_epoch"] == 1
    assert list(epochs["thresholds"]) == ["0"]  # no threshold for empty
    # and the stream still runs afterwards (no guard misfire)
    _write_docs(spark, src, [(2, BASE)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    got = {(r.id_a, r.id_b) for r in _pairs(spark, state).collect()}
    assert (1, 2) in got


def test_all_unusable_first_batch_does_not_wedge_state(spark, tmp_path):
    """Round-7 advice (medium): a non-empty batch whose rows are ALL
    unusable (punctuation-only text → zero shingles) wrote an epoch dir
    with zero parquet footers; if that was the FIRST epoch every later
    batch crashed in _read_epoch_state and replayed forever. Empty batch
    artifacts now skip the state writes entirely (watermark still
    advances) and the stream keeps working."""
    import json

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    kwargs = dict(threshold=0.3, max_bucket_size=None)
    _write_docs(spark, src, [(1, "?!?! ... ---")])  # zero words, zero shingles
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    # nothing indexed → no epoch=0 dirs at all, but the watermark advanced
    assert not os.path.isdir(state + "/index/epoch=0")
    assert not os.path.isdir(state + "/sets/epoch=0")
    with open(state + "/epochs.json", encoding="utf-8") as f:
        assert json.load(f)["max_epoch"] == 0

    # the previously-wedging second batch, then a third pairing with it
    _write_docs(spark, src, [(2, BASE)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    _write_docs(spark, src, [(3, NEAR)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    got = {(r.id_a, r.id_b) for r in _pairs(spark, state).collect()}
    assert (2, 3) in got


def test_old_layout_state_fails_with_dedicated_error(spark, tmp_path):
    """Round-7 advice: a state written by an older layout (recipe.json
    without the 'layout' key) used to die with a misleading 'recipe
    mismatch'; it now gets a dedicated rebuild-from-source message."""
    import json

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    kwargs = dict(threshold=0.5, max_bucket_size=None)
    _write_docs(spark, src, [(1, BASE)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    with open(state + "/recipe.json", encoding="utf-8") as f:
        recipe = json.load(f)
    del recipe["layout"]
    with open(state + "/recipe.json", "w", encoding="utf-8") as f:
        json.dump(recipe, f)

    _write_docs(spark, src, [(2, NEAR)])
    with pytest.raises(Exception, match="older/different on-disk layout"):
        run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)


def _base_file_snapshot(state, table):
    """(relpath → (size, mtime_ns)) for every data file in a table's base."""
    base = os.path.join(state, table, "epoch=-1")
    snap = {}
    for root, _dirs, files in os.walk(base):
        for name in files:
            p = os.path.join(root, name)
            st = os.stat(p)
            snap[os.path.relpath(p, base)] = (st.st_size, st.st_mtime_ns)
    return snap


def test_compaction_is_additive_not_rewrite(spark, tmp_path):
    """Round-7 verdict #3: compaction used to rewrite the ENTIRE
    sub-up_to state (including the previous base) on every invocation —
    O(total state) per compaction. It now folds only the live epochs'
    rows INTO the base: a second compaction leaves every file from the
    first base snapshot byte-untouched (same size and mtime) and only
    adds the newly-folded files."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    kwargs = dict(threshold=0.3, max_bucket_size=None)
    batches = [[(1, BASE), (2, OTHER)], [(3, NEAR)], [(4, BASE)]]
    schema = None
    for rows in batches:
        _write_docs(spark, src, rows)
        if schema is None:
            schema = spark.read.parquet(src).schema
        run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    folded1 = compact_state(spark, state, up_to_epoch=2)
    assert folded1["index"] == 2 and folded1["sets"] == 2
    snap1 = {t: _base_file_snapshot(state, t) for t in ("index", "sets", "pairs")}
    assert snap1["index"] and snap1["sets"]

    _write_docs(spark, src, [(5, NEAR.replace("garden", "meadow"))])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    folded2 = compact_state(spark, state, up_to_epoch=3)
    assert folded2["index"] == 1  # only epoch 2 folded — base never re-read

    for table in ("index", "sets", "pairs"):
        snap2 = _base_file_snapshot(state, table)
        for rel, sig in snap1[table].items():
            assert snap2.get(rel) == sig, (
                f"{table}/{rel} was rewritten by the second compaction"
            )
        assert len(snap2) > len(snap1[table])  # new rows really landed

    # and the merged base still probes correctly end-to-end
    _write_docs(spark, src, [(6, BASE)])
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    got = {(r.id_a, r.id_b) for r in _pairs(spark, state).collect()}
    assert (1, 6) in got and (4, 6) in got


def test_read_pairs_threshold_aware(spark, tmp_path):
    """Round-7 verdict #4: read_pairs joins the per-epoch threshold record
    back — warning on a mixed-threshold state, refusing an incomplete cut
    (an epoch mined ABOVE the requested threshold never emitted the gap),
    and honoring base_threshold_min/max after compaction."""
    from syncmaven_spark.streaming import read_pairs

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_docs(spark, src, [(1, BASE), (2, NEAR)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.3, max_bucket_size=None
    )
    _write_docs(spark, src, [(3, BASE)])
    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.9, max_bucket_size=None
    )

    with pytest.warns(UserWarning, match="mixes mining thresholds"):
        allp = read_pairs(spark, state)
    by_epoch = {
        (r.id_a, r.id_b): (r.epoch, r.threshold) for r in allp.collect()
    }
    assert by_epoch[(1, 2)] == (0, 0.3)
    assert by_epoch[(1, 3)] == (1, 0.9)

    # complete cut at 0.9: both epochs mined at <= 0.9
    tight = {(r.id_a, r.id_b) for r in read_pairs(spark, state, 0.9).collect()}
    assert tight == {(1, 3)}
    # incomplete cut at 0.3: epoch 1 never emitted [0.3, 0.9)
    with pytest.raises(ValueError, match="epoch 1 mined at 0.9"):
        read_pairs(spark, state, 0.3)

    # compaction folds epoch 0's threshold into the base range
    compact_state(spark, state, up_to_epoch=1)
    import json

    with open(state + "/epochs.json", encoding="utf-8") as f:
        epochs = json.load(f)
    assert epochs["base_threshold_min"] == 0.3
    assert epochs["base_threshold_max"] == 0.3
    assert list(epochs["thresholds"]) == ["1"]
    # the 0.9 cut stays valid (base folded only <= 0.9 thresholds) ...
    assert {
        (r.id_a, r.id_b) for r in read_pairs(spark, state, 0.9).collect()
    } == {(1, 3)}
    # ... and the incomplete cut now names the live epoch (the base's
    # range [0.3, 0.3] is fine for 0.3 — epoch 1 is still the gap)
    with pytest.raises(ValueError, match="epoch 1 mined at 0.9"):
        read_pairs(spark, state, 0.3)


def test_read_pairs_single_threshold_no_warning(spark, tmp_path):
    import warnings

    from syncmaven_spark.streaming import read_pairs

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_docs(spark, src, [(1, BASE), (2, NEAR)])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.3, max_bucket_size=None
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = read_pairs(spark, state)
    assert {(r.id_a, r.id_b) for r in got.collect()} == {(1, 2)}


def test_streaming_decontamination_sync(spark, tmp_path):
    """Round-7 verdict #1, streaming mode: the benchmark is prepared once
    (prepare_decontamination_state) and train batches stream through —
    pairs accumulate per epoch, strictly cross, nothing of the train side
    persists, and read_pairs consumes the state."""
    from syncmaven_spark.streaming import (
        prepare_decontamination_state,
        run_streaming_decontamination_sync,
    )

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    bench = spark.createDataFrame(
        [(10, NEAR), (11, "totally unrelated benchmark prompt text")],
        "doc_id long, text string",
    )
    prepare_decontamination_state(spark, bench, state)
    # double-prepare refuses (a stream may be probing the state)
    with pytest.raises(ValueError, match="already prepared"):
        prepare_decontamination_state(spark, bench, state)

    # batch 1: one contaminated train doc + one clean; batch 2: another
    # contaminated doc whose id COLLIDES with the bench doc's id
    _write_docs(spark, src, [(1, BASE), (2, OTHER)])
    schema = spark.read.parquet(src).schema
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )
    _write_docs(spark, src, [(10, BASE)])
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )

    pairs = spark.read.parquet(state + "/pairs")
    got = {(r.train_id, r.bench_id) for r in pairs.collect()}
    assert got == {(1, 10), (10, 10)}  # same-id cross pair survives
    # nothing of the train side persists — state is benchmark + pairs
    assert sorted(
        n for n in os.listdir(state) if not n.startswith(".")
    ) == ["bench_index", "bench_sets", "epochs.json", "pairs", "recipe.json"]

    # read_pairs understands the decontamination family
    from syncmaven_spark.streaming import read_pairs

    cut = read_pairs(spark, state, 0.3)
    assert {(r.train_id, r.bench_id) for r in cut.collect()} == got

    # an unprepared state fails fast with the dedicated message
    with pytest.raises(ValueError, match="prepare the benchmark index"):
        run_streaming_decontamination_sync(
            spark, src, schema, str(tmp_path / "nostate"),
            str(tmp_path / "nockpt"),
        )
    # the near-dup driver refuses a decontamination-family state... and
    # vice versa: pointing this driver at a near-dup state fails fast
    with pytest.raises(ValueError, match="recipe mismatch|belongs to family"):
        run_streaming_near_dup_sync(
            spark, src, schema, state, str(tmp_path / "ck2"), threshold=0.3
        )


def test_streaming_decontamination_empty_and_unusable_batches(spark, tmp_path):
    """Empty and all-unusable train batches advance the watermark without
    writing state; an all-unusable BENCHMARK refuses to prepare."""
    import json

    from syncmaven_spark.streaming import (
        prepare_decontamination_state,
        run_streaming_decontamination_sync,
    )

    with pytest.raises(ValueError, match="no usable"):
        prepare_decontamination_state(
            spark,
            spark.createDataFrame([(1, "?!?!")], "doc_id long, text string"),
            str(tmp_path / "badstate"),
        )

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    bench = spark.createDataFrame([(10, NEAR)], "doc_id long, text string")
    prepare_decontamination_state(spark, bench, state)
    _write_docs(spark, src, [(1, "---- ....")])  # unusable batch
    schema = spark.read.parquet(src).schema
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )
    assert not os.path.isdir(state + "/pairs/epoch=0")
    with open(state + "/epochs.json", encoding="utf-8") as f:
        assert json.load(f)["max_epoch"] == 0
    # stream continues fine afterwards
    _write_docs(spark, src, [(2, BASE)])
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )
    got = {
        (r.train_id, r.bench_id)
        for r in spark.read.parquet(state + "/pairs").collect()
    }
    assert got == {(2, 10)}


def test_decontamination_prepare_partial_state_and_missing_pairs(
    spark, tmp_path
):
    """A crashed prepare (tables without recipe.json) gets a dedicated
    error instead of a bare path-exists failure; read_pairs on a state
    with no pairs yet says so instead of PATH_NOT_FOUND."""
    from syncmaven_spark.streaming import (
        prepare_decontamination_state,
        read_pairs,
    )

    state = str(tmp_path / "state")
    os.makedirs(state + "/bench_index")
    bench = spark.createDataFrame([(10, NEAR)], "doc_id long, text string")
    with pytest.raises(ValueError, match="PARTIALLY prepared"):
        prepare_decontamination_state(spark, bench, state)

    state2 = str(tmp_path / "state2")
    prepare_decontamination_state(spark, bench, state2)
    # prepared but never streamed → epochs.json missing too
    with pytest.raises(ValueError, match="recipe.json/epochs.json"):
        read_pairs(spark, state2)


def test_decontamination_state_compacts_and_reads_back(spark, tmp_path):
    """compact_state treats a decontamination state as a first-class
    citizen: only its pairs table is epoch-keyed, the folded epochs'
    thresholds roll into the base range, and read_pairs still serves a
    complete cut afterwards (bench tables untouched)."""
    from syncmaven_spark.streaming import (
        compact_state,
        prepare_decontamination_state,
        read_pairs,
        run_streaming_decontamination_sync,
    )

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    bench = spark.createDataFrame(
        [(10, NEAR)], "doc_id long, text string"
    )
    prepare_decontamination_state(spark, bench, state)
    schema = None
    for i, text in enumerate([BASE, NEAR.replace("garden", "meadow"), BASE]):
        _write_docs(spark, src, [(i + 1, text)])
        if schema is None:
            schema = spark.read.parquet(src).schema
        run_streaming_decontamination_sync(
            spark, src, schema, state, ckpt, threshold=0.3
        )
    before = {
        (r.train_id, r.bench_id, r.jaccard)
        for r in read_pairs(spark, state, 0.3).collect()
    }
    assert len(before) == 3  # every train doc matched the bench doc

    folded = compact_state(spark, state, up_to_epoch=2)
    assert folded == {"pairs": 2}  # only the pairs table is epoch-keyed
    assert os.path.isdir(state + "/pairs/epoch=-1")
    assert not os.path.isdir(state + "/pairs/epoch=0")
    # bench tables are static — never touched by compaction
    assert os.path.isdir(state + "/bench_index")

    after = {
        (r.train_id, r.bench_id, r.jaccard)
        for r in read_pairs(spark, state, 0.3).collect()
    }
    assert after == before
    import json

    with open(state + "/epochs.json", encoding="utf-8") as f:
        epochs = json.load(f)
    assert epochs["base_threshold_min"] == 0.3
    assert list(epochs["thresholds"]) == ["2"]


def test_streaming_decontamination_containment_method(spark, tmp_path):
    """method='containment': no LSH probe, no bench_index read — each
    batch's shingles meet the broadcast benchmark shingle table in one
    equi-join; the embedded-benchmark doc (tiny Jaccard) is caught, the
    method is pinned, and read_pairs serves the containment column."""
    from syncmaven_spark.streaming import (
        prepare_decontamination_state,
        read_pairs,
        run_streaming_decontamination_sync,
    )

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    bench = spark.createDataFrame(
        [(10, NEAR)], "doc_id long, text string"
    )
    prepare_decontamination_state(spark, bench, state)

    filler = " ".join(f"pad{i} fill{i}" for i in range(100))
    _write_docs(spark, src, [(1, filler + " " + NEAR + " " + filler)])
    schema = spark.read.parquet(src).schema
    kwargs = dict(threshold=0.8, method="containment")
    run_streaming_decontamination_sync(spark, src, schema, state, ckpt, **kwargs)
    _write_docs(spark, src, [(2, NEAR), (3, OTHER)])
    run_streaming_decontamination_sync(spark, src, schema, state, ckpt, **kwargs)

    got = {
        (r.train_id, r.bench_id): r.containment
        for r in spark.read.parquet(state + "/pairs").collect()
    }
    assert got[(1, 10)] >= 0.9  # the embedded doc Jaccard would miss
    assert got[(2, 10)] >= 0.9
    assert (3, 10) not in got

    # the method is pinned: a jaccard run against this state fails fast
    _write_docs(spark, src, [(4, NEAR)])
    with pytest.raises(ValueError, match="method"):
        run_streaming_decontamination_sync(
            spark, src, schema, state, ckpt, threshold=0.8
        )
    # read_pairs picks the containment column for the cut
    cut = read_pairs(spark, state, 0.9)
    assert {(r.train_id, r.bench_id) for r in cut.collect()} == {
        (1, 10), (2, 10)
    }


def test_read_epoch_state_tolerates_footerless_epoch_dir(spark, tmp_path):
    """An epoch dir with zero parquet footers —
    written by the older layout for an all-unusable-rows batch — made
    schema inference fail with UNABLE_TO_INFER_SCHEMA and permanently
    wedged the stream. The read now passes the known schema explicitly."""
    from syncmaven_spark.streaming.incremental import (
        _id_bucket,
        _read_epoch_state,
    )

    table = str(tmp_path / "sets")
    os.makedirs(os.path.join(table, "epoch=0", "bucket=1"))
    ddl = "doc_id long, _set array<bigint>"
    empty = _read_epoch_state(spark, table, ["doc_id", "_set"], ddl, 1)
    assert empty.count() == 0

    # a later real epoch beside the footerless one still reads fine
    spark.range(0, 20).select(
        F.col("id").alias("doc_id"), F.array(F.col("id")).alias("_set")
    ).withColumn("bucket", _id_bucket("doc_id", 8)).write.partitionBy(
        "bucket"
    ).parquet(os.path.join(table, "epoch=1"))
    got = _read_epoch_state(spark, table, ["doc_id", "_set"], ddl, 2)
    assert got.count() == 20


def test_state_consumers_refuse_old_layout_and_pending_journal(
    spark, tmp_path
):
    """Read_pairs and compact_state now enforce the same
    layout version the drivers do, and read_pairs refuses a mid-surgery
    state (pending compaction journal) instead of silently returning a
    pairs table missing the folded epochs."""
    import json

    from syncmaven_spark.streaming import (
        compact_state,
        read_pairs,
        run_streaming_near_dup_sync,
    )

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.3, max_bucket_size=None
    )

    # pending journal → read_pairs refuses
    jpath = state + "/.compact_journal_pairs.json"
    with open(jpath, "w") as f:
        json.dump({"fold": [], "up_to": 0}, f)
    with pytest.raises(ValueError, match="incomplete compaction"):
        read_pairs(spark, state)
    os.remove(jpath)
    assert read_pairs(spark, state).count() >= 1

    # old layout → both consumers refuse with the dedicated message
    with open(state + "/recipe.json", encoding="utf-8") as f:
        recipe = json.load(f)
    recipe["layout"] = 2
    with open(state + "/recipe.json", "w", encoding="utf-8") as f:
        json.dump(recipe, f)
    with pytest.raises(ValueError, match="older/different on-disk layout"):
        read_pairs(spark, state)
    with pytest.raises(ValueError, match="older/different on-disk layout"):
        compact_state(spark, state, up_to_epoch=0)


def test_decontamination_cap_pinned_across_runs(spark, tmp_path):
    """The decon driver pins max_bucket_size in recipe.json on the first
    run — a later run with a different cap would make epochs undetectably
    incomplete (contamination past the cap is silently exempt) and fails
    fast instead; a cap is never pinned retroactively."""
    import json

    from syncmaven_spark.streaming import (
        prepare_decontamination_state,
        run_streaming_decontamination_sync,
    )

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    text = "the quick brown fox jumps over the lazy dog in the garden"
    bench = spark.createDataFrame(
        [(10, text)], "doc_id long, text string"
    )
    prepare_decontamination_state(spark, bench, state)
    spark.createDataFrame(
        [(1, text + " today")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )
    with open(state + "/recipe.json", encoding="utf-8") as f:
        assert json.load(f)["max_bucket_size"] is None  # pinned on run 1

    spark.createDataFrame(
        [(2, text + " tomorrow")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="max_bucket_size"):
        run_streaming_decontamination_sync(
            spark, src, schema, state, ckpt, threshold=0.3,
            max_bucket_size=5,
        )
    # the pinned cap still runs
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )
    got = {
        (r.train_id, r.bench_id)
        for r in spark.read.parquet(state + "/pairs").collect()
    }
    assert got == {(1, 10), (2, 10)}

    # a state whose epochs were mined WITHOUT a recorded cap was mined under
    # an unknown cap: the next run must not bless its own cap as the history
    with open(state + "/recipe.json", encoding="utf-8") as f:
        recipe = json.load(f)
    del recipe["max_bucket_size"]
    with open(state + "/recipe.json", "w", encoding="utf-8") as f:
        json.dump(recipe, f)
    spark.createDataFrame(
        [(3, text + " later")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="unknown"):
        run_streaming_decontamination_sync(
            spark, src, schema, state, ckpt, threshold=0.3
        )


def test_decontamination_method_pin_legacy_and_cap_scoping(spark, tmp_path):
    """A pre-'method' state resumes as jaccard (the only
    metric that existed — no pointless rebuild), a containment run
    against it still fails fast, and the bucket cap is NOT pinned/checked
    under containment (it has no bucket stage — refusing runs over a
    no-op knob)."""
    import json

    from syncmaven_spark.streaming import (
        prepare_decontamination_state,
        run_streaming_decontamination_sync,
    )

    text = "the quick brown fox jumps over the lazy dog in the garden"
    bench = spark.createDataFrame([(10, text)], "doc_id long, text string")

    # legacy state: mined, then 'method' stripped from the recipe
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    prepare_decontamination_state(spark, bench, state)
    spark.createDataFrame(
        [(1, text + " now")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )
    with open(state + "/recipe.json", encoding="utf-8") as f:
        recipe = json.load(f)
    del recipe["method"]
    with open(state + "/recipe.json", "w", encoding="utf-8") as f:
        json.dump(recipe, f)

    # containment against the legacy-jaccard history fails fast...
    spark.createDataFrame(
        [(2, text + " later")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="mined with method='jaccard'"):
        run_streaming_decontamination_sync(
            spark, src, schema, state, ckpt,
            threshold=0.3, method="containment",
        )
    # ...while a jaccard resume re-pins the knowable historical value
    run_streaming_decontamination_sync(
        spark, src, schema, state, ckpt, threshold=0.3
    )
    with open(state + "/recipe.json", encoding="utf-8") as f:
        assert json.load(f)["method"] == "jaccard"

    # containment state: the cap is a no-op knob, never pinned/refused
    src2, state2, ckpt2 = (
        str(tmp_path / d) for d in ("src2", "state2", "ckpt2")
    )
    prepare_decontamination_state(spark, bench, state2)
    spark.createDataFrame(
        [(1, text + " x")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src2)
    schema2 = spark.read.parquet(src2).schema
    kw = dict(threshold=0.3, method="containment")
    run_streaming_decontamination_sync(
        spark, src2, schema2, state2, ckpt2, **kw
    )
    with open(state2 + "/recipe.json", encoding="utf-8") as f:
        assert "max_bucket_size" not in json.load(f)
    spark.createDataFrame(
        [(2, text + " y")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src2)
    run_streaming_decontamination_sync(
        spark, src2, schema2, state2, ckpt2, max_bucket_size=200, **kw
    )
    got = {
        (r.train_id, r.bench_id)
        for r in spark.read.parquet(state2 + "/pairs").collect()
    }
    assert got == {(1, 10), (2, 10)}


def test_merge_tmp_into_base_recovers_any_interruption_point(tmp_path):
    """_merge_tmp_into_base must be resumable from ANY prefix of its file
    moves: files already moved are no longer in tmp, never-moved files
    still are, and a re-run completes the merge with nothing lost or
    duplicated."""
    from syncmaven_spark.streaming.incremental import _merge_tmp_into_base

    def build_tmp(root):
        files = []
        for part in ("hbucket=0", "hbucket=3"):
            d = root / part
            d.mkdir(parents=True)
            for i in range(3):
                p = d / f"part-{part[-1]}{i}-uuid.parquet"
                p.write_text(f"{part}/{i}")
                files.append((part, p.name, f"{part}/{i}"))
        (root / "_SUCCESS").write_text("")
        (root / ".part-crc").write_text("")
        return files

    import itertools

    for k in range(0, 7):  # interrupt after k of the 6 file moves
        tmp = tmp_path / f"tmp{k}"
        base = tmp_path / f"base{k}"
        files = build_tmp(tmp)
        # pre-existing base content from an earlier compaction must
        # survive untouched
        (base / "hbucket=0").mkdir(parents=True)
        (base / "hbucket=0" / "part-old.parquet").write_text("old")
        # simulate a crash: k files already moved (atomic renames)
        for part, name, _ in itertools.islice(files, k):
            os.makedirs(base / part, exist_ok=True)
            os.replace(tmp / part / name, base / part / name)
        _merge_tmp_into_base(str(tmp), str(base))
        assert not tmp.exists()
        got = {
            (os.path.relpath(os.path.join(r, f), base))
            for r, _, fs in os.walk(base)
            for f in fs
        }
        want = {os.path.join(p, n) for p, n, _ in files} | {
            os.path.join("hbucket=0", "part-old.parquet")
        }
        assert got == want, (k, got ^ want)
        assert (base / "hbucket=0" / "part-old.parquet").read_text() == "old"
        for part, name, content in files:
            assert (base / part / name).read_text() == content
        shutil.rmtree(base)


def test_read_pairs_simhash_direction_flip(spark, tmp_path):
    """For the simhash family the recorded per-epoch value is max_hamming
    and the completeness direction FLIPS: an epoch mined with a SMALLER
    bound never emitted pairs in (bound, requested], so it is the
    incomplete one; pairs filter as hamming <= requested."""
    from syncmaven_spark.streaming import (
        read_pairs,
        run_streaming_near_dup_sync,
    )

    base_text = "the quick brown fox jumps over the lazy dog tonight"
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    # max_hamming is part of the RECIPE for simhash (it fixes the chunk
    # layout), so unlike jaccard/cosine thresholds it cannot vary between
    # epochs — the direction flip matters when the requested cut exceeds
    # the constant recorded bound
    kwargs = dict(family="simhash", max_hamming=8, max_bucket_size=None)
    write([(1, base_text), (2, base_text + " extra tail words here")])
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)
    write([(3, base_text)])  # token-identical to 1 → hamming 0
    run_streaming_near_dup_sync(spark, src, schema, state, ckpt, **kwargs)

    # cut at 2: both epochs mined with max_hamming 8 >= 2 → complete;
    # pairs filter hamming <= 2 (NOT >= — the flipped direction)
    cut = {
        (r.id_a, r.id_b, r.hamming)
        for r in read_pairs(spark, state, 2).collect()
    }
    assert all(h <= 2 for _, _, h in cut)
    assert (1, 3, 0) in cut
    # cut at 10: epochs were mined at 8 < 10 → pairs with hamming in
    # (8, 10] were never emitted → incomplete, refuse
    with pytest.raises(ValueError, match="mined at 8"):
        read_pairs(spark, state, 10)
