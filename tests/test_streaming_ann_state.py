"""Streaming ANN ingestion: the IVF-PQ family wired into the epoch-dir
state layout — prepare → stream appends → probe, with the same 3-batch ≡
one-shot property, replay idempotence, codebook fail-fasts and compaction
as the near-dup family drivers; the bounded id sidecar behind the
disjointness guard; the two-halved drift record, its gates and bounded
history; and the ``reindex_ann_state`` / ``recommend_retrain`` remedy."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from syncmaven_spark.streaming import (
    compact_state,
    maybe_compact,
    prepare_ann_state,
    probe_ann_store,
    read_ann_drift,
    read_ann_store,
    recommend_retrain,
    reindex_ann_state,
    run_streaming_ann_sync,
)
from syncmaven_spark.streaming.ann import _recommend_from_records

from tests.conftest import drop_latest_commit


def _vecs(rng, n, start=0, dim=8):
    X = rng.randn(n, dim)
    return [(start + i, [float(v) for v in X[i]]) for i in range(n)]


def _write_vecs(spark, src, rows):
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.mode("append").parquet(src)


@pytest.fixture()
def prepared(spark, tmp_path):
    """A prepared state over a 40-vector base corpus (8 id-sidecar
    buckets) plus the src/ckpt dirs and the rng used to generate further
    batches."""
    rng = np.random.RandomState(7)
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    base_rows = _vecs(rng, 40)
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    prepare_ann_state(
        spark, base, state, n_centroids=4, m=4, n_codes=8, state_buckets=8
    )
    return rng, src, state, ckpt, base_rows


def _run(spark, src, state, ckpt, **kw):
    schema = spark.read.parquet(src).schema
    run_streaming_ann_sync(spark, src, schema, state, ckpt, **kw)


def test_three_batches_equal_one_shot_frozen_codebooks(spark, prepared):
    """Appends accumulated over THREE micro-batches probe identically to a
    one-shot assignment of the full corpus under the SAME frozen
    codebooks (the operator-level union property, asserted through the
    whole driver + state layout)."""
    from syncmaven_spark.operators import ivfpq_append, ivfpq_probe

    rng, src, state, ckpt, base_rows = prepared
    batches = [_vecs(rng, 10, start=100 + 50 * i) for i in range(3)]
    for b in batches:
        _write_vecs(spark, src, b)
        _run(spark, src, state, ckpt)

    queries = spark.createDataFrame(
        base_rows[:5], "vec_id long, embedding array<double>"
    )
    got = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in probe_ann_store(
            spark, queries, state, k=4, n_probe=4
        ).collect()
    }

    # one-shot reference: every row (base + all batches) assigned under
    # the stored frozen codebooks
    cells_codes, cents, books = read_ann_store(spark, state)
    all_rows = base_rows + [r for b in batches for r in b]
    full = ivfpq_append(
        spark.createDataFrame(
            all_rows, "vec_id long, embedding array<double>"
        ),
        cents, books,
    )
    ref = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in ivfpq_probe(
            queries, full, cents, books, k=4, n_probe=4
        ).collect()
    }
    assert got == ref
    # the streamed store holds every row exactly once
    assert cells_codes.count() == len(all_rows)
    assert cells_codes.select("vec_id").distinct().count() == len(all_rows)

    # drift recorded per epoch, watermark advanced
    with open(os.path.join(state, "epochs.json"), encoding="utf-8") as f:
        epochs = json.load(f)
    assert epochs["max_epoch"] == 2
    assert set(epochs["drift"]) == {"0", "1", "2"}
    for rec in epochs["drift"].values():
        assert rec["n_vectors"] == 10
        assert -1.0 <= rec["mean_cell_cos"] <= 1.0
    # ... and reads back as the trend DataFrame
    hist = read_ann_drift(spark, state).orderBy("epoch").collect()
    assert [r.epoch for r in hist] == [0, 1, 2]
    for r in hist:
        assert r.generation == 0  # never reindexed
        assert r.n_vectors == 10
        assert r.min_cell_cos <= r.p10_cell_cos <= r.mean_cell_cos
        # the PQ reconstruction half rides along with the cell half
        assert -1.0 <= r.mean_recon_cos <= 1.0
        assert r.min_recon_cos <= r.p10_recon_cos <= r.mean_recon_cos


def test_replayed_epoch_rewrites_idempotently(spark, prepared):
    """Crash between the state write and the offset commit: the replayed
    epoch must pass the disjointness guard (its own prior write is
    excluded) and rewrite the identical rows once — no duplicates, no
    loss."""
    rng, src, state, ckpt, base_rows = prepared
    _write_vecs(spark, src, _vecs(rng, 10, start=100))
    _run(spark, src, state, ckpt)
    _write_vecs(spark, src, _vecs(rng, 10, start=200))
    _run(spark, src, state, ckpt)

    store = spark.read.parquet(os.path.join(state, "store"))
    before = sorted(
        (r.vec_id, int(r.cell), tuple(r.codes)) for r in store.collect()
    )
    drop_latest_commit(ckpt)
    _run(spark, src, state, ckpt)
    after = sorted(
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(os.path.join(state, "store")).collect()
    )
    assert after == before


def test_reingested_id_fails_fast(spark, prepared):
    """A source file re-delivering a stored id (outside Spark's own
    file-level exactly-once) trips the eager disjointness guard."""
    rng, src, state, ckpt, base_rows = prepared
    _write_vecs(spark, src, [base_rows[0]])  # vec_id 0 already in the base
    # foreachBatch errors surface wrapped in StreamingQueryException
    with pytest.raises(Exception, match="re-ingests id"):
        _run(spark, src, state, ckpt)
    # with the guard explicitly off the batch appends (documented opt-out)
    src2, ckpt2 = src + "2", ckpt + "2"
    _write_vecs(spark, src2, _vecs(rng, 3, start=500))
    _run(spark, src2, state, ckpt2, assert_new_ids=False)


def test_drift_gate_blocks_shifted_batch(spark, prepared):
    """min_mean_cell_cos turns the per-epoch drift record into a retrain
    gate: a batch far from the training distribution raises BEFORE
    appending, and the store is left untouched."""
    rng, src, state, ckpt, base_rows = prepared
    # vectors orthogonal-ish to the training distribution: huge offset in
    # one coordinate makes the assigned-cell cosine collapse
    rows = [
        (900 + i, [float(v) for v in (rng.randn(8) + [50, 0, 0, 0, 0, 0, 0, 0])])
        for i in range(5)
    ]
    _write_vecs(spark, src, rows)
    n_before = spark.read.parquet(os.path.join(state, "store")).count()
    with pytest.raises(Exception, match="retrain gate"):
        _run(spark, src, state, ckpt, min_mean_cell_cos=0.9)
    assert (
        spark.read.parquet(os.path.join(state, "store")).count() == n_before
    )


def test_codebook_swap_fails_fast(spark, prepared, tmp_path):
    """Repointing the state at different/retrained codebooks must refuse
    before any row is appended under the wrong quantizer."""
    rng, src, state, ckpt, base_rows = prepared
    other = spark.createDataFrame(
        _vecs(np.random.RandomState(99), 40), "vec_id long, embedding array<double>"
    )
    state2 = str(tmp_path / "state2")
    prepare_ann_state(spark, other, state2, n_centroids=4, m=4, n_codes=8)
    shutil.rmtree(os.path.join(state, "centroids"))
    shutil.copytree(
        os.path.join(state2, "centroids"), os.path.join(state, "centroids")
    )
    _write_vecs(spark, src, _vecs(rng, 5, start=300))
    with pytest.raises(ValueError, match="checksums recorded at prepare"):
        _run(spark, src, state, ckpt)
    with pytest.raises(ValueError, match="checksums recorded at prepare"):
        read_ann_store(spark, state)


def test_prepare_refuses_existing_state(spark, prepared):
    rng, src, state, ckpt, base_rows = prepared
    df = spark.createDataFrame(
        _vecs(rng, 5), "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="already holds"):
        prepare_ann_state(spark, df, state)


@pytest.mark.parametrize(
    "make_target,match",
    [
        # a non-empty recipe-less dir gets the dedicated message instead of
        # Spark's 'path already exists' mid-build
        (lambda p: (p.mkdir(), (p / "stray.txt").write_text("x")),
         "not a prepared state"),
        (lambda p: p.write_text("not a directory"), "not a directory"),
    ],
    ids=["foreign-nonempty-dir", "regular-file"],
)
def test_prepare_refuses_non_state_target(spark, tmp_path, make_target, match):
    target = tmp_path / "state"
    make_target(target)
    base = spark.createDataFrame(
        _vecs(np.random.RandomState(7), 10),
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match=match):
        prepare_ann_state(spark, base, str(target))


def test_family_mismatch_fails_fast(spark, tmp_path):
    """Pointing the ANN driver at a near-dup state (or vice versa) is a
    recipe-family error, not silent garbage."""
    from syncmaven_spark.streaming import run_streaming_near_dup_sync

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    docs = [(1, "the quick brown fox jumps over the lazy dog tonight")]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(src)
    schema = spark.read.parquet(src).schema
    run_streaming_near_dup_sync(
        spark, src, schema, state, ckpt, threshold=0.5, max_bucket_size=None
    )
    with pytest.raises(ValueError, match="family"):
        run_streaming_ann_sync(
            spark, src, schema, state, str(ckpt) + "2"
        )


def test_compaction_folds_store_and_deep_pass_shrinks_files(spark, prepared):
    """compact_state treats the ANN store as a first-class table: the
    additive pass folds live epochs into the epoch=-1 base preserving the
    cell layout and identical probe results; the deep pass
    (rewrite_base=True) rewrites the accreted base into fewer files and
    reports per-table file counts."""
    rng, src, state, ckpt, base_rows = prepared
    for i in range(3):
        _write_vecs(spark, src, _vecs(rng, 10, start=100 + 50 * i))
        _run(spark, src, state, ckpt)

    queries = spark.createDataFrame(
        base_rows[:5], "vec_id long, embedding array<double>"
    )
    before = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in probe_ann_store(spark, queries, state, k=4, n_probe=4).collect()
    }
    folded = compact_state(spark, state, up_to_epoch=2)
    assert folded["store"] == 2
    store_dir = os.path.join(state, "store")
    assert os.path.isdir(os.path.join(store_dir, "epoch=-1"))
    assert not os.path.isdir(os.path.join(store_dir, "epoch=0"))
    assert os.path.isdir(os.path.join(store_dir, "epoch=2"))  # latest kept
    assert any(
        d.startswith("cell=")
        for d in os.listdir(os.path.join(store_dir, "epoch=-1"))
    )
    after = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in probe_ann_store(spark, queries, state, k=4, n_probe=4).collect()
    }
    assert after == before

    # accrete once more (second additive fold), then deep-compact: the
    # base's file count must SHRINK and the report must say so
    _write_vecs(spark, src, _vecs(rng, 10, start=400))
    _run(spark, src, state, ckpt)
    compact_state(spark, state, up_to_epoch=3)
    mid = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in probe_ann_store(spark, queries, state, k=4, n_probe=4).collect()
    }

    def _base_files():
        n = 0
        for root, _d, files in os.walk(os.path.join(store_dir, "epoch=-1")):
            n += sum(
                1 for f in files if f != "_SUCCESS" and not f.startswith(".")
            )
        return n

    accreted = _base_files()
    report = compact_state(spark, state, up_to_epoch=3, rewrite_base=True)
    assert report["store"]["base_files"] == _base_files()
    assert report["store"]["base_files"] < accreted
    assert report["store"]["folded_dirs"] == 1  # the base itself re-folded
    assert report["store"]["base_files_max_partition"] >= 1
    final = {
        (r.q_id, r.n_id, r.approx_sim, r.rank)
        for r in probe_ann_store(spark, queries, state, k=4, n_probe=4).collect()
    }
    assert final == mid


def test_deep_compaction_crash_recovery_preserves_rows(
    spark, tmp_path, monkeypatch
):
    """Round-9 review #1 (the silent-data-loss window): the deep pass
    deletes the old base BEFORE installing the rewrite, so a crash in
    that window leaves the folded rows' ONLY copy in the tmp dir with a
    mode=deep journal. Recovery must install tmp atomically — the
    additive recovery path (merge into a fold-listed dir after rmtree'ing
    it) would have destroyed the rows."""
    import os as _os

    import syncmaven_spark.streaming.incremental as inc

    state = str(tmp_path / "state")
    _os.makedirs(state)
    inc._atomic_write_json(
        _os.path.join(state, "recipe.json"),
        {"layout": inc.STATE_LAYOUT_VERSION, "family": "ivfpq"},
    )
    inc._atomic_write_json(
        _os.path.join(state, "epochs.json"), {"max_epoch": 1}
    )
    store = _os.path.join(state, "store")
    base_rows = [(i, i % 3, [i, i + 1]) for i in range(30)]
    live_rows = [(100 + i, i % 3, [i, i]) for i in range(10)]
    schema = "vec_id long, cell int, codes array<smallint>"
    spark.createDataFrame(base_rows, schema).write.partitionBy(
        "cell"
    ).parquet(_os.path.join(store, "epoch=-1"))
    spark.createDataFrame(live_rows, schema).write.partitionBy(
        "cell"
    ).parquet(_os.path.join(store, "epoch=0"))
    expected = {(r[0], r[1], tuple(r[2])) for r in base_rows + live_rows}

    real_replace = _os.replace

    def crash_before_install(src, dst, *a, **kw):
        if src.endswith(".compact_tmp_store"):
            raise RuntimeError("simulated crash before install")
        return real_replace(src, dst, *a, **kw)

    # incremental.py imports os inside each function, so patching the
    # os module itself reaches every call site
    monkeypatch.setattr("os.replace", crash_before_install)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_state(spark, state, up_to_epoch=1, rewrite_base=True)
    monkeypatch.setattr("os.replace", real_replace)

    # the dangerous window is real: old base and live epoch are GONE,
    # the rows' only copy lives in tmp, the deep journal is pending
    assert not _os.path.isdir(_os.path.join(store, "epoch=-1"))
    assert not _os.path.isdir(_os.path.join(store, "epoch=0"))
    assert _os.path.isdir(_os.path.join(state, ".compact_tmp_store"))
    journal = inc._load_json(
        _os.path.join(state, ".compact_journal_store.json")
    )
    assert journal and journal["mode"] == "deep"

    # consumers refuse mid-surgery state...
    with pytest.raises(ValueError, match="incomplete compaction"):
        read_ann_store(spark, state)
    # ...and a compact_state re-run completes the install with ZERO loss
    report = compact_state(spark, state, up_to_epoch=1, rewrite_base=True)
    got = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(store).collect()
    }
    assert got == expected
    assert not _os.path.exists(
        _os.path.join(state, ".compact_journal_store.json")
    )
    assert report["store"]["base_files"] >= 1


def test_deep_recovery_without_mode_field(spark, tmp_path, monkeypatch):
    """Round-9 review pass 3: recovery derives deep-ness from the fold
    list containing the base path, so a deep journal LACKING the 'mode'
    field still installs by atomic rename — the additive merge path would
    re-open the data-loss window the mode tag was added to close."""
    import os as _os

    import syncmaven_spark.streaming.incremental as inc

    state = str(tmp_path / "state")
    _os.makedirs(state)
    inc._atomic_write_json(
        _os.path.join(state, "recipe.json"),
        {"layout": inc.STATE_LAYOUT_VERSION, "family": "ivfpq"},
    )
    inc._atomic_write_json(
        _os.path.join(state, "epochs.json"), {"max_epoch": 1}
    )
    store = _os.path.join(state, "store")
    rows = [(i, i % 2, [i, i]) for i in range(20)]
    schema = "vec_id long, cell int, codes array<smallint>"
    spark.createDataFrame(rows, schema).write.partitionBy("cell").parquet(
        _os.path.join(store, "epoch=-1")
    )
    expected = {(r[0], r[1], tuple(r[2])) for r in rows}

    real_replace = _os.replace

    def crash(src, dst, *a, **kw):
        if src.endswith(".compact_tmp_store"):
            raise RuntimeError("simulated crash before install")
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr("os.replace", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_state(spark, state, up_to_epoch=1, rewrite_base=True)
    monkeypatch.setattr("os.replace", real_replace)

    # strip the mode tag: recovery must still derive deep-ness from the
    # base path sitting in the fold list
    jpath = _os.path.join(state, ".compact_journal_store.json")
    journal = inc._load_json(jpath)
    assert journal["mode"] == "deep"
    del journal["mode"]
    inc._atomic_write_json(jpath, journal)

    compact_state(spark, state, up_to_epoch=1, rewrite_base=True)
    got = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(store).collect()
    }
    assert got == expected


def test_disjointness_guard_reads_only_touched_ibuckets(spark, prepared):
    """The guard's stored-ids read (the exact `_read_epoch_state` call the
    driver makes) touches ONLY the batch's id-bucket partitions of the
    ids/ sidecar — the bounded-I/O contract, asserted
    the same way as the near-dup verification reads: partition filters in
    the plan AND `input_file_name()` at execution."""
    from syncmaven_spark.streaming.incremental import (
        _id_bucket,
        _read_epoch_state,
    )

    rng, src, state, ckpt, base_rows = prepared
    _write_vecs(spark, src, _vecs(rng, 12, start=100))
    _run(spark, src, state, ckpt)

    ids_dir = os.path.join(state, "ids")
    # pick two buckets' worth of ids as "the next batch"
    all_ids = spark.read.parquet(ids_dir)
    two_buckets = [
        r.vec_id
        for r in all_ids.filter(F.col("ibucket").isin([1, 4])).collect()
    ]
    assert two_buckets, "fixture produced no ids in buckets 1/4"
    batch = spark.createDataFrame(
        [(i,) for i in two_buckets], "vec_id long"
    )
    ib_vals = [
        r[0]
        for r in batch.select(
            _id_bucket("vec_id", 8).alias("b")
        ).distinct().collect()
    ]
    assert set(ib_vals) == {1, 4}
    pruned = _read_epoch_state(
        spark, ids_dir, ["vec_id"], "vec_id long", epoch_id=1,
        bucket_vals=ib_vals, bucket_col="ibucket",
    )
    read_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    all_files = {
        r[0] for r in all_ids.select(F.input_file_name()).distinct().collect()
    }
    assert 0 < len(read_files) < len(all_files)
    assert all("ibucket=1" in f or "ibucket=4" in f for f in read_files)
    # and the pruned read's rows are exactly those buckets' stored ids
    expected = {
        r.vec_id
        for r in all_ids.filter(
            F.col("ibucket").isin([1, 4]) & (F.col("epoch") < 1)
        ).collect()
    }
    assert {r.vec_id for r in pruned.collect()} == expected


def test_reingested_base_id_fails_fast_after_compaction(spark, prepared):
    """The sidecar keeps the guard sound through compaction: after the
    live ids/ epoch dirs fold into the base, a batch re-ingesting an id
    from the ORIGINAL base corpus still fails fast (the pruned read sees
    epoch=-1), and a disjoint batch still appends."""
    rng, src, state, ckpt, base_rows = prepared
    for i in range(2):
        _write_vecs(spark, src, _vecs(rng, 10, start=100 + 50 * i))
        _run(spark, src, state, ckpt)
    folded = compact_state(spark, state, up_to_epoch=1)
    assert folded["ids"] == 1 and folded["store"] == 1

    _write_vecs(spark, src, [base_rows[0]])  # id 0: in the compacted base
    with pytest.raises(Exception, match="re-ingest"):
        _run(spark, src, state, ckpt)
    # state watermark untouched by the failed epoch
    epochs = json.load(open(os.path.join(state, "epochs.json")))
    assert epochs["max_epoch"] == 1


def test_ids_sidecar_matches_store_ids_exactly(spark, prepared):
    """Every epoch's ids/ rows are exactly the store's ids for that epoch
    (usable rows only — unusable vectors appear in neither), so the guard
    and the store can never drift apart."""
    rng, src, state, ckpt, base_rows = prepared
    batch = _vecs(rng, 10, start=100)
    batch.append((999, None))  # unusable: stored nowhere, guarded nowhere
    _write_vecs(spark, src, batch)
    _run(spark, src, state, ckpt)

    store_ids = {
        r.vec_id
        for r in spark.read.parquet(os.path.join(state, "store")).collect()
    }
    sidecar_ids = {
        r.vec_id
        for r in spark.read.parquet(os.path.join(state, "ids")).collect()
    }
    assert sidecar_ids == store_ids
    assert 999 not in sidecar_ids
    assert len(sidecar_ids) == 50  # 40 base + 10 usable batch rows


def _sign_combo_rows(rng, U, n_reps, start, noise=0.01):
    """All 16 sign-combinations of four 2-dim subvectors (subspace 0
    scaled 2×), repeated n_reps times with tiny noise — a corpus whose
    subvectors the PQ codebooks capture exactly (recon_cos ≈ 1) while
    the 2 coarse centroids only explain the dominant subspace
    (cell_cos ≈ 2/√7 ≈ 0.76)."""
    rows = []
    i = start
    for _rep in range(n_reps):
        for bits in range(16):
            parts = []
            for j in range(4):
                s = 1.0 if (bits >> j) & 1 else -1.0
                mag = 2.0 if j == 0 else 1.0
                parts.append(s * mag * U[j] + noise * rng.randn(2))
            rows.append((i, [float(x) for x in np.concatenate(parts)]))
            i += 1
    return rows


def _collapsed_rows(rng, U, n, start, noise=0.01):
    """Vectors collapsed onto the coarse-centroid directions (±2·u₀, 0, 0,
    0): cell_cos RISES to ~1.0 while recon_cos FALLS to ~2/√7 — the shift
    the cell gate alone blesses but reconstruction drift catches."""
    rows = []
    for k in range(n):
        s = 1.0 if k % 2 == 0 else -1.0
        v = np.concatenate(
            [s * 2.0 * U[0] + noise * rng.randn(2)]
            + [noise * rng.randn(2) for _ in range(3)]
        )
        rows.append((start + k, [float(x) for x in v]))
    return rows


@pytest.fixture()
def structured_state(spark, tmp_path):
    rng = np.random.RandomState(3)
    U = []
    for _ in range(4):
        a = rng.randn(2)
        U.append(a / np.linalg.norm(a))
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    base = spark.createDataFrame(
        _sign_combo_rows(rng, U, n_reps=4, start=0),
        "vec_id long, embedding array<double>",
    )
    prepare_ann_state(
        spark, base, state, n_centroids=2, m=4, n_codes=4, state_buckets=8
    )
    return rng, U, src, state, ckpt


def test_recon_gate_trips_where_cell_gate_alone_would_not(
    spark, structured_state
):
    """A shifted batch whose PQ
    reconstruction record falls while cell drift alone would NOT have
    tripped. The collapse-toward-centroids shift makes mean_cell_cos
    RISE (≈1.0, measured 0.9999) while mean_recon_cos falls ≈0.76 —
    running with only the cell gate appends; adding the recon gate
    raises."""
    rng, U, src, state, ckpt = structured_state

    # fresh same-distribution batch passes BOTH gates
    _write_vecs(spark, src, _sign_combo_rows(rng, U, n_reps=1, start=1000))
    _run(
        spark, src, state, ckpt,
        min_mean_cell_cos=0.6, min_mean_recon_cos=0.9,
    )
    rec = json.load(open(os.path.join(state, "epochs.json")))["drift"]["0"]
    assert rec["mean_recon_cos"] > 0.95
    assert 0.6 < rec["mean_cell_cos"] < 0.9

    # collapsed batch: the cell gate ALONE blesses it... (fresh copy of
    # the state + a fresh checkpoint, so the batch lands as its epoch 0,
    # overwriting the record — the gates are what's under test)
    ckpt2, src2 = ckpt + "_2", src + "_2"
    _write_vecs(spark, src2, _collapsed_rows(rng, U, 32, start=2000))
    shutil.copytree(state, state + "_cellonly")
    _run(
        spark, src2, state + "_cellonly", ckpt2, min_mean_cell_cos=0.6
    )
    rec2 = json.load(
        open(os.path.join(state + "_cellonly", "epochs.json"))
    )["drift"]["0"]
    assert rec2["mean_cell_cos"] > 0.95  # looks HEALTHIER than baseline
    assert rec2["mean_recon_cos"] < 0.85  # while codes degrade

    # ...but the recon gate catches it (foreachBatch errors surface
    # wrapped in StreamingQueryException)
    with pytest.raises(Exception, match="reconstruction cosine"):
        _run(
            spark, src2, state, ckpt + "_3",
            min_mean_cell_cos=0.6, min_mean_recon_cos=0.9,
        )


def test_maybe_compact_cadence_and_deep_escalation(spark, prepared):
    """Driver-integration for the opt-in cadence: additive folds happen
    at the configured epoch cadence (store AND ids dirs bounded), the
    deep threshold escalates to a base rewrite, and probes stay green
    throughout."""
    rng, src, state, ckpt, base_rows = prepared
    queries = spark.createDataFrame(
        base_rows[:3], "vec_id long, embedding array<double>"
    )
    for i in range(4):
        _write_vecs(spark, src, _vecs(rng, 8, start=100 + 50 * i))
        _run(
            spark, src, state, ckpt,
            compact_every_n_epochs=2,
            deep_compact_max_partition_files=10_000,  # never deep here
        )
        assert probe_ann_store(
            spark, queries, state, k=3, n_probe=4
        ).count() == 9
    # cadence fired at epochs 2 (folding 0,1) — live dirs stay bounded
    epochs = json.load(open(os.path.join(state, "epochs.json")))
    assert epochs["compacted_up_to"] == 2
    store_dirs = {
        n for n in os.listdir(os.path.join(state, "store"))
        if n.startswith("epoch=")
    }
    ids_dirs = {
        n for n in os.listdir(os.path.join(state, "ids"))
        if n.startswith("epoch=")
    }
    assert store_dirs == ids_dirs == {"epoch=-1", "epoch=2", "epoch=3"}
    # compaction writes none of the near-dup family's thresholds keys into
    # a state that never records thresholds
    assert "thresholds" not in epochs
    assert "base_threshold_min" not in epochs

    # below cadence → no-op, no Spark job
    assert maybe_compact(spark, state, every_n_epochs=100) is None
    # deep threshold of 1 file per partition always trips → deep report
    report = maybe_compact(
        spark, state, every_n_epochs=1, deep_when_max_partition_files=1
    )
    assert report["store"]["base_files"] > 0
    assert "base_files_max_partition" in report["ids"]
    assert probe_ann_store(
        spark, queries, state, k=3, n_probe=4
    ).count() == 9
    # the streamed rows all survived the folds
    n = spark.read.parquet(os.path.join(state, "store")).count()
    assert n == 40 + 4 * 8


def test_maybe_compact_noop_without_epochs(spark, tmp_path):
    """A state that never processed an epoch (or isn't a state at all) is
    a no-op, not an error — safe to call unconditionally per epoch."""
    assert maybe_compact(spark, str(tmp_path / "nope")) is None


def test_reindex_after_tripped_gate(spark, structured_state):
    """The full remedy loop: gate trips → reindex_ann_state into a fresh
    dir (fresh codebooks over the full corpus) → the NEW state accepts
    the batch the old gate refused, and the drift history that showed
    the slide is carried forward under a prior generation."""
    rng, U, src, state, ckpt = structured_state

    _write_vecs(spark, src, _sign_combo_rows(rng, U, n_reps=1, start=1000))
    _run(spark, src, state, ckpt, min_mean_recon_cos=0.9)

    shifted = _collapsed_rows(rng, U, 32, start=2000)
    _write_vecs(spark, src + "_2", shifted)
    with pytest.raises(Exception, match="reconstruction cosine"):
        _run(
            spark, src + "_2", state, ckpt + "_2", min_mean_recon_cos=0.9
        )

    # retrain over the FULL corpus (old base + streamed + the shifted
    # batch that now belongs to the distribution)
    base = spark.createDataFrame(
        _sign_combo_rows(np.random.RandomState(3), U, 4, 0),
        "vec_id long, embedding array<double>",
    )
    full = base.unionByName(spark.read.parquet(src)).unionByName(
        spark.read.parquet(src + "_2")
    )
    state2 = state + "_v2"
    report = reindex_ann_state(spark, full, state, state2)
    assert report["old_n_ids"] == 64 + 16
    assert report["new_n_ids"] == 64 + 16 + 32

    # history carried: generation 0 = the old state's epochs, and the
    # new state is ready for its own epoch 0
    hist = read_ann_drift(spark, state2).collect()
    assert {(r.generation, r.epoch) for r in hist} == {(0, 0)}
    _write_vecs(spark, src + "_3", _collapsed_rows(rng, U, 16, start=5000))
    _run(
        spark, src + "_3", state2, ckpt + "_3", min_mean_recon_cos=0.9
    )
    hist2 = read_ann_drift(spark, state2).collect()
    assert {(r.generation, r.epoch) for r in hist2} == {(0, 0), (1, 0)}
    # and the reindexed store probes green over old AND new ids
    queries = spark.createDataFrame(
        shifted[:3], "vec_id long, embedding array<double>"
    )
    assert probe_ann_store(
        spark, queries, state2, k=3, n_probe=2
    ).count() == 9


def test_reindex_upgrades_pre_sidecar_state(spark, prepared):
    """A state prepared before the ids-sidecar layout (no state_buckets in
    recipe.json) gets the driver's dedicated rebuild message, not a silent
    unbounded-guard run or a confusing missing-directory error. The
    message names reindex_ann_state as the remedy — so reindexing it must
    produce a sidecar-bearing state the driver accepts."""
    rng, src, state, ckpt, base_rows = prepared
    recipe_path = os.path.join(state, "recipe.json")
    recipe = json.load(open(recipe_path))
    del recipe["state_buckets"]
    with open(recipe_path, "w") as f:
        json.dump(recipe, f)
    _write_vecs(spark, src, _vecs(rng, 5, start=100))
    with pytest.raises(ValueError, match="state_buckets"):
        _run(spark, src, state, ckpt)

    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    state2 = state + "_v2"
    reindex_ann_state(spark, base, state, state2)
    new_recipe = json.load(open(os.path.join(state2, "recipe.json")))
    assert new_recipe["state_buckets"] > 0
    assert os.path.isdir(os.path.join(state2, "ids"))
    _run(spark, src, state2, ckpt)  # the upgraded state streams fine


@pytest.mark.parametrize(
    "corpus_rows,match",
    [
        (lambda rows: rows[:30], "missing stored rows"),
        # a batch re-supplied twice would put two differently-coded rows
        # in the fresh base — probes turn nondeterministic with zero errors
        (lambda rows: rows + rows[:5], "duplicate store row"),
    ],
    ids=["missing-rows", "duplicate-ids"],
)
def test_reindex_bad_corpus_removes_new_state(
    spark, prepared, corpus_rows, match
):
    """A reindex corpus that fails id parity with the stored rows fails
    fast, and the half-built new state is removed — a parity-failed store
    must not be probed as if migrated."""
    rng, src, state, ckpt, base_rows = prepared
    corpus = spark.createDataFrame(
        corpus_rows(base_rows), "vec_id long, embedding array<double>"
    )
    state2 = state + "_v2"
    with pytest.raises(ValueError, match=match):
        reindex_ann_state(spark, corpus, state, state2)
    assert not os.path.exists(state2)


def test_reindex_rejects_unknown_override(spark, prepared):
    rng, src, state, ckpt, base_rows = prepared
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    with pytest.raises(TypeError, match="unknown recipe override"):
        reindex_ann_state(
            spark, base, state, state + "_v2", n_probe=7
        )


def test_prepare_crash_leaves_no_partial_state_and_retry_succeeds(
    spark, tmp_path, monkeypatch
):
    """A crash mid-prepare must not leave a partial state
    the already-holds guard can't classify. Inject a crash after the
    parquet writes but before recipe.json: state_dir never appears, and
    an unmodified retry succeeds (the stale tmp dir is disposable)."""
    import syncmaven_spark.streaming.ann as ann_mod

    rng = np.random.RandomState(7)
    state = str(tmp_path / "state")
    base = spark.createDataFrame(
        _vecs(rng, 40), "vec_id long, embedding array<double>"
    )

    real_write = ann_mod._atomic_write_json

    def boom(path, payload):
        raise RuntimeError("injected crash before recipe.json")

    monkeypatch.setattr(ann_mod, "_atomic_write_json", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        prepare_ann_state(
            spark, base, state, n_centroids=4, m=4, n_codes=8
        )
    assert not os.path.exists(state)  # nothing partial installed
    tmp_dirs = [
        n for n in os.listdir(tmp_path) if n.startswith(".prepare_tmp_")
    ]
    assert tmp_dirs  # the crash residue is the disposable tmp only

    monkeypatch.setattr(ann_mod, "_atomic_write_json", real_write)
    prepare_ann_state(spark, base, state, n_centroids=4, m=4, n_codes=8)
    assert os.path.exists(os.path.join(state, "recipe.json"))
    assert not any(
        n.startswith(".prepare_tmp_") for n in os.listdir(tmp_path)
    )
    queries = base.limit(2)
    assert probe_ann_store(
        spark, queries, state, k=3, n_probe=4
    ).count() == 6


def _slide_rows(rng, U, alpha, n, start, noise=0.01):
    """Sign-combo rows blended ``alpha`` of the way toward their own
    collapsed form (±2·u₀, 0, 0, 0): recon_cos declines smoothly with
    alpha — the planted GRADUAL slide the trend gate must catch and the
    static per-batch gates, by construction, each individually bless."""
    rows = []
    for k in range(n):
        bits = k % 16
        parts = []
        for j in range(4):
            s = 1.0 if (bits >> j) & 1 else -1.0
            mag = 2.0 if j == 0 else 1.0
            parts.append(s * mag * U[j])
        v = np.concatenate(parts)
        s0 = 1.0 if bits & 1 else -1.0
        target = np.concatenate([s0 * 2.0 * U[0], np.zeros(6)])
        blended = (1 - alpha) * v + alpha * target + noise * rng.randn(8)
        rows.append((start + k, [float(x) for x in blended]))
    return rows


def test_drift_history_bounded_and_carried_across_reindexes(spark, prepared):
    """Stream 5 epochs with drift_tail_epochs=2 (>2× the bound):
    epochs.json's live tail plateaus at 2 records (its byte size stops
    growing), older records roll into append-only drift/live segments,
    and read_ann_drift still returns every epoch with both halves. A
    reindex then carries the full trend: the new state's prior generation
    returns every old epoch (segments + live tail), the new epochs.json
    prior chain holds no inline drift records (it stays bounded across
    generations), a second reindex keeps the whole chain, and the third
    generation records its own epochs."""
    rng, src, state, ckpt, base_rows = prepared
    sizes = []
    for i in range(5):
        _write_vecs(spark, src, _vecs(rng, 6, start=100 + 50 * i))
        _run(spark, src, state, ckpt, drift_tail_epochs=2)
        sizes.append(os.path.getsize(os.path.join(state, "epochs.json")))
    epochs = json.load(open(os.path.join(state, "epochs.json")))
    assert sorted(int(e) for e in epochs["drift"]) == [3, 4]
    # size plateaus once the tail caps: every post-cap size stays within
    # a few bytes of the first capped one (record values vary slightly)
    assert max(sizes[2:]) - min(sizes[2:]) < 100
    segs = os.listdir(os.path.join(state, "drift", "live"))
    assert segs and all(s.startswith("part-") for s in segs)
    hist = read_ann_drift(spark, state).orderBy("epoch").collect()
    assert [r.epoch for r in hist] == list(range(5))
    for r in hist:
        assert r.n_vectors == 6
        assert r.mean_recon_cos is not None
        assert r.mean_cell_cos is not None

    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    full = base.unionByName(spark.read.parquet(src))
    state2 = state + "_v2"
    reindex_ann_state(spark, full, state, state2)
    hist = read_ann_drift(spark, state2).collect()
    assert {(r.generation, r.epoch) for r in hist} == {
        (0, e) for e in range(5)
    }
    epochs2 = json.load(open(os.path.join(state2, "epochs.json")))
    assert all("drift" not in entry for entry in epochs2["prior"])
    assert os.path.isdir(os.path.join(state2, "drift", "prior=0"))

    # second generation streams (rolling its own tail), then reindexes
    for i in range(3):
        _write_vecs(
            spark, src + "_2", _vecs(rng, 6, start=1000 + 50 * i)
        )
        _run(spark, src + "_2", state2, ckpt + "_2", drift_tail_epochs=2)
    full2 = full.unionByName(spark.read.parquet(src + "_2"))
    state3 = state + "_v3"
    reindex_ann_state(spark, full2, state2, state3)
    hist3 = read_ann_drift(spark, state3).collect()
    assert {(r.generation, r.epoch) for r in hist3} == {
        (0, e) for e in range(5)
    } | {(1, e) for e in range(3)}
    epochs3 = json.load(open(os.path.join(state3, "epochs.json")))
    assert all("drift" not in entry for entry in epochs3["prior"])
    # and the third-generation state is live: it takes its own epochs
    _write_vecs(spark, src + "_3", _vecs(rng, 6, start=5000))
    _run(spark, src + "_3", state3, ckpt + "_3")
    hist3 = read_ann_drift(spark, state3).collect()
    assert (2, 0) in {(r.generation, r.epoch) for r in hist3}


def test_segment_roll_crash_window_dedupes(tmp_path):
    """A crash between the segment write and the epochs.json rewrite
    leaves rolled records in BOTH places; the next roll re-covers them in
    an overlapping segment. The merge must return every epoch exactly
    once with its original record."""
    from syncmaven_spark.streaming.ann import (
        _read_drift_segments,
        _roll_drift_segments,
    )

    seg_dir = str(tmp_path / "live")
    drift = {str(e): {"mean_recon_cos": 0.9 - e / 100} for e in range(6)}
    tail = _roll_drift_segments(seg_dir, drift, 3)
    assert sorted(int(e) for e in tail) == [3, 4, 5]
    # crash: epochs.json never rewritten — the un-trimmed dict advances
    drift["6"] = {"mean_recon_cos": 0.84}
    tail2 = _roll_drift_segments(seg_dir, drift, 3)
    assert sorted(int(e) for e in tail2) == [4, 5, 6]
    segs = sorted(os.listdir(seg_dir))
    assert len(segs) == 2  # overlapping ranges, distinct files
    merged = _read_drift_segments(seg_dir)
    merged.update({e: r for e, r in tail2.items()})
    assert sorted(int(e) for e in merged) == list(range(7))
    for e, rec in merged.items():
        assert rec["mean_recon_cos"] == pytest.approx(0.9 - int(e) / 100)


def test_read_drift_segments_skips_tmp_and_foreign_files(tmp_path):
    from syncmaven_spark.streaming.ann import _read_drift_segments

    seg_dir = tmp_path / "live"
    seg_dir.mkdir()
    (seg_dir / "part-0000000000-0000000001.json").write_text(
        json.dumps({"drift": {"0": {"x": 1}, "1": {"x": 2}}})
    )
    (seg_dir / "part-0000000002-0000000002.json.tmp").write_text("{bad")
    (seg_dir / ".hidden.json").write_text("{bad")
    (seg_dir / "notes.txt").write_text("not json")
    assert _read_drift_segments(str(seg_dir)) == {
        "0": {"x": 1}, "1": {"x": 2}
    }
    assert _read_drift_segments(str(tmp_path / "missing")) == {}


def _mk_records(values, start_epoch=0):
    return [
        (
            start_epoch + i,
            {"mean_cell_cos": v, "mean_recon_cos": v},
        )
        for i, v in enumerate(values)
    ]


@pytest.mark.parametrize(
    "vals,kw,retrain,reason,metric",
    [
        ([0.90 - 0.02 * i for i in range(10)],
         dict(window=8, min_slope=0.005), True, "slide",
         {"slope": pytest.approx(-0.02, abs=1e-6)}),
        # the construction static gates fail on: a healthy stream with ONE
        # collapsed batch — the Theil–Sen median barely moves
        ([0.90] * 5 + [0.30] + [0.90] * 2,
         dict(window=8, min_slope=0.005, min_level=0.5), False, "healthy",
         {"slope": pytest.approx(0.0, abs=0.005),
          "recent_median": pytest.approx(0.9)}),
        ([0.9 + 0.002 * x for x in np.random.RandomState(0).randn(20)],
         dict(window=16, min_slope=0.005, min_level=0.5), False, "healthy",
         {}),
        # a slide that finished BEFORE the window has slope ≈ 0 — only the
        # level gate sees it
        ([0.40] * 10, dict(window=8, min_slope=0.005, min_level=0.6), True,
         "level", {}),
        ([0.9, 0.5, 0.1], dict(window=8, min_slope=0.005), False,
         "insufficient history", {}),
    ],
    ids=["sustained-slide", "one-batch-outlier", "healthy-stream",
         "low-plateau", "short-history"],
)
def test_recommend_from_records(vals, kw, retrain, reason, metric):
    rec = _recommend_from_records(_mk_records(vals), **kw)
    assert rec["retrain"] is retrain
    for m in rec["metrics"].values():
        assert reason in m["reason"]
        for key, want in metric.items():
            assert m[key] == want


def test_recommend_retrain_is_generation_aware(spark, prepared):
    """The DataFrame wrapper only reads the LATEST generation: a prior
    generation's slide must not leak into a fresh post-retrain window
    (different codebooks — mixing fabricates a slide across the
    migration boundary)."""
    rng, src, state, ckpt, base_rows = prepared
    _write_vecs(spark, src, _vecs(rng, 6, start=100))
    _run(spark, src, state, ckpt)
    drift = read_ann_drift(spark, state)
    rec = recommend_retrain(drift, window=4)
    assert rec["generation"] == 0 and not rec["retrain"]

    # synthesize a two-generation trend: gen 0 slid hard, gen 1 healthy
    rows = [
        (0, e, 10, 0.9 - 0.1 * e, None, None, 0.9 - 0.1 * e, None, None)
        for e in range(8)
    ] + [(1, e, 10, 0.9, None, None, 0.9, None, None) for e in range(4)]
    ddl = (
        "generation int, epoch int, n_vectors long, "
        "mean_cell_cos double, p10_cell_cos double, min_cell_cos double, "
        "mean_recon_cos double, p10_recon_cos double, min_recon_cos double"
    )
    two_gen = spark.createDataFrame(rows, ddl)
    rec2 = recommend_retrain(two_gen, window=4, min_slope=0.01)
    assert rec2["generation"] == 1 and not rec2["retrain"]
    # but the same slide IS caught while generation 0 is still latest
    rec0 = recommend_retrain(
        two_gen.filter("generation = 0"), window=4, min_slope=0.01
    )
    assert rec0["retrain"]


def test_trend_gate_trips_on_gradual_slide_not_outlier(
    spark, structured_state
):
    """Driver integration, mirroring the recon-gate test's
    construction: five batches sliding smoothly toward collapse trip
    retrain_on_trend (while every individual batch passes a static
    recon gate set below the slide's endpoint), whereas a healthy
    stream with ONE collapsed batch streams through the SAME trend gate
    untripped — the distinction static gates cannot make."""
    rng, U, src, state, ckpt = structured_state
    trend = {"window": 5, "min_slope": 0.01}

    # outlier stream: healthy, one collapsed batch, healthy again
    state2, src2 = state + "_outlier", src + "_outlier"
    shutil.copytree(state, state2)
    for i, alpha in enumerate([0.0, 0.0, 0.0, None, 0.0, 0.0]):
        if alpha is None:
            rows = _collapsed_rows(rng, U, 16, start=5000)
        else:
            rows = _slide_rows(rng, U, alpha, 16, start=2000 + 100 * i)
        _write_vecs(spark, src2, rows)
        _run(
            spark, src2, state2, ckpt + "_outlier",
            retrain_on_trend=trend,
        )  # never raises
    hist = read_ann_drift(spark, state2).orderBy("epoch").collect()
    assert len(hist) == 6
    assert min(r.mean_recon_cos for r in hist) < 0.85  # outlier recorded

    # slide stream: the same gate fires once the window fills
    with pytest.raises(Exception, match="sustained drift trend"):
        for i, alpha in enumerate([0.0, 0.2, 0.4, 0.6, 0.8]):
            _write_vecs(
                spark, src,
                _slide_rows(rng, U, alpha, 16, start=2000 + 100 * i),
            )
            _run(
                spark, src, state, ckpt,
                retrain_on_trend=trend,
            )
    # nothing before the firing epoch was blocked: 4 epochs appended
    hist = read_ann_drift(spark, state).orderBy("epoch").collect()
    assert [r.epoch for r in hist] == [0, 1, 2, 3]


def test_trend_window_validation_fails_fast():
    import pyspark.sql.types as T

    with pytest.raises(ValueError, match="at least 3"):
        _recommend_from_records([], window=2)
    with pytest.raises(ValueError, match="drift_tail_epochs"):
        run_streaming_ann_sync(
            None, "src", T.StructType(), "state", "ckpt",
            drift_tail_epochs=4, retrain_on_trend={"window": 8},
        )


def test_reindex_transient_failure_is_retryable(
    spark, prepared, monkeypatch
):
    """A TRANSIENT error during verification leaves the finished build in
    place, and re-running the same reindex call re-verifies WITHOUT
    re-paying the prepare (the blanket-rmtree behavior forced a full
    rebuild)."""
    import syncmaven_spark.streaming.ann as ann_mod

    rng, src, state, ckpt, base_rows = prepared
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    state2 = state + "_v2"

    real_load = ann_mod._load_json
    calls = {"n": 0}

    def flaky_load(path):
        # trip once, on the epochs.json read INSIDE verification (after
        # the parity join) — a stand-in for any transient Spark error
        if path.endswith("epochs.json") and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected transient verification error")
        return real_load(path)

    monkeypatch.setattr(ann_mod, "_load_json", flaky_load)
    with pytest.raises(RuntimeError, match="transient"):
        reindex_ann_state(spark, base, state, state2)
    # the build survived the transient failure
    assert os.path.exists(os.path.join(state2, "recipe.json"))
    recipe_before = open(os.path.join(state2, "recipe.json")).read()

    monkeypatch.setattr(ann_mod, "_load_json", real_load)

    def no_rebuild(*a, **kw):
        raise AssertionError("retry must not re-run prepare_ann_state")

    monkeypatch.setattr(ann_mod, "prepare_ann_state", no_rebuild)
    report = reindex_ann_state(spark, base, state, state2)
    assert report == {"old_n_ids": 40, "new_n_ids": 40}
    # the reused build is byte-identical — prepare genuinely did not run
    assert open(os.path.join(state2, "recipe.json")).read() == recipe_before
    _write_vecs(spark, src, _vecs(rng, 5, start=100))
    _run(spark, src, state2, ckpt)  # the migrated state streams fine


def test_reindex_refuses_foreign_or_live_target(spark, prepared):
    rng, src, state, ckpt, base_rows = prepared
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    # a live/migrated state (has epochs.json) is never reused
    _write_vecs(spark, src, _vecs(rng, 5, start=100))
    _run(spark, src, state, ckpt)
    with pytest.raises(ValueError, match="migrated/live"):
        reindex_ann_state(spark, base, state, state)
    # a prepared state with a DIFFERENT recipe is not this migration's
    # interrupted build
    other = state + "_other"
    prepare_ann_state(
        spark, base, other, n_centroids=2, m=4, n_codes=8, state_buckets=8
    )
    with pytest.raises(ValueError, match="recipe differs"):
        reindex_ann_state(spark, base, state, other)


def test_deep_rewrite_scoped_to_named_tables(spark, prepared):
    """rewrite_tables folds ONLY the listed table base-inclusive: the
    store base rewrites to one tight file set while the ids base keeps
    accreting additively — and the report shape reflects which path each
    table took."""
    from syncmaven_spark.streaming.incremental import _count_base_files

    rng, src, state, ckpt, base_rows = prepared
    for i in range(4):
        _write_vecs(spark, src, _vecs(rng, 8, start=100 + 50 * i))
        _run(spark, src, state, ckpt)
    # an additive fold first, so both bases hold accreted file sets
    compact_state(spark, state, up_to_epoch=2)
    ids_base = os.path.join(state, "ids", "epoch=-1")
    ids_files_before = _count_base_files(ids_base)["base_files"]

    report = compact_state(
        spark, state, up_to_epoch=3, rewrite_tables={"store"}
    )
    assert "base_files" in report["store"]
    assert report["store"]["folded_dirs"] == 2  # base + epoch=2
    assert set(report["ids"]) == {"folded_dirs"}  # additive: no walk
    assert report["ids"]["folded_dirs"] == 1
    # the ids base gained epoch=2's files additively (no rewrite)
    assert _count_base_files(ids_base)["base_files"] > ids_files_before
    # everything still reads: 40 base + 4×8 streamed
    assert spark.read.parquet(
        os.path.join(state, "store")
    ).count() == 40 + 32
    queries = spark.createDataFrame(
        base_rows[:2], "vec_id long, embedding array<double>"
    )
    assert probe_ann_store(
        spark, queries, state, k=3, n_probe=4
    ).count() == 6


def test_reindex_rederives_buckets_on_explicit_none(spark, tmp_path):
    """Reindex pinned the old recipe's state_buckets, so
    a grown corpus kept its original (unprunable) bucket count. An
    EXPLICIT ``state_buckets=None`` override must re-derive from the NEW
    corpus; the default (no override) still inherits the old recipe."""
    from syncmaven_spark.streaming.ann import (
        _derive_state_buckets,
        prepare_ann_state,
        reindex_ann_state,
    )

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)
    ]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    state = str(tmp_path / "state")
    prepare_ann_state(
        spark, base, state, n_centroids=4, m=4, n_codes=8, state_buckets=64
    )

    def buckets(d):
        with open(os.path.join(d, "recipe.json")) as f:
            return json.load(f)["state_buckets"]

    assert buckets(state) == 64
    # default: inherit the pinned value
    inherit = str(tmp_path / "state_inherit")
    reindex_ann_state(spark, base, state, inherit)
    assert buckets(inherit) == 64
    # explicit None: re-derive from the new corpus size
    rederived = str(tmp_path / "state_rederived")
    reindex_ann_state(spark, base, state, rederived, state_buckets=None)
    assert buckets(rederived) == _derive_state_buckets(len(rows))


def test_epoch_jobs_keep_their_job_group(spark, prepared):
    """Every Spark job of an ANN sync keeps the job group of the thread
    whose work started it: the caller's ``setJobGroup`` for the state open
    (the codebook collects), the streaming query's own run group for the
    epoch (the id guard and the store/ids writes) — Spark gives a
    ``foreachBatch`` thread the query's run group. Pool threads used to
    start with no group at all, out of reach of ``cancelJobGroup``."""
    from pyspark.sql.streaming import StreamingQueryListener

    rng, src, state, ckpt, _ = prepared
    _write_vecs(spark, src, _vecs(rng, 10, start=100))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return max(tracker.getJobIdsForGroup(group))

    run_ids = []

    class RunIds(StreamingQueryListener):
        def onQueryStarted(self, event):
            run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        first = marker_job("epoch-test-before") + 1
        sc.setJobGroup("epoch-test", "one ANN epoch")
        _run(spark, src, state, ckpt)
        last = marker_job("epoch-test-after")
    finally:
        spark.streams.removeListener(listener)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)

    started = set(range(first, last))
    caller = set(tracker.getJobIdsForGroup("epoch-test"))
    assert len(run_ids) == 1
    stream = set(tracker.getJobIdsForGroup(run_ids[0]))
    assert started - caller - stream == set()
    assert caller & started and stream & started
