"""Product quantization (PQ/ADC) — approximate cosine search for the
MEMORY-bound regime, completing the ANN family (brute force → sign-LSH →
IVF → PQ).

At 100 TB the embedding column itself is the bottleneck: 64-dim float64
vectors are 512 bytes/row, so a brute-force or even IVF-pruned scan moves
the full vector payload through every probe. PQ stores each vector as
``m`` smallint codebook indices — 2 bytes each in memory, so the default
m=8 is 16 B/row vs 512 B (32×) and the catalog's m=32 recipe is 64 B/row
(8×), with parquet dictionary/bit-packing shrinking disk further — and
scores candidates against a per-query lookup table (ADC: asymmetric
distance computation) without ever touching the original floats. The
codes table is what scans at probe time; the float vectors are only
needed at encode time and for optional exact re-ranking.

Public-knowledge basis: Jégou/Douze/Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) — the architecture FAISS implements
as IVFPQ. The reference has no ANN surface at all (similarity search is a
SURVEY §2D scale extension, like the dedup/IVF families).

Cosine mapping: vectors are L2-NORMALIZED before the subspace split, so
the inner product against the reconstruction approximates cosine directly
(IP-ADC over normalized vectors); each subspace quantizes with plain
Euclidean Lloyd, the standard PQ recipe.

Continuous ingestion mirrors :func:`~syncmaven_spark.operators.similarity.
ivf_append`: :func:`pq_encode` is stateless under a fixed codebook, so new
corpus batches encode-and-append with NO retraining and NO re-encoding of
the existing store — ``pq_encode(new_batch, codebooks_df)`` + parquet
``mode("append")`` is the whole ingest path; the checksum stamp fails fast
if the appended codes were produced under a different codebook.

Artifacts carry the same parquet-surviving recipe stamps as the LSH/IVF
indexes (``dedup.RECIPE_META_KEY``): the codebook checksum is stamped on
both the codebook table and the codes table, and :func:`pq_probe` fails
fast on a mismatch — scoring codes against the wrong codebook returns
plausible-looking garbage with zero errors otherwise.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from syncmaven_spark.operators.similarity import _usable_vectors

#: ceiling on the per-chunk ADC lookup table (n_q × m × n_codes doubles)
#: that ships inside every task closure — probes CHUNK the query batch so
#: no single mapInPandas pass exceeds it (module-level so tests can force
#: chunking with a tiny override)
LUT_BYTES_CAP = 512 * 1024 * 1024

#: bound on the per-slab (slab × arrow_batch) float64 sims transient inside
#: the ADC kernel — the query axis slabs so a small m×n_codes recipe with a
#: large query batch cannot allocate n_q × batch doubles at once
_ADC_SLAB_BYTES = 64 * 1024 * 1024


def _normalized_centroids(centroids: np.ndarray) -> np.ndarray:
    """The coarse centroids in the UNIT-SPHERE geometry every residual
    computation shares (cell assignment is cosine, i.e. dot on normalized
    vectors, so the residual is taken against the normalized centroid —
    train, encode and probe must agree on this or scores silently skew)."""
    c = np.asarray(centroids, dtype=np.float64)
    return c / (np.linalg.norm(c, axis=1, keepdims=True) + 1e-12)


#: bound on the (m × slab × n_codes) float64 scores buffer inside
#: _assign_codes — at the catalog's m=32 × n_codes=256 recipe a 10k-row
#: un-slabbed pass materialized TWO 655 MB temporaries (the scores plus
#: the ``c² - 2·scores`` subtraction) per call; slabbing into one reused
#: buffer keeps the working set near cache size and was the dominant
#: cost of pq_train's Lloyd loop (measured 25.8 s → see pq_train)
_ASSIGN_SLAB_BYTES = 32 * 1024 * 1024


def _driver_kernel_threads() -> int:
    """Thread count for DRIVER-side numpy kernels (pq_train's Lloyd loop):
    while the driver trains, the cluster is idle, so the single-threaded
    discipline the EXECUTOR kernels need (32 python workers × 1 BLAS
    thread — see bench.py's env pin) wastes all but one core here.
    Row-slab threading is bit-identical (every slab's scores, certificate
    and argmin are row-independent); the cores this process may run on,
    capped at 8, saturate the memory-bound kernel without fighting the
    JVM's background threads."""
    import os

    return max(1, min(8, len(os.sched_getaffinity(0))))


def _assign_codes(
    Xn: np.ndarray, books: np.ndarray, threads: int = 1
) -> np.ndarray:
    """Nearest-codebook-entry assignment per subspace — the ONE encode
    kernel shared by the raw and residual paths AND pq_train's Lloyd
    iterations: ``argmin_c ||s-c||² = argmin_c(c² - 2·s·c)``. Its codes
    are BIT-identical to the pinned reference ``c2 - 2·einsum("njs,jcs->
    njc", optimize=False)`` on every BLAS, with or without FMA, for every
    ``sub_dim`` — the formulation every trained codebook, recall floor and
    checksum stamp is pinned against.

    **Score.** Per row slab, one batched GEMM ``[x | 1] @ [-2·Bᵀ ; c²]``
    (m matrices of (slab, k+1) × (k+1, n_codes), k = sub_dim) yields
    every code's score with the affine ``c² - 2·x·c`` step fused in. This
    is not the ``optimize=True`` route round 9 measured 7-36× slower and
    unstable: that one went through tensordot into the THREADED BLAS,
    whose per-call pool dispatch fought the 32 Spark workers. The
    executors, bench.py and perfbench pin BLAS to one thread, so each of
    the m GEMMs runs in the caller's thread, and each call does a whole
    slab × n_codes block of work (measured 3-4× faster than the einsum,
    whose k-element inner loop defeats SIMD).

    **Certificate.** A BLAS may sum the k+1 terms in any order and may
    use FMA, so a GEMM score can be a few ULP off the reference and flip
    a near-tied argmin. Write a = [x | 1], w_c = [-2·b_c | c²_c] and
    T_c = Σ_t a_t·w_tc, with u = eps/2 and γ_n = n·u/(1 - n·u):
    - GEMM: any order of a (k+1)-term dot product, with or without FMA,
      gives |G_c - T_c| ≤ γ_{k+1}·Σ_t |a_t·w_tc|;
    - reference: ``fl(c² - 2·fl(Σ_s x_s·b_cs))`` (×2 is exact) gives
      |R_c - T_c| ≤ γ_k·2Σ_s|x_s·b_cs| + u·|c² - 2·dot| ≤ γ_{k+1}·Σ_t
      |a_t·w_tc|;
    - so |G_c - R_c| ≤ δ = 2γ_{k+1}·S with S = Σ_t |a_t|·max_c |w_tc|,
      the same S for every code of the row and subspace; 2γ_{k+1} ≈
      (k+1)·eps, and the kernel uses (2k+6)·eps, which also absorbs the
      rounding of S and of the margin itself, plus ``tiny`` for
      subnormal products.
    When GEMM's runner-up trails its best code by more than 2δ, every
    other code's reference score exceeds the best's, so the reference
    picks the same code. Exact ties fall under the margin (einsum's
    first-index tie-break is kept that way), a NaN or inf margin or bound
    compares false, and a row with ANY uncertified cell is recomputed by
    the reference einsum itself. On random data no cell falls back.

    The row axis SLABS under :data:`_ASSIGN_SLAB_BYTES` with one reused
    scores buffer: the un-slabbed form allocated scores-sized temporaries
    per call, which at the m=32 × n_codes=256 recipe made memory traffic,
    not FLOPs, the Lloyd loop's cost (round-10: pq_train 25.8 s → 8.3 s
    at sf0.1, bit-identical output)."""
    m, n_codes, sub_dim = books.shape
    n = len(Xn)
    Xs = np.ascontiguousarray(Xn.reshape(n, m, sub_dim))
    c2 = (books * books).sum(axis=2)
    # rows [x | 1] of shape (m, slab, k+1) against (m, k+1, n_codes)
    W = np.concatenate([-2.0 * books.transpose(0, 2, 1), c2[:, None, :]], 1)
    # 2δ per unit |a_t|, so that 2δ = |a| @ bound2 (+ the subnormal floor)
    bound2 = (
        2 * (2 * sub_dim + 6) * np.finfo(np.float64).eps
        * np.abs(W).max(axis=2, keepdims=True)
    )
    tiny = np.finfo(np.float64).tiny
    slab = max(1, _ASSIGN_SLAB_BYTES // (m * n_codes * 8))
    out = np.empty((n, m), dtype=np.int64)

    def run_range(i0: int, i1: int) -> None:
        rows = min(slab, i1 - i0)
        xa = np.ones((m, rows, sub_dim + 1))
        buf = np.empty((m, rows, n_codes))
        for i in range(i0, i1, slab):
            xs = Xs[i : i + slab]
            a, g = xa[:, : len(xs)], buf[:, : len(xs)]
            a[:, :, :sub_dim] = xs.transpose(1, 0, 2)
            np.matmul(a, W, out=g)
            best = g.argmin(axis=2)[..., None]
            g1 = np.take_along_axis(g, best, axis=2)
            np.put_along_axis(g, best, np.inf, axis=2)
            g2 = np.take_along_axis(g, g.argmin(axis=2)[..., None], axis=2)
            sure = g2 - g1 > np.matmul(np.abs(a), bound2) + tiny
            codes = best[..., 0].T
            redo = np.flatnonzero(~sure.all(axis=0)[:, 0])
            if redo.size:
                ref = np.einsum(
                    "njs,jcs->njc", xs[redo], books, optimize=False
                )
                ref *= -2.0
                ref += c2[None, :, :]
                codes[redo] = ref.argmin(axis=2)
            out[i : i + slab] = codes

    threads = max(1, min(threads, (n + slab - 1) // slab))
    if threads == 1:
        run_range(0, n)
        return out
    # DRIVER-side parallel path (see _driver_kernel_threads): contiguous
    # slab-aligned row ranges, private buffers per thread — every
    # row's scores/argmin are computed by exactly the same arithmetic as
    # the sequential loop, so the output is bit-identical regardless of
    # the thread split (the matmul/argmin C loops release the GIL, which
    # is what makes the threads actually run concurrently)
    from concurrent.futures import ThreadPoolExecutor

    n_slabs = (n + slab - 1) // slab
    per = (n_slabs + threads - 1) // threads
    ranges = [
        (t * per * slab, min(n, (t + 1) * per * slab))
        for t in range(threads)
        if t * per * slab < n
    ]
    with ThreadPoolExecutor(max_workers=len(ranges)) as pool:
        futs = [pool.submit(run_range, i0, i1) for i0, i1 in ranges]
        for f in futs:
            f.result()
    return out


def _pq_checksum(codebooks: np.ndarray) -> str:
    """Deterministic fingerprint of the (m, n_codes, sub_dim) codebook
    tensor, rounded to 6 decimals so a parquet round-trip through
    array<double> cannot flip it (same contract as the IVF centroid
    checksum)."""
    arr = np.ascontiguousarray(np.round(np.asarray(codebooks, float), 6))
    return hashlib.md5(arr.tobytes() + str(arr.shape).encode()).hexdigest()[:16]


def _pq_recipe(codebooks: np.ndarray) -> dict:
    m, n_codes, sub_dim = codebooks.shape
    return {
        "checksum": _pq_checksum(codebooks),
        "m": int(m),
        "n_codes": int(n_codes),
        "dim": int(m * sub_dim),
    }


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    sample_size: int = 10_000,
    iterations: int = 10,
    seed: int = 42,
    _residual_centroids: np.ndarray | None = None,
    _sample_X: np.ndarray | None = None,
) -> DataFrame:
    """Train the PQ codebooks on a bounded sample and return the
    persistable codebook table ``(subspace, code, centroid)``, stamped.

    Vectors are L2-normalized, split into ``m`` contiguous subspaces of
    ``dim/m`` components, and each subspace gets its own ``n_codes``-entry
    Euclidean Lloyd codebook. Training is driver-side over ≤
    ``sample_size`` rows taken in ``xxhash64(id)`` order (deterministic
    AND spread across the corpus — a raw-id prefix would cover only the
    head shard; same rationale as ``train_centroids``). The codebooks are
    the only state that leaves the cluster: ``m × n_codes × dim/m``
    doubles — identical total size to ONE ``n_codes``-centroid IVF
    codebook, regardless of corpus size.

    Init picks ``n_codes`` DISTINCT sub-vectors (padding by cycling when a
    subspace has fewer distinct values), so a corpus whose sub-vectors
    take ≤ ``n_codes`` distinct values quantizes LOSSLESSLY — the property
    tests pin ADC == exact cosine on such corpora.

    ``_residual_centroids`` is :func:`ivfpq_index`'s residual-encoding
    hook (Jégou et al. §IV-A — the canonical IVFPQ layout): when given,
    each sample vector is replaced by its residual against its nearest
    (cosine) normalized coarse centroid BEFORE the subspace split, so the
    codebooks learn the fine structure the coarse quantizer leaves behind
    instead of re-spending bits on the cell-level component.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if not 1 <= n_codes <= 32767:
        # codes persist as array<smallint> — the honest 2-byte width
        raise ValueError(
            f"n_codes must be in [1, 32767] (codes are smallint), got "
            f"{n_codes}"
        )
    # `_sample_X` lets ivfpq_index collect the bounded sample ONCE for
    # both trainers — this function's sample lineage (usability filter →
    # (xxhash64(id), id) order → limit → vec column) is byte-identical to
    # train_centroids', so the shared array trains the same codebooks.
    if _sample_X is not None:
        X = _sample_X
    else:
        sampled = _usable_vectors(corpus, id_col, vec_col).orderBy(
            F.xxhash64(id_col), F.col(id_col)
        )
        sample = sampled.select(vec_col).limit(sample_size).collect()
        X = np.array([r[0] for r in sample], dtype=np.float64)
    if len(X) == 0:
        raise ValueError(
            "cannot train PQ codebooks on an empty (or all-null-embedding) "
            "corpus"
        )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(
            f"embedding dim {dim} is not divisible by m={m} subspaces"
        )
    sub_dim = dim // m
    Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    if _residual_centroids is not None:
        cn = _normalized_centroids(_residual_centroids)
        if cn.shape[1] != dim:
            raise ValueError(
                f"pq_train: residual centroids dim {cn.shape[1]} != "
                f"embedding dim {dim}"
            )
        Xn = Xn - cn[np.argmax(Xn @ cn.T, axis=1)]

    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub_dim), dtype=np.float64)
    for j in range(m):
        S = Xn[:, j * sub_dim : (j + 1) * sub_dim]
        uniq = np.unique(S, axis=0)
        take = min(n_codes, len(uniq))
        init = uniq[rng.choice(len(uniq), size=take, replace=False)]
        if take < n_codes:
            # cycle-pad: duplicate centroids are inert (argmin ties break
            # to the lowest index, so padded slots are never assigned) but
            # keep the tensor rectangular and the recipe's n_codes honest
            pad = np.tile(init, (n_codes // take + 1, 1))[: n_codes - take]
            init = np.vstack([init, pad])
        books[j] = init
    # joint Lloyd over ALL subspaces per iteration (each converges
    # independently — the math is identical to m separate loops), with
    # the assignment step delegated to the ONE slabbed kernel the encode
    # path uses (_assign_codes): m separate tiny matmuls per iteration
    # paid ~9 ms EACH in BLAS thread-spawn overhead (round-8), and an
    # un-slabbed joint einsum made MEMORY traffic the cost — two 655 MB
    # temporaries per iteration at m=32 × n_codes=256 × 10k samples
    # (round-10: 25.8 s → 8.3 s of the knn_pq_probe entry, bit-identical).
    Xs = np.ascontiguousarray(Xn.reshape(len(Xn), m, sub_dim))
    offsets = (np.arange(m) * n_codes)[None, :]
    # DRIVER-side assignment threads across row slabs (bit-identical —
    # see _assign_codes): the cluster is idle during training, so the
    # executor kernels' single-thread discipline would leave the Lloyd
    # loop on one core (round-11: the m=32 × 256 recipe's 10-iteration
    # loop dropped ~4× at sf0.1)
    lloyd_threads = _driver_kernel_threads()
    for _ in range(iterations):
        assign = _assign_codes(Xn, books, threads=lloyd_threads)  # (n, m)
        flat = (assign + offsets).ravel()
        sums = np.zeros((m * n_codes, sub_dim))
        np.add.at(sums, flat, Xs.reshape(-1, sub_dim))
        counts = np.bincount(flat, minlength=m * n_codes)
        nz = counts > 0
        flat_books = books.reshape(-1, sub_dim)
        flat_books[nz] = sums[nz] / counts[nz, None]

    from syncmaven_spark.operators.dedup import _with_recipe_meta

    recipe = _pq_recipe(books)
    # pandas + Arrow + ONE partition: the codebook is a bounded
    # driver-side artifact (m × n_codes rows regardless of corpus size).
    # createDataFrame over a local LIST pickles and converts rows
    # python-side per task — sliced across defaultParallelism that cost
    # hid in 32 parallel near-empty tasks, and every downstream
    # collect/write re-paid the task fan-out; the Arrow path converts
    # the whole table vectorized, and one partition makes each
    # consumer's collect a single cheap task (round-11: measured 0.52 →
    # 0.14 s per codebook collect at the m=32 × 256 recipe)
    codebooks_df = corpus.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "subspace": np.repeat(np.arange(m), n_codes).astype("int32"),
                "code": np.tile(np.arange(n_codes), m).astype("int32"),
                "centroid": [
                    [float(x) for x in books[j, c]]
                    for j in range(m)
                    for c in range(n_codes)
                ],
            }
        ),
        "subspace int, code int, centroid array<double>",
    ).coalesce(1)
    return _with_recipe_meta(codebooks_df, "centroid", recipe)


def load_pq_codebooks(codebooks_df: DataFrame) -> tuple[np.ndarray, dict]:
    """Collect a (tiny) persisted codebook table into the (m, n_codes,
    sub_dim) tensor plus its recomputed recipe. A stamped table whose
    recomputed checksum no longer matches its own stamp (rows dropped or
    edited after training) fails fast here."""
    from syncmaven_spark.operators.dedup import check_index_recipe

    rows = codebooks_df.select("subspace", "code", "centroid").collect()
    if not rows:
        raise ValueError(
            "empty PQ codebook table — train with pq_train over a "
            "non-empty corpus first"
        )
    by_key = {(r[0], r[1]): r[2] for r in rows}
    if len(by_key) != len(rows):
        raise ValueError(
            f"PQ codebook table has duplicate (subspace, code) rows "
            f"({len(rows)} rows, {len(by_key)} distinct keys) — a corrupt "
            "or doubly-appended codebook store"
        )
    m = max(k[0] for k in by_key) + 1
    n_codes = max(k[1] for k in by_key) + 1
    if len(by_key) != m * n_codes:
        raise ValueError(
            f"PQ codebook table is not rectangular: expected "
            f"{m}×{n_codes} (subspace, code) rows, got {len(by_key)}"
        )
    books = np.array(
        [[by_key[(j, c)] for c in range(n_codes)] for j in range(m)],
        dtype=np.float64,
    )
    recipe = _pq_recipe(books)
    check_index_recipe(codebooks_df, "centroid", recipe)
    return books, recipe


def pq_encode(
    df: DataFrame,
    codebooks_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _loaded: tuple[np.ndarray, dict] | None = None,
) -> DataFrame:
    """Encode vectors to ``(id, codes)`` under a FIXED codebook — both the
    initial build and the continuous-ingestion append path (a vector's
    codes depend only on (vector, codebooks), so new batches encode
    independently and parquet-append into the store; no retrain, no
    re-encode of existing rows).

    One vectorized Arrow pass; the codebook tensor rides the closure as a
    broadcast-sized numpy constant. Null / non-finite vectors are dropped
    (no finite geometry → no code; same rule as every similarity kernel).
    The output's ``codes`` column carries the recipe stamp, so a store
    merged from many appends still fails fast when probed with the wrong
    codebook.
    """
    # `_loaded` lets callers that already collected the codebook table
    # (ivfpq_index) skip the repeat driver round-trip
    books, recipe = _loaded if _loaded is not None else load_pq_codebooks(
        codebooks_df
    )
    from syncmaven_spark.operators.dedup import _with_recipe_meta

    usable = _usable_vectors(df, id_col, vec_col)
    out = usable.select(
        F.col(id_col), _encode_udf(books)(F.col(vec_col)).alias("codes")
    )
    return _with_recipe_meta(out, "codes", recipe)


def _encode_udf(books: np.ndarray):
    """The vectorized encode kernel as a reusable column function —
    shared by :func:`pq_encode` and :func:`ivfpq_append` (which computes
    cell and codes in ONE projection over one scan)."""
    from pyspark.sql import types as T

    m, n_codes, sub_dim = books.shape
    dim = m * sub_dim

    # smallint codes: 2 bytes per code in memory (Arrow/Tungsten) — the
    # honest width for n_codes ≤ 32767; parquet additionally dictionary/
    # bit-packs. array<int> would silently double the codes table.
    @F.pandas_udf(T.ArrayType(T.ShortType()))
    def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            if not len(series):
                # an empty Arrow batch reshapes to (0,) and would trip the
                # dim guard below — skip it like the sibling kernels
                # (cosine_pairs_exact, the ADC scorer) do
                yield pd.Series([], dtype=object)
                continue
            X = np.array(series.tolist(), dtype=np.float64)
            if X.ndim != 2 or X.shape[1] != dim:
                raise ValueError(
                    f"pq_encode: expected {dim}-dim vectors, got shape "
                    f"{X.shape}"
                )
            Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
            codes = _assign_codes(Xn, books)
            yield pd.Series(codes.tolist())

    return encode


def _encode_residual_udf(books: np.ndarray, centroids: np.ndarray):
    """Residual encode kernel for the IVFPQ layout (Jégou et al. §IV-A):
    codes quantize ``xn − cn[cell]`` — the part of the vector the coarse
    quantizer does NOT explain — against residual-trained codebooks. Takes
    the STORED cell as a second input column rather than recomputing it,
    so encode and store can never disagree on tie-broken assignments."""
    from pyspark.sql import types as T

    m, n_codes, sub_dim = books.shape
    dim = m * sub_dim
    cn = _normalized_centroids(centroids)

    @F.pandas_udf(T.ArrayType(T.ShortType()))
    def encode(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for vec_s, cell_s in batches:
            if not len(vec_s):
                yield pd.Series([], dtype=object)
                continue
            X = np.array(vec_s.tolist(), dtype=np.float64)
            if X.ndim != 2 or X.shape[1] != dim:
                raise ValueError(
                    f"ivfpq residual encode: expected {dim}-dim vectors, "
                    f"got shape {X.shape}"
                )
            cells = cell_s.to_numpy(dtype=np.int64)
            if cells.min() < 0 or cells.max() >= len(cn):
                raise ValueError(
                    f"ivfpq residual encode: cell value outside "
                    f"[0, {len(cn)}) — wrong centroid table"
                )
            Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
            codes = _assign_codes(Xn - cn[cells], books)
            yield pd.Series(codes.tolist())

    return encode


def pq_probe(
    queries: DataFrame,
    codes_df: DataFrame,
    codebooks_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Approximate top-k by ADC over the codes table:
    ``(q_id, n_id, approx_sim, rank)``.

    The query batch collects driver-side (bounded by ``max_query_rows`` —
    queries are a batch, the CORPUS side is the unbounded one), normalizes,
    and precomputes the per-query lookup tables ``LUT[j] = Q_sub_j @
    codebook_j.T`` (``n_q × m × n_codes`` doubles). Each codes partition
    then scores its rows with pure integer indexing — ``approx_sim(q, x) =
    Σ_j LUT[j][q, code_j(x)]`` — and emits only its LOCAL top-k per query,
    so the shuffle after the scan carries ≤ ``k × n_q`` rows per Arrow
    batch, never the corpus. A final window pass ranks the partials. The
    original float vectors are NEVER read: the probe's I/O is the codes
    table (m ints/row), which is the whole point at 100 TB.

    ``approx_sim`` approximates cosine (both sides normalized); ties rank
    by ascending ``n_id`` so results are deterministic. The codebook
    checksum recomputed from ``codebooks_df`` must match the stamp on
    ``codes_df`` — codes scored against the wrong codebook are silently
    wrong otherwise.

    A query batch whose combined LUTs would exceed :data:`LUT_BYTES_CAP`
    (512 MiB of per-task closure) is CHUNKED internally — each chunk runs
    its own ADC pass over the codes table and the results union, so
    ``max_query_rows`` is the only user-visible bound (round-8 verdict:
    the previous fail-with-advice made every caller re-implement the
    chunk loop).
    """
    from syncmaven_spark.operators.dedup import check_index_recipe

    books, recipe = load_pq_codebooks(codebooks_df)
    check_index_recipe(codes_df, "codes", recipe)
    m, n_codes, sub_dim = books.shape
    dim = m * sub_dim

    q_src = _usable_vectors(queries, id_col, vec_col).select(id_col, vec_col)
    q_rows = q_src.limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"pq_probe collects the query batch driver-side; got more than "
            f"max_query_rows={max_query_rows} queries. Chunk the query set "
            "or raise the bound."
        )
    id_type = codes_df.schema[id_col].dataType.simpleString()
    q_id_type = queries.schema[id_col].dataType.simpleString()
    out_schema = (
        f"q_id {q_id_type}, n_id {id_type}, approx_sim double"
    )
    spark = queries.sparkSession
    if not q_rows:
        return spark.createDataFrame([], out_schema + ", rank int")
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    if Q.shape[1] != dim:
        raise ValueError(
            f"pq_probe: query dim {Q.shape[1]} != codebook dim {dim}"
        )
    Qn = Q / (np.linalg.norm(Q, axis=1, keepdims=True) + 1e-12)
    # auto-chunk an oversized query batch (round-8 verdict: raising and
    # making every caller re-implement the chunk loop is the likelier bug
    # source at scale): each chunk's LUT fits LUT_BYTES_CAP, each chunk is
    # an independent ADC pass over the codes table (queries never interact
    # across chunks — the rank window partitions by q_id), and the chunk
    # results union. The trade is one codes scan per chunk — inherent: the
    # cap exists precisely because one pass cannot ship all the LUTs.
    chunk = _lut_chunk_size(m, n_codes)
    _warn_if_chunked(len(q_ids), chunk, m, n_codes, "pq_probe")
    codes_src = codes_df.select(id_col, "codes")
    parts = [
        _adc_topk(
            q_ids[i : i + chunk], Qn[i : i + chunk], codes_src, books, k,
            id_col=id_col, round_to=round_to, exclude_self=exclude_self,
            out_schema=out_schema,
        )
        for i in range(0, len(q_ids), chunk)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _lut_chunk_size(m: int, n_codes: int) -> int:
    """How many queries fit one ADC pass under :data:`LUT_BYTES_CAP`
    (per-query LUT = ``m × n_codes`` doubles) — at least 1, so a recipe
    whose single-query LUT already exceeds the cap still runs rather than
    dividing to zero (the row cap bounds the worst case)."""
    return max(1, LUT_BYTES_CAP // (m * n_codes * 8))


def _warn_if_chunked(n_q: int, chunk: int, m: int, n_codes: int,
                     fn_name: str) -> None:
    """Auto-chunking multiplies the codes-table scan count silently — a
    caller who raises ``max_query_rows`` against a large ``m × n_codes``
    recipe pays one full codes scan PER chunk with no signal (round-9
    advice). Emit the signal: how many scans this probe will run and why,
    so the cost is visible in logs/``-W error`` test runs rather than
    only in wall-clock."""
    import math
    import warnings

    n_chunks = math.ceil(n_q / chunk)
    if n_chunks > 1:
        warnings.warn(
            f"{fn_name}: {n_q} queries exceed the LUT budget "
            f"({chunk} queries per ADC pass at m={m} × n_codes={n_codes} "
            f"under LUT_BYTES_CAP) — running {n_chunks} chunks, i.e. "
            f"{n_chunks} scans of the codes table. Shrink the query "
            "batch (or recipe) if the multiplied scan cost matters.",
            stacklevel=3,
        )


def _adc_topk(
    q_ids: np.ndarray,
    Qn: np.ndarray,
    codes_src: DataFrame,
    books: np.ndarray,
    k: int,
    id_col: str,
    round_to: int,
    exclude_self: bool,
    out_schema: str,
    probe_mask: np.ndarray | None = None,
    cell_offsets: np.ndarray | None = None,
) -> DataFrame:
    """The shared ADC scoring core: per-query LUTs against a codes source,
    per-batch local top-k, global window rank. ``probe_mask`` (n_q ×
    n_centroids bool) enables exact per-query IVF cell restriction — the
    codes source must then carry a ``cell`` column, and a candidate whose
    cell the query did not probe scores ``-inf`` BEFORE the local top-k,
    so the pruning is semantic, not just I/O. ``cell_offsets`` (n_q ×
    n_centroids float) is the residual-IVFPQ decomposition ``<q, x> =
    <q, cn[cell]> + <q, residual>``: the coarse term is added per
    candidate from its stored cell, the LUTs score only the residual."""
    m, n_codes, sub_dim = books.shape
    # (m, n_q, n_codes): LUT[j][q][c] = <q_sub_j, codebook_j[c]> — one
    # plain einsum, not m tiny per-subspace GEMMs (BLAS dispatch per call
    # dominates at these shapes and is unstable under host thread
    # contention; see _assign_codes)
    lut = np.einsum(
        "qjs,jcs->jqc",
        np.ascontiguousarray(Qn.reshape(len(Qn), m, sub_dim)),
        books,
        optimize=False,
    )
    # the LUT rides the mapInPandas closure to EVERY task — the query-row
    # cap alone does not bound it (100k queries × 32 × 256 ≈ 6.5 GB would
    # pass the row cap and then fail task serialization). The public
    # probes CHUNK the query batch (_lut_chunk_size) so this never fires;
    # it stays as a defensive assertion for direct callers, with a
    # one-query floor so a single oversized recipe still errors clearly.
    if lut.nbytes > max(LUT_BYTES_CAP, m * n_codes * 8):
        raise ValueError(
            f"pq_probe: the per-query ADC lookup table would be "
            f"{lut.nbytes >> 20} MiB ({len(q_ids)} queries × m={m} × "
            f"n_codes={n_codes} doubles), which ships inside every task "
            "closure. Chunk the query batch (or reduce n_codes) so the "
            f"LUT stays under {LUT_BYTES_CAP >> 20} MiB."
        )
    n_q = len(q_ids)
    # with exclude_self the query's own row may sit in ONE batch's local
    # top-k; taking k+1 locally guarantees k true neighbors survive the
    # post-filter
    kk = k + 1 if exclude_self else k
    with_cells = probe_mask is not None
    if cell_offsets is not None and not with_cells:
        raise ValueError(
            "_adc_topk: cell_offsets (residual scoring) requires "
            "probe_mask — the coarse term is keyed by the stored cell"
        )

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (b, m)
            if (
                codes.ndim != 2
                or codes.shape[1] != m
                or codes.min() < 0
                or codes.max() >= n_codes
            ):
                # a corrupted codes table would otherwise surface as an
                # executor IndexError deep inside the LUT indexing
                raise ValueError(
                    f"pq_probe: codes row outside the codebook's shape "
                    f"(expected {m} codes in [0, {n_codes})) — corrupt "
                    "codes table or wrong codebook"
                )
            n_ids = pdf[id_col].to_numpy()
            b = len(codes)
            if with_cells:
                cells = pdf["cell"].to_numpy(dtype=np.int64)
                if cells.min() < 0 or cells.max() >= probe_mask.shape[1]:
                    # same clear-error contract as the codes guard — an
                    # out-of-range cell would otherwise IndexError inside
                    # the mask indexing
                    raise ValueError(
                        f"ivfpq_probe: cell value outside "
                        f"[0, {probe_mask.shape[1]}) — corrupt cells_codes "
                        "table or wrong centroid table"
                    )
            take = min(kk, b)
            # query-axis SLAB: the sims transient is (slab × b) float64 —
            # an unslabbed (n_q × b) matrix is the executor-OOM class
            # cosine_pairs_exact already slabs against (a small m×n_codes
            # recipe passes the LUT-bytes guard with n_q near the row cap,
            # then allocates ~8 GB per 10k-row Arrow batch; round-8
            # advice). 64 MiB bounds the transient while keeping the
            # gather BLAS/memcpy-efficient.
            slab = max(1, _ADC_SLAB_BYTES // (8 * b))
            chunks_q: list[np.ndarray] = []
            chunks_n: list[np.ndarray] = []
            chunks_s: list[np.ndarray] = []
            for s0 in range(0, n_q, slab):
                s1 = min(n_q, s0 + slab)
                # sims[q, i] = Σ_j lut[j, q, codes[i, j]]
                sims = lut[0][s0:s1][:, codes[:, 0]].copy()
                for j in range(1, m):
                    sims += lut[j][s0:s1][:, codes[:, j]]
                if cell_offsets is not None:
                    # residual decomposition: add the coarse <q, cn[cell]>
                    # term from each candidate's STORED cell
                    sims += cell_offsets[s0:s1][:, cells]
                sims = np.round(sims, round_to)
                if with_cells:
                    sims = np.where(
                        probe_mask[s0:s1][:, cells], sims, -np.inf
                    )
                # local top-k per query, vectorized over the slab:
                # argpartition shortlists by sim alone, which keeps an
                # ARBITRARY subset of boundary-tied candidates (rounding
                # makes exact ties likely, and duplicate vectors share
                # codes, hence sims). A query whose head already IS the
                # full tie plateau (the overwhelmingly common case) emits
                # directly — WHICH rows survive is all that matters, the
                # global window orders them — and only plateau-overflow /
                # all-masked rows take the per-query fallback that extends
                # to the plateau and cuts by (-sim, n_id), matching the
                # window's documented tie-break.
                part = np.argpartition(-sims, take - 1, axis=1)[:, :take]
                head = np.take_along_axis(sims, part, axis=1)
                kth = head.min(axis=1)
                plateau_n = (sims >= kth[:, None]).sum(axis=1)
                simple = np.isfinite(kth) & (plateau_n == take)
                s_rows = np.nonzero(simple)[0]
                if len(s_rows):
                    chunks_q.append(np.repeat(q_ids[s0 + s_rows], take))
                    chunks_n.append(n_ids[part[s_rows]].ravel())
                    chunks_s.append(head[s_rows].ravel())
                for qi in np.nonzero(~simple)[0]:
                    row = sims[qi]
                    idx = part[qi]
                    if with_cells:
                        idx = idx[np.isfinite(row[idx])]
                        if not len(idx):
                            continue
                    kth_v = row[idx].min()
                    plateau = np.nonzero(row >= kth_v)[0]
                    order = plateau[
                        np.lexsort((n_ids[plateau], -row[plateau]))
                    ]
                    idx = order[: min(take, len(order))]
                    chunks_q.append(np.repeat(q_ids[s0 + qi], len(idx)))
                    chunks_n.append(n_ids[idx])
                    chunks_s.append(row[idx])
            if not chunks_q:
                continue
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(chunks_q),
                    "n_id": np.concatenate(chunks_n),
                    "approx_sim": np.concatenate(chunks_s),
                }
            )

    cols = [id_col, "codes"] + (["cell"] if with_cells else [])
    partials = codes_src.select(*cols).mapInPandas(adc, out_schema)
    if exclude_self:
        partials = partials.filter(F.col("q_id") != F.col("n_id"))
    w = W.partitionBy("q_id").orderBy(F.desc("approx_sim"), F.asc("n_id"))
    return (
        partials.dropDuplicates(["q_id", "n_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _combined_recipe(
    ivf_recipe: dict, pq_recipe: dict, encode_residuals: bool
) -> dict:
    """The IVF-PQ store's combined stamp — ONE constructor for index,
    append and probe so the three can never drift. ``encode`` is recorded
    only in residual mode, keeping raw-mode stamps byte-identical to the
    pre-residual layout; either way a store probed in the other mode
    fails the recipe check instead of silently scoring with the wrong
    decomposition."""
    combined = {
        "ivf_checksum": ivf_recipe.get("checksum"),
        "n_centroids": ivf_recipe.get("n_centroids"),
        "pq_checksum": pq_recipe["checksum"],
        "m": pq_recipe["m"],
        "n_codes": pq_recipe["n_codes"],
        "dim": pq_recipe["dim"],
    }
    if encode_residuals:
        combined["encode"] = "residual"
    return combined


def ivfpq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 256,
    sample_size: int = 10_000,
    seed: int = 42,
    encode_residuals: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The composed IVF-PQ index — FAISS's canonical 100-TB layout: a
    coarse IVF cell per vector for candidate pruning, PQ codes instead of
    the float vector for scoring. Returns ``(cells_codes, centroids_df,
    codebooks_df)`` where ``cells_codes = (id, cell, codes)`` — write it
    ``partitionBy("cell")`` so probes directory-prune to probed cells,
    with each pruned row costing ``m`` smallints, not ``dim`` floats.

    ``encode_residuals=True`` is the canonical IVFPQ layout (Jégou et al.
    TPAMI 2011 §IV-A, what FAISS implements): the PQ half quantizes the
    RESIDUAL ``xn − cn[cell]`` instead of the raw normalized vector, so
    the coarse quantizer absorbs the cell-level component and the PQ bit
    budget spends on the fine structure. Scoring decomposes exactly:
    ``<q, x̂> = <q, cn[cell]> + <q, r̂>``, with the coarse term computed
    driver-side from the (already collected) query batch — probe cost is
    unchanged. Residual codes are still a per-row function of (vector,
    frozen codebooks), so :func:`ivfpq_append` ingestion works
    identically.

    **Measured honestly, residuals pay off only where the coarse
    quantizer explains the data.** On a clustered corpus (8 separated
    clusters, the regime IVFPQ targets) residual mode HALVES the mean
    reconstruction error vs raw at the same recipe (pq_drift mean
    recon_cos 0.9957 vs 0.9908, p10 0.9929 vs 0.9808 — test-pinned). On
    this repo's near-i.i.d. synthetic testdata the coarse centroids
    explain little (mean assigned-cell cosine ≈ 0.2), the residual
    target's variance EXCEEDS the unit vector's (‖xn − cn‖² ≈ 2(1−cos)
    ≈ 1.6), and measured probe recall under the catalog entry's recipe
    (m=32, n_codes=256, n_probe=5) is IDENTICAL in both modes at sf0.001
    AND sf0.01 (min 0.6, mean 0.825) — with coarser recipes (m=8) raw is
    slightly ahead. Raw therefore stays the default; choose residual for
    genuinely clustered corpora.

    ``codes`` carries a COMBINED recipe stamp (the IVF centroid checksum,
    the PQ codebook checksum, and the encode mode): :func:`ivfpq_probe`
    verifies all of it, because any half silently mismatched means
    searching wrong cells or scoring garbage. The two codebooks train
    independently on the same bounded sample discipline (driver k-means;
    centroids + codebooks are the only state leaving the cluster).
    """
    from syncmaven_spark.operators.similarity import (
        _load_codebook,
        _usable_vectors,
        ivf_index,
    )

    # ONE bounded-sample collect feeds BOTH trainers: ivf_index
    # (train_centroids) and pq_train drew byte-identical samples — the
    # same usability filter, the same (xxhash64(id), id) order, the same
    # limit, the same vec column — as two separate full-scan-and-top-K
    # jobs (plus ivf_index's own emptiness probe, a third job). Collect
    # once here and hand the array to both; the trained artifacts are
    # bit-identical (guide §1.2: fewer passes).
    sample = (
        _usable_vectors(corpus, id_col, vec_col)
        .orderBy(F.xxhash64(id_col), F.col(id_col))
        .select(vec_col)
        .limit(sample_size)
        .collect()
    )
    sample_X = np.array([r[0] for r in sample], dtype=np.float64)
    assignments, centroids_df = ivf_index(
        corpus, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, sample_size=sample_size, seed=seed,
        _sample_X=sample_X,
    )
    centroids, ivf_recipe = _load_codebook(centroids_df)
    codebooks_df = pq_train(
        corpus, id_col=id_col, vec_col=vec_col, m=m, n_codes=n_codes,
        sample_size=sample_size, seed=seed,
        _residual_centroids=centroids if encode_residuals else None,
        _sample_X=sample_X,
    )
    books, pq_recipe = load_pq_codebooks(codebooks_df)
    # the assignments table already carries (vec, cell) — both modes
    # encode in ONE projection over it, no join; taking the STORED cell
    # (not a recompute) keeps tie-broken assignments consistent
    cells_codes = ivfpq_encode_assigned(
        assignments, centroids_df, codebooks_df, id_col=id_col,
        encode_residuals=encode_residuals,
        _loaded=(centroids, ivf_recipe, books, pq_recipe),
    )
    return (cells_codes, centroids_df, codebooks_df)


def ivfpq_encode_assigned(
    assignments: DataFrame,
    centroids_df: DataFrame,
    codebooks_df: DataFrame,
    id_col: str = "vec_id",
    encode_residuals: bool = False,
    _loaded: tuple | None = None,
) -> DataFrame:
    """``(id, cell, vec)`` assignment rows → stamped ``(id, cell,
    codes)`` under FROZEN codebooks — the encode half shared by
    :func:`ivfpq_index` (over ``ivf_index``'s assignments) and the
    streaming ANN driver (over ``ivf_append``'s batch rows): one
    projection, no join, and the codes commit to the STORED cell so the
    two can never disagree on tie-broken assignments. ``_loaded`` =
    ``(centroids, ivf_recipe, books, pq_recipe)`` lets callers that
    already collected the codebook tables skip the repeat round-trips
    (the ``pq_encode`` convention).

    The assignments' own stamp (rides ``norm``) is verified against the
    codebook like every sibling consumer (``ivf_drift``/``ivf_probe``):
    rows assigned under a DIFFERENT codebook would otherwise be
    re-stamped as valid and probed in the wrong cells with zero errors
    (round-9 review #2.1). Hand-built unstamped tables stay the caller's
    contract, as everywhere else."""
    from syncmaven_spark.operators.dedup import (
        _with_recipe_meta,
        check_index_recipe,
    )
    from syncmaven_spark.operators.similarity import _load_codebook

    if _loaded is None:
        centroids, ivf_recipe = _load_codebook(centroids_df)
        books, pq_recipe = load_pq_codebooks(codebooks_df)
    else:
        centroids, ivf_recipe, books, pq_recipe = _loaded
    if "norm" in assignments.columns:
        check_index_recipe(assignments, "norm", ivf_recipe)
    combined = _combined_recipe(ivf_recipe, pq_recipe, encode_residuals)
    code_col = (
        _encode_residual_udf(books, centroids)(F.col("vec"), F.col("cell"))
        if encode_residuals
        else _encode_udf(books)(F.col("vec"))
    )
    return _with_recipe_meta(
        assignments.select(
            F.col(id_col), F.col("cell"), code_col.alias("codes")
        ),
        "codes",
        combined,
    )


def ivfpq_append(
    new_batch: DataFrame,
    centroids_df: DataFrame,
    codebooks_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells_codes: DataFrame | None = None,
    assert_new_ids: bool | None = None,
    encode_residuals: bool = False,
) -> DataFrame:
    """``(id, cell, codes)`` rows for NEW corpus vectors under an EXISTING
    IVF-PQ index — the composition's continuous-ingestion path, completing
    the same contract as :func:`~syncmaven_spark.operators.similarity.
    ivf_append` and :func:`pq_encode`: both halves are per-row functions
    of (vector, frozen codebooks), so::

        ivfpq_index(a).cells_codes ∪ ivfpq_append(b)
            == ivfpq_index(a ∪ b).cells_codes      (same two codebooks)

    ONE scan of the batch: cell assignment and encoding are independent
    column functions, so they compute in a single projection — no join,
    no second read. Append the result with
    ``.write.partitionBy("cell").mode("append")``; :func:`ivfpq_probe`
    accepts the merged store unchanged (the combined stamp rides the
    ``codes`` data column, so mixed-epoch stores keep the fail-fast).

    New ids MUST be disjoint from stored ids — a re-ingested id puts two
    differently-coded rows in the store and ``dropDuplicates`` keeps an
    arbitrary one per probe (nondeterministic approx_sim, zero errors).
    Pass the stored ``cells_codes`` to enforce it eagerly (one
    batch-sized semi-join + a batch-sized in-batch duplicate check;
    ``assert_new_ids`` defaults to ``cells_codes is not None``, exactly
    the :func:`~syncmaven_spark.operators.similarity.ivf_append`
    convention). No k-means retrain, no re-encode of existing rows;
    :func:`~syncmaven_spark.operators.similarity.ivf_drift` over the
    cell assignments remains the retrain signal.
    """
    from syncmaven_spark.operators.dedup import (
        _check_new_ids_disjoint,
        _with_recipe_meta,
        check_index_recipe,
    )
    from syncmaven_spark.operators.similarity import (
        _load_codebook,
        assign_cells,
    )

    if assert_new_ids is None:
        assert_new_ids = cells_codes is not None
    if assert_new_ids:
        if cells_codes is None:
            raise ValueError(
                "ivfpq_append: assert_new_ids=True needs the stored "
                "cells_codes table to check the batch's ids against"
            )
        _check_new_ids_disjoint(new_batch, cells_codes, id_col, "ivfpq_append")
        dup = (
            new_batch.groupBy(id_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"ivfpq_append: the batch contains id {dup[0][0]!r} more "
                "than once — duplicate store rows make probe scores "
                "nondeterministic and consume shortlist slots. "
                "Deduplicate the batch before appending."
            )
    centroids, ivf_recipe = _load_codebook(centroids_df)
    books, pq_recipe = load_pq_codebooks(codebooks_df)
    combined = _combined_recipe(ivf_recipe, pq_recipe, encode_residuals)
    if cells_codes is not None:
        # appending raw-encoded rows into a residual store (or vice versa)
        # would mix decompositions in one table — scores silently wrong
        # for the minority rows; fail eagerly like the id guard
        check_index_recipe(cells_codes, "codes", combined)
    usable = _usable_vectors(new_batch, id_col, vec_col)
    assigned = assign_cells(
        usable, centroids, vec_col, n_probe=1, out_col="_cells"
    )
    if encode_residuals:
        out = assigned.select(
            F.col(id_col),
            F.col("_cells")[0].alias("cell"),
            _encode_residual_udf(books, centroids)(
                F.col(vec_col), F.col("_cells")[0]
            ).alias("codes"),
        )
    else:
        out = assigned.select(
            F.col(id_col),
            F.col("_cells")[0].alias("cell"),
            _encode_udf(books)(F.col(vec_col)).alias("codes"),
        )
    return _with_recipe_meta(out, "codes", combined)


def pq_drift(
    batch: DataFrame,
    codebooks_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """The codebook-retrain signal for PQ-family stores — the PQ analog
    of :func:`~syncmaven_spark.operators.similarity.ivf_drift` (round-8
    verdict #7): one row of ``(n_vectors, mean_recon_cos, p10_recon_cos,
    min_recon_cos)`` where ``recon_cos`` is each vector's cosine to its
    OWN quantized reconstruction under the frozen codebooks.

    A codebook trained on the corpus reconstructs it well (recon_cos near
    1); as appended batches drift from the training distribution the mean
    (and especially the p10 tail) falls — codes stop representing the
    vectors, which is exactly when ADC scores (and probe recall) degrade.
    Record the value at build time over a training sample; retrain
    (fresh :func:`pq_train` / :func:`ivfpq_index`) when the mean drops
    materially (e.g. 10%+) or the p10 falls below the build-time mean —
    the same thresholds as ``ivf_drift``, since both measure how much of
    the batch's geometry the frozen quantizer still explains.

    Run it over the INCOMING batch (bounded) before appending — one
    vectorized Arrow pass, no store scan, no join. With ``centroids_df``
    given, the batch is scored against a RESIDUAL-encoded IVF-PQ store's
    reconstruction ``cn[cell] + r̂`` (cell assigned under the coarse
    codebook, residual quantized); without it, against plain-PQ ``x̂``.
    """
    books, _ = load_pq_codebooks(codebooks_df)
    m, n_codes, sub_dim = books.shape
    dim = m * sub_dim
    usable = _usable_vectors(batch, id_col, vec_col)

    from pyspark.sql import types as T

    if centroids_df is not None:
        from syncmaven_spark.operators.similarity import _load_codebook

        centroids, _ = _load_codebook(centroids_df)
        cn = _normalized_centroids(centroids)

        @F.pandas_udf(T.DoubleType())
        def recon_cos(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for series in batches:
                if not len(series):
                    yield pd.Series([], dtype=float)
                    continue
                X = np.array(series.tolist(), dtype=np.float64)
                if X.ndim != 2 or X.shape[1] != dim:
                    raise ValueError(
                        f"pq_drift: expected {dim}-dim vectors, got "
                        f"shape {X.shape}"
                    )
                Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
                cells = np.argmax(Xn @ cn.T, axis=1)
                R = Xn - cn[cells]
                codes = _assign_codes(R, books)
                recon = cn[cells] + _reconstruct(codes, books)
                yield pd.Series(_cos_rows(Xn, recon))

    else:

        @F.pandas_udf(T.DoubleType())
        def recon_cos(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for series in batches:
                if not len(series):
                    yield pd.Series([], dtype=float)
                    continue
                X = np.array(series.tolist(), dtype=np.float64)
                if X.ndim != 2 or X.shape[1] != dim:
                    raise ValueError(
                        f"pq_drift: expected {dim}-dim vectors, got "
                        f"shape {X.shape}"
                    )
                Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
                recon = _reconstruct(_assign_codes(Xn, books), books)
                yield pd.Series(_cos_rows(Xn, recon))

    scored = usable.select(recon_cos(F.col(vec_col)).alias("recon_cos"))
    return scored.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("recon_cos"), 4).alias("mean_recon_cos"),
        F.round(F.percentile_approx("recon_cos", 0.1), 4).alias(
            "p10_recon_cos"
        ),
        F.round(F.min("recon_cos"), 4).alias("min_recon_cos"),
    )


def pq_drift_assigned(
    assignments: DataFrame,
    centroids_df: DataFrame,
    codebooks_df: DataFrame,
    encode_residuals: bool = False,
    vec_col: str = "vec",
    _loaded: tuple | None = None,
) -> DataFrame:
    """:func:`pq_drift` over rows that ALREADY carry their coarse cell —
    the streaming-driver variant (round-9 verdict #2: the driver records
    coarse ``ivf_drift`` per epoch but not reconstruction drift; the two
    measure different halves of the quantizer, and re-running the cell
    assignment inside :func:`pq_drift` would pay the batch's UDF pass a
    second time, the exact double-assignment round-9 review #2 removed).

    Takes :func:`~syncmaven_spark.operators.similarity.ivf_append`-shaped
    ``(id, cell, vec, norm)`` rows and scores each vector's cosine to its
    reconstruction under the FROZEN codebooks, committing to the STORED
    cell in residual mode (``cn[cell] + r̂`` — the same contract as
    :func:`ivfpq_encode_assigned`, so drift measures exactly what the
    store will hold). Same one-row output schema as :func:`pq_drift`;
    ``_loaded`` is the 4-tuple ``(centroids, ivf_recipe, books,
    pq_recipe)`` convention shared with the other assigned-rows consumers.
    """
    from pyspark.sql import types as T

    from syncmaven_spark.operators.dedup import check_index_recipe
    from syncmaven_spark.operators.similarity import _load_codebook

    if _loaded is None:
        centroids, ivf_recipe = _load_codebook(centroids_df)
        books, _pq_rec = load_pq_codebooks(codebooks_df)
    else:
        centroids, ivf_recipe, books, _pq_rec = _loaded
    if "norm" in assignments.columns:
        check_index_recipe(assignments, "norm", ivf_recipe)
    cn = _normalized_centroids(centroids) if encode_residuals else None
    scored = assignments.select(
        recon_cos_assigned_udf(books, cn)(
            F.col(vec_col), F.col("cell")
        ).alias("recon_cos")
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("recon_cos"), 4).alias("mean_recon_cos"),
        F.round(F.percentile_approx("recon_cos", 0.1), 4).alias(
            "p10_recon_cos"
        ),
        F.round(F.min("recon_cos"), 4).alias("min_recon_cos"),
    )


def recon_cos_assigned_udf(books: np.ndarray, cn: np.ndarray | None):
    """The assigned-rows reconstruction-cosine kernel as a reusable column
    function — ONE UDF body for both encode modes (round-10 verdict #5),
    shared by :func:`pq_drift_assigned` and the streaming ANN driver's
    single-pass per-epoch drift record (round-11: the driver computed the
    two drift halves as two separate jobs over the same persisted batch).
    ``cn`` is the normalized coarse-centroid matrix for residual mode,
    ``None`` for raw; the cell column always rides along (assignments are
    ivf_append-shaped, so it always exists) and only the residual branch
    reads it."""
    m, n_codes, sub_dim = books.shape
    dim = m * sub_dim

    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def recon_cos(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for vec_s, cell_s in batches:
            if not len(vec_s):
                yield pd.Series([], dtype=float)
                continue
            X = np.array(vec_s.tolist(), dtype=np.float64)
            if X.ndim != 2 or X.shape[1] != dim:
                raise ValueError(
                    f"pq_drift_assigned: expected {dim}-dim vectors, "
                    f"got shape {X.shape}"
                )
            Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
            if cn is None:
                recon = _reconstruct(_assign_codes(Xn, books), books)
            else:
                cells = cell_s.to_numpy(dtype=np.int64)
                if cells.min() < 0 or cells.max() >= len(cn):
                    raise ValueError(
                        f"pq_drift_assigned: cell value outside "
                        f"[0, {len(cn)}) — wrong centroid table"
                    )
                codes = _assign_codes(Xn - cn[cells], books)
                recon = cn[cells] + _reconstruct(codes, books)
            yield pd.Series(_cos_rows(Xn, recon))

    return recon_cos


def _reconstruct(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_assign_codes`: concatenate each row's codebook
    entries back into a (n, dim) matrix."""
    m = books.shape[0]
    return np.concatenate(
        [books[j][codes[:, j]] for j in range(m)], axis=1
    )


def _cos_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine between two equal-shape matrices."""
    num = (A * B).sum(axis=1)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1) + 1e-12
    return num / den


def ivfpq_probe(
    queries: DataFrame,
    cells_codes: DataFrame,
    centroids_df: DataFrame,
    codebooks_df: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
    encode_residuals: bool = False,
    _loaded: tuple | None = None,
) -> DataFrame:
    """Approximate top-k against an :func:`ivfpq_index`: ``(q_id, n_id,
    approx_sim, rank)``. Queries assign to their ``n_probe`` nearest cells
    DRIVER-side (the batch is already collected for the LUTs — no extra
    Spark job), the codes read prunes to the union of probed cells
    (directory pruning on a cell-partitioned store), and the ADC kernel
    additionally masks each candidate to ``-inf`` for queries that did NOT
    probe its cell — so the per-query candidate set is exactly IVF's, not
    the union's. The full combined stamp is verified, INCLUDING the
    encode mode: pass ``encode_residuals=True`` to probe a
    residual-encoded store (scores decompose as ``<q, cn[cell]> +
    <q, residual>``, the coarse term computed from the already-collected
    batch — no extra cost); a store written in the other mode fails fast
    here instead of silently mis-scoring."""
    from syncmaven_spark.operators.dedup import check_index_recipe
    from syncmaven_spark.operators.similarity import _load_codebook

    if _loaded is None:
        centroids, ivf_recipe = _load_codebook(centroids_df)
        books, pq_recipe = load_pq_codebooks(codebooks_df)
    else:
        # the ivfpq_encode_assigned convention: a caller that already
        # collected+validated the codebook tables (probe_ann_store) skips
        # the repeat driver round-trips
        centroids, ivf_recipe, books, pq_recipe = _loaded
    combined = _combined_recipe(ivf_recipe, pq_recipe, encode_residuals)
    check_index_recipe(cells_codes, "codes", combined)
    m, n_codes, sub_dim = books.shape
    dim = m * sub_dim

    q_src = _usable_vectors(queries, id_col, vec_col).select(id_col, vec_col)
    q_rows = q_src.limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivfpq_probe collects the query batch driver-side; got more "
            f"than max_query_rows={max_query_rows} queries. Chunk the "
            "query set or raise the bound."
        )
    id_type = cells_codes.schema[id_col].dataType.simpleString()
    q_id_type = queries.schema[id_col].dataType.simpleString()
    out_schema = f"q_id {q_id_type}, n_id {id_type}, approx_sim double"
    spark = queries.sparkSession
    if not q_rows:
        return spark.createDataFrame([], out_schema + ", rank int")
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    if Q.shape[1] != dim:
        raise ValueError(
            f"ivfpq_probe: query dim {Q.shape[1]} != codebook dim {dim}"
        )
    Qn = Q / (np.linalg.norm(Q, axis=1, keepdims=True) + 1e-12)
    # cosine cell assignment, same math as assign_cells but driver-side
    # on the already-collected batch
    cn = _normalized_centroids(centroids)
    nprobe = min(n_probe, len(cn))
    coarse_sims = Qn @ cn.T  # (n_q, n_centroids)
    top_cells = np.argsort(-coarse_sims, axis=1)[:, :nprobe]  # (n_q, nprobe)
    probe_mask = np.zeros((len(q_ids), len(cn)), dtype=bool)
    for qi, cells in enumerate(top_cells):
        probe_mask[qi, cells] = True
    # residual mode reuses the coarse sims (already computed for cell
    # assignment) as the per-(query, cell) offset term
    cell_offsets = coarse_sims if encode_residuals else None
    # auto-chunk an oversized query batch like pq_probe; each chunk reads
    # only ITS OWN probed-cell union (tighter directory pruning than one
    # global union) and masks per query inside the kernel as before
    chunk = _lut_chunk_size(m, n_codes)
    _warn_if_chunked(len(q_ids), chunk, m, n_codes, "ivfpq_probe")
    parts = []
    for i in range(0, len(q_ids), chunk):
        cells_chunk = top_cells[i : i + chunk]
        probed_union = sorted({int(c) for row in cells_chunk for c in row})
        pruned = cells_codes.filter(F.col("cell").isin(probed_union))
        parts.append(
            _adc_topk(
                q_ids[i : i + chunk], Qn[i : i + chunk], pruned, books, k,
                id_col=id_col, round_to=round_to, exclude_self=exclude_self,
                out_schema=out_schema, probe_mask=probe_mask[i : i + chunk],
                cell_offsets=(
                    cell_offsets[i : i + chunk]
                    if cell_offsets is not None else None
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
