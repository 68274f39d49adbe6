"""Physical-plan hygiene across the catalog — the automated version of
"explain it before trusting it at scale".

Asserts, for every declaratively-built catalog query:
- no CartesianProduct anywhere;
- BroadcastNestedLoopJoin only where a 1-row scalar broadcast is the
  intended design (explicit allowlist — every name there joins a 1-row
  aggregate with no key, which Spark can only express as a BNLJ);
and, for flagship queries, that filters reach the parquet scan and
dimension joins broadcast.
"""

import pytest

from syncmaven_spark.queries import CATALOG

from tests.conftest import SF_SMOKE

# Queries whose *construction* already runs Spark jobs (iterative loops,
# driver-trained centroids, chunk planning) — planning them isn't free, and
# their inner steps are asserted by their own dedicated tests.
EXECUTES_ON_BUILD = {
    "graph_connected_components",
    "dedup_cluster_pipeline",
    "knn_cosine_ivf",
    # trains the IVF codebook (driver k-means) at build time like
    # knn_cosine_ivf, and its recall contract intentionally contains the
    # brute-force baseline's tiny-broadcast product (8 query vectors);
    # the probe path's plan properties are asserted by its dedicated test
    # (tests/test_operators_similarity.py ivf roundtrip)
    "knn_ivf_index_probe",
    # same shape: trains the codebook at build time, contains the
    # brute-force baseline's intended tiny-broadcast product
    "knn_ivf_append_probe",
    # same shape again: pq_train's driver k-means + pq_probe's bounded
    # query collect run at build time, and the recall contract contains
    # the brute-force baseline's tiny-broadcast product; the ADC path's
    # plan string itself (codes-only ReadSchema, no vector column, no
    # BatchEvalPython) is asserted by tests/test_operators_pq.py::
    # test_pq_probe_plan_reads_codes_only / _ivfpq_probe_plan_prunes_*
    "knn_pq_probe",
    # the composed IVF-PQ + re-rank entry: two driver-trained codebooks
    # + the bounded query collect at build time, same rationale
    "knn_ivfpq_rerank",
    # round-9: the residual-encoded sibling (same build-time training +
    # collect) and the drift contract (pq_train's driver k-means at
    # build); their probe/kernel plan properties are covered by
    # test_operators_pq.py's plan assertions
    "knn_ivfpq_residual",
    "knn_pq_drift_contract",
    # round-10: ivf_index + pq_train at build time, and the operator
    # identity (pq_drift_assigned ≡ pq_drift) is collected in-entry; the
    # drift kernels' own plan properties are covered by
    # test_operators_pq.py
    "knn_recon_drift_assigned",
}

# 1-row scalar broadcasts: join of an aggregate total with no join key.
SCALAR_BNLJ_OK = {
    "rel_top_value_parts",
    "rel_top_supplier",
    "agg_heavy_hitters",
    "rel_global_sales_opportunity",
    "sync_validation_split_counts",
    "sync_lookback_window",
    "text_vocab_topk",
    "text_tfidf_topterms",
    # the Q20 shape's grand average: a 1-row avg over the persisted sp
    # aggregate, cross-joined back as the threshold scalar (round-8
    # verdict #4 replaced the unpartitioned window with this)
    "rel_excess_volume_suppliers",
    # not a scalar, but an intended tiny-broadcast product: the brute-force
    # ANN baseline joins the corpus against 8 broadcast query vectors with
    # only a != condition — the O(corpus × queries) cost IS the baseline
    "knn_cosine_bruteforce",
}

PLANNABLE = sorted(set(CATALOG) - EXECUTES_ON_BUILD)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", PLANNABLE)
def test_no_accidental_product_joins(spark, name):
    df = CATALOG[name].spark_fn(spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if "BroadcastNestedLoopJoin" in plan and name not in SCALAR_BNLJ_OK:
        raise AssertionError(
            f"{name}: BroadcastNestedLoopJoin outside the scalar-broadcast "
            f"allowlist — at scale this is an O(n*m) join\n{plan[:2000]}"
        )
    # Python may appear ONLY Arrow-batched (MapInPandas / ArrowEvalPython /
    # grouped-map) — BatchEvalPython is the row-at-a-time serializer, 10-100x
    # slower, and means a scalar expression silently fell off the JVM path.
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan — use built-in functions "
        f"or an Arrow-batched pandas UDF"
    )


def test_pushdown_reaches_scan(spark):
    plan = _physical_plan(CATALOG["rel_pricing_summary"].spark_fn(spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_column_pruning_reaches_scan(spark):
    # 2-column projection must not read the full lineitem width
    plan = _physical_plan(CATALOG["rel_top_value_parts"].spark_fn(spark, SF_SMOKE))
    scan = plan[plan.index("ReadSchema"):]
    assert "l_partkey" in scan.split("\n")[0]
    assert "l_shipdate" not in scan.split("\n")[0]


def test_dim_joins_broadcast(spark):
    for name in ("rel_shipping_priority", "rel_nation_revenue", "rel_market_share"):
        plan = _physical_plan(CATALOG[name].spark_fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        # every dimension join must broadcast; at most ONE sort-merge join
        # is acceptable — the big-big orders⋈lineitem fact join. More than
        # one means a dim join degraded to a full shuffle.
        n_smj = plan.count("SortMergeJoin")
        assert n_smj <= 1, f"{name}: {n_smj} SortMergeJoins — dim join degraded"


def test_excess_volume_suppliers_has_no_window(spark):
    """The grand average is a 1-row agg cross-joined back (allowlisted in
    SCALAR_BNLJ_OK), not an unpartitioned window — sp's output never
    serializes through one partition."""
    df = CATALOG["rel_excess_volume_suppliers"].spark_fn(spark, SF_SMOKE)
    assert "Window" not in _physical_plan(df)
