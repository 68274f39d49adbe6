"""Every catalog query with an oracle must match DuckDB exactly —
this test predicts the driver's CORRECTNESS gate.

Two passes share the parametrization:

- the default pass at ``SF_CORRECTNESS`` (sf0.001, env-overridable) runs in
  every ``pytest tests/`` invocation;
- the scale pass at sf0.1 is opt-in (``SPARK_GRAFT_SCALE_PARITY=1``) and run
  once per round before handoff — density/rounding/timestamp drift has
  historically appeared only at sf0.1 (word-set Jaccard candidate blow-up,
  entropy rounding), which the driver's sf0.01 gate cannot catch.
"""

import os

import pytest

from syncmaven_spark.oracle import compare, duckdb_connection
from syncmaven_spark.queries import CATALOG

from tests.conftest import SF_CORRECTNESS

ORACLED = [name for name, qd in CATALOG.items() if qd.oracle]

SF_SCALE = os.environ.get("SPARK_GRAFT_SCALE_SF_DIR", "/root/testdata/sf0.1")
RUN_SCALE = os.environ.get("SPARK_GRAFT_SCALE_PARITY") == "1"


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_CORRECTNESS)
    yield c
    c.close()


@pytest.fixture(scope="module")
def scale_con():
    c = duckdb_connection(SF_SCALE)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(CATALOG))
def test_query_matches_oracle(spark, con, name):
    """Every catalog entry builds, materialises and matches its oracle; an
    entry without an oracle fails here rather than going unchecked."""
    qd = CATALOG[name]
    assert qd.oracle, f"{name} has no DuckDB oracle"
    df = qd.spark_fn(spark, SF_CORRECTNESS)
    result = compare(name, df, con, qd.oracle)
    assert result.ok, result.detail


# These two oracles enumerate all C(n,2) document pairs with per-pair list
# intersections (and, for the pipeline, a recursive CTE on top). At the
# driver's sf0.01 that is feasible; at sf0.1 a single oracle runs >10 min in
# DuckDB (measured), so the scale pass replaces them with dedicated checks
# below: full-corpus precision + sampled exact recall for the pair miner,
# and an exact min-label oracle over the (verified) edge list for the
# clustering — the only unchecked link at scale is LSH recall outside the
# sample, which is the documented ≈2e-10 per-pair band-miss bound.
# ALWAYS-ON complement: tests/test_scale_gate.py gates the PRODUCTION-
# default recipe (bucket cap included) at sf0.1 with 200 planted
# known-Jaccard pairs + the full pipeline, in every plain pytest run.
_SCALE_QUADRATIC_ORACLES = {
    "dedup_minhash_candidates",
    "dedup_cluster_pipeline",
    # same all-pairs oracle shape, restricted to pairs touching the 20%
    # batch — still ~0.36 of the full quadratic cost at sf0.1; the
    # operator itself is additionally gated by the full-pass-equivalence
    # property test in tests/test_operators_dedup.py
    "dedup_minhash_incremental",
    # train×benchmark all-pairs cross oracle: measured 215 s at sf0.1 in
    # DuckDB. Gated instead by sf0.01 parity, the planted cross-pair test
    # (tests/test_operators_dedup.py::test_fuzzy_decontamination_cross_
    # pairs_only), and the always-on sf0.1 recall gate on the SAME MinHash
    # recipe (tests/test_scale_gate.py)
    "decontamination_fuzzy",
    # identical all-pairs cross oracle; additionally gated by the 3-batch
    # ≡ one-shot equivalence property (tests/test_operators_dedup.py) and
    # its sf0.1 twin in tests/test_scale_stress.py
    "decontamination_fuzzy_incremental",
    # same all-pairs cross oracle SHAPE (|A∩B|/|B|); the Spark side is
    # EXACT (no sketch, no recall bound), gated by sf0.01 parity, the
    # planted embedded-doc test, and the sf0.1 emitted-pair precision
    # stand-in below
    "decontamination_containment",
    # identical oracle; additionally gated by the 3-batch ≡ one-shot
    # property test (tests/test_operators_dedup.py)
    "decontamination_containment_incremental",
}

scale = pytest.mark.skipif(
    not RUN_SCALE, reason="scale parity pass: set SPARK_GRAFT_SCALE_PARITY=1"
)


@scale
@pytest.mark.parametrize(
    "name", [n for n in ORACLED if n not in _SCALE_QUADRATIC_ORACLES]
)
def test_query_matches_oracle_at_scale(spark, scale_con, name):
    qd = CATALOG[name]
    df = qd.spark_fn(spark, SF_SCALE)
    result = compare(name, df, scale_con, qd.oracle)
    assert result.ok, result.detail


_WS_CTE = (
    "WITH w AS (SELECT doc_id, regexp_split_to_array(trim("
    "regexp_replace(lower(text), '[^\\w\\s]+', ' ', 'g')), '\\s+') AS toks "
    "FROM documents{filter}), "
    "ws AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, len(toks) - 1), i -> "
    "array_to_string(toks[i:i+2], ' ')) "
    "ELSE [array_to_string(toks, ' ')] END) AS ws FROM w) "
)

# ~1000 lowest doc_ids: C(1000,2) ≈ 500k exact pair comparisons — seconds in
# DuckDB, versus >10 min for the full corpus. Prefix-of-id sampling (not
# modulo) keeps template-generated near-dup neighborhoods intact, so the
# sample genuinely contains positive pairs.
_RECALL_SAMPLE = 1000


@scale
def test_minhash_pairs_scale_precision_and_sampled_recall(spark, scale_con):
    """Scale stand-in for the ``dedup_minhash_candidates`` oracle.

    1. PRECISION, full corpus: every pair Spark emits must have
       DuckDB-computed exact Jaccard ≥ 0.8 matching Spark's value — O(|pairs|).
    2. RECALL, exact on a 1000-doc prefix: DuckDB enumerates the complete
       ≥0.8 pair set within the prefix; Spark's pairs restricted to the
       prefix must equal it exactly (ids and jaccard values).
    """
    from syncmaven_spark.operators import minhash_verified_pairs
    from syncmaven_spark.session import load_tables

    from syncmaven_spark.queries import MINHASH_ORACLE_RECIPE

    t = load_tables(spark, SF_SCALE)
    pairs = minhash_verified_pairs(
        t["documents"], "text", "doc_id", **MINHASH_ORACLE_RECIPE
    )
    pairs_pdf = pairs.toPandas()
    assert len(pairs_pdf) > 0, "no near-dup pairs at sf0.1 — corpus drifted?"
    scale_con.register("spark_pairs", pairs_pdf)

    bad = scale_con.execute(
        _WS_CTE.format(filter="")
        + "SELECT count(*) FROM spark_pairs p "
        "JOIN ws a ON a.doc_id = p.id_a JOIN ws b ON b.doc_id = p.id_b "
        "WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / "
        "len(list_distinct(a.ws || b.ws)), 4) <> p.jaccard "
        "OR p.jaccard < 0.8"
    ).fetchone()[0]
    assert bad == 0, f"{bad} emitted pairs fail exact verification"

    cap = scale_con.execute(
        f"SELECT max(doc_id) FROM (SELECT doc_id FROM documents "
        f"ORDER BY doc_id LIMIT {_RECALL_SAMPLE})"
    ).fetchone()[0]
    exact = scale_con.execute(
        _WS_CTE.format(filter=f" WHERE doc_id <= {cap}")
        + "SELECT a.doc_id, b.doc_id, "
        "round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / "
        "len(list_distinct(a.ws || b.ws)), 4) AS j "
        "FROM ws a JOIN ws b ON a.doc_id < b.doc_id "
        "WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / "
        "len(list_distinct(a.ws || b.ws)), 4) >= 0.8"
    ).fetchall()
    got = {
        (int(r.id_a), int(r.id_b), float(r.jaccard))
        for r in pairs_pdf.itertuples()
        if r.id_a <= cap and r.id_b <= cap
    }
    want = {(int(a), int(b), float(j)) for a, b, j in exact}
    assert got == want, (
        f"sampled recall/precision mismatch: spark-only={got - want}, "
        f"oracle-only={want - got}"
    )


@scale
def test_cluster_pipeline_scale_labels_match_edge_oracle(spark, scale_con):
    """Scale stand-in for the ``dedup_cluster_pipeline`` oracle: given the
    verified edge list (itself validated by the precision/recall test
    above), DuckDB recomputes component labels with a recursive min-label
    CTE over the *exported* edges — cheap, O(edges) — and the full
    assignment (label + canonical flag for every doc) must match exactly."""
    from syncmaven_spark.queries import CATALOG as CAT, MINHASH_ORACLE_RECIPE
    from syncmaven_spark.operators import minhash_verified_pairs
    from syncmaven_spark.session import load_tables

    t = load_tables(spark, SF_SCALE)
    edges_pdf = minhash_verified_pairs(
        t["documents"], "text", "doc_id", **MINHASH_ORACLE_RECIPE
    ).select("id_a", "id_b").toPandas()
    scale_con.register("spark_edges", edges_pdf)

    df = CAT["dedup_cluster_pipeline"].spark_fn(spark, SF_SCALE)
    result = compare(
        "dedup_cluster_pipeline@scale",
        df,
        scale_con,
        "WITH RECURSIVE e AS (SELECT id_a AS s, id_b AS d FROM spark_edges "
        "UNION ALL SELECT id_b, id_a FROM spark_edges), "
        "reach(v, lbl) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT e.d, r.lbl FROM reach r JOIN e ON e.s = r.v) "
        "SELECT v AS doc_id, min(lbl) AS component, min(lbl) = v AS "
        "is_canonical FROM reach GROUP BY v",
    )
    assert result.ok, result.detail


def test_queries_md_in_sync():
    from syncmaven_spark.inventory import QUERIES_MD_PATH, render_inventory

    with open(QUERIES_MD_PATH) as f:
        on_disk = f.read()
    assert on_disk == render_inventory(), (
        "QUERIES.md is stale — regenerate with "
        "`python -m syncmaven_spark.inventory`"
    )


@scale
def test_containment_scale_emitted_pair_precision(spark, scale_con):
    """Scale stand-in for the ``decontamination_containment`` oracle
    (quadratic at sf0.1): the operator is EXACT by construction (broadcast
    shingle equi-join, no sketch — recall is covered by sf0.01 parity and
    the planted embedded-doc test), so the scale gate checks every pair
    Spark EMITS against DuckDB's |A∩B|/|B| — O(|pairs|)."""
    from syncmaven_spark.operators import containment_decontamination_pairs
    from syncmaven_spark.queries import _TOKS_SQL
    from syncmaven_spark.session import load_tables

    t = load_tables(spark, SF_SCALE)
    docs = t["documents"]
    pairs_pdf = containment_decontamination_pairs(
        docs.filter("doc_id % 7 <> 0"),
        docs.filter("doc_id % 7 = 0"),
        "text", "doc_id", threshold=0.8, shingle_k=3,
    ).toPandas()
    assert len(pairs_pdf) > 0, "no containment pairs at sf0.1"
    scale_con.register("spark_cpairs", pairs_pdf)

    cte = (
        "WITH w AS (SELECT doc_id, " + _TOKS_SQL + " AS toks "
        "FROM documents), "
        "ws AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 THEN "
        "list_transform(range(1, len(toks) - 1), i -> "
        "array_to_string(toks[i:i+2], ' ')) "
        "ELSE [array_to_string(toks, ' ')] END) AS ws FROM w "
        "WHERE len(toks) > 0) "
    )
    bad = scale_con.execute(
        cte
        + "SELECT count(*) FROM spark_cpairs p "
        "JOIN ws a ON a.doc_id = p.train_id "
        "JOIN ws b ON b.doc_id = p.bench_id "
        "WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / "
        "len(b.ws), 4) <> p.containment OR p.containment < 0.8"
    ).fetchone()[0]
    assert bad == 0, f"{bad} emitted containment pairs fail verification"
