"""Approximate-operator quality floors: the rows-only driver check only
proves these queries RUN; these tests pin how good the approximations
actually are against their exact baselines, so a refactor that silently
guts recall fails CI rather than shipping a fast-but-useless index.

Thresholds are deliberately below measured values (IVF 0.5-0.8, LSH
0.9-1.0, MinHash 1.0 at sf0.01) — they catch collapse, not noise.
"""

from __future__ import annotations

import pytest

from open_source_etl_spark.registry import all_queries

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def queries():
    return all_queries()


@pytest.fixture(scope="module")
def exact_top10(spark, queries):
    return {r.vec_id for r in queries["knn_bruteforce_cosine"](spark, SF).collect()}


def test_ivf_recall_floor(spark, queries, exact_top10):
    from open_source_etl_spark.operators.llm_similarity import _ivf_topk

    ivf = {r.vec_id for r in _ivf_topk(spark, SF).collect()}
    recall = len(exact_top10 & ivf) / len(exact_top10)
    assert recall >= 0.4, f"IVF recall@10 collapsed: {recall}"


def test_ivf_query_reports_floor_met(spark, queries):
    """The registered query is the driver-facing recall pin; it must
    emit exactly the oracle's one TRUE row on the healthy pipeline."""
    rows = queries["ann_ivf_search"](spark, SF).collect()
    assert len(rows) == 1 and rows[0].recall_floor_met is True


def test_pq_recall_floor(spark, queries, exact_top10):
    """Product quantization: codebook fidelity must keep ADC ordering
    informative — recall@10 after the scaled exact re-rank stays at
    or above the registered 0.5 floor (measured 0.7-0.9)."""
    from open_source_etl_spark.operators.llm_similarity import _pq_topk

    pq = {r.vec_id for r in _pq_topk(spark, SF).collect()}
    recall = len(exact_top10 & pq) / len(exact_top10)
    assert recall >= 0.5, f"PQ recall@10 collapsed: {recall}"


def test_pq_releases_its_subvector_cache(spark):
    """The persisted subvector explode is released once the code
    assignment has consumed it: building the PQ search leaves no
    cached plan behind in the session."""
    from open_source_etl_spark.operators.llm_similarity import _pq_topk

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    _pq_topk(spark, SF).collect()
    assert cache.isEmpty()


def test_pq_query_reports_floor_met(spark, queries):
    rows = queries["ann_pq_search"](spark, SF).collect()
    assert len(rows) == 1 and rows[0].recall_floor_met is True


def test_pq_codes_compress(spark, queries):
    """The code table really is m codes per vector over a ksub-sized
    codebook: every (sub, cell) lies in range and each vector carries
    exactly m code rows."""
    from pyspark.sql import functions as F

    from open_source_etl_spark.operators.llm_similarity import (
        _pq_assign,
        _pq_centroid_means,
        _pq_subrows,
    )
    from open_source_etl_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings").filter(
        F.size("embedding") == 64
    )
    subrows = _pq_subrows(emb, 8, 8)
    codebook = _pq_centroid_means(
        subrows.withColumn("cell", F.col("vec_id") % 16)
    )
    codes = _pq_assign(subrows, codebook).select("vec_id", "sub", "cell")
    stats = codes.agg(
        F.countDistinct("sub").alias("n_subs"),
        F.max("cell").alias("max_cell"),
        F.min("cell").alias("min_cell"),
        (F.count("*") / F.countDistinct("vec_id")).alias("per_vec"),
    ).collect()[0]
    assert stats.n_subs == 8
    assert 0 <= stats.min_cell and stats.max_cell <= 15
    assert stats.per_vec == 8.0


def test_lsh_recall_floor(spark, queries, exact_top10):
    from open_source_etl_spark.operators.llm_similarity import _lsh_topk

    lsh = {r.vec_id for r in _lsh_topk(spark, SF).collect()}
    recall = len(exact_top10 & lsh) / len(exact_top10)
    assert recall >= 0.7, f"LSH recall@10 collapsed: {recall}"


def test_lsh_query_reports_floor_met(spark, queries):
    rows = queries["ann_lsh_bucketed"](spark, SF).collect()
    assert len(rows) == 1 and rows[0].recall_floor_met is True


def test_minhash_finds_high_jaccard_pairs(spark, queries):
    """Every strongly-near-dup pair (exact Jaccard >= 0.9 from the
    blocked quadratic baseline) must surface in the MinHash candidate
    output — banding is tuned to catch s>=0.9 with high probability, and
    missing true dups is the one failure mode a dedup pipeline can't
    tolerate."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in queries["dedup_jaccard_blocked"](spark, SF).collect()
        if r.jaccard >= 0.9
    }
    assert exact, "fixture should contain strong near-dup pairs"
    from open_source_etl_spark.operators.llm_dedup import _minhash_rerank

    mh = {(r.doc_a, r.doc_b) for r in _minhash_rerank(spark, SF, 0.5).collect()}
    found = len(exact & mh) / len(exact)
    assert found >= 0.8, f"MinHash missed {1 - found:.0%} of J>=0.9 pairs"


def test_pca_power_matches_numpy_iteration(spark, queries):
    """embed_pca_power runs 8 power-iteration rounds distributed; numpy
    running the IDENTICAL iteration (all-ones start, same normalization)
    must agree elementwise to float tolerance — this pins the
    distributed kernel (dot, scale, elementwise reduce), which is the
    operator's claim.  The fixture's spectrum is nearly flat, so
    eigen-convergence itself is not assertable; instead the Rayleigh
    quotient must land within the exact eigenvalue range."""
    import duckdb
    import numpy as np

    rows = queries["embed_pca_power"](spark, SF).collect()
    v_spark = np.array([r.component for r in rows])
    lam_spark = rows[0].eigenvalue

    X = np.array(
        duckdb.connect()
        .execute(f"SELECT embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id")
        .df()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    v = np.ones(X.shape[1])
    for _ in range(8):
        s = X.T @ (X @ v)
        v = s / np.linalg.norm(s)
    assert np.allclose(v_spark, np.round(v[:8], 6), atol=2e-6), (
        f"kernel divergence: {v_spark} vs {np.round(v[:8], 6)}"
    )
    w = np.linalg.eigvalsh(X.T @ X / len(X))
    assert w[0] - 1e-9 <= lam_spark <= w[-1] + 1e-4, (
        f"Rayleigh {lam_spark} outside eigenvalue range [{w[0]}, {w[-1]}]"
    )
