"""Blocked-query GEMM kNN must equal the single-shot paths exactly."""

import pytest
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.operators.knn import (
    block_topk_cogroup,
    dot_scorer,
    knn_search,
)
from rag_vertex_ai_vector_search_spark.sources import load_table


@pytest.mark.full
def test_blocked_equals_fold(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    fold = sorted(
        tuple(r) for r in knn_search(emb, queries, k=7, method="fold")
        .select("query_id", "rank", "neighbor_id").collect()
    )
    blocked = sorted(
        tuple(r) for r in block_topk_cogroup(
            emb, queries, 7, dot_scorer("embedding"), id_col="vec_id",
            n_query_blocks=5,
        ).select("query_id", "rank", "neighbor_id").collect()
    )
    assert blocked == fold
    assert len({q for q, _, _ in blocked}) == 40  # every block answered


def test_gemm_join_equals_fold(spark, sf_smoke):
    """The cogroup block-GEMM strategy must rank identically to the
    declarative fold path (scores agree to float64; the last ulp is
    GEMM-shape-dependent, so ranks are the contract)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    fold = sorted(
        tuple(r) for r in knn_search(emb, queries, k=7, method="fold")
        .select("query_id", "rank", "neighbor_id").collect()
    )
    gj = sorted(
        tuple(r) for r in knn_search(emb, queries, k=7, method="gemm_join")
        .select("query_id", "rank", "neighbor_id").collect()
    )
    assert gj == fold


def test_gemm_join_crowding_equals_fold(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    kw = dict(k=7, per_crowding_k=2, crowding_col="label")
    fold = sorted(
        tuple(r) for r in knn_search(emb, queries, method="fold", **kw)
        .select("query_id", "rank", "neighbor_id", "label").collect()
    )
    gj = sorted(
        tuple(r) for r in knn_search(emb, queries, method="gemm_join", **kw)
        .select("query_id", "rank", "neighbor_id", "label").collect()
    )
    assert gj == fold


def test_gemm_join_query_blocks_equal_fold(spark, sf_smoke):
    """Two-sided blocking (n_query_blocks > 1) partitions the pair space
    without loss or duplication."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    fold = sorted(
        tuple(r) for r in knn_search(emb, queries, k=7, method="fold")
        .select("query_id", "rank", "neighbor_id").collect()
    )
    ranked = block_topk_cogroup(
        emb, queries, 7, dot_scorer("embedding"), id_col="vec_id",
        n_query_blocks=3,
    )
    gj = sorted(
        tuple(r) for r in ranked
        .select("query_id", "rank", "neighbor_id").collect()
    )
    assert gj == fold


def test_gemm_join_never_collects_to_driver(spark, sf_smoke, monkeypatch):
    """The 100 TB guarantee of gemm_join: building AND executing the plan
    must never materialize the query set on the driver. DataFrame.collect
    / take / first / toPandas are rigged to raise; materialization goes
    through a foreach action."""
    from pyspark.sql.classic.dataframe import DataFrame

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )

    def boom(self, *a, **kw):
        raise AssertionError("driver-side materialization in gemm_join path")

    for meth in ("collect", "take", "first", "toPandas", "toLocalIterator"):
        monkeypatch.setattr(DataFrame, meth, boom)
    out = knn_search(emb, queries, k=5, method="gemm_join")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # execute without any driver-side fetch
    out.foreach(lambda r: None)
