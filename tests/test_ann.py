"""ANN: brute-force exact top-k + IVF approximate recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from predicate_finder_spark.operators.ann import brute_force_topk, build_ivf_cells, ivf_topk


@pytest.fixture(scope="module")
def vectors(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .cache()
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return (
        vectors.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .cache()
    )


def test_brute_force_self_is_top1(vectors, queries):
    top = brute_force_topk(vectors, queries, k=5)
    first = {r["query_id"]: r["vec_id"] for r in top.filter(F.col("rank") == 1).collect()}
    assert first == {0: 0, 1: 1, 2: 2}  # each query's nearest neighbor is itself
    assert top.count() == 15


def test_ivf_recall_vs_brute_force(vectors, queries):
    exact = brute_force_topk(vectors, queries, k=10)
    centroids, assigned = build_ivf_cells(vectors, n_cells=8)
    approx = ivf_topk(assigned, centroids, queries, k=10, n_probe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall  # probing half the cells


def test_ivf_probes_fewer_rows(vectors, queries, spark):
    centroids, assigned = build_ivf_cells(vectors, n_cells=8)
    n_cells_assigned = assigned.select("cell_id").distinct().count()
    assert n_cells_assigned == 8


def test_ivf_seeding_is_distributed_topk(vectors, spark):
    # centroid seeding must plan as TakeOrderedAndProject (distributed
    # per-partition top-k), never a global single-partition Window
    from predicate_finder_spark.operators.ann import _seed_vectors

    plan = _seed_vectors(vectors, 8)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_brute_force_quantized_recall(spark):
    """Scored on int8-quantized vectors (functions/vectors.quantize_embedding,
    4x fewer corpus bytes), brute-force top-k keeps its overlap with the
    exact top-k high (candidate-generation quality)."""
    from predicate_finder_spark.functions.vectors import (
        dequantize_embedding,
        quantize_embedding,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def quantized(df, id_col):
        deq = dequantize_embedding(quantize_embedding(F.col("embedding")))
        return df.select(id_col, deq.alias("embedding"))

    exact = brute_force_topk(e, qs, k=10)
    approx = brute_force_topk(quantized(e, "vec_id"), quantized(qs, "query_id"), k=10)
    ex = {r["query_id"]: set() for r in exact.collect()}
    for r in exact.collect():
        ex[r["query_id"]].add(r["vec_id"])
    ap = {q: set() for q in ex}
    for r in approx.collect():
        ap[r["query_id"]].add(r["vec_id"])
    for q in ex:
        assert len(ex[q] & ap[q]) >= 8, (q, ex[q], ap[q])
