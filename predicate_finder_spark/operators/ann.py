"""Similarity search over an embedding column.

- ``brute_force_topk``: exact cosine top-k via crossJoin + window — the
  correctness baseline (O(n*q), fine when the query set is small and
  broadcast).
- ``ivf_topk``: IVF-style approximate top-k — k-means-lite centroids
  (deterministic seeded sample), assign every vector to its nearest
  centroid (one broadcast join + argmin), probe only ``n_probe`` nearest
  cells per query.  The scale path: each query touches n_probe/n_cells of
  the corpus, and the heavy join is an equi-join on cell id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.similarity import cosine_expr

# column names of the vector and query frames
ID, VEC, QID = "vec_id", "embedding", "query_id"


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set against
    the corpus, window top-k.  Inputs: ``vectors(vec_id, embedding)`` and
    ``queries(query_id, embedding)``.  Output: (query_id, vec_id, cosine,
    rank).

    The int8 memory/bandwidth lever for this scan is
    functions/vectors.quantize_embedding (q82); its top-10 overlap with
    exact cosine is pinned in tests/test_vectors_partitions.py."""
    from predicate_finder_spark.functions.similarity import dot_expr, norm_expr

    # norms are computed ONCE per side, in projections BELOW the cross join
    # (each corpus row meets every query row: inlining cosine_expr there
    # re-evaluated the corpus norm per (row, query) and the query norm per
    # corpus row).  Same expressions, same float order — values unchanged.
    q = queries.select(
        F.col(QID),
        F.col(VEC).alias("__qv"),
        norm_expr(F.col(VEC)).alias("__qn"),
    )
    # a single-file parquet scan plans one task regardless of cores; the
    # per-row cosine work would then run serially.  Spread BEFORE the norm
    # projection, and only when the scan's parallelism is below the session
    # default — at real scale inputs carry enough splits and this is a
    # no-op, so no corpus shuffle is added.
    corpus = vectors.select(F.col(ID), F.col(VEC))
    default_par = vectors.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < default_par:
        # hash on the unique id, not round-robin: round-robin pays a local
        # sort of its input (sortBeforeRepartition) serialized inside the
        # under-parallel scan task — exactly what the spread is avoiding —
        # and hash assignment is deterministic under task retry
        corpus = corpus.repartition(default_par, F.col(ID))
    corpus = corpus.select(
        F.col(ID), F.col(VEC), norm_expr(F.col(VEC)).alias("__vn")
    )
    scored = corpus.crossJoin(F.broadcast(q)).withColumn(
        "cosine",
        dot_expr(F.col(VEC), F.col("__qv"))
        / (F.col("__vn") * F.col("__qn") + F.lit(1e-9)),
    )
    w = Window.partitionBy(QID).orderBy(F.col("cosine").desc(), F.col(ID).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QID, ID, "cosine", "rank")
    )


def _seed_vectors(vectors: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic centroid seeds: the n_cells lowest-id vectors via
    orderBy().limit() — Catalyst plans this as TakeOrderedAndProject, a
    *distributed* top-k (per-partition heap + driver merge of n_cells rows).

    Never a global ``Window.orderBy``: that forces the entire vectors table
    through ONE task — at 100 TB the single bottleneck of the ANN path
    (tests/test_ann.py pins the plan shape).
    """
    return vectors.select(F.col(ID), F.col(VEC)).orderBy(F.col(ID).asc()).limit(n_cells)


def build_ivf_cells(
    vectors: DataFrame,
    n_cells: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """One-pass IVF index: centroids = deterministic seed sample
    (distributed top-k by id), then assign each vector to its nearest
    centroid.

    Returns (centroids(cell_id, centroid), assigned(…, cell_id)).  At 100 TB
    the assignment is one broadcast join + argmin over n_cells — a narrow
    stage.
    """
    spark = vectors.sparkSession
    seeds = sorted(
        _seed_vectors(vectors, n_cells).collect(),
        key=lambda r: r[ID],
    )
    vec_t = vectors.schema[VEC].dataType
    centroids = spark.createDataFrame(
        [(i, list(r[VEC])) for i, r in enumerate(seeds)],
        schema=f"cell_id int, centroid {vec_t.simpleString()}",
    )
    cent_arr = F.array(*[F.array(*[F.lit(float(x)) for x in r[VEC]]) for r in seeds])
    n = len(seeds)
    sims = F.transform(cent_arr, lambda c: cosine_expr(F.col(VEC), c))
    best = F.expr(
        "array_position(transform(sequence(1, {n}), i -> element_at(__sims, i)), array_max(__sims)) - 1".format(n=n)
    )
    assigned = (
        vectors.withColumn("__sims", sims)
        .withColumn("cell_id", best.cast("int"))
        .drop("__sims")
    )
    return centroids, assigned


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k: per query, rank cells by centroid cosine, probe
    the best ``n_probe`` cells via equi-join on cell_id, then exact cosine
    + window top-k within the probed subset."""
    qc = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "__csim", cosine_expr(F.col(VEC), F.col("centroid"))
    )
    wq = Window.partitionBy(QID).orderBy(F.col("__csim").desc(), F.col("cell_id").asc())
    probe = (
        qc.withColumn("__rc", F.row_number().over(wq))
        .filter(F.col("__rc") <= n_probe)
        .select(F.col(QID), F.col(VEC).alias("__qv"), "cell_id")
    )
    scored = assigned.join(probe, "cell_id").withColumn(
        "cosine", cosine_expr(F.col(VEC), F.col("__qv"))
    )
    w = Window.partitionBy(QID).orderBy(F.col("cosine").desc(), F.col(ID).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QID, ID, "cosine", "rank")
    )
