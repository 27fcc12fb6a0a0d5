"""Stage-write manifest counts + int8 embedding quantization."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from predicate_finder_spark.sources.tables import write_stage


def test_write_stage_manifest_counts_from_footers(spark, corpus, tmp_path):
    """Manifest row counts come from parquet footer metadata (no second
    scan of the stage output): totals and per-file counts must equal what
    a real read of the committed table reports."""
    import pyarrow.parquet as pq

    flat = str(tmp_path / "flat")
    df = corpus["pages"].select("url", "lang")
    m = write_stage(df, flat, "flat", "h1")
    assert m["rows"] == df.count()
    assert m["rows"] == spark.read.parquet(flat).count()
    for rel, n in m["partitions"].items():
        assert pq.ParquetFile(os.path.join(flat, rel)).metadata.num_rows == n
    assert m["n_files"] == len(m["partitions"]) > 0


def test_quantize_embedding_roundtrip_bound(spark):
    """Per-component reconstruction error <= scale/2; zero vectors are
    guarded; the whole path is column expressions (no Python worker)."""
    from predicate_finder_spark.functions.vectors import (
        dequantize_embedding,
        quantize_embedding,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    qcol = quantize_embedding(F.col("embedding"))
    checked = e.select(
        qcol.alias("qs"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    ).select(
        "qs",
        F.array_max(
            F.zip_with("v", dequantize_embedding(F.col("qs")),
                       lambda a, b: F.abs(a - b))
        ).alias("err"),
    )
    rows = checked.collect()
    assert rows
    for r in rows:
        assert r["err"] <= r["qs"]["scale"] / 2 + 1e-12
        assert all(-127 <= x <= 127 for x in r["qs"]["q"])
    plan = checked._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan

    z = spark.createDataFrame([([0.0, 0.0, 0.0],)], "embedding array<double>")
    rz = z.select(quantize_embedding(F.col("embedding")).alias("qs")).first()
    assert rz["qs"]["scale"] == 0.0 and list(rz["qs"]["q"]) == [0, 0, 0]


def test_quantized_cosine_preserves_topk(spark):
    """int8 ANN memory lever: top-10 cosine neighbors computed on the
    dequantized vectors overlap >= 8/10 with the exact top-10."""
    from predicate_finder_spark.functions.similarity import cosine_expr as cosine
    from predicate_finder_spark.functions.vectors import (
        dequantize_embedding,
        quantize_embedding,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(300)
    q = e.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("qv")
    )
    base = e.crossJoin(F.broadcast(q)).select(
        "vec_id",
        cosine(F.col("embedding"), F.col("qv")).alias("exact"),
        cosine(
            dequantize_embedding(quantize_embedding(F.col("embedding"))),
            dequantize_embedding(quantize_embedding(F.col("qv"))),
        ).alias("approx"),
    )
    top_exact = [r["vec_id"] for r in base.orderBy(F.desc("exact"), "vec_id").limit(10).collect()]
    top_approx = [r["vec_id"] for r in base.orderBy(F.desc("approx"), "vec_id").limit(10).collect()]
    assert len(set(top_exact) & set(top_approx)) >= 8, (top_exact, top_approx)
