"""Structured Streaming ingest: a stream gated by the quality classifier
keeps exactly the pages the batch gate keeps."""

from __future__ import annotations

import pytest

from predicate_finder_spark.streaming.ingest import read_page_stream


@pytest.fixture(scope="module")
def pages_path(spark, corpus, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream") / "pages")
    corpus["pages"].repartition(4).write.mode("overwrite").parquet(p)
    return p


def test_streaming_quality_gate_matches_batch(spark, corpus, pages_path):
    """The fitted quality classifier is a pure column expression, so it
    gates a STREAM with zero changes — same plan, no Python worker, no
    state.  Streamed survivors == batch survivors exactly."""
    from pyspark.sql import functions as F

    from predicate_finder_spark.operators.quality import (
        PINNED_QUALITY_WEIGHTS,
        quality_logit,
    )

    z = quality_logit(F.col("text"), weights=PINNED_QUALITY_WEIGHTS)
    # gate at the batch median so the filter demonstrably KEEPS and DROPS
    # (page prose scores below the paragraph-trained 0.5 operating point;
    # a production gate would refit or recalibrate the threshold)
    thr = (
        corpus["pages"].select(z.alias("z")).agg(F.expr("percentile(z, 0.5)")).first()[0]
    )
    gated = read_page_stream(spark, pages_path).filter(z >= thr).select("url")
    q = gated.writeStream.format("memory").queryName("stream_quality").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT url FROM stream_quality")
    want = corpus["pages"].filter(z >= thr).select("url")
    n_all = corpus["pages"].count()
    assert 0 < want.count() < n_all  # the gate genuinely splits
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
