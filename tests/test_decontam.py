"""Benchmark decontamination (operators/decontam.py): n-gram overlap
flags + the broadcast plan shape the 100 TB story depends on."""

from __future__ import annotations

from predicate_finder_spark.operators.decontam import contamination_hits


def _frames(spark):
    docs = spark.createDataFrame(
        [
            # contains the benchmark sentence verbatim (shifted context)
            (1, "intro words the quick brown fox jumps over the lazy dog today"),
            # shares no 5-gram with any benchmark row
            (2, "completely unrelated text about spark shuffle partitions here"),
            # verbatim copy of the SHORT benchmark row (< 5 tokens:
            # whole-text fallback gram must flag it)
            (3, "tiny eval item"),
            # shares 4 consecutive tokens only -- below the 5-gram bar
            (4, "quick brown fox jumps somewhere else entirely now right"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "tiny eval item"),
        ],
        "bench_id int, text string",
    )
    return docs, bench


def test_contamination_hits_flags_overlap_only(spark):
    docs, bench = _frames(spark)
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(docs, bench, ngram_n=5).collect()
    }
    assert 1 in hits and hits[1] >= 1  # verbatim 5-gram overlap
    assert hits.get(3) == 1            # short-benchmark whole-text fallback
    assert 2 not in hits               # clean doc never appears
    assert 4 not in hits               # 4-token overlap is below the bar


def test_gram_join_is_broadcast(spark):
    """The benchmark gram set must reach the corpus as a broadcast — a
    shuffled gram join would move corpus-scale exploded n-grams."""
    docs, bench = _frames(spark)
    plan = contamination_hits(docs, bench, ngram_n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
