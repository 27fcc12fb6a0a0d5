"""Benchmark decontamination: flag training documents that overlap an
evaluation set (the standard train-test n-gram overlap removal described
publicly in the GPT-3 paper's appendix C and the PaLM/Llama data cards).

Join shape at 100 TB:

- the benchmark side (eval suites: at most a few hundred MB of text) is
  exploded to DISTINCT n-grams, hashed to a 16-byte md5 key, and
  broadcast — the corpus never shuffles for it;
- the corpus side is a linear explode to distinct per-doc n-gram hashes
  (map-side), joined against the broadcast gram set, and the hit counts
  are a partial-aggregated groupBy on the doc id — so the only wide
  exchange is (doc_id, count) rows for CONTAMINATED docs, never text.
  A scrub is then a left-anti join of that (small) flagged-id frame back
  onto the corpus.

Documents shorter than ``ngram_n`` tokens fall back to a single
whole-text gram on BOTH sides (word_shingles semantics), so a short
benchmark item still flags its verbatim copies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from predicate_finder_spark.functions.hashing import word_shingles
from predicate_finder_spark.functions.text import tokenize


def _gram_hashes(df: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram_hash) — distinct md5 hashes of word n-grams per row."""
    return df.select(
        F.col("doc_id"),
        F.explode(word_shingles(tokenize(F.col("text")), n)).alias("__gram"),
    ).select(F.col("doc_id"), F.md5(F.col("__gram")).alias("gram_hash")).distinct()


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    ngram_n: int = 8,
) -> DataFrame:
    """Per-document count of distinct benchmark n-grams found verbatim, over
    ``docs(doc_id, text)`` and ``benchmark(text)``.

    Returns (doc_id, n_hits) for contaminated documents only
    (n_hits >= 1); clean documents don't appear.  The benchmark gram set
    is deduplicated across all benchmark rows and broadcast.
    """
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(tokenize(F.col("text")), ngram_n)).alias("__gram")
        )
        .select(F.md5(F.col("__gram")).alias("gram_hash"))
        .distinct()
    )
    doc_grams = _gram_hashes(docs, ngram_n)
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram_hash")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
