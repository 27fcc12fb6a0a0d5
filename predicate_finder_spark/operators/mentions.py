"""Sentence splitting + candidate mention generation.

Replaces the reference's per-question tokenize loops
(baseline/baseline.py:102-123) with explode-based narrow transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from predicate_finder_spark.functions.text import sentences, tokenize


def explode_sentences(pages: DataFrame, languages: tuple[str, ...] = ("en",)) -> DataFrame:
    """pages -> sentences(url, sent_id, sentence, tokens).

    Language filter first (F5; reference DataExtract.py:76) so the explode
    never materializes non-target rows — Catalyst pushes the lang filter
    into the parquet scan.
    """
    return (
        pages.filter(F.col("lang").isin(*languages))
        .select("url", F.posexplode(sentences("text")).alias("sent_id", "sentence"))
        .withColumn("tokens", tokenize("sentence"))
        .withColumn("sent_id", F.col("sent_id").cast("int"))
    )


def generate_mentions(sent_df: DataFrame, max_n: int = 3) -> DataFrame:
    """sentences -> mentions(url, sent_id, start, length, surface).

    Candidate surfaces are all 1..max_n token n-grams, lowercased.  One
    explode of the concatenated per-n arrays (single narrow stage, ~max_n x
    token-count rows; the alias join immediately after filters it down).
    """
    # lower each token ONCE in its own projection (a token is re-read by up
    # to max_n * 2 - 1 grams).  Per-token lowercase + join is value-
    # identical to join + lowercase: gram tokens are separated by spaces,
    # so Java's only context-sensitive lowercase mapping (final sigma) sees
    # the same right-context either way.
    base = sent_df.select(
        "url", "sent_id", F.transform(F.col("tokens"), F.lower).alias("__lt")
    )
    # two chained codegen Generates instead of one explode over a nested
    # higher-order expression: lambdas inside transform/filter are evaluated
    # INTERPRETED (no whole-stage codegen inside HOF lambdas), so building
    # every gram struct through three nested lambdas paid per-element
    # interpreter overhead on ~7.7M gram rows — measured round 6 at 200k
    # pages: 1.72 s -> 0.45 s for the mention frame (3.8x), row set
    # byte-identical (explode order differs: start-major here vs n-major
    # before; no consumer is order-sensitive).  explode(sequence) and the
    # slice/array_join projection are plain codegen expressions.
    # sequence(0, size-1) must be guarded for empty token arrays: Spark
    # infers a NEGATIVE step when stop < start, so an unguarded empty
    # sentence would yield starts [0, -1] instead of no rows.
    starts = base.select(
        "url", "sent_id", F.col("__lt"),
        F.explode(
            F.when(
                F.size("__lt") > 0,
                F.sequence(F.lit(0), F.size("__lt") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("start"),
    )
    lens = starts.select(
        "url", "sent_id", F.col("__lt"), "start",
        F.explode(
            F.sequence(
                F.lit(1), F.least(F.lit(max_n), F.size("__lt") - F.col("start"))
            )
        ).alias("length"),
    )
    return lens.select(
        "url", "sent_id",
        F.col("start").cast("int").alias("start"),
        F.col("length").cast("int").alias("length"),
        F.array_join(F.slice("__lt", F.col("start") + 1, F.col("length")), " ").alias("surface"),
    )
