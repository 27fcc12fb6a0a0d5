"""n-gram language-model perplexity scoring (CCNet-style quality filter).

CCNet (Wenzek et al. 2020) ranks Common-Crawl documents by the perplexity
of a language model trained on a trusted corpus and keeps the low-ppl
head — the classic model-based quality gate that complements the
heuristic (`functions/analysis.quality_score`) and fitted-logistic
(`operators/quality.py`) gates already in the curation pipeline.

This is the distributed analog with an add-one-smoothed bigram LM:

- ``fit_bigram_lm``: two partial-agg groupBys over the training corpus →
  unigram-context and bigram count DataFrames.  Counts stay DISTRIBUTED
  (DataFrames, not a driver dict) — at web scale the model itself is a
  table.
- ``perplexity``: explode each scored document's bigram instances →
  ONE equi-join per count table on the gram key → per-term
  log2 p(w|u) = log2((c(u,w) + 1) / (c(u) + V)) → per-doc mean.

Determinism at any parallelism: each term is rounded to integer
MICRO-units (floor(x·1e6 + 0.5), half-up like the engine's other micro
columns) and summed as BIGINT — integer addition is order-independent,
so the score never depends on partitioning, and the DuckDB oracle can
reproduce it bit-for-bit.

Unseen contexts fall back to c(u) = 0 smoothly (left joins, coalesce 0):
p = 1/V — no OOV special-casing needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from predicate_finder_spark.functions.text import tokenize

MICRO = 1_000_000


def _bigram_instances(docs: DataFrame) -> DataFrame:
    """One row per bigram occurrence: (id, pos, u, w).  Docs with < 2
    tokens emit nothing (a 0-bigram doc has no defined perplexity)."""
    toks = docs.select(F.col("doc_id").alias("id"), tokenize(F.col("text")).alias("ts"))
    return toks.select(
        "id",
        F.posexplode(
            F.when(
                F.size("ts") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("ts") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("ts"), i + 1).alias("u"),
                        F.element_at(F.col("ts"), i + 2).alias("w"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<u:string,w:string>>"))
        ).alias("pos", "bg"),
    ).select("id", "pos", F.col("bg.u").alias("u"), F.col("bg.w").alias("w"))


def fit_bigram_lm(train_docs: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """Count tables for an add-one bigram LM over the training corpus
    ``train_docs(doc_id, text)``.

    Returns ``(context_counts(u, c_u), bigram_counts(u, w, c_uw), vocab_size)``.
    Both counts are partial-agg groupBys (map-side combine shrinks the
    shuffle to distinct grams); ``vocab_size`` is the distinct token count
    INCLUDING final-position tokens, so p sums to <= 1 per context.
    """
    bg = _bigram_instances(train_docs)
    context = bg.groupBy("u").agg(F.count(F.lit(1)).alias("c_u"))
    bigrams = bg.groupBy("u", "w").agg(F.count(F.lit(1)).alias("c_uw"))
    vocab = (
        train_docs.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
        .collect()[0]["v"]
    )
    return context, bigrams, int(vocab)


def perplexity(
    docs: DataFrame,
    context: DataFrame,
    bigrams: DataFrame,
    vocab_size: int,
    keep_micro: bool = False,
) -> DataFrame:
    """Score documents ``docs(doc_id, text)``: (doc_id, n_bigrams, log2_ppl).

    log2_ppl = -(1/n) Σ log2 p(w_i | w_{i-1}) — lower is more fluent under
    the training corpus.  Each term is micro-rounded before the BIGINT sum
    (order-independent, engine-portable); the mean is computed once at the
    end in DOUBLE.

    Both count tables are broadcast: a trusted-corpus LM is
    dictionary-sized next to the corpus being scored (CCNet's own models
    are <1 GB).  ``keep_micro=True`` retains the exact BIGINT
    ``sum_micro`` column for integer-exact downstream comparison.
    """
    ctx = F.broadcast(context)
    bgt = F.broadcast(bigrams)
    inst = _bigram_instances(docs)
    V = F.lit(int(vocab_size))
    term = F.log2(
        (F.coalesce(F.col("c_uw"), F.lit(0)) + 1).cast("double")
        / (F.coalesce(F.col("c_u"), F.lit(0)) + V).cast("double")
    )
    scored = (
        inst.join(ctx, "u", "left")
        .join(bgt, ["u", "w"], "left")
        .withColumn("__micro", F.floor(term * MICRO + 0.5).cast("bigint"))
    )
    out = (
        scored.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__micro").alias("sum_micro"),
        )
        .withColumn(
            "log2_ppl",
            -(F.col("sum_micro").cast("double") / MICRO) / F.col("n_bigrams"),
        )
    )
    return out if keep_micro else out.drop("sum_micro")
