"""Fitted document-quality classifier with zero-Python inference.

The heuristic ``analysis.quality_score`` is a hand-weighted blend; real
curation pipelines fit the blend on labeled data (the fasttext-style
quality classifiers described in the Llama/CCNet data cards).  This
module keeps the architecture the engine already uses for model fitting
(operators/train.py: distributed features -> bounded collect -> IRLS
logistic fit -> weights broadcast back) and adds the crucial scale
property for the INFERENCE side: the fitted model is applied as a pure
column expression — the log-odds w·x + b with literal weights (q71) — so scoring
10^12 documents is ONE JVM-side projection with no Python worker, no
Arrow transfer, no shuffle, and no UDF at all (the higher-order lambda
parts are CodegenFallback but never leave the JVM; plan-guarded in
tests/test_quality.py).

Fitting contract: callers pass a *labeled sample* (thousands of rows,
never the corpus) — same bounded-collect rule as fit_linear_reranker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from predicate_finder_spark.functions.analysis import (
    ENGLISH_STOPWORDS,
    repetition_ratio,
)
from predicate_finder_spark.functions.text import tokenize
from predicate_finder_spark.operators.train import fit_linear_reranker

QUALITY_FEATURES: tuple[str, ...] = (
    "log_tokens", "alpha_ratio", "stop_ratio", "mean_word_len",
    "rep_ratio", "digit_ratio",
)


def quality_feature_exprs(text: Column) -> dict[str, Column]:
    """The 6 quality features as pure column expressions (Catalyst CSEs
    the shared tokenize subtree).  Ratios define 0.0 on empty docs."""
    toks = F.transform(tokenize(text), F.lower)
    n = F.size(toks)
    n_d = n.cast("double")
    safe = F.when(n > 0, n_d).otherwise(F.lit(1.0))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("double")
    stop = F.size(
        F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS))
    ).cast("double")
    digit = F.size(F.filter(toks, lambda t: t.rlike("[0-9]"))).cast("double")
    mean_len = F.when(n > 0, F.length(F.array_join(toks, "")) / n_d).otherwise(F.lit(0.0))
    return {
        "log_tokens": F.log1p(n_d),
        "alpha_ratio": alpha / safe,
        "stop_ratio": stop / safe,
        "mean_word_len": mean_len,
        "rep_ratio": repetition_ratio(text, 2),
        "digit_ratio": digit / safe,
    }


def with_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    exprs = quality_feature_exprs(F.col(text_col))
    return df.select("*", *[exprs[k].alias(k) for k in QUALITY_FEATURES])


def fit_quality_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    l2: float = 1e-2,
) -> bytes:
    """IRLS logistic fit over the 6 features of a labeled document sample;
    returns model bytes (operators/models.deserialize_linear_model gives
    the ``weights`` :func:`quality_logit` takes).  Deterministic
    (Newton solver, no SGD/seed)."""
    feats = with_quality_features(labeled, text_col)
    return fit_linear_reranker(
        feats, feature_cols=list(QUALITY_FEATURES), label_col=label_col, l2=l2
    )


# Fitted once on synth_quality_sample(400).filter(doc_id < 300) — the
# deterministic labeled fixture — by bin/gen_quality_weights.py; the fit is
# a strictly convex Newton solve, so these are unique up to summation noise
# (tests/test_quality.py asserts a refit reproduces them to 1e-6).  Pinned
# as literals so driver-oracle queries are exactly SQL-expressible.
PINNED_QUALITY_WEIGHTS: tuple[tuple[float, ...], float] = (
    (
        15.523554733742543,   # log_tokens
        12.000244282909543,   # alpha_ratio
        13.435292695566623,   # stop_ratio
        2.9121719083377973,   # mean_word_len
        -4.615929762891008,   # rep_ratio
        -12.288167957356555,  # digit_ratio
    ),
    -76.42248616493977,
)


def quality_logit(text: Column, weights: tuple) -> Column:
    """Fitted log-odds ``w·x + b`` as ONE pure column expression: the
    ``weights=(w_list, b)`` are folded in as literals, so the classifier
    runs entirely JVM-side — the scale path a UDF-based scorer cannot
    match.  A fitted model's bytes give them through
    operators/models.deserialize_linear_model."""
    w, b = weights
    exprs = quality_feature_exprs(text)
    z = F.lit(float(b))
    for name, wi in zip(QUALITY_FEATURES, w):
        z = z + F.lit(float(wi)) * exprs[name]
    return z
