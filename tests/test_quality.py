"""Fitted quality classifier (operators/quality.py): the fasttext-style
curation classifier re-expressed for Spark scale — features and inference
are pure column expressions (zero Python workers in the plan), only the
bounded-sample IRLS fit touches the driver.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from predicate_finder_spark.operators.models import deserialize_linear_model
from predicate_finder_spark.operators.quality import (
    PINNED_QUALITY_WEIGHTS,
    QUALITY_FEATURES,
    fit_quality_classifier,
    quality_logit,
    with_quality_features,
)
from predicate_finder_spark.synth import synth_quality_sample


@pytest.fixture(scope="module")
def sample(spark):
    df = synth_quality_sample(spark, 400).persist()
    df.count()
    return df


def test_features_defined_on_empty_text(spark):
    df = spark.createDataFrame([("",), ("   ",)], "text string")
    row = with_quality_features(df).collect()[0]
    for f in QUALITY_FEATURES:
        assert row[f] == 0.0, f


def test_fit_is_deterministic_and_matches_pin(sample):
    """Refit on the pinned train split must reproduce
    PINNED_QUALITY_WEIGHTS (the bin/gen_quality_weights.py output) — the
    gate that the fitting path and the pinned literals never drift."""
    train = sample.filter("doc_id < 300")
    w1, b1 = deserialize_linear_model(fit_quality_classifier(train))
    w2, b2 = deserialize_linear_model(fit_quality_classifier(train))
    assert np.allclose(w1, w2, atol=1e-9) and abs(b1 - b2) < 1e-9
    wp, bp = PINNED_QUALITY_WEIGHTS
    assert np.allclose(w1, np.array(wp), rtol=1e-6, atol=1e-6)
    assert abs(b1 - bp) < 1e-4


def test_fitted_classifier_separates_heldout(sample):
    """Held-out accuracy on docs the fit never saw; the sample is
    paraphrase-mixed (3 sentences drawn per doc), so this is generalization,
    not memorization."""
    weights = deserialize_linear_model(fit_quality_classifier(sample.filter("doc_id < 300")))
    scored = sample.filter("doc_id >= 300").select(
        "label", quality_logit(F.col("text"), weights).alias("z")
    )
    # p >= 0.5 exactly when the log-odds are >= 0
    acc = scored.select(
        F.avg(((F.col("z") >= 0).cast("double") == F.col("label")).cast("double"))
    ).first()[0]
    assert acc >= 0.95, acc


def test_inference_plan_is_jvm_only_single_stage(spark, sample):
    """The scale guarantee: scoring 10^12 docs must not start a Python
    worker (no (Arrow|Batch)EvalPython — the whole classifier is one
    JVM-side Project; the lambda parts are CodegenFallback but never
    leave the JVM) and must not shuffle (no Exchange: embarrassingly
    parallel over input splits)."""
    scored = sample.select(
        quality_logit(F.col("text"), weights=PINNED_QUALITY_WEIGHTS).alias("z")
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.lstrip().startswith(("*(1) Project", "Project"))
