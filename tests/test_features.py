"""Feature builder, negative sampling (J7), deterministic split (O5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from predicate_finder_spark.operators.features import (
    build_features,
    negative_sample,
    train_dev_split,
)


@pytest.fixture(scope="module")
def cands(spark):
    rows = [
        ("u1", 0, "A", "B", "birthPlace", ["has", "birth", "place"], ["birth", "place"], 0.9, 2.0),
        ("u1", 0, "A", "B", "deathPlace", ["has", "birth", "place"], ["death", "place"], 0.9, 0.8),
        ("u1", 0, "A", "B", "teamSport", ["has", "birth", "place"], ["team", "sport"], 0.9, 0.1),
    ]
    return spark.createDataFrame(
        rows,
        "url string, sent_id int, subj string, obj string, pred string, "
        "rel_tokens array<string>, pred_tokens array<string>, pair_prior double, score double",
    )


def test_build_features(spark, cands):
    kg = spark.createDataFrame(
        [("A", "p1", "B"), ("A", "p2", "B"), ("X", "p", "Y")], "s string, p string, o string"
    )
    out = build_features(cands, kg)
    row = out.filter(F.col("pred") == "birthPlace").first()
    assert row["f_kg_support"] == 2
    assert row["f_prior"] == 0.9
    assert abs(row["f_overlap"] - 2 / 3) < 1e-9  # birth,place of has,birth,place
    assert row["f_score"] == 2.0
    assert 0.0 <= row["f_jw"] <= 1.0


def test_answer_sim_feature(spark, cands):
    # C10 (reference utils.py:57-91): the rewritten query's execution is a
    # KG join; the first answer's '_'-split tokens are cosined (sum-pooled)
    # against the question tokens
    import numpy as np

    from predicate_finder_spark.operators.features import make_answer_sim_udf

    kg = spark.createDataFrame(
        [("A", "p://x/birthPlace", "Paris_City"), ("A", "p://x/deathPlace", "Zed")],
        "s string, p string, o string",
    )
    c = cands.withColumn("pred_uri", F.concat(F.lit("p://x/"), F.col("pred")))
    emb = {
        "has": np.array([0.1, 0.1]),
        "birth": np.array([1.0, 0.0]),
        "place": np.array([0.0, 1.0]),
        "paris": np.array([0.6, 0.8]),
        "city": np.array([0.6, 0.8]),
        "zed": np.array([-1.0, 0.0]),
    }
    out = build_features(c, kg, answer_sim_udf=make_answer_sim_udf(spark, emb))
    rows = {r["pred"]: r["f_answer_sim"] for r in out.collect()}
    assert rows["birthPlace"] > 0.9              # Paris_City aligns with the question
    assert rows["deathPlace"] < 0.0              # Zed points away
    assert rows["teamSport"] == 0.0              # no KG answer -> 0


def test_negative_sample(spark, cands):
    gold = spark.createDataFrame(
        [("u1", "A", "birthPlace", "B")], "url string, subj string, pred string, obj string"
    )
    out = negative_sample(cands, gold).collect()
    labels = {(r["pred"], r["label"]) for r in out}
    assert ("birthPlace", 1.0) in labels
    # first non-gold candidate alphabetically = deathPlace
    assert ("deathPlace", 0.0) in labels
    assert len(out) == 2


def test_train_dev_split_deterministic(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    a = train_dev_split(df, "k").groupBy("split").count().collect()
    b = train_dev_split(df.repartition(7), "k").groupBy("split").count().collect()
    da = {r["split"]: r["count"] for r in a}
    db = {r["split"]: r["count"] for r in b}
    assert da == db
    assert 700 < da["train"] < 900  # ~80%
