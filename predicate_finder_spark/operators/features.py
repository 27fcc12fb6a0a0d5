"""Re-ranker feature building + training-set assembly.

Spark re-expression of the reference's XGBoost feature pipeline
(xgboost/get_train_data.py:166-184 builds 6 features per candidate;
QueryFilter.py:160-167 negative-samples one wrong predicate per question;
QueryFilter.py:172-173 does the 80/20 split).

Features (columns, not libsvm lines):
  f_prior       entity-link confidence       (ref: Spotlight conf, feature 1)
  f_answer_sim  answer-set similarity        (ref: utils.py:57-91 executes
                                              the rewritten SPARQL remotely
                                              and cosines the first answer's
                                              tokens against the question —
                                              here the 'execution' is a KG
                                              join + deterministic first
                                              answer; falls back to the
                                              supporting-triple count when
                                              no embedding dict is supplied)
  f_embed_sim   cosine(rel words, pred words) (ref: utils.py:21-35)
  f_overlap     token-overlap ratio           (ref: utils.py:38-44, bug fixed)
  f_jw          mean pairwise Jaro-Winkler    (ref: utils.py:47-54)
  f_score       matcher score                 (ref: MGNN score, utils.py:94-133)

All are column expressions or Arrow-batched UDFs; the trainer itself stays
single-node (SURVEY.md §2.9 M4/M5) and consumes these columns off-cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from predicate_finder_spark.functions.similarity import jaro_winkler_tokens_udf
from predicate_finder_spark.functions.text import token_overlap_ratio


def make_answer_sim_udf(spark, emb: dict):
    """C10 similarity kernel (reference utils.py:77-91): cosine between the
    SUM of the question-token embeddings and the SUM of the answer-token
    embeddings (the reference sums, not means).  OOV tokens are skipped;
    either side empty -> 0.0."""
    emb_bc = spark.sparkContext.broadcast(emb)

    @F.pandas_udf(T.DoubleType())
    def answer_sim_udf(q: pd.Series, a: pd.Series) -> pd.Series:
        E = emb_bc.value

        def vsum(tokens):
            toks = list(tokens) if tokens is not None else []
            vs = [E[t.lower()] for t in toks if t.lower() in E]
            return np.sum(vs, axis=0) if vs else None

        out = []
        for qt, at in zip(q, a):
            qv, av = vsum(qt), vsum(at)
            if qv is None or av is None:
                out.append(0.0)
                continue
            out.append(float(qv @ av) / (float(np.linalg.norm(qv)) * float(np.linalg.norm(av)) + 1e-9))
        return pd.Series(out, dtype="float64")

    return answer_sim_udf


def build_features(
    scored: DataFrame,
    kg_triples: DataFrame,
    matcher_col: str | None = None,
    answer_sim_udf=None,
) -> DataFrame:
    """Add the 6 re-ranker feature columns to scored candidates.

    ``matcher_col``: column holding the multi-channel matcher output (M1,
    operators/models.py matcher_forward) to use as f_score — the reference
    feeds the MGNN score in this slot (utils.py:94-133); default falls back
    to the baseline IDF x cosine score.

    ``answer_sim_udf``: kernel from make_answer_sim_udf.  When given, the
    slot-2 feature f_answer_sim is the reference's answer-set similarity —
    the rewritten query's 'execution' is a KG equi-join on (subj, pred_uri)
    with min(o) as the deterministic first answer (utils.py:69-76 takes
    bindings[0]), the answer's localname splits on '_' like
    ans.split('/')[-1].split('_').  Without it, the supporting-triple count
    stands in (weaker signal, same join shape).
    """
    from predicate_finder_spark.functions.text import uri_localname

    support = (
        kg_triples.groupBy(F.col("s").alias("subj"), F.col("o").alias("obj"))
        .agg(F.count(F.lit(1)).alias("f_kg_support"))
    )
    out = (
        scored.join(support, ["subj", "obj"], "left")
        .withColumn("f_kg_support", F.coalesce(F.col("f_kg_support"), F.lit(0)))
        .withColumn("f_prior", F.col("pair_prior"))
    )
    if answer_sim_udf is not None:
        answers = kg_triples.groupBy(
            F.col("s").alias("subj"), F.col("p").alias("pred_uri")
        ).agg(F.min("o").alias("__ans"))
        ans_tokens = F.split(F.lower(uri_localname(F.col("__ans"))), "_")
        out = (
            out.join(answers, ["subj", "pred_uri"], "left")
            .withColumn(
                "f_answer_sim",
                F.when(
                    F.col("__ans").isNotNull(),
                    answer_sim_udf(F.col("rel_tokens"), ans_tokens),
                ).otherwise(F.lit(0.0)),
            )
            .drop("__ans")
        )
    else:
        out = out.withColumn("f_answer_sim", F.col("f_kg_support").cast("double"))
    out = (
        out
        .withColumn("f_overlap", token_overlap_ratio(F.col("rel_tokens"), F.col("pred_tokens")))
        .withColumn("f_jw", jaro_winkler_tokens_udf(F.col("rel_tokens"), F.col("pred_tokens")))
        .withColumn("f_score", F.col(matcher_col) if matcher_col else F.col("score"))
        .withColumn(
            "f_embed_sim",
            F.when(F.col("score") > 0, F.col("score"))  # scorer = cosine x idf
            .otherwise(F.lit(0.0)),
        )
    )
    return out


def negative_sample(
    candidates: DataFrame,
    gold: DataFrame,
    key: tuple[str, ...] = ("url", "subj", "obj"),
) -> DataFrame:
    """J7: per ``key`` emit one positive (the gold predicate) and the first
    non-gold candidate as the negative (reference QueryFilter.py:160-167
    takes the first candidate != gold).

    anti-join flavor: candidates LEFT ANTI gold -> row_number = 1.
    Output adds ``label`` (1.0 positive / 0.0 negative).  ``key`` defaults
    to the flagship's (url, subj, obj); the question pipeline uses
    (url, entity).
    """
    key = list(key)
    g = gold.select(*key, F.col("pred").alias("__gold_pred")).distinct()
    pos = (
        candidates.join(g, key, "inner")
        .filter(F.col("pred") == F.col("__gold_pred"))
        .drop("__gold_pred")
        .withColumn("label", F.lit(1.0))
    )
    w = Window.partitionBy(*key).orderBy(F.col("pred").asc())
    neg = (
        candidates.join(
            g.select(*key, F.col("__gold_pred").alias("pred")), key + ["pred"], "left_anti"
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("label", F.lit(0.0))
    )
    return pos.unionByName(neg)


def train_dev_split(df: DataFrame, key_col: str, train_frac: float = 0.8) -> DataFrame:
    """Deterministic 80/20 split by key hash (O5) — reproducible across
    runs and parallelism, unlike the reference's positional split
    (QueryFilter.py:172-173).  Adds ``split`` in {'train','dev'}."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(100),
    )
    return df.withColumn(
        "split",
        F.when(bucket < int(train_frac * 100), F.lit("train")).otherwise(F.lit("dev")),
    )
