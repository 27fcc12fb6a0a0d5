"""Text analysis: lang-id, quality, token counting, similarity kernels."""

from __future__ import annotations

from pyspark.sql import functions as F

from predicate_finder_spark.functions import analysis as A
from predicate_finder_spark.functions.similarity import (
    cosine_expr,
    jaro_winkler,
    jaro_winkler_udf,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_lang_id(spark):
    assert _one(spark, A.lang_id(F.lit("the cat is in the house and it was fun"))) == "en"
    assert _one(spark, A.lang_id(F.lit("der hund ist nicht in das haus und zu"))) == "de"
    assert _one(spark, A.lang_id(F.lit("zzz qqq 12345"))) == "und"


def test_token_counts(spark):
    # bpe-ish: 'internationalization' (20 chars) -> 5 pieces
    assert _one(spark, A.word_token_count_bpe_ish(F.lit("internationalization"))) == 5


def test_quality_score_ordering(spark):
    good = "the quick brown fox jumps over the lazy dog and runs into the field"
    bad = "x"
    qg = _one(spark, A.quality_score(F.lit(good)))
    qb = _one(spark, A.quality_score(F.lit(bad)))
    assert 0.0 <= qb < qg <= 1.0


def test_pii_scrub(spark):
    raw = "mail a.user+tag@sub.example.org or +44-7700-900 from 192.168.0.1 end"
    out = _one(spark, A.pii_scrub(F.lit(raw)))
    assert out == "mail <EMAIL> or <PHONE> from <IP> end"
    assert _one(spark, A.pii_hit_count(F.lit(raw))) == 3
    clean = "no personal data in this sentence at all"
    assert _one(spark, A.pii_scrub(F.lit(clean))) == clean
    assert _one(spark, A.pii_hit_count(F.lit(clean))) == 0


def test_repetition_ratio(spark):
    # 'a b a b a b' -> bigrams [ab, ba, ab, ba, ab]: 5 total, 2 distinct
    assert abs(_one(spark, A.repetition_ratio(F.lit("a b a b a b"), 2)) - 0.6) < 1e-9
    # all-distinct bigrams -> 0; sub-n-token text -> 0
    assert _one(spark, A.repetition_ratio(F.lit("one two three"), 2)) == 0.0
    assert _one(spark, A.repetition_ratio(F.lit("one"), 2)) == 0.0


def test_cosine_expr(spark):
    a = F.array(F.lit(1.0), F.lit(0.0))
    b = F.array(F.lit(0.0), F.lit(1.0))
    assert abs(_one(spark, cosine_expr(a, a)) - 1.0) < 1e-6
    assert abs(_one(spark, cosine_expr(a, b))) < 1e-6


def test_jaro_winkler_pure():
    assert jaro_winkler("martha", "martha") == 1.0
    assert 0.9 < jaro_winkler("martha", "marhta") < 1.0
    assert jaro_winkler("abc", "xyz") == 0.0


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame([("dwayne", "duane")], "a string, b string")
    got = df.select(jaro_winkler_udf(F.col("a"), F.col("b")).alias("s")).first()["s"]
    assert 0.8 < got < 1.0


def test_jaro_winkler_align_udf(spark):
    """Alignment JW keeps the character signal through stopword-heavy
    queries (mean-pairwise would dilute every target toward the same
    mid-0.2s): each target token matches its best query token."""
    from predicate_finder_spark.functions.similarity import jaro_winkler_align_udf

    q = ["what", "is", "the", "birt", "plac", "of", "x"]
    df = spark.createDataFrame(
        [(q, ["birth", "place"]), (q, ["head", "office"]), (q, [])],
        "q array<string>, t array<string>",
    )
    got = [
        r["s"]
        for r in df.select(jaro_winkler_align_udf(F.col("q"), F.col("t")).alias("s")).collect()
    ]
    assert got[0] > 0.9          # birt/plac align to birth/place
    assert got[0] > got[1] + 0.15  # distractor predicate scores clearly lower
    # ("office" still aligns to "of" with a Winkler prefix boost, so the
    # distractor isn't near zero — the separation, not the absolute, matters)
    assert got[2] == 0.0          # empty target
