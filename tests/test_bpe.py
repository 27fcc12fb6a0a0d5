"""BPE tokenizer training/application (operators/bpe)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from predicate_finder_spark.functions.text import py_tokenize, tokenize
from predicate_finder_spark.operators.bpe import (
    learn_bpe,
    make_bpe_udf,
    segment_word,
)

# the word-frequency table from the Sennrich et al. 2016 worked example
SENNRICH = [("newest", 6), ("low", 5), ("widest", 3), ("lower", 2)]


def test_learn_bpe_hand_example():
    """Hand-derived merge sequence (no end-of-word marker): 'es' (9) beats
    'st' on the lexicographic tie, then 'est' (9), 'lo' (7, tie with 'ow'),
    'low' (7), 'ew' (6, tie with 'ne'/'west')."""
    merges = learn_bpe(SENNRICH, 5)
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w")]


def test_learn_bpe_deterministic_and_early_stop():
    assert learn_bpe(SENNRICH, 5) == learn_bpe(list(SENNRICH), 5)
    # a pair seen once does not repeat -> early stop, no merges
    assert learn_bpe([("ab", 1)], 10) == []
    # empty input
    assert learn_bpe([], 5) == []


def test_segment_word_roundtrip_and_example():
    merges = learn_bpe(SENNRICH, 5)
    ranks = {p: i for i, p in enumerate(merges)}
    assert segment_word("lowest", ranks) == ["low", "est"]
    assert segment_word("newest", ranks) == ["n", "ew", "est"]
    for w in ("lowest", "xyzzy", "a", "", "widestlow"):
        assert "".join(segment_word(w, ranks)) == w


def test_udf_matches_driver_reference(spark):
    """Distributed apply == the pure-python path, including the shared
    tokenizer on punctuated text."""
    merges = learn_bpe(SENNRICH, 5)
    ranks = {p: i for i, p in enumerate(merges)}
    texts = [
        "Lowest, newest!",
        "the widest low (lower) ESTimate",
        "",
        "punctuation: 'quoted' words; end.",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["p"] for r in df.select(make_bpe_udf(merges)(F.col("text")).alias("p")).collect()]
    for t, pieces in zip(texts, got):
        want = []
        for w in py_tokenize(t.lower()):
            want.extend(segment_word(w, ranks))
        assert pieces == want, (t, pieces, want)


def test_py_tokenize_is_twin_of_column_tokenizer(spark):
    texts = ["Hello, world! (it's 'fine'; really?)", "a,b c.d", "", "  spaced   out  "]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["t"] for r in df.select(tokenize(F.col("text")).alias("t")).collect()]
    assert got == [py_tokenize(t) for t in texts]


def test_end_to_end_compression(spark):
    """Merges learned from the corpus shrink its piece count vs char-level
    — the reason to train BPE at all."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    counts = Counter(w for r in docs.select("text").collect() for w in py_tokenize((r["text"] or "").lower()))
    merges = learn_bpe(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:2000], 64)
    assert len(merges) == 64
    out = docs.limit(50).select(
        F.size(make_bpe_udf(merges)(F.col("text"))).alias("n_bpe"),
        F.size(F.split(F.regexp_replace(F.lower("text"), " ", ""), "")).alias("n_char"),
    ).agg(F.sum("n_bpe").alias("b"), F.sum("n_char").alias("c")).first()
    assert out["b"] < out["c"] * 0.6
