"""Portable hashing: minhash/simhash/LSH/fingerprint determinism + behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from predicate_finder_spark.functions import hashing as H
from predicate_finder_spark.functions.text import tokenize


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_md5_bucket_range_and_determinism(spark):
    vals = (
        spark.range(200)
        .select(H.md5_bucket(F.col("id").cast("string"), 8).alias("b"))
        .groupBy("b").count().collect()
    )
    buckets = {r["b"] for r in vals}
    assert buckets <= set(range(8)) and len(buckets) == 8


def test_char_shingles(spark):
    assert _one(spark, H.char_shingles(F.lit("abcd"), 3)) == ["abc", "bcd"]
    assert _one(spark, H.char_shingles(F.lit("ab"), 3)) == ["ab"]


def test_minhash_identical_docs_identical_sigs(spark):
    s1 = H.minhash_signature(H.word_shingles(tokenize(F.lit("the quick brown fox")), 2), 8)
    s2 = H.minhash_signature(H.word_shingles(tokenize(F.lit("the quick brown fox")), 2), 8)
    assert _one(spark, s1) == _one(spark, s2)


def test_minhash_similarity_monotonic(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("dog", "cat")
    far = "completely different words in every position of this sentence here now"
    def sig(t):
        return _one(spark, H.minhash_signature(H.word_shingles(tokenize(F.lit(t)), 2), 16))
    b, n, f = sig(base), sig(near), sig(far)
    agree_near = sum(x == y for x, y in zip(b, n))
    agree_far = sum(x == y for x, y in zip(b, f))
    assert agree_near > agree_far


def test_simhash_close_for_similar(spark):
    t1 = tokenize(F.lit("the quick brown fox jumps over the lazy dog"))
    t2 = tokenize(F.lit("the quick brown fox jumps over the lazy cat"))
    t3 = tokenize(F.lit("entirely unrelated content about spark partitions"))
    s1, s2, s3 = (_one(spark, H.simhash64(t)) for t in (t1, t2, t3))
    d12 = bin(s1 ^ s2).count("1")
    d13 = bin(s1 ^ s3).count("1")
    assert d12 < d13


def test_simhash_single_token_equals_token_hash(spark):
    # For a single token the sign-sum per bit is +1/-1, so the signature IS
    # the token's 60-bit hash.  Pins every bit — a division-based extraction
    # loses bits 0-6 to double rounding (the sandbox ADVICE regression).
    import hashlib

    tok = "regression"
    expect = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
    got = _one(spark, H.simhash64(F.array(F.lit(tok))))
    assert got == expect


def test_simhash_low_bits_vary(spark):
    # with exact bit extraction the 7 lowest bits are NOT constant across docs
    sigs = (
        spark.range(64)
        .select(H.simhash64(F.array(F.col("id").cast("string"))).alias("s"))
        .collect()
    )
    low = {r["s"] & 0x7F for r in sigs}
    assert len(low) > 1


def test_rolling_fingerprint_matches_python(spark):
    s = "hello world"
    expect = 0
    for ch in s:
        expect = (expect * 31 + ord(ch)) % 2147483647
    assert _one(spark, H.rolling_fingerprint(F.lit(s))) == expect
