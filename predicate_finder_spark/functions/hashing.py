"""Portable hashing / fingerprinting column functions.

Two design constraints:
1. **Engine-portable**: the DuckDB correctness oracle must be able to compute
   the exact same values, so the hash primitive is ``md5`` (identical hex
   output everywhere) — never Spark's xxhash64/hash (JVM-specific seeds).
2. **Scale**: everything is a pure Column expression (codegen'd, no Python),
   so MinHash/SimHash signatures for 10^12 documents are just a projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_bucket(col: Column, buckets: int) -> Column:
    """Deterministic, engine-portable bucket id in [0, buckets).

    Parses the first 8 hex chars of md5 -> int, mod buckets.  DuckDB
    equivalent: ``md5_number_lower(x) % buckets`` differs, so the oracle
    uses the same substring+parse: see oracle SQL in __spark_entry__.py.
    """
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % buckets).cast("int")


def char_shingles(col: Column, k: int) -> Column:
    """Sliding character k-grams of a string -> array<string> (distinct)."""
    return F.when(
        F.length(col) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - k + 1),
                lambda i: F.substring(col, i, k),
            )
        ),
    ).otherwise(F.array(col))


def word_shingles(tokens: Column, k: int) -> Column:
    """Word k-gram shingles joined with spaces -> array<string> (distinct)."""
    return F.when(
        F.size(tokens) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tokens) - k),
                lambda i: F.array_join(F.slice(tokens, i + 1, k), " "),
            )
        ),
    ).otherwise(F.array(F.array_join(tokens, " ")))


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature -> array<string> of length ``num_hashes``.

    Hash family h_i(s) = md5(s || '#' || i); the *minimum hex string* per
    seed is the signature component.  Lexicographic-min over a uniform hash
    is a valid min-wise family and is byte-identical in any engine with md5.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(s, F.lit("#"), i.cast("string"))))
        ),
    )


def lsh_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature for LSH bucketing -> array<struct<band:int, key:string>>.

    Two docs collide in a band iff their signatures agree on all rows of
    that band; candidate pairs are generated by an equi-join on
    (band, key) — a pure shuffle-join blocking step, no pairwise scan.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(
                F.concat(
                    b.cast("string"),
                    F.lit("|"),
                    F.array_join(F.slice(signature, b * rows_per_band + 1, rows_per_band), "|"),
                )
            ).alias("key"),
        ),
    )


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token multiset -> bigint.

    Per-token 64-bit hash from md5 (first 15 hex chars -> 60 bits is enough
    and keeps conv() exact within signed long); bit b of the output is the
    sign of sum over tokens of (+1 if bit set else -1).
    """
    tok_hash = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    # shiftright/shiftleft need literal bit counts, so bit b is extracted
    # with bitwiseAND against a powers-of-two literal array — exact integer
    # arithmetic.  (A division-based extraction goes through double and
    # loses bits 0-6 for 60-bit hashes: long/long division is double, and
    # quotients above 2^53 round, making the parity constant.)
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(60)])
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda b: F.when(
            F.aggregate(
                tok_hash,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + F.when(
                    h.bitwiseAND(F.element_at(pow2, b.cast("int") + 1)) != 0, 1
                ).otherwise(-1),
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(59)),
            lambda bit, pos: bit * F.element_at(pow2, pos.cast("int") + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial rolling-hash document fingerprint -> bigint.

    h = sum over chars (h*31 + code) mod 2^31-1, computed with higher-order
    aggregate over the codepoint array.  Engine-portable (same recurrence is
    expressible in DuckDB via list_reduce) and collision-stable across
    partitionings — it is a pure function of the string.
    """
    codes = F.transform(F.split(col, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(2147483647).cast("long"),
    )
