"""Deterministic sampling + training-data mixture operators.

An LLM training-data pipeline rarely trains on the raw corpus: it
subsamples (to hit a token budget) and re-weights groups (domains,
languages, quality tiers) with temperature sampling — p_group ∝ n_group^τ,
τ < 1 upweighting the tail (the scheme described publicly for
multilingual/multi-source LLM training mixes, e.g. the mC4/PaLM data
cards).  Both rest here on *pure deterministic column arithmetic*, an
md5 draw per row (``_hash32``) compared with a threshold, so that (a)
re-runs and resumed runs select the identical sample — a pipeline
invariant at 10^12 docs where "random" sampling is unreproducible, and
(b) the DuckDB oracle computes the same rows bit-for-bit.

Scale shape (100 TB):

- the draw is a codegen'd FILTER on an md5 threshold: no RNG state,
  no seeds to coordinate across executors.
- ``temperature_sample`` adds ONE map-side-combinable groupBy over the
  corpus (group → count: the only wide exchange, dimension-sized
  output), computes per-group keep-thresholds on that dimension-sized
  frame, and broadcast-joins them back onto the corpus as a filter.
  The corpus itself never shuffles.

Engine portability: thresholds are derived with integer arithmetic plus
a fixed chain of correctly-rounded IEEE-754 ops (sqrt, *, /) in a pinned
association order, so Spark and DuckDB produce bit-identical keep
decisions (same trick as functions/hashing.md5_bucket).  Group weights
n^τ are quantized to ``floor(n^τ · 10^6)`` BIGINTs so the normalizing
sum is an order-independent integer sum, never a float reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 4294967296  # 2^32: first 8 md5 hex chars parse into [0, 2^32)
_WEIGHT_SCALE = 1000000


def _hash32(col: Column) -> Column:
    """Uniform deterministic draw in [0, 2^32) from md5 of the value."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def mixture_plan(
    df: DataFrame,
    group_col: str,
    target_rows: int,
    tau: float = 0.5,
) -> DataFrame:
    """Per-group temperature-sampling plan: (group, n_rows, weight, thr32).

    weight = floor(n^τ · 10^6) (BIGINT); the group's keep-threshold is

        thr32 = min(2^32, floor(target · 2^32 · weight / Σweights / n))

    so expected kept rows ≈ target · weight/Σweights per group, capped
    at the group's full size.  τ = 1 reproduces proportional sampling,
    τ → 0 flattens the mix toward uniform-per-group.  For τ = 0.5 the
    weight uses sqrt (correctly rounded IEEE, hence bit-identical in
    the DuckDB oracle); other τ go through pow, which is only
    faithfully rounded on some libm's — fine for sampling, but the
    value-exact oracle is pinned at τ = 0.5.

    The output is dimension-sized (one row per group): the corpus-side
    cost is one partial-aggregated count.
    """
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    n = F.col("n_rows").cast("double")
    raw = F.sqrt(n) if tau == 0.5 else F.pow(n, F.lit(float(tau)))
    weighted = counts.withColumn(
        "weight", F.floor(raw * F.lit(float(_WEIGHT_SCALE))).cast("long")
    )
    # Integer sum over a dimension-sized frame: order-independent, and the
    # unpartitioned window is safe because the frame is group-cardinality
    # rows (dimensions), never the corpus.
    total = weighted.agg(F.sum("weight").alias("total_weight"))
    thr = F.least(
        F.lit(_HASH_SPACE).cast("long"),
        F.floor(
            F.lit(float(target_rows) * float(_HASH_SPACE))
            * F.col("weight").cast("double")
            / F.col("total_weight").cast("double")
            / F.col("n_rows").cast("double")
        ).cast("long"),
    )
    return (
        weighted.crossJoin(F.broadcast(total))
        .withColumn("thr32", thr)
        .select("group", "n_rows", "weight", "thr32")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target_rows: int,
    tau: float = 0.5,
) -> DataFrame:
    """Temperature-resample ``df`` toward ~``target_rows`` total rows with
    per-group share ∝ n_group^τ.  Returns surviving rows of ``df``
    unchanged (same columns).

    Plan: corpus → one groupBy count (dimension-sized result) →
    broadcast keep-threshold join → codegen'd filter.  Deterministic:
    the kept set is a pure function of (key, group sizes, τ, target).
    """
    plan = mixture_plan(df, group_col, target_rows, tau=tau)
    return (
        df.join(
            F.broadcast(plan.select("group", "thr32")),
            df[group_col] == F.col("group"),
        )
        .filter(_hash32(F.col(key_col)) < F.col("thr32"))
        .drop("group", "thr32")
    )
