"""As-of and range joins — operators Spark lacks natively (task brief /
pyspark guide 'Common OLAP patterns').

Both are implemented in their shuffle-scalable forms:

- **as-of join**: union the two sides into one keyed, time-ordered stream
  and carry the last-seen right-side row forward with a window
  (``last(..., ignorenulls=True)``) — ONE shuffle on the join key, no
  range-explosion, no per-group pandas.  This is the standard big-data
  as-of formulation (a sorted merge in disguise).
- **range join**: bucketize the range dimension into fixed-width buckets,
  explode each interval across the buckets it overlaps, equi-join on the
  bucket id, then exact-filter — turns a theta join into an equi join with
  bounded duplication (interval_width / bucket_width per row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_cols: list[str],
    tie_col: str | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right[right_time] <= left[left_time]`` and the same ``key``.

    Right rows at exactly the left time DO match.  Ties on right_time are
    broken by ``tie_col`` ascending-last (i.e. the max tie_col wins),
    making the result deterministic.

    Returns all left columns + ``right_cols`` (null when no match).
    """
    # tie-break lives inside the carried right-struct (null on left rows)
    order_tie = [F.col(f"__r.{tie_col}").asc()] if tie_col else []
    l_struct_t = left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType
    r_struct_t = right.select(F.struct(*right_cols).alias("s")).schema["s"].dataType
    l_tag = left.select(
        F.col(key).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__l"),
        F.lit(None).cast(r_struct_t).alias("__r"),
    )
    r_tag = right.select(
        F.col(key).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_struct_t).alias("__l"),
        F.struct(*right_cols).alias("__r"),
    )
    unioned = l_tag.unionByName(r_tag)
    # order: time asc, right rows before left rows at equal time (so an
    # exact-time right row is visible), tie_col asc so the max wins as last
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc(), *order_tie)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
    out = carried.filter(F.col("__is_left") == 1).select(
        *[F.col("__l")[c].alias(c) for c in left.columns],
        *[F.col("__last_r")[c].alias(c) for c in right_cols],
    )
    return out


def range_join(
    fact: DataFrame,
    intervals: DataFrame,
    value_col: str,
    bucket_width: float = 100.0,
) -> DataFrame:
    """Inner-join fact rows to ``intervals(lo, hi, ...)`` with
    ``lo <= value < hi`` via bucketized equi-join (no crossJoin/theta join:
    Catalyst would otherwise fall back to BroadcastNestedLoopJoin, which
    dies at scale).

    Inner only: an outer bucket join followed by the exact lo/hi filter
    would drop the very unmatched rows an outer join is supposed to keep,
    and the clamp below would additionally erase out-of-range intervals
    before they could surface as unmatched.  Outer range semantics need a
    different plan (inner result LEFT-joined back to the preserved side).

    The join first computes the fact table's observed [min, max] of
    ``value_col`` (one cheap column-pruned agg) and clips each interval's
    bucket range to it — an open-ended band like [150k, 1e9) would
    otherwise explode into (hi-lo)/bucket_width rows (40k buckets for one
    interval at width 25k).  Buckets outside the observed value range can
    never match an inner join, so inner results are identical.
    """
    bounds = None
    row = fact.agg(
        F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
    ).first()
    if row["lo"] is not None:
        bounds = (float(row["lo"]), float(row["hi"]))
    f = fact.withColumn(
        "__bucket", F.floor(F.col(value_col) / bucket_width).cast("long")
    )
    iv = bucketize_intervals(intervals, "lo", "hi", bucket_width, bounds)
    joined = f.join(iv, "__bucket", "inner").filter(
        (F.col(value_col) >= F.col("lo")) & (F.col(value_col) < F.col("hi"))
    )
    return joined.drop("__bucket")


def bucketize_intervals(
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Explode each [lo, hi) interval into one row per overlapped bucket,
    clipped to ``bounds`` when given — bounded duplication even for
    open-ended intervals (hi = +inf clips to the observed max)."""
    lo_b, hi_b = F.col(lo_col), F.col(hi_col) - 1e-9
    if bounds is not None:
        lo_b = F.greatest(lo_b, F.lit(bounds[0]))
        hi_b = F.least(hi_b, F.lit(bounds[1]))
    first_bucket = F.floor(lo_b / bucket_width).cast("long")
    last_bucket = F.floor(hi_b / bucket_width).cast("long")
    return intervals.withColumn(
        "__bucket",
        F.explode(
            # a fully-out-of-range interval clips to an empty bucket list
            # (guard: F.sequence(a, b) with a > b would count DOWNWARD)
            F.when(
                first_bucket <= last_bucket, F.sequence(first_bucket, last_bucket)
            ).otherwise(F.array().cast("array<long>")),
        ),
    )
