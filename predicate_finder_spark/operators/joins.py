"""Salted (skew-defeating) equi-join.

The reference's every 'join' is a per-row HTTP call in a Python loop
(pretreatment/DataExtract.py:22-63,127-198).  Here joins are explicit Spark
joins with scale-aware physical strategies:

- **broadcast** (``F.broadcast`` at the call site) when the dictionary
  side fits on executors (aliases, ontology);
- **salted shuffle** when the probe side has Zipfian head keys (head
  entities: the reference serializes on them at DataExtract.py:222; at
  10^12 docs one hot key would stall a single reducer for hours) — the key
  is decorated with a deterministic salt in [0, S) on the big side and the
  small side is replicated S ways;
- AQE skew-join splitting stays on as the backstop
  (spark.sql.adaptive.skewJoin.enabled, session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from predicate_finder_spark.functions.hashing import md5_bucket


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    buckets: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-defeating inner equi-join: salt the big side, replicate the
    small side.

    ``salt_source``: a column of ``big`` that varies within a key group
    (e.g. url) so the salt is deterministic yet spreads each hot key over
    ``buckets`` reducers.  Without it the salt falls back to a hash of the
    full row content — still deterministic under task retry (a
    monotonically_increasing_id salt would not be: ids shift when a stage
    is re-attempted, moving rows between reducers mid-job).
    """
    if salt_source:
        salt_col = md5_bucket(F.concat_ws("", *(on + [salt_source])), buckets)
    else:
        row_repr = F.concat_ws("", *[F.col(c).cast("string") for c in big.columns])
        salt_col = md5_bucket(row_repr, buckets)
    big_s = big.withColumn("__salt", salt_col)
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<int>"))
    )
    out = big_s.join(small_s, on + ["__salt"], "inner")
    return out.drop("__salt")
