"""Entity co-occurrence statistics: PMI over mention pairs.

Distant-supervision pipelines weight candidate (subj, obj) pairs by how
surprisingly often the two entities co-occur; pointwise mutual
information over the pair/marginal counts is the standard prior
(Church & Hanks 1990, public).  The reference scores candidates by
IDF x cosine only; this adds the corpus-statistics prior a web-scale
distant-supervision extractor runs first.

Scale shape: THREE partial-agg groupBys (pairs, left marginal, right
marginal — each combines map-side before its shuffle) and two broadcast-
eligible joins of the pair frame against the marginal frames (marginals
are entity-dictionary-sized).  The total count is one scalar aggregate.
No windows, no driver loops; log2 is a codegen'd column expression, so
the whole statistic is value-exact SQL-expressible (q76).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pmi_pairs(pairs: DataFrame) -> DataFrame:
    """``(subj, obj, n_pair, pmi)`` for every observed (subj, obj) pair.

    PMI = log2( N * c(a,b) / (c(a) * c(b)) ) where N is the total number
    of pair observations, c(a) the left marginal, c(b) the right marginal
    — the directed formulation (an entity's subject and object roles are
    counted separately, matching how distant supervision reads a pair).
    """
    obs = pairs.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
    pair_c = obs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_pair"))
    left_c = obs.groupBy("a").agg(F.count(F.lit(1)).alias("n_a"))
    right_c = obs.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    n_total = obs.count()
    return (
        pair_c.join(left_c, "a")
        .join(right_c, "b")
        .select(
            F.col("a").alias("subj"),
            F.col("b").alias("obj"),
            "n_pair",
            F.log2(
                F.lit(float(n_total))
                * F.col("n_pair").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("pmi"),
        )
    )


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate schema-induction statistics: ``(pred, n_triples,
    n_subj, n_obj, functionality, inverse_functionality)``.

    functionality = n_subj / n_triples (1.0 = every subject asserts the
    predicate once — a functional property like birthPlace); the inverse
    reads the same off the object side.  The signal ontology-QA uses to
    flag extraction blow-ups (a "functional" predicate suddenly averaging
    5 objects per subject is a bug upstream).

    ONE partial-agg groupBy over the triple set; distincts are computed
    inside the same aggregate (no second scan, no join)."""
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
        (F.countDistinct("subj").cast("double") / F.count(F.lit(1)))
        .alias("functionality"),
        (F.countDistinct("obj").cast("double") / F.count(F.lit(1)))
        .alias("inverse_functionality"),
    )
