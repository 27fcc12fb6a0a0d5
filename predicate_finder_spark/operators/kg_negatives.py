"""Deterministic negative sampling for KG-embedding training.

TransE-family embedding trainers (Bordes et al., NIPS'13) consume one
positive triple plus k corrupted triples where the subject (even slot) or
object (odd slot) is replaced by a random entity, filtered so no
"negative" is actually a true triple.  This is the KG analog of
operators/features.negative_sample (question re-ranking negatives) and a
standard step of a training-data pipeline over a materialized graph.

Scale + determinism design:

- the corruption draw is ``md5(subj|pred|obj|slot|seed) % E`` — a pure
  function of the triple, so the sample is identical at any parallelism
  and rerun (functions/hashing.md5_bucket, engine-portable: the q74
  oracle replays the same arithmetic in DuckDB);
- the entity dictionary is DIM-SIZED by assumption (same contract as the
  alias/broadcast dictionaries everywhere else in the engine): its dense
  index is one ``row_number`` window over the dictionary — never over the
  triples — and the index joins back in broadcast;
- the false-negative guard is ONE ``left_anti`` equi-join of the
  corrupted rows against the true triple set (this also drops degenerate
  draws that picked the original entity);
- no RNG state, no driver-side loops; the only driver scalar is the
  dictionary count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.hashing import md5_bucket


def corrupt_triples(
    triples: DataFrame,
    entities: DataFrame,
    n_neg: int = 2,
) -> DataFrame:
    """Training rows ``(subj, pred, obj, slot, label)``: each distinct true
    triple with ``slot=-1, label=1.0``, plus up to ``n_neg`` corrupted
    copies (``slot=0..n_neg-1, label=0.0``; even slots replace subj, odd
    replace obj).  Corruptions that collide with a true triple (including
    the degenerate same-entity draw) are dropped, so negatives can come
    back fewer than ``n_neg`` — by design, never mislabeled.  Replacement
    entities are drawn from ``entities(entity)`` by an md5 of the triple,
    the slot and a fixed seed string."""
    base = triples.select("subj", "pred", "obj").distinct()
    ents = entities.select(F.col("entity").alias("_ent")).distinct()
    n_ent = ents.count()
    if n_ent == 0:
        raise ValueError("corrupt_triples: empty entity dictionary")
    # dim-sized window (entity dictionary, not triples) -> dense 0..E-1
    idx = ents.select(
        "_ent", (F.row_number().over(Window.orderBy("_ent")) - 1).alias("_idx")
    )
    slots = F.explode(F.array(*[F.lit(i) for i in range(n_neg)])).alias("slot")
    drawn = base.select("*", slots).withColumn(
        "_idx",
        md5_bucket(
            F.concat_ws("|", "subj", "pred", "obj", F.col("slot"), F.lit("kgneg")),
            n_ent,
        ).cast("int"),
    )
    corrupted = (
        drawn.join(F.broadcast(idx), "_idx")
        .select(
            F.when(F.col("slot") % 2 == 0, F.col("_ent"))
            .otherwise(F.col("subj"))
            .alias("subj"),
            "pred",
            F.when(F.col("slot") % 2 == 1, F.col("_ent"))
            .otherwise(F.col("obj"))
            .alias("obj"),
            "slot",
        )
        .join(base, ["subj", "pred", "obj"], "left_anti")
        .withColumn("label", F.lit(0.0))
    )
    positives = base.select(
        "subj", "pred", "obj", F.lit(-1).alias("slot"), F.lit(1.0).alias("label"),
    )
    return positives.unionByName(corrupted)
