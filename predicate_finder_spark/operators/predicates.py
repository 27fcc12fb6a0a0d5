"""Mention pairing + candidate predicate generation + ontology enrichment.

Replaces the reference's per-entity live SPARQL lookups (GetPredicateList,
pretreatment/DataExtract.py:22-63 — entity-as-subject and entity-as-object
queries) with two equi-joins against a local ``kg_triples`` table, unioned;
and GetHierLabel (DataExtract.py:66-123) with an ontology dimension join
guarded by the reference's "exactly one row" rule (DataExtract.py:120-123).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.text import camel_split, uri_localname
from predicate_finder_spark.operators.joins import salted_join
from predicate_finder_spark.session import plan_bytes

# Largest KG (optimizer size estimate) whose side of the candidate join is
# broadcast: a dictionary-side hash relation of a few hundred MB per
# executor, well under the 8 GB broadcast limit.
KG_BROADCAST_MAX_BYTES = 128 << 20


def pair_mentions(resolved: DataFrame, sent_df: DataFrame) -> DataFrame:
    """Consecutive linked mentions per sentence -> pairs with the relation
    surface tokens between the two spans.

    Uses lead() over (url, sent_id) ordered by start — O(n) per sentence,
    no self-join blow-up (scale: sentences with k mentions yield k-1 pairs,
    not k^2).
    """
    w = Window.partitionBy("url", "sent_id").orderBy(F.col("start").asc())
    pairs = (
        resolved.select(
            "url", "sent_id", "start", "length", "entity", "prior",
            F.lead("entity").over(w).alias("entity2"),
            F.lead("prior").over(w).alias("prior2"),
            F.lead("start").over(w).alias("start2"),
            F.lead("length").over(w).alias("length2"),
        )
        .filter(F.col("entity2").isNotNull())
        .filter(F.col("start2") >= F.col("start") + F.col("length"))
    )
    # relation surface = tokens strictly between the two spans
    out = (
        pairs.join(sent_df.select("url", "sent_id", "tokens"), ["url", "sent_id"])
        .withColumn(
            "rel_tokens",
            F.slice(
                F.col("tokens"),
                F.col("start") + F.col("length") + 1,
                F.greatest(F.col("start2") - F.col("start") - F.col("length"), F.lit(0)),
            ),
        )
        .select(
            "url", "sent_id",
            F.col("entity").alias("e1"), F.col("entity2").alias("e2"),
            (F.col("prior") * F.col("prior2")).alias("pair_prior"),
            "rel_tokens",
        )
    )
    return out


def candidate_predicates(
    pairs: DataFrame,
    kg_triples: DataFrame,
    blacklist: tuple[str, ...] = ("#", "subject", "wiki", "hypernym", "gender"),
    salt_buckets: int = 0,
    kg_prededuped: bool = False,
) -> DataFrame:
    """pairs ⋈ kg_triples in BOTH directions (entity-as-subject and
    entity-as-object, reference DataExtract.py:25-41), blacklist-filtered
    (F2, DataExtract.py:58-62), distinct (F7).

    Output: (url, sent_id, subj, obj, pred_uri, pred, rel_tokens, rule).
    ``salt_buckets`` > 1 switches to the salted join for Zipfian head
    entities (SURVEY.md §4.2(1)).

    Shuffle-byte shape: the probe side carries the entity pair as TWO
    xxhash64 INTS (16 bytes), not strings — at web scale entity URIs
    average 30-60 bytes each and the (s, o) exchange is the pipeline's
    widest shuffle.  The authoritative strings ride only on the (tiny)
    dictionary side and are restored after the join, so output values are
    byte-identical to a string-keyed join PROVIDED the hash is injective
    over the entity dictionary — probe entities always come from the alias
    dictionary (resolve_mentions), so checking aliases ∪ kg covers the
    whole joinable domain: run :func:`verify_entity_hash_injective` once
    per dictionary snapshot (bin/run_pipeline does).
    """
    import re as _re

    pattern = "|".join(_re.escape(b) for b in blacklist)
    kg = kg_triples.filter(~F.col("p").rlike(pattern)).select("s", "p", "o")
    if not kg_prededuped:
        # ``kg_prededuped=True`` skips this dictionary-wide distinct — a
        # production KG dictionary is deduped once at ingest, and re-running
        # the two-phase aggregate per extraction shuffles the whole dict
        # every run for nothing.  Duplicate kg rows only ever duplicate
        # candidate evidence rows (the top-1 window output is invariant),
        # so the flag is a perf knob, not a semantics knob.
        kg = kg.distinct()
    kg_enc = kg.select(
        F.xxhash64("s").alias("__sid"), F.xxhash64("o").alias("__oid"), "s", "p", "o"
    )

    # Explode each pair into both orientations BEFORE the join: one probe
    # frame, ONE kg join — a union of two per-direction joins would duplicate
    # the whole upstream pairs subtree in the physical plan and scan kg twice
    # (verified via explain; SURVEY.md J2 needs both directions, reference
    # DataExtract.py:25-41).
    both = pairs.select(
        "url", "sent_id", "rel_tokens", "pair_prior",
        F.explode(
            F.array(
                F.struct(
                    F.xxhash64("e1").alias("__sid"), F.xxhash64("e2").alias("__oid"),
                    F.lit("forward").alias("rule"),
                ),
                F.struct(
                    F.xxhash64("e2").alias("__sid"), F.xxhash64("e1").alias("__oid"),
                    F.lit("reverse").alias("rule"),
                ),
            )
        ).alias("d"),
    ).select("url", "sent_id", "rel_tokens", "pair_prior", "d.__sid", "d.__oid", "d.rule")

    if salt_buckets > 1:
        j = salted_join(
            both, kg_enc, ["__sid", "__oid"], buckets=salt_buckets, salt_source="url"
        )
    else:
        # Join strategy is picked deliberately, not left to the planner's
        # 10 MB auto-broadcast estimate: the kg dictionary is dimension-
        # sized (it does NOT grow with the corpus), while the probe side is
        # the pipeline's widest frame (2 directions x pairs, each row
        # carrying its rel_tokens array).  Broadcasting the dictionary when
        # it fits removes the probe's (__sid, __oid) exchange outright AND
        # keeps the probe partitioned by (url, sent_id), which the top-1
        # window downstream reuses — two exchanges of the widest data gone.
        # The decision keys on the optimizer's size estimate against
        # KG_BROADCAST_MAX_BYTES; a DBpedia-scale KG blows the cap and falls
        # back to the shuffled join, so the decision is scale-adaptive.
        fits = plan_bytes(kg_triples) <= KG_BROADCAST_MAX_BYTES
        build = F.broadcast(kg_enc) if fits else kg_enc
        j = both.join(build, ["__sid", "__oid"], "inner")
    # no dropDuplicates here: duplicate candidates (the same pair mentioned
    # at two positions in a sentence) are legitimate evidence rows, and the
    # top-1 window downstream picks exactly one row per pair anyway — a
    # dedup would cost a full extra shuffle for zero output change
    return j.select(
        "url", "sent_id",
        F.col("s").alias("subj"), F.col("o").alias("obj"),
        F.col("p").alias("pred_uri"), "rel_tokens", "pair_prior", "rule",
    ).withColumn("pred", uri_localname("pred_uri"))


def verify_entity_hash_injective(aliases: DataFrame, kg_triples: DataFrame) -> int:
    """Assert xxhash64 is injective over the joinable entity domain
    (alias-dictionary entities ∪ kg subjects ∪ kg objects) — the
    correctness precondition for candidate_predicates' int-keyed join.

    One tiny aggregation job over dictionary-sized tables (DBpedia-scale:
    ~10^7 entities — trivially checkable even at full scale; a 64-bit
    collision within 10^7 values has probability ~3e-6 and would be caught
    here, before any corpus work runs).  Returns the entity count; raises
    ValueError listing colliding entities otherwise.
    """
    ents = (
        aliases.select(F.col("entity").alias("e"))
        .unionByName(kg_triples.select(F.col("s").alias("e")))
        .unionByName(kg_triples.select(F.col("o").alias("e")))
        .distinct()
    )
    bad = (
        ents.groupBy(F.xxhash64("e").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.collect_list("e").alias("es"))
        .filter(F.col("n") > 1)
    )
    collisions = bad.limit(5).collect()
    if collisions:
        raise ValueError(
            "xxhash64 collision in entity dictionary; int-keyed KG join "
            f"unsafe for: {[r['es'] for r in collisions]}"
        )
    return ents.count()


def enrich_ontology(candidates: DataFrame, ontology: DataFrame) -> DataFrame:
    """Left-join ontology labels with the reference's exactly-one-row guard
    (DataExtract.py:120-123): a predicate with != 1 ontology rows falls back
    to [pred, pred] (reference mgnn/test.py:158-160).

    Adds ``hier`` array<string>: [label, range_label] or fallback.
    """
    w = Window.partitionBy("predicate")
    onto = (
        ontology.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") == 1)
        .drop("__n")
    )
    out = candidates.join(
        F.broadcast(onto), candidates["pred"] == onto["predicate"], "left"
    ).drop("predicate")
    return out.withColumn(
        "hier",
        F.when(
            F.col("label").isNotNull(),
            F.array(F.col("label"), F.coalesce(F.col("range_label"), F.col("label"))),
        ).otherwise(F.array(F.col("pred"), F.col("pred"))),
    ).drop("label", "range_label")


def predicate_words(candidates: DataFrame) -> DataFrame:
    """camelCase-split the predicate local name (C2) -> ``pred_tokens``."""
    return candidates.withColumn("pred_tokens", camel_split("pred"))
