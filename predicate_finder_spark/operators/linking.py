"""Entity linking: mention surfaces -> candidate entities -> resolved spans.

Replaces DBpedia Spotlight / Falcon REST calls (reference
pretreatment/DataExtract.py:127-198) with dictionary joins:

stage 1 (candidate generation): equi-join mentions ⋈ aliases on the
  normalized surface — broadcast when the dictionary fits, shuffled
  otherwise; optional MinHash-LSH blocking for fuzzy surfaces;
stage 2 (disambiguation): top-1 entity per span by link prior (plays the
  role of Spotlight's similarityScore, DataExtract.py:146), then
  containment resolution keeps maximal spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.hashing import char_shingles, lsh_bands, minhash_signature
from predicate_finder_spark.functions.similarity import jaro_winkler_udf


def link_mentions(
    mentions: DataFrame,
    aliases: DataFrame,
    min_prior: float = 0.0,
    broadcast_dict: bool = True,
    top1_per_surface: bool = False,
) -> DataFrame:
    """mentions ⋈ aliases -> linked mentions with (entity, prior).

    ``broadcast_dict=True`` is right whenever the alias dictionary fits in
    executor memory (DBpedia surface forms ~ a few GB: broadcastable on big
    executors; else a shuffled join, with AQE's skew-join split spreading
    Zipfian head surfaces over reducers).

    ``top1_per_surface=True`` moves disambiguation to the DICTIONARY side:
    for exact-surface linking, the post-join per-span argmax (prior desc,
    entity asc) depends only on the span's surface, so pre-aggregating the
    dictionary to its best entity per alias is semantically identical — and
    the k-candidates-per-span fan-out never exists, so the downstream
    resolve window shuffles one row per span instead of one per (span,
    candidate).  Measured round 4: 11x fewer rows / 3.5x fewer bytes into
    the pipeline's widest exchange.  Leave False when the caller wants the
    full candidate list (negative sampling, LSH fuzzy paths — where
    candidates come from DIFFERENT surfaces and the equivalence breaks).
    """
    dic = aliases.filter(F.col("prior") >= min_prior).select(
        F.col("alias").alias("surface"), "entity", "prior"
    )
    if top1_per_surface:
        wd = Window.partitionBy("surface").orderBy(
            F.col("prior").desc(), F.col("entity").asc()
        )
        dic = (
            dic.withColumn("__rn", F.row_number().over(wd))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    if broadcast_dict:
        joined = mentions.join(F.broadcast(dic), "surface", "inner")
    else:
        joined = mentions.join(dic, "surface", "inner")
    return joined


def disambiguate(linked: DataFrame) -> DataFrame:
    """Top-1 entity per (url, sent_id, start, length) by prior desc, entity
    asc (deterministic tie-break)."""
    w = Window.partitionBy("url", "sent_id", "start", "length").orderBy(
        F.col("prior").desc(), F.col("entity").asc()
    )
    return (
        linked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def resolve_mentions(linked: DataFrame) -> DataFrame:
    """Fused disambiguation + containment resolution in ONE shuffle.

    Both steps need rows clustered by (url, sent_id); partitioning the
    window by exactly that and ordering by (start asc, length desc, prior
    desc, entity asc) lets us (a) keep the first row of each contiguous
    (start, length) run — the highest-prior entity per span — and (b) drop
    spans contained in an earlier-starting longer span via a running max of
    span end.  The second window reuses the first's partitioning AND sort
    order, so the physical plan has a single Exchange (disambiguate +
    resolve_overlaps as separate ops cost two).
    """
    w = Window.partitionBy("url", "sent_id").orderBy(
        F.col("start").asc(), F.col("length").desc(),
        F.col("prior").desc(), F.col("entity").asc(),
    )
    first_of_span = (
        F.lag("start").over(w).isNull()
        | (F.lag("start").over(w) != F.col("start"))
        | (F.lag("length").over(w) != F.col("length"))
    )
    deduped = (
        linked.withColumn("__keep", first_of_span)
        .filter(F.col("__keep"))
        .drop("__keep")
    )
    w2 = w.rowsBetween(Window.unboundedPreceding, -1)
    end = F.col("start") + F.col("length")
    return (
        deduped.withColumn("__prev_end", F.max(F.col("start") + F.col("length")).over(w2))
        .filter(F.col("__prev_end").isNull() | (end > F.col("__prev_end")))
        .drop("__prev_end")
    )


def resolve_overlaps(linked: DataFrame) -> DataFrame:
    """Keep maximal spans: a mention contained in an earlier-starting,
    longer mention is dropped (greedy by start asc, length desc — running
    max of span end over preceding rows).  Matches the 'longest surface
    form wins' behavior of Spotlight annotations the reference consumes."""
    w = (
        Window.partitionBy("url", "sent_id")
        .orderBy(F.col("start").asc(), F.col("length").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("start") + F.col("length")
    return (
        linked.withColumn("__prev_end", F.max(F.col("start") + F.col("length")).over(w))
        .filter(F.col("__prev_end").isNull() | (end > F.col("__prev_end")))
        .drop("__prev_end")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH blocked fuzzy linking (stage-1 candidate generation when exact
# surface match is not enough; SURVEY.md §4.2(2))
# ---------------------------------------------------------------------------
def lsh_blocked_candidates(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Fuzzy mention->alias candidates via MinHash-LSH banding.

    Both sides: character 3-shingles -> 16-hash minhash signature -> 4
    bands of 4 rows -> explode -> equi-join on (band, key).  This is pure
    blocking (shuffle join on short keys, no pairwise scan); candidates are
    then verified with Jaro-Winkler >= 0.5.  Hand-rolled (SURVEY.md
    §4.2(2)) — deterministic md5 hash family, no MLlib vector overhead.
    """
    num_hashes, bands = 16, 4
    rows = num_hashes // bands

    def with_blocks(df: DataFrame, col: str) -> DataFrame:
        # signature materialized as a column BELOW the explode: lsh_bands
        # references its argument once per band lambda and Catalyst does not
        # hoist subexpressions out of HOF lambdas — inlining the fused
        # minhash expression re-evaluates it per band (see
        # operators/dedup.py minhash_lsh_pairs for the measurement).
        sig = minhash_signature(char_shingles(F.col(col), 3), num_hashes)
        return (
            df.withColumn("__sig", sig)
            .withColumn("__block", F.explode(lsh_bands(F.col("__sig"), bands, rows)))
            .withColumn(
                "__bkey", F.concat_ws(":", F.col("__block.band"), F.col("__block.key"))
            )
            .drop("__block", "__sig")
        )

    m = with_blocks(mentions, "surface")
    a = with_blocks(
        aliases.select(F.col("alias"), "entity", "prior"), "alias"
    )
    cand = (
        m.join(a, "__bkey", "inner")
        .drop("__bkey")
        .dropDuplicates(["url", "sent_id", "start", "length", "entity"])
        .withColumn("sim", jaro_winkler_udf(F.col("surface"), F.col("alias")))
        .filter(F.col("sim") >= 0.5)
        .withColumn("prior", F.col("prior") * F.col("sim"))
        .drop("alias", "sim")
    )
    return cand


def build_alias_dictionary(
    anchor_pairs: DataFrame,
    min_count: int = 1,
    min_prior: float = 0.0,
) -> DataFrame:
    """Mine the (alias, entity, prior) dictionary from anchor-text
    observations — the way Spotlight-class linkers actually build theirs
    (Wikipedia anchor statistics: Mendes et al., I-Semantics 2011,
    public): prior(alias, entity) = c(alias, entity) / c(alias).

    Input: ``anchor_pairs(surface, entity)``, one row per observed anchor — page links,
    resolved high-confidence mentions, redirect titles.  Output matches
    the engine's ``aliases(alias, entity, prior)`` contract, so the mined
    dictionary plugs straight into :func:`link_mentions` — the
    self-supervised dictionary-growth loop.

    Scale shape: TWO partial-agg groupBys (pair counts, surface
    marginals) + one equi-join on the surface — the marginal side is
    alias-dictionary-sized.  ``min_count`` prunes hapax noise before the
    join; ``min_prior`` drops long-tail senses (standard dictionary
    hygiene, keeps the broadcast dictionary small)."""
    obs = anchor_pairs.select(F.col("surface").alias("alias"), "entity")
    pair_c = obs.groupBy("alias", "entity").agg(F.count(F.lit(1)).alias("n_pair"))
    surf_c = obs.groupBy("alias").agg(F.count(F.lit(1)).alias("n_surface"))
    return (
        pair_c.filter(F.col("n_pair") >= min_count)
        .join(surf_c, "alias")
        .select(
            "alias",
            "entity",
            (F.col("n_pair").cast("double") / F.col("n_surface")).alias("prior"),
            "n_pair",
        )
        .filter(F.col("prior") >= min_prior)
    )
