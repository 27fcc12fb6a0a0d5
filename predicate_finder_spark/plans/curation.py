"""Training-data curation pipeline: the LLM-data operators composed the way
a corpus user runs them — quality filter -> language filter -> exact dedup
-> near-dup dedup.  KG extraction composes after it: pass the curated
pages (``.select(*pages.columns)``) to ``plans.pipeline.extract_triples``.

Every stage is one of the first-class operators (functions/analysis.py,
operators/dedup.py); this module only sequences them, so each stage keeps
its audited 100 TB shape:

- quality/lang are single codegen'd column expressions (no shuffle);
- exact dedup shuffles 16-byte md5 keys, not documents;
- near-dup candidates come from MinHash-LSH band equi-joins (blocked, no
  pairwise scan), verified on the candidate pairs only;
- the victim drop is a left_anti equi-join on the id: for every verified
  pair (id_a, id_b) with id_a < id_b, the higher id loses.  Pairwise-
  faithful — only docs VERIFIED similar to a smaller doc are dropped —
  but not transitive: in cluster {1,2,3} with pairs (1,3),(2,3) only,
  node 2 is never an id_b, so 1 AND 2 both survive.  The transitive
  alternative is one survivor per connected component of the pair graph
  (operators/graph.connected_components, which q65 runs over the same
  pair shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from predicate_finder_spark.functions.analysis import lang_id, quality_score
from predicate_finder_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)


def curate_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    near_dup: str | None = "minhash",
    near_dup_threshold: float = 0.8,
) -> DataFrame:
    """Return the surviving rows of ``docs`` (original schema plus
    ``quality`` and ``lang_pred``), after:

    1. quality gate: heuristic quality_score(text) >= min_quality — a pure
       column expression, so the gate is shuffle-free and Python-free
    2. lang_id(text) in langs               (stopword-profile argmax)
    3. exact dedup                          (lowest id per md5(text))
    4. near-dup dedup on word 3-gram shingles: ``near_dup`` = 'minhash'
       (16-hash, 4-band MinHash-LSH blocked candidates, Jaccard-verified —
       the scale path), 'jaccard' (exact inverted-index pairs — the
       oracle-friendly exact path), or None.

    The fitted quality classifier (q71), the bigram-LM perplexity score
    (q85) and the duplicate-span cut (q84, q86) are separate operators;
    compose them around this call to gate or rewrite on them.
    """
    # one shared lowered-token array for every token-level gate, in its own
    # projection (referenced more than once downstream, so CollapseProject
    # keeps the boundary and the tokenize regex runs ONCE per row); the
    # lang-profile hit array likewise — measured round 6 at 200k pages:
    # 8.0 s -> 1.6 s for the gate stage, survivors identical
    from predicate_finder_spark.functions.analysis import lang_hits
    from predicate_finder_spark.functions.text import tokenize

    toks = F.transform(tokenize(F.col(text_col)), F.lower)
    qcol = quality_score(F.col(text_col), tokens=F.col("__toks"))
    kept = (
        docs.withColumn("__toks", toks)
        .withColumn("__hits", lang_hits(F.col("__toks")))
        .withColumn("quality", F.round(qcol, 6))
        .withColumn("lang_pred", lang_id(F.col(text_col), hits=F.col("__hits")))
        .filter(
            (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*langs)
        )
        .drop("__toks", "__hits")
    )
    kept = exact_dedup(kept, id_col=id_col, text_col=text_col)
    if near_dup is None:
        return kept
    # the survivors frame feeds four consumers in the near-dup stage (band
    # keys, both verify sides, and the final anti-join's left side); left
    # lazy, the gate+dedup subtree re-executes once per consumer.  Persist
    # at the stage boundary (MEMORY_AND_DISK — spills, never OOMs); on a
    # cluster-scale run the equivalent seam is a checkpointed stage table
    # (sources/tables.py), which run_pipeline uses.
    from pyspark import StorageLevel

    kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
    # force the cache BEFORE the fan-out: the scheduler submits the four
    # consumer stages concurrently, and an unpopulated cache means each one
    # recomputes the gate+dedup subtree in parallel (measured 4x slower at
    # 20k pages than materializing once here).
    kept.count()
    if near_dup == "minhash":
        pairs = minhash_lsh_pairs(
            kept, id_col=id_col, text_col=text_col, shingle_k=3,
            num_hashes=16, bands=4, verify_threshold=near_dup_threshold,
        )
    elif near_dup == "jaccard":
        pairs = ngram_jaccard_pairs(
            kept, id_col=id_col, text_col=text_col, shingle_k=3,
            threshold=near_dup_threshold,
        )
    else:
        raise ValueError(f"unknown near_dup mode {near_dup!r}")
    victims = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return kept.join(victims, id_col, "left_anti")
