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
- the victim drop is a left_anti equi-join on the id.

Deterministic victim policies:

- ``victim_policy="pair"`` (default): for every verified pair (id_a, id_b)
  with id_a < id_b, the higher id loses.  Pairwise-faithful — only docs
  VERIFIED similar to a smaller doc are dropped — but not transitive:
  in cluster {1,2,3} with pairs (1,3),(2,3) only, node 2 is never an
  id_b, so 1 AND 2 both survive.
- ``victim_policy="cluster"``: connected components of the pair graph
  (operators/graph.py), one survivor (the minimum id) per component —
  the transitive-closure semantics most corpus-dedup recipes
  (MinHashLSH + union-find) use.
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
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_shingle_df: int | None = None,
    victim_policy: str = "pair",
    quality_model=None,
    ppl_model: tuple | None = None,
    max_log2_ppl: float = 6.0,
    dup_span_min_len: int | None = None,
) -> DataFrame:
    """Return the surviving rows of ``docs`` (original schema plus
    ``quality`` and ``lang_pred``), after:

    0. (optional) exact-substring span cut: ``dup_span_min_len`` runs
       dedup.duplicate_spans / cut_duplicate_spans FIRST (the Lee et al.
       order — boilerplate is removed before any quality statistics are
       computed on it), rewriting ``text_col`` in place
    1. quality gate: heuristic quality_score(text) >= min_quality by
       default; pass ``quality_model`` (model bytes from
       operators/quality.fit_quality_classifier, or a ``(weights, bias)``
       tuple like PINNED_QUALITY_WEIGHTS) to gate on the FITTED
       classifier's probability instead — still a pure column expression,
       so the gate stays shuffle-free and Python-free either way
    2. (optional) perplexity gate: pass ``ppl_model`` = the
       ``(context, bigrams, vocab_size)`` triple from
       operators/lm.fit_bigram_lm to keep only docs whose bigram-LM
       ``log2_ppl <= max_log2_ppl`` — the CCNet-style model-based head
       filter.  Costs one broadcast-model join + one per-doc partial agg;
       docs with < 2 tokens have no defined perplexity and are dropped.
    3. lang_id(text) in langs               (stopword-profile argmax)
    4. exact dedup                          (lowest id per md5(text))
    5. near-dup dedup: ``near_dup`` = 'minhash' (MinHash-LSH blocked
       candidates, Jaccard-verified — the scale path), 'jaccard' (exact
       inverted-index pairs — the oracle-friendly exact path), or None.
    """
    if dup_span_min_len is not None:
        from predicate_finder_spark.operators.dedup import (
            cut_duplicate_spans,
            duplicate_spans,
        )

        spans = duplicate_spans(
            docs, id_col=id_col, text_col=text_col, min_len=dup_span_min_len
        )
        docs = cut_duplicate_spans(docs, spans, id_col=id_col, text_col=text_col)
    # one shared lowered-token array for every token-level gate, in its own
    # projection (referenced more than once downstream, so CollapseProject
    # keeps the boundary and the tokenize regex runs ONCE per row); the
    # lang-profile hit array likewise — measured round 6 at 200k pages:
    # 8.0 s -> 1.6 s for the gate stage, survivors identical
    from predicate_finder_spark.functions.analysis import lang_hits
    from predicate_finder_spark.functions.text import tokenize

    toks = F.transform(tokenize(F.col(text_col)), F.lower)
    if quality_model is None:
        qcol = quality_score(F.col(text_col), tokens=F.col("__toks"))
    else:
        from predicate_finder_spark.operators.quality import quality_probability

        if isinstance(quality_model, tuple):
            qcol = quality_probability(F.col(text_col), weights=quality_model)
        else:
            qcol = quality_probability(F.col(text_col), quality_model)
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
    if ppl_model is not None:
        from predicate_finder_spark.operators.lm import perplexity

        ctx, bgs, vocab = ppl_model
        scores = perplexity(
            kept, ctx, bgs, vocab, id_col=id_col, text_col=text_col
        ).filter(F.col("log2_ppl") <= max_log2_ppl)
        kept = kept.join(
            scores.select(id_col, "log2_ppl"), id_col, "inner"
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
            kept, id_col=id_col, text_col=text_col, shingle_k=shingle_k,
            num_hashes=num_hashes, bands=bands,
            verify_threshold=near_dup_threshold,
        )
    elif near_dup == "jaccard":
        pairs = ngram_jaccard_pairs(
            kept, id_col=id_col, text_col=text_col, shingle_k=shingle_k,
            threshold=near_dup_threshold, max_shingle_df=max_shingle_df,
        )
    else:
        raise ValueError(f"unknown near_dup mode {near_dup!r}")
    if victim_policy == "cluster":
        from predicate_finder_spark.operators.graph import cluster_dedup

        return cluster_dedup(kept, pairs, id_col=id_col)
    if victim_policy != "pair":
        raise ValueError(f"unknown victim_policy {victim_policy!r}")
    victims = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return kept.join(victims, id_col, "left_anti")
