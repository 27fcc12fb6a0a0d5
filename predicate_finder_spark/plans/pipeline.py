"""The flagship plan: pages -> triples -> graph.

Spark translation of the reference's baseline pipeline
(baseline/baseline.py:171-177; lifecycle in SURVEY.md §3.1): the two
network boundaries (Falcon REST entity linking, dbpedia.org SPARQL
predicate lookup) become the two shuffle boundaries (alias join J1,
kg_triples join J2); everything else is narrow and Arrow-pipelined.

Physical shape at scale (what .explain should show):
  scan pages [lang filter + column pruning pushed to parquet]
  -> native regexp_replace/replace extraction (narrow, in the scan's codegen)
  -> explode sentences/mentions (narrow)
  -> BroadcastHashJoin aliases (the alias dictionary is the build side)
  -> windows over (url, sent_id) [one shuffle on url-ish keys]
  -> join kg_triples on hashed (s, o) [broadcast while the KG's size
     estimate is under KG_BROADCAST_MAX_BYTES (128 MB), else shuffled;
     AQE splits skewed partitions; salting is opt-in, cfg.salted_join]
  -> pandas UDF scorer (narrow; the plan's one Python eval node)
  -> row_number top-1 window (reuses the (url, sent_id) clustering)
  -> triples sink
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.operators.extract import extract_pages
from predicate_finder_spark.operators.linking import (
    link_mentions,
    lsh_blocked_candidates,
    resolve_mentions,
)
from predicate_finder_spark.operators.mentions import explode_sentences, generate_mentions
from predicate_finder_spark.operators.predicates import (
    candidate_predicates,
    enrich_ontology,
    pair_mentions,
    predicate_words,
)
from predicate_finder_spark.operators.scoring import (
    build_idf,
    collect_embeddings,
    collect_idf,
    make_scorer_udf,
    score_candidates,
    scorer_vocab,
    to_triples,
    top1_per_pair,
)
from predicate_finder_spark.sources.tables import checkpoint_stage


def build_scorer_dicts(
    idf_df: DataFrame,
    kg_triples: DataFrame,
    ontology: DataFrame,
    embeddings: DataFrame,
    cfg: PipelineConfig | None = None,
) -> tuple[dict, dict]:
    """Build the scorer's two driver-side dictionaries (idf_dict, emb_dict)
    from a materialized IDF table — corpus-level state, built ONCE and
    reused across runs/microbatches/increments.

    The collects are bounded: idf by cfg.idf_min_df/cfg.max_vocab, the
    embedding pull by scorer_vocab (capped IDF vocab + predicate/ontology
    tokens).  On a production cluster these dictionaries are the natural
    reuse seam — the same (idf_dict, emb_dict) pair feeds every incremental
    batch until the corpus snapshot rolls, so the per-run serial residue is
    just the broadcast, not the rebuild.  Pass the result to
    :func:`extract_triples` via ``scorer_dicts=``."""
    cfg = cfg or PipelineConfig()
    idf_dict = collect_idf(idf_df, min_df=cfg.idf_min_df, max_entries=cfg.max_vocab)
    vocab = scorer_vocab(
        idf_dict,
        kg_triples=kg_triples,
        ontology=ontology,
        include_object_localnames=(cfg.scorer == "rerank"),
    )
    emb_dict = collect_embeddings(embeddings, vocab=vocab)
    return idf_dict, emb_dict


def extract_triples(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    kg_triples: DataFrame,
    ontology: DataFrame,
    embeddings: DataFrame,
    cfg: PipelineConfig | None = None,
    idf: DataFrame | None = None,
    rerank_model: bytes | None = None,
    rerank_framework: str = "linear",
    matcher_model: bytes | None = None,
    scorer_dicts: tuple[dict, dict] | None = None,
) -> DataFrame:
    """Full extraction plan; returns the triples DataFrame (lazy unless
    cfg.checkpoint_dir is set, in which case each major stage commits a
    manifest and reruns resume from the last complete stage).

    ``idf``: optional precomputed (word, idf) table.  Default builds it
    from this corpus (one extra aggregation pass).  Streaming/incremental
    runs MUST pass a fixed table — IDF is corpus-level state, and
    recomputing it per microbatch would make scores batch-dependent.

    ``rerank_model``/``rerank_framework``: serialized re-ranker for
    cfg.scorer='rerank' (fitted weights from operators/train.py with
    framework='linear', or xgboost booster bytes on a cluster that has
    it).  None falls back to the deterministic hand-weight stand-in —
    fine for plan/shape tests, unvalidated for ranking quality.

    ``scorer_dicts``: optional precomputed (idf_dict, emb_dict) from
    :func:`build_scorer_dicts` — same reuse contract as ``idf``: corpus-
    level state the caller keeps fixed across incremental runs.  The caller
    owns consistency (dicts built from one corpus snapshot scored against
    another shift scores exactly as a stale IDF table would)."""
    return _triples_plan(
        spark, pages, aliases, kg_triples, ontology, embeddings, cfg, idf,
        rerank_model, rerank_framework, matcher_model, scorer_dicts,
    )[0]


def _triples_plan(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    kg_triples: DataFrame,
    ontology: DataFrame,
    embeddings: DataFrame,
    cfg: PipelineConfig | None = None,
    idf: DataFrame | None = None,
    rerank_model: bytes | None = None,
    rerank_framework: str = "linear",
    matcher_model: bytes | None = None,
    scorer_dicts: tuple[dict, dict] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """:func:`extract_triples`'s plan, plus the ``sentences`` frame it
    persists (None when stages are checkpointed).  A caller that consumes
    the triples itself releases that cache with ``unpersist()`` once they
    are written, as ``plans.incremental`` does after each commit."""
    cfg = cfg or PipelineConfig()
    if cfg.scorer not in ("baseline", "rerank"):
        raise ValueError(f"unknown scorer {cfg.scorer!r}; use 'baseline' or 'rerank'")
    ch = cfg.config_hash()
    if rerank_model is not None or matcher_model is not None:
        # the models are part of the output's identity: a stage checkpoint
        # written under one model must not be resumed under another
        import hashlib as _hashlib

        mh = _hashlib.md5((rerank_model or b"") + b"|" + (matcher_model or b""))
        ch = ch[:8] + mh.hexdigest()[:8]
    cp = cfg.checkpoint_dir

    def stage(name: str, fn, inputs: list[str] | None = None, input_dfs=None) -> DataFrame:
        path = os.path.join(cp, name) if cp else None
        return checkpoint_stage(
            spark, fn, path, name, ch, resume=cfg.resume, inputs=inputs,
            input_dfs=input_dfs,
        )

    if cfg.dedup_snapshots:
        # multi-crawl hygiene: one page per canonical URL (newest wins,
        # deterministic tie-break) BEFORE any extraction work is spent on
        # duplicate snapshots; one shuffle on the short canon key
        from predicate_finder_spark.operators.weblinks import latest_snapshot

        pages = latest_snapshot(pages).drop("canon_url")

    # the raw pages frame is fingerprinted (source files + sizes/mtimes) so a
    # new snapshot at the same path invalidates the whole chain
    extracted = stage(
        "extracted_pages", lambda: extract_pages(pages), ["pages"], input_dfs=[pages]
    )
    sent_df = stage(
        "sentences", lambda: explode_sentences(extracted, cfg.languages), ["extracted_pages"]
    )
    persisted = None
    if cp is None:
        # no checkpoint tables to re-read from: persist ONLY the stage
        # consumed by more than one downstream branch (sentences feeds
        # mentions + pair_mentions + IDF), else the page scan and the native
        # extraction would re-run once per consumer.  linked and candidates
        # each have exactly one consumer — persisting them would
        # materialize millions of array-heavy rows into cache for zero
        # reuse (measured: the candidates cache write dominated the
        # flagship's JVM CPU at 1.2M pages) and would stop Spark fusing
        # candidate generation into the scoring stage.
        sent_df = persisted = sent_df.persist()

    def _linked() -> DataFrame:
        mentions = generate_mentions(sent_df, cfg.max_mention_ngram)
        if cfg.use_lsh_blocking:
            dic = (
                aliases.filter(F.col("prior") >= cfg.min_link_prior)
                if cfg.min_link_prior > 0.0 else aliases
            )
            linked = lsh_blocked_candidates(mentions, dic)
        else:
            linked = link_mentions(
                mentions, aliases, min_prior=cfg.min_link_prior,
                broadcast_dict=True, top1_per_surface=True,
            )
        return resolve_mentions(linked)

    resolved = stage("linked_mentions", _linked, ["sentences"])

    def _candidates() -> DataFrame:
        pairs = pair_mentions(resolved, sent_df)
        cands = candidate_predicates(
            pairs, kg_triples,
            blacklist=cfg.predicate_blacklist,
            salt_buckets=cfg.salt_buckets if cfg.salted_join else 0,
            kg_prededuped=cfg.kg_prededuped,
        )
        return predicate_words(enrich_ontology(cands, ontology))

    cands = stage("candidates", _candidates, ["linked_mentions", "sentences"])

    def _triples() -> DataFrame:
        if scorer_dicts is not None:
            idf_dict, emb_dict = scorer_dicts
        else:
            # the embedding pull inside build_scorer_dicts is capped by the
            # token universe the scorer can ever look up (capped IDF vocab +
            # predicate/ontology tokens; + KG object localnames for the
            # rerank answer-sim channel) — on open web text the embeddings
            # table is unbounded and an unfiltered collect is a driver OOM
            # (collect_embeddings docstring).
            idf_df = idf if idf is not None else build_idf(sent_df)
            idf_dict, emb_dict = build_scorer_dicts(
                idf_df, kg_triples, ontology, embeddings, cfg
            )
        scorer = make_scorer_udf(
            spark,
            emb_dict,
            idf_dict,
            max_ngram=cfg.max_ngram,
            default_idf=cfg.default_idf,
        )
        scored = score_candidates(cands, scorer)
        if cfg.scorer == "rerank":
            # 6-feature model re-ranking (reference xgboost path §3.3).
            # f_score comes from the M1 multi-channel matcher: query channel
            # = relation surface tokens, syntax channel = dependency path
            # across the surface span (mgnn/test.py:139-145), hier channel =
            # ontology labels (DataExtract.py:66-123), rel channel =
            # predicate words — all four assembled upstream, scored by the
            # numpy forward pass in operators/models.py.
            from predicate_finder_spark.operators.features import (
                build_features,
                make_answer_sim_udf,
            )
            from predicate_finder_spark.operators.models import (
                make_matcher_udf,
                make_rerank_udf,
                rerank,
            )
            from predicate_finder_spark.operators.syntax import make_syntax_path_udf

            syn = make_syntax_path_udf()
            matcher = make_matcher_udf(spark, emb_dict, model_bytes=matcher_model)
            with_channels = scored.withColumn(
                "syntax_path",
                syn(
                    F.col("rel_tokens"),
                    F.lit(0),
                    F.greatest(F.size("rel_tokens") - 1, F.lit(0)),
                ),
            ).withColumn(
                "matcher_score",
                matcher(
                    F.col("rel_tokens"), F.col("syntax_path"),
                    F.col("hier"), F.col("pred_tokens"),
                ),
            )
            feats = build_features(
                with_channels, kg_triples,
                matcher_col="matcher_score",
                answer_sim_udf=make_answer_sim_udf(spark, emb_dict),
            )
            reranked = rerank(
                feats,
                make_rerank_udf(spark, rerank_model, framework=rerank_framework),
            ).withColumn("score", F.col("rerank_score"))
            scored = reranked.drop("rerank_score")
        # project BEFORE the top-1 window: the exchange only needs the
        # window keys + ordering + output columns.  rel_tokens/pred_tokens/
        # hier arrays are scorer inputs, already consumed — letting them
        # ride the final shuffle roughly doubled its bytes (BENCH/BASELINE.md
        # bandwidth-ceiling work, round 4)
        slim = scored.select("url", "sent_id", "subj", "obj", "pred", "score", "rule")
        return to_triples(top1_per_pair(slim))

    return stage("triples", _triples, ["candidates"]), persisted


def materialize_graph(
    triples: DataFrame, with_salience: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Graph output: vertices(id, label, type) + edges(src, dst, pred,
    weight) — weight = supporting-page count, one groupBy shuffle each.

    ``with_salience=True`` annotates vertices with 5-iteration PageRank over
    the edge list (operators/graph.pagerank — integer micro-unit
    determinism), as
    ``salience`` (double) + ``salience_units`` (long): the entity-
    importance signal graph consumers sort and prune by.  One extra
    equi-join on the vertex id; the rank state is vertex-sized."""
    vertices = (
        triples.select(F.col("subj").alias("id"))
        .unionByName(triples.select(F.col("obj").alias("id")))
        .distinct()
        .select(
            "id",
            F.regexp_replace("id", "_", " ").alias("label"),
            F.lit("entity").alias("type"),
        )
    )
    edges = (
        triples.groupBy(
            F.col("subj").alias("src"), F.col("obj").alias("dst"), "pred"
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    if with_salience:
        from predicate_finder_spark.operators.graph import pagerank

        pr = pagerank(edges, n_iter=5)
        vertices = vertices.join(
            pr.select(
                F.col("node").alias("id"),
                F.col("rank").alias("salience"),
                F.col("rank_units").alias("salience_units"),
            ),
            "id",
        )
    return vertices, edges
