"""Extra benchmarks for optimization work (round 6).  bench.py is FROZEN
for the driver's measurement; everything exploratory lives here.

Modes (BENCH_MODE env):
  curation   -- stage-by-stage cumulative profile of plans/curation.curate_docs
                at $SPARK_GRAFT_PAGES synthetic pages (default 200k)
  queries    -- best-of-2 noop timing of the 8 declared headline queries at
                $SPARK_GRAFT_SF_DIR (isolated, one JSON line)
  plans      -- dump .explain("formatted") for the headline queries +
                pipeline/curation/web channels into plans/r06/<name>_<tag>.txt
                (PLANS_TAG env: before|after, or parent|change), expression
                and plan ids masked so identical plans diff to nothing
  web        -- noop timing of the web/structured channel pass
  kgstages   -- cumulative marginal timing of the flagship's stages at
                $SPARK_GRAFT_PAGES synthetic pages (default 200k)
Scaffolding (session, corpus, best-of-2, even waves): BENCH/harness.py.
All timings: inputs materialized outside the window, noop sink.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "BENCH"))

from harness import (
    KG_CFG,
    best_of,
    even_waves,
    extract,
    force,
    load_corpus,
    start_spark,
    with_scorer,
)


def curation_profile() -> None:
    from pyspark.sql import functions as F

    from predicate_finder_spark.functions.analysis import lang_id, quality_score
    from predicate_finder_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from predicate_finder_spark.plans.curation import curate_docs

    spark, cpus = start_spark("pfs-bench-extra")
    c = load_corpus(spark, int(os.environ.get("SPARK_GRAFT_PAGES", "200000")))
    pages = c["pages"]
    langs = ("en", "und", "de", "fr", "es", "zh")

    def gates():
        return (
            pages.withColumn("quality", F.round(quality_score(F.col("text")), 6))
            .withColumn("lang_pred", lang_id(F.col("text")))
            .filter((F.col("quality") >= 0.15) & F.col("lang_pred").isin(*langs))
        )

    def lsh_pairs(verify_threshold):
        kept = exact_dedup(gates(), id_col="url", text_col="text").persist()
        kept.count()
        return minhash_lsh_pairs(
            kept, id_col="url", text_col="text", shingle_k=3, num_hashes=16,
            bands=4, verify_threshold=verify_threshold,
        )

    variants = {
        "gates": gates,
        "gates_exact": lambda: exact_dedup(gates(), id_col="url", text_col="text"),
        "plus_lsh_candidates": lambda: lsh_pairs(None),
        "plus_verify": lambda: lsh_pairs(0.8),
        "full": lambda: curate_docs(
            pages, id_col="url", text_col="text", min_quality=0.15,
            langs=langs, near_dup="minhash", near_dup_threshold=0.8,
        ),
    }
    out = {"pages": c["n_pages"], "cpus": cpus}
    for name, fn in variants.items():
        out[name] = best_of(spark, f"curation:{name}", lambda: force(fn()), keep=pages)
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


HEADLINERS = (
    "q08_eval_join",
    "q12_idf",
    "q19_distinct_count",
    "q20_top1_window",
    "q22_running_sum",
    "q32_ann_topk",
    "q34_minhash_sig",
    "q36_tumbling_window",
)


def queries_bench() -> None:
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    only = os.environ.get("BENCH_QUERIES")
    names = tuple(only.split(",")) if only else HEADLINERS
    spark, cpus = start_spark("pfs-bench-extra")
    Q = entrymod.queries()
    out = {"sf_dir": sf_dir, "cpus": cpus}
    for name in names:
        out[name] = best_of(spark, name, lambda: force(Q[name](spark, sf_dir)))
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


def web_bench() -> None:
    from predicate_finder_spark.operators.structured import structured_triples
    from predicate_finder_spark.operators.weblinks import (
        anchor_texts,
        host_graph,
        outlink_edges,
    )

    spark, cpus = start_spark("pfs-bench-extra")
    c = load_corpus(spark, int(os.environ.get("SPARK_GRAFT_PAGES", "200000")))
    pages = c["pages"]
    out = {"pages": c["n_pages"], "cpus": cpus}
    parts = {
        "host_graph": lambda: host_graph(outlink_edges(pages)),
        "anchor_texts": lambda: anchor_texts(pages),
        "structured": lambda: structured_triples(pages, c["aliases"], c["ontology"]),
    }
    for name, fn in parts.items():
        out[name] = best_of(spark, f"web:{name}", lambda: force(fn()))
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


def _explain_str(df) -> str:
    """``explain("formatted")`` with the per-session expression ids
    (``#123``) and plan ids (``plan_id=7``) masked, so dumps of the same
    plan from two processes are byte-identical."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", buf.getvalue()))


def dump_plans() -> None:
    import __spark_entry__ as entrymod

    from predicate_finder_spark.plans.curation import curate_docs
    from predicate_finder_spark.operators.structured import structured_triples
    from predicate_finder_spark.operators.weblinks import (
        anchor_texts,
        host_graph,
        outlink_edges,
    )

    tag = os.environ.get("PLANS_TAG", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    outdir = os.path.join(REPO, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    only = os.environ.get("PLANS_ONLY")
    names = tuple(only.split(",")) if only else None
    spark, _ = start_spark("pfs-bench-extra")
    Q = entrymod.queries()

    def dump(name: str, df) -> None:
        if names and name not in names:
            return
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(_explain_str(df))
        print(f"wrote {path}")

    for name in HEADLINERS:
        if names and name not in names:
            continue
        dump(name, Q[name](spark, sf_dir))

    # flagship + curation + web plans over a synthetic corpus.  Join
    # STRATEGY is size-dependent (auto-broadcast thresholds), so PLANS_PAGES
    # lets the dump run at the bench's 200k pages when the claim under test
    # is a join strategy; default 2k keeps the dict bootstrap fast for
    # shape-only questions.
    c = with_scorer(load_corpus(spark, int(os.environ.get("PLANS_PAGES", "2000"))))
    pages = c["pages"]
    dump("kg_pipeline", extract(spark, c))
    dump(
        "curation",
        curate_docs(
            pages, id_col="url", text_col="text", min_quality=0.15,
            langs=("en", "und", "de", "fr", "es", "zh"),
            near_dup="minhash", near_dup_threshold=0.8,
        ),
    )
    dump("web_host_graph", host_graph(outlink_edges(pages)))
    dump("web_anchor_texts", anchor_texts(pages))
    dump("web_structured", structured_triples(pages, c["aliases"], c["ontology"]))


def kg_stages() -> None:
    """Cumulative marginal timing of the flagship pipeline's stages at
    $SPARK_GRAFT_PAGES pages, under the bench's flagship task sizing
    (``harness.even_waves``)."""
    from predicate_finder_spark.operators.extract import extract_pages
    from predicate_finder_spark.operators.linking import link_mentions, resolve_mentions
    from predicate_finder_spark.operators.mentions import explode_sentences, generate_mentions
    from predicate_finder_spark.operators.predicates import (
        candidate_predicates,
        enrich_ontology,
        pair_mentions,
        predicate_words,
    )
    from predicate_finder_spark.operators.scoring import (
        make_scorer_udf,
        score_candidates,
        to_triples,
        top1_per_pair,
    )

    spark, cpus = start_spark("pfs-bench-extra")
    c = with_scorer(load_corpus(spark, int(os.environ.get("SPARK_GRAFT_PAGES", "200000"))))
    pages = c["pages"]
    idf_dict, emb_dict = c["scorer_dicts"]
    even_waves(spark, c["n_pages"], cpus)

    def _sent():
        return explode_sentences(extract_pages(pages), KG_CFG.languages)

    def _linked(sent_df):
        m = generate_mentions(sent_df, KG_CFG.max_mention_ngram)
        return resolve_mentions(
            link_mentions(m, c["aliases"], broadcast_dict=True, top1_per_surface=True)
        )

    def _cands(sent_df):
        pairs = pair_mentions(_linked(sent_df), sent_df)
        cands = candidate_predicates(pairs, c["kg_triples"], kg_prededuped=True)
        return predicate_words(enrich_ontology(cands, c["ontology"]))

    def _scored(sent_df):
        scorer = make_scorer_udf(
            spark, emb_dict, idf_dict, max_ngram=KG_CFG.max_ngram, default_idf=KG_CFG.default_idf
        )
        return score_candidates(_cands(sent_df), scorer)

    def _full(sent_df):
        s = _scored(sent_df).select("url", "sent_id", "subj", "obj", "pred", "score", "rule")
        return to_triples(top1_per_pair(s))

    out = {"pages": c["n_pages"], "cpus": cpus}
    # (a) extract+sentences cold (the narrow pandas-UDF front end)
    out["sentences_cold"] = best_of(spark, "kg:sentences", lambda: force(_sent()), keep=pages)

    # stages from a pre-persisted sentences frame (the bench's warm shape)
    sent_df = _sent().persist()
    sent_df.count()
    for name, fn in (
        ("linked", _linked),
        ("candidates", _cands),
        ("scored", _scored),
    ):
        out[name] = best_of(spark, f"kg:{name}", lambda: force(fn(sent_df)))
    out["full_top1"] = best_of(spark, "kg:full_top1", lambda: _full(sent_df).count())
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


def main() -> None:
    mode = os.environ.get("BENCH_MODE", "queries")
    {
        "curation": curation_profile,
        "queries": queries_bench,
        "plans": dump_plans,
        "web": web_bench,
        "kgstages": kg_stages,
    }[mode]()


if __name__ == "__main__":
    main()
