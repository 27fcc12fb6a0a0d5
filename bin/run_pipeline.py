#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction pipeline (north_rule:
"launched via spark-submit --py-files on multi-executor clusters").

Cluster usage:

    zip -r pfs.zip predicate_finder_spark
    spark-submit --py-files pfs.zip bin/run_pipeline.py \
        --pages s3://bucket/pages_iceberg_or_parquet \
        --aliases .../aliases --kg .../kg_triples --ontology .../ontology \
        --embeddings .../embeddings \
        --out /warehouse/kg --checkpoint-dir /warehouse/kg/_stages

Local smoke (synthetic corpus):

    python bin/run_pipeline.py --synthetic 2000 --out /tmp/kg_out
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", help="pages table path (parquet/Iceberg)")
    p.add_argument("--aliases", help="alias dictionary path")
    p.add_argument("--kg", help="kg_triples path")
    p.add_argument("--ontology", help="ontology path")
    p.add_argument("--embeddings", help="word-embedding table path")
    p.add_argument("--gold", help="optional gold triples for P/R report")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate a synthetic corpus of N pages instead of reading inputs")
    p.add_argument("--out", required=True, help="output root (triples/, vertices/, edges/)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--lsh", action="store_true", help="LSH-blocked fuzzy linking")
    p.add_argument("--salience", action="store_true",
                   help="annotate vertices with PageRank entity salience")
    p.add_argument("--structured", action="store_true",
                   help="union JSON-LD/infobox structured-channel triples")
    p.add_argument("--ntriples", action="store_true",
                   help="also dump the graph as N-Triples text (out/graph_nt)")
    p.add_argument("--dedup-snapshots", action="store_true",
                   help="keep only the newest crawl snapshot per canonical "
                        "URL before extraction")
    args = p.parse_args(argv)

    from predicate_finder_spark.config import PipelineConfig
    from predicate_finder_spark.operators.evaluate import precision_recall
    from predicate_finder_spark.plans.pipeline import _triples_plan, materialize_graph
    from predicate_finder_spark.session import get_spark
    from predicate_finder_spark.sources.tables import write_stage

    spark = get_spark(app_name="pfs-run-pipeline")
    if args.synthetic:
        from predicate_finder_spark.synth import synth_corpus

        t = synth_corpus(spark, args.synthetic)
        pages, aliases = t["pages"], t["aliases"]
        kg, onto, emb = t["kg_triples"], t["ontology"], t["embeddings"]
        gold = t["gold_triples"]
    else:
        req = ("pages", "aliases", "kg", "ontology", "embeddings")
        missing = [r for r in req if not getattr(args, r)]
        if missing:
            p.error(f"missing {missing} (or use --synthetic N)")
        pages = spark.read.parquet(args.pages)
        aliases = spark.read.parquet(args.aliases)
        kg = spark.read.parquet(args.kg)
        onto = spark.read.parquet(args.ontology)
        emb = spark.read.parquet(args.embeddings)
        gold = spark.read.parquet(args.gold) if args.gold else None

    cfg = PipelineConfig(
        checkpoint_dir=args.checkpoint_dir,
        resume=not args.no_resume,
        use_lsh_blocking=args.lsh,
        dedup_snapshots=args.dedup_snapshots,
    )
    t0 = time.time()
    # precondition for the int-keyed KG join (candidate_predicates): the
    # 64-bit entity hash must be injective over the dictionary — one tiny
    # aggregation per dictionary snapshot, run before any corpus work
    from predicate_finder_spark.operators.predicates import verify_entity_hash_injective

    n_ents = verify_entity_hash_injective(aliases, kg)
    print(f"entity dictionary: {n_ents} entities, hash-injective", flush=True)
    # without --checkpoint-dir the plan persists its sentences frame; it is
    # released once the triples are written, before the graph and P/R reads
    triples, sentences = _triples_plan(spark, pages, aliases, kg, onto, emb, cfg)
    ch = cfg.config_hash()
    if args.structured:
        # structured channel adds only facts the text channel missed
        # (left_anti on the triple key): deterministic — on overlap the
        # text channel's score/provenance win
        from predicate_finder_spark.operators.structured import structured_triples

        st = structured_triples(pages, aliases, onto)
        novel = st.join(
            triples.select("url", "subj", "pred", "obj"),
            ["url", "subj", "pred", "obj"], "left_anti",
        )
        triples = triples.unionByName(novel)
        # the channel mix is part of the output's identity (same rule as
        # model bytes in extract_triples): don't resume a text-only sink
        # into a structured one
        ch = ch[:12] + "stru"
    m_t = write_stage(triples, f"{args.out}/triples", "triples_out", ch)
    if sentences is not None:
        sentences.unpersist()
    vertices, edges = materialize_graph(
        spark.read.parquet(f"{args.out}/triples"), with_salience=args.salience
    )
    m_v = write_stage(vertices, f"{args.out}/vertices", "vertices", ch)
    m_e = write_stage(edges, f"{args.out}/edges", "edges", ch)
    if args.ntriples:
        from predicate_finder_spark.sources.rdf import write_ntriples

        write_ntriples(
            spark.read.parquet(f"{args.out}/triples").select("subj", "pred", "obj"),
            f"{args.out}/graph_nt",
        )
    metrics = {
        "wall_sec": round(time.time() - t0, 2),
        "triples": m_t["rows"], "vertices": m_v["rows"], "edges": m_e["rows"],
        "config_hash": ch,
    }
    if gold is not None:
        metrics["pr"] = precision_recall(spark.read.parquet(f"{args.out}/triples"), gold)
    with open(f"{args.out.rstrip('/')}/metrics.json".replace("file:", ""), "w") as f:
        json.dump(metrics, f, indent=2)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
