"""Spark's generated-class cache holds a whole commit–publish–read cycle.

Spark compiles each whole-stage-codegen class once and keeps it in an LRU
keyed by its source text (``spark.sql.codegen.cache.maxEntries``, a static
conf).  A cycle that needs more distinct classes than the cache holds
evicts every class before its next use, so replaying the cycle recompiles
all of them.  ``get_spark`` sizes the cache; this test replays one
identical cycle (commit one delta, republish the graph, five SPARQL read
shapes) into fresh state and checks that the third replay compiles at
most a quarter of what the first did.  At Spark's default size every
replay compiles the whole cycle again (~150 classes at this scale).

A replay need not compile nothing: AQE numbers whole-stage-codegen
stages in the order it plans query stages, which races with stage
completion, so a replay may generate a few classes whose source differs
from a cached one only in its stage id (seen: 0-14 per replay).
Successive commits of *different* deltas compile more, since AQE picks
join shapes by the growing state, so the test replays one delta.
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

from predicate_finder_spark.operators.extract import extract_pages
from predicate_finder_spark.operators.mentions import explode_sentences
from predicate_finder_spark.operators.query import sparql_select
from predicate_finder_spark.operators.scoring import build_idf
from predicate_finder_spark.plans.incremental import extract_triples_incremental
from predicate_finder_spark.plans.pipeline import build_scorer_dicts, materialize_graph
from predicate_finder_spark.sources.tables import write_stage

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "BENCH"))


def _read_mix(gold) -> list[str]:
    """The benchmark's five read shapes (point, scan, two-hop,
    union + optional, bounded path), parameterised by the most frequent
    subject and predicates of the delta's gold triples."""
    def ranked(values) -> list[str]:
        n = Counter(values)
        return sorted(n, key=lambda x: (-n[x], x))

    s = ranked(r["subj"] for r in gold)[0]
    p1 = ranked(r["pred"] for r in gold if r["subj"] == s)[0]
    preds = ranked(r["pred"] for r in gold)
    p2, p3 = preds[1 % len(preds)], preds[2 % len(preds)]
    return [
        f"SELECT DISTINCT ?p ?o WHERE {{ {s} ?p ?o }}",
        f"SELECT DISTINCT ?s ?o WHERE {{ ?s {p2} ?o }}",
        f"SELECT DISTINCT ?x ?z WHERE {{ {s} {p1} ?x . ?x {p2} ?z }}",
        f"SELECT DISTINCT ?o ?w WHERE {{ {{ {s} {p1} ?o }} UNION {{ {s} {p2} ?o }} "
        f"OPTIONAL {{ ?o {p3} ?w }} }}",
        f"SELECT DISTINCT ?y WHERE {{ {s} {p1}+ ?y }}",
    ]


def test_replayed_cycle_is_not_recompiled(spark, corpus, tmp_path_factory):
    from stage_profile import codegen_counters

    idf_df = build_idf(explode_sentences(extract_pages(corpus["pages"])))
    dicts = build_scorer_dicts(
        idf_df, corpus["kg_triples"], corpus["ontology"], corpus["embeddings"]
    )
    delta = corpus["pages"].filter(F.crc32("url") % 4 == 0)
    gold = corpus["gold_triples"].join(delta.select("url"), "url")
    queries = _read_mix(gold.select("subj", "pred").collect())

    def cycle():
        root = tmp_path_factory.mktemp("codegen_cycle")
        cum = extract_triples_incremental(
            spark, delta, corpus["aliases"], corpus["kg_triples"],
            corpus["ontology"], corpus["embeddings"],
            state_dir=str(root / "state"), batch_id="b0000", scorer_dicts=dicts,
        )
        vertices, edges = materialize_graph(cum)
        write_stage(vertices, str(root / "vertices"), "vertices", "h")
        write_stage(edges, str(root / "edges"), "edges", "h")
        return [
            set(map(tuple, sparql_select(cum, q, path_max_hops=4).collect()))
            for q in queries
        ]

    answers, compiled = [], []
    for _ in range(3):
        before = codegen_counters(spark)[0]
        answers.append(cycle())
        compiled.append(codegen_counters(spark)[0] - before)
    assert answers[0] == answers[1] == answers[2]
    assert any(answers[0]), "the read mix answered nothing"
    assert 4 * compiled[2] <= compiled[0], f"classes compiled per replay: {compiled}"
