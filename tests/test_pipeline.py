"""Golden end-to-end: P/R >= 0.95, resume idempotency, graph materialize."""

from __future__ import annotations

import os

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.operators.evaluate import precision_recall
from predicate_finder_spark.plans.pipeline import extract_triples, materialize_graph


def _run(spark, corpus, cfg=None):
    return extract_triples(
        spark, corpus["pages"], corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"], cfg,
    )


def test_end_to_end_precision_recall(spark, corpus):
    triples = _run(spark, corpus).cache()
    pr = precision_recall(triples, corpus["gold_triples"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_prebuilt_scorer_dicts_identical(spark, corpus):
    """The production reuse seam: extract_triples with precomputed
    (idf_dict, emb_dict) from build_scorer_dicts must produce byte-identical
    triples to the self-building default — bench.py and incremental runs
    rely on this equivalence."""
    from predicate_finder_spark.operators.extract import extract_pages
    from predicate_finder_spark.operators.mentions import explode_sentences
    from predicate_finder_spark.operators.scoring import build_idf
    from predicate_finder_spark.plans.pipeline import build_scorer_dicts

    idf_df = build_idf(explode_sentences(extract_pages(corpus["pages"])))
    dicts = build_scorer_dicts(
        idf_df, corpus["kg_triples"], corpus["ontology"], corpus["embeddings"]
    )
    tri_pre = extract_triples(
        spark, corpus["pages"], corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"], idf=idf_df, scorer_dicts=dicts,
    )
    tri_default = _run(spark, corpus)
    a = sorted(map(tuple, tri_pre.collect()))
    b = sorted(map(tuple, tri_default.collect()))
    assert a == b


def test_graph_materialize(spark, corpus):
    triples = _run(spark, corpus)
    v, e = materialize_graph(triples)
    assert v.count() > 0 and e.count() > 0
    assert set(v.columns) == {"id", "label", "type"}
    assert set(e.columns) == {"src", "dst", "pred", "weight"}


def test_graph_materialize_with_salience(spark, corpus):
    triples = _run(spark, corpus)
    v_plain, _ = materialize_graph(triples)
    v, _ = materialize_graph(triples, with_salience=True)
    assert set(v.columns) == {"id", "label", "type", "salience", "salience_units"}
    rows = v.collect()
    assert len(rows) == v_plain.count()  # every vertex annotated, none lost
    total = sum(r["salience"] for r in rows)
    assert 0.5 < total <= 1.001, total  # unit mass up to documented floors
    assert all(r["salience_units"] > 0 for r in rows)


def test_checkpoint_resume_idempotent(spark, corpus, tmp_path):
    cp = str(tmp_path / "cp")
    cfg = PipelineConfig(checkpoint_dir=cp)
    t1 = sorted(map(tuple, _run(spark, corpus, cfg).select("url", "subj", "pred", "obj").collect()))
    assert os.path.exists(os.path.join(cp, "triples", "_manifest.json"))
    # rerun resumes from completed stages and yields the identical table
    t2 = sorted(map(tuple, _run(spark, corpus, cfg).select("url", "subj", "pred", "obj").collect()))
    assert t1 == t2


def test_checkpoint_invalidates_on_input_change(spark, tmp_path):
    # same stage name + config hash, DIFFERENT input data -> recompute
    # (manifests record an input fingerprint: upstream manifest stats for
    # named stages, source-file listing for raw frames)
    from predicate_finder_spark.sources.tables import checkpoint_stage

    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    calls = []

    def fn():
        calls.append(1)
        return spark.read.parquet(src)

    p = str(tmp_path / "ckpt" / "stage1")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    for _ in range(2):
        out = checkpoint_stage(
            spark, fn, p, "stage1", "cfg",
            input_dfs=[spark.read.parquet(src)],
        )
    assert len(calls) == 1 and out.count() == 5  # second run resumed

    spark.range(9).write.mode("overwrite").parquet(src)  # new snapshot, same path
    out = checkpoint_stage(
        spark, fn, p, "stage1", "cfg", input_dfs=[spark.read.parquet(src)]
    )
    assert len(calls) == 2 and out.count() == 9  # stale table NOT reused
