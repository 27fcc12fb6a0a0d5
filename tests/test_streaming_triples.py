"""Incremental ingest: streamed triple extraction == batch extraction and
survives an epoch replay; rerank scorer strategy end-to-end."""

from __future__ import annotations

import os

import pytest

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.operators.evaluate import precision_recall
from predicate_finder_spark.operators.extract import extract_pages
from predicate_finder_spark.operators.mentions import explode_sentences
from predicate_finder_spark.operators.scoring import build_idf
from predicate_finder_spark.plans.incremental import committed_batches, incremental_state
from predicate_finder_spark.plans.pipeline import build_scorer_dicts, extract_triples
from predicate_finder_spark.streaming.ingest import streaming_triples
from predicate_finder_spark.synth import synth_corpus


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    """A 60-page corpus as 4 parquet files, plus its pinned scorer state."""
    t = synth_corpus(spark, 60)
    pages_path = str(tmp_path_factory.mktemp("stream_input") / "pages")
    t["pages"].repartition(4).write.parquet(pages_path)
    idf = build_idf(explode_sentences(extract_pages(spark.read.parquet(pages_path))))
    d = build_scorer_dicts(idf, t["kg_triples"], t["ontology"], t["embeddings"])
    return t, pages_path, d


def _stream(spark, stream_input, state_dir, checkpoint_dir):
    t, pages_path, d = stream_input
    streaming_triples(
        spark, pages_path, t["aliases"], t["kg_triples"], t["ontology"],
        t["embeddings"], state_dir, checkpoint_dir, d, max_files_per_trigger=2,
    )


def _sorted_triples(df):
    return sorted(
        (r["url"], r["subj"], r["pred"], r["obj"], round(r["score"], 9))
        for r in df.collect()
    )


def test_streaming_triples_equal_batch(spark, stream_input, tmp_path):
    state = str(tmp_path / "state")
    _stream(spark, stream_input, state, str(tmp_path / "cp"))
    streamed, _ = incremental_state(spark, state)
    t, pages_path, d = stream_input
    batch = extract_triples(
        spark, spark.read.parquet(pages_path), t["aliases"], t["kg_triples"],
        t["ontology"], t["embeddings"], scorer_dicts=d,
    )
    a = _sorted_triples(streamed)
    assert a == _sorted_triples(batch) and len(a) > 0


def test_streaming_replay_is_exactly_once(spark, stream_input, tmp_path):
    """A crash after an epoch's batch commit and before Spark's offset
    commit (simulated by deleting the last ``commits/<n>`` file) makes the
    restart replay that epoch; the cumulative triples must not change."""
    state, cp = str(tmp_path / "state"), str(tmp_path / "cp")
    _stream(spark, stream_input, state, cp)
    before = _sorted_triples(incremental_state(spark, state)[0])
    commits = os.path.join(cp, "commits")
    epochs = sorted(int(n) for n in os.listdir(commits) if n.isdigit())
    assert len(epochs) >= 2 and len(before) > 0
    last = os.path.join(commits, str(epochs[-1]))
    os.remove(last)
    crc = os.path.join(commits, f".{epochs[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    _stream(spark, stream_input, state, cp)
    assert os.path.exists(last)  # the epoch really was replayed
    assert _sorted_triples(incremental_state(spark, state)[0]) == before
    assert committed_batches(state) == [f"epoch-{e:08d}" for e in epochs]


def test_rerank_scorer_strategy(spark):
    t = synth_corpus(spark, 80)
    cfg = PipelineConfig(scorer="rerank")
    tri = extract_triples(
        spark, t["pages"], t["aliases"], t["kg_triples"], t["ontology"],
        t["embeddings"], cfg,
    )
    pr = precision_recall(tri, t["gold_triples"])
    # the linear-fallback reranker weights matcher score + overlap heaviest,
    # so the argmax is preserved on the template corpus
    assert pr["precision"] >= 0.9 and pr["recall"] >= 0.9, pr


def test_streaming_structured_channel_equals_batch(spark, tmp_path):
    """The structured channels are stateless column expressions, so they
    stream as-is: readStream -> structured_triples -> parquet sink equals
    the batch run exactly (no watermark/state needed)."""
    from predicate_finder_spark.operators.structured import structured_triples
    from predicate_finder_spark.streaming.ingest import read_page_stream
    from predicate_finder_spark.synth import synth_corpus

    t = synth_corpus(spark, 60)
    pages_path = str(tmp_path / "pages")
    out_path = str(tmp_path / "structured_stream")
    cp = str(tmp_path / "cp")
    t["pages"].repartition(4).write.parquet(pages_path)

    stream = read_page_stream(spark, pages_path, max_files_per_trigger=2)
    q = (
        structured_triples(stream, t["aliases"], t["ontology"])
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        tuple(r) for r in spark.read.parquet(out_path)
        .select("url", "subj", "pred", "obj").collect()
    }
    batch = {
        tuple(r) for r in structured_triples(
            spark.read.parquet(pages_path), t["aliases"], t["ontology"]
        ).select("url", "subj", "pred", "obj").collect()
    }
    assert streamed == batch and len(streamed) > 0
