"""Incremental batch extraction (plans/incremental): delta-only
processing, batch-boundary invariance, crash-safe commit markers."""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.operators.extract import extract_pages
from predicate_finder_spark.operators.mentions import explode_sentences
from predicate_finder_spark.operators.scoring import build_idf
from predicate_finder_spark.plans.incremental import (
    compact_batches,
    committed_batches,
    extract_triples_incremental,
    incremental_state,
    seen_content_hashes,
)
from predicate_finder_spark.plans.pipeline import build_scorer_dicts, extract_triples


@pytest.fixture(scope="module")
def dicts(spark, corpus):
    """Corpus-level scorer state, pinned once — the incremental contract."""
    idf_df = build_idf(explode_sentences(extract_pages(corpus["pages"]))).cache()
    d = build_scorer_dicts(
        idf_df, corpus["kg_triples"], corpus["ontology"], corpus["embeddings"]
    )
    return idf_df, d


def _sorted_triples(df):
    return sorted(
        (r["url"], r["subj"], r["pred"], r["obj"], round(r["score"], 9))
        for r in df.collect()
    )


def _run_inc(spark, corpus, dicts, pages, state_dir, batch_id):
    idf_df, d = dicts
    return extract_triples_incremental(
        spark, pages, corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"],
        state_dir=state_dir, batch_id=batch_id, idf=idf_df, scorer_dicts=d,
    )


def test_batched_equals_full_run(spark, corpus, dicts, tmp_path_factory):
    """Two incremental batches == one full run, triple-for-triple: the
    per-page-decomposability claim, executed."""
    state = str(tmp_path_factory.mktemp("inc_state"))
    pages = corpus["pages"]
    first = pages.filter(F.crc32(F.col("url")) % 5 < 3)  # ~60%
    cum1 = _run_inc(spark, corpus, dicts, first, state, "b1")
    n1 = cum1.count()
    assert n1 > 0
    # second batch gets the FULL snapshot; anti-join must reduce it to the delta
    cum2 = _run_inc(spark, corpus, dicts, pages, state, "b2")
    idf_df, d = dicts
    full = extract_triples(
        spark, pages, corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"], idf=idf_df, scorer_dicts=d,
    )
    assert _sorted_triples(cum2) == _sorted_triples(full)
    assert cum2.count() > n1
    assert committed_batches(state) == ["b1", "b2"]


def test_committed_batch_is_noop_and_empty_delta(spark, corpus, dicts, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("inc_state2"))
    pages = corpus["pages"]
    cum1 = _run_inc(spark, corpus, dicts, pages, state, "b1")
    want = _sorted_triples(cum1)
    # same batch_id again: committed -> read-only no-op
    again = _run_inc(spark, corpus, dicts, pages, state, "b1")
    assert _sorted_triples(again) == want
    # new batch over the same snapshot: empty delta, nothing new committed
    again2 = _run_inc(spark, corpus, dicts, pages, state, "b2")
    assert _sorted_triples(again2) == want
    assert committed_batches(state) == ["b1"]


def test_torn_batch_is_invisible_and_reprocessed(spark, corpus, dicts, tmp_path_factory):
    """A batch dir without its marker (crash before commit), or with a torn
    one, is ignored by readers; its pages are reprocessed by the next batch,
    and a retry under the torn batch's own id recommits it."""
    state = str(tmp_path_factory.mktemp("inc_state3"))
    pages = corpus["pages"]
    cum1 = _run_inc(spark, corpus, dicts, pages, state, "b1")
    want = _sorted_triples(cum1)
    # simulate the crash: delete the marker, leave the data dirs
    os.remove(os.path.join(state, "batches", "b1", "_batch.json"))
    t, u = incremental_state(spark, state)
    assert t is None and u is None
    assert committed_batches(state) == []
    # rerun under a new id: full delta reprocessed, same cumulative result
    cum2 = _run_inc(spark, corpus, dicts, pages, state, "b2")
    assert _sorted_triples(cum2) == want
    # torn marker bytes (crash mid-write of a non-tmp file) also invisible
    with open(os.path.join(state, "batches", "b2", "_batch.json"), "w") as f:
        f.write('{"batch_id": "b2", "commit')
    assert committed_batches(state) == []
    # retrying the SAME batch id (a replayed stream epoch) recommits it
    cum3 = _run_inc(spark, corpus, dicts, pages, state, "b2")
    assert cum3 is not None and _sorted_triples(cum3) == want
    assert committed_batches(state) == ["b2"]


def test_requires_pinned_scorer_state(spark, corpus, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("inc_state4"))
    with pytest.raises(ValueError, match="scorer state"):
        extract_triples_incremental(
            spark, corpus["pages"], corpus["aliases"], corpus["kg_triples"],
            corpus["ontology"], corpus["embeddings"],
            state_dir=state, batch_id="b1",
        )


def test_content_dedup_skips_crawl_mirrors(spark, corpus, dicts, tmp_path_factory):
    """dedup_content=True: a later batch whose pages carry already-seen
    TEXT at new urls adds zero triples, its urls still commit as seen,
    and the hashes state table accumulates."""
    idf_df, d = dicts
    state = str(tmp_path_factory.mktemp("inc_mirror"))
    pages = corpus["pages"]

    def run(p, bid):
        return extract_triples_incremental(
            spark, p, corpus["aliases"], corpus["kg_triples"],
            corpus["ontology"], corpus["embeddings"],
            state_dir=state, batch_id=bid, idf=idf_df, scorer_dicts=d,
            dedup_content=True,
        )

    cum1 = run(pages, "b1")
    n1 = cum1.count()
    assert n1 > 0
    h1 = seen_content_hashes(spark, state)
    assert h1 is not None and h1.count() > 0

    # batch 2: same texts re-hosted at mirror urls -> all content-duped
    mirrors = pages.withColumn("url", F.concat(F.lit("http://mirror.example/"), F.col("url")))
    cum2 = run(mirrors, "b2")
    assert cum2.count() == n1
    # mirror urls are recorded as processed (never re-enter a delta)
    _, seen = incremental_state(spark, state)
    assert seen.filter(F.col("url").startswith("http://mirror.example/")).count() > 0
    # a third run of the same mirrors is a committed-batch no-op
    assert run(mirrors, "b2").count() == n1


def test_content_dedup_within_batch(spark, corpus, dicts, tmp_path_factory):
    """Two urls with identical text inside ONE batch: only the lowest url
    extracts (exact-dedup semantics), both urls commit as seen."""
    idf_df, d = dicts
    state = str(tmp_path_factory.mktemp("inc_withinbatch"))
    one = corpus["pages"].orderBy("url").limit(1)
    dup = one.withColumn("url", F.concat(F.lit("zzz-"), F.col("url")))
    batch = one.unionByName(dup)
    cum = extract_triples_incremental(
        spark, batch, corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"],
        state_dir=state, batch_id="b1", idf=idf_df, scorer_dicts=d,
        dedup_content=True,
    )
    # no triple from the zzz- mirror; all from the original url
    assert cum.filter(F.col("url").startswith("zzz-")).count() == 0
    _, seen = incremental_state(spark, state)
    assert seen.count() == 2


def test_time_travel_and_compaction(spark, corpus, dicts, tmp_path_factory):
    """as_of reads reproduce historical state; compaction folds batches
    atomically with identical cumulative content; replaced batches are
    hidden and no longer addressable."""
    idf_df, d = dicts
    state = str(tmp_path_factory.mktemp("inc_compact"))
    pages = corpus["pages"]
    first = pages.filter(F.crc32(F.col("url")) % 5 < 3)

    def run(p, bid):
        return extract_triples_incremental(
            spark, p, corpus["aliases"], corpus["kg_triples"],
            corpus["ontology"], corpus["embeddings"],
            state_dir=state, batch_id=bid, idf=idf_df, scorer_dicts=d,
        )

    run(first, "b1")
    cum = run(pages, "b2")
    full = _sorted_triples(cum)

    # time travel: as_of b1 == just b1's triples
    t_b1, u_b1 = incremental_state(spark, state, as_of="b1")
    b1_direct = spark.read.parquet(f"{state}/batches/b1/triples")
    assert _sorted_triples(t_b1) == _sorted_triples(b1_direct)
    assert u_b1.count() == first.select("url").distinct().count()

    # compact: one visible batch, identical cumulative state
    new_id = compact_batches(spark, state)
    assert new_id is not None
    assert committed_batches(state) == [new_id]
    # replaced batches are hidden, not deleted: dirs and markers stay on disk
    for b in ("b1", "b2"):
        assert os.path.exists(os.path.join(state, "batches", b, "_batch.json"))
    t2, u2 = incremental_state(spark, state)
    assert _sorted_triples(t2) == full
    assert u2.count() == pages.select("url").distinct().count()

    # compacted-away batch is not addressable
    with pytest.raises(ValueError, match="compacted away"):
        incremental_state(spark, state, as_of="b1")

    # a further run on already-seen pages is an empty delta: no new batch
    cum3 = run(pages, "b3")
    assert _sorted_triples(cum3) == full
    # compacting a single visible batch is a no-op
    assert compact_batches(spark, state) is None
    assert committed_batches(state) == [new_id]


def _jobs(spark, group, fn):
    """Number of Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_cost_is_flat_in_batch_count(spark, corpus, dicts, tmp_path_factory):
    """Same-size commits at batch 2 and batch 10 run the same number of
    jobs, and reading the state of 10 batches runs none: a commit costs in
    proportion to its delta, not to the committed state."""
    path = str(tmp_path_factory.mktemp("inc_deltas") / "pages")
    corpus["pages"].withColumn(
        "delta", ((F.row_number().over(Window.orderBy("url")) - 1) % 10).cast("int")
    ).write.partitionBy("delta").parquet(path)
    state = str(tmp_path_factory.mktemp("inc_flat"))
    jobs = []
    for k in range(10):
        pages = spark.read.parquet(f"{path}/delta={k}")
        jobs.append(_jobs(spark, f"inc_flat/commit{k}", lambda: _run_inc(
            spark, corpus, dicts, pages, state, f"b{k:02d}")))
    assert len(committed_batches(state)) == 10
    assert jobs[1] == jobs[9], jobs
    assert _jobs(spark, "inc_flat/state", lambda: incremental_state(spark, state)) == 0


def test_commits_release_the_sentences_cache(spark, corpus, dicts, tmp_path_factory):
    """The ``sentences`` cache a commit's plan takes is released once its
    triples are written: a long-lived caller's persistent RDDs stay flat."""
    state = str(tmp_path_factory.mktemp("inc_cache"))
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()
    after = []
    for k in range(3):
        pages = corpus["pages"].filter(F.crc32("url") % 3 == k)
        _run_inc(spark, corpus, dicts, pages, state, f"b{k}")
        after.append(persistent().size())
    assert len(committed_batches(state)) == 3
    assert after == [before] * 3, (before, after)


def _per_dir_union(spark, state, names, table):
    """The reference reader: one inferred ``spark.read.parquet`` per batch
    directory, unioned by name."""
    frames = [
        spark.read.parquet(p)
        for p in (os.path.join(state, "batches", n, table) for n in names)
        if os.path.isdir(p)
    ]
    return reduce(DataFrame.unionByName, frames)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def mirror_state(spark, corpus, dicts, tmp_path_factory):
    """Three content-dedup batches: b1 ~60% of the pages, b2 mirrors of
    b1 (all mirrors, so its triples are the empty ``_empty_like`` table),
    b3 the full snapshot (its delta is the other ~40%)."""
    idf_df, d = dicts
    state = str(tmp_path_factory.mktemp("inc_mirror_state"))
    pages = corpus["pages"]
    first = pages.filter(F.crc32(F.col("url")) % 5 < 3)
    mirrors = first.withColumn("url", F.concat(F.lit("http://mirror.example/"), F.col("url")))
    for bid, p in (("b1", first), ("b2", mirrors), ("b3", pages)):
        extract_triples_incremental(
            spark, p, corpus["aliases"], corpus["kg_triples"],
            corpus["ontology"], corpus["embeddings"],
            state_dir=state, batch_id=bid, idf=idf_df, scorer_dicts=d,
            dedup_content=True,
        )
    assert committed_batches(state) == ["b1", "b2", "b3"]
    return state


def test_pinned_reader_equals_per_dir_union(spark, mirror_state, tmp_path):
    """The one schema-pinned scan returns the rows of a per-directory
    inferred read unioned by name: full state, an ``as_of`` read, and the
    state after compaction."""
    state = str(tmp_path / "state")
    shutil.copytree(mirror_state, state)
    names = ["b1", "b2", "b3"]
    assert spark.read.parquet(f"{state}/batches/b2/triples").count() == 0

    tri, urls = incremental_state(spark, state)
    want = {
        t: _rows(_per_dir_union(spark, state, names, t))
        for t in ("triples", "urls", "hashes")
    }
    assert want["triples"] and _rows(tri) == want["triples"]
    assert _rows(urls) == want["urls"]
    assert _rows(seen_content_hashes(spark, state)) == want["hashes"]

    tri_b2, urls_b2 = incremental_state(spark, state, as_of="b2")
    assert _rows(tri_b2) == _rows(_per_dir_union(spark, state, names[:2], "triples"))
    assert _rows(urls_b2) == _rows(_per_dir_union(spark, state, names[:2], "urls"))

    new_id = compact_batches(spark, state)
    tri_c, urls_c = incremental_state(spark, state)
    for table, got in (
        ("triples", tri_c), ("urls", urls_c), ("hashes", seen_content_hashes(spark, state)),
    ):
        assert _rows(got) == _rows(_per_dir_union(spark, state, [new_id], table))
        assert _rows(got) == sorted(set(want[table])), table


def test_schema_mismatch_or_missing_manifest_names_the_batch(spark, mirror_state, tmp_path):
    """A batch whose table manifest carries another column set, or no
    manifest at all, raises at read time and names that batch."""
    state = str(tmp_path / "state")
    shutil.copytree(mirror_state, state)
    mpath = os.path.join(state, "batches", "b3", "triples", "_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    schema = json.loads(m["schema"])
    schema["fields"] = [c for c in schema["fields"] if c["name"] != "score"]
    m["schema"] = json.dumps(schema)
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="batch 'b3': triples schema"):
        incremental_state(spark, state)

    os.remove(os.path.join(state, "batches", "b2", "hashes", "_manifest.json"))
    with pytest.raises(ValueError, match="batch 'b2': hashes/ has no readable manifest"):
        seen_content_hashes(spark, state)
