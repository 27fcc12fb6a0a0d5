"""Curation pipeline: quality/lang gates, exact + near-dup dedup, and the
compose with KG extraction (curated corpus -> unchanged P/R)."""

from __future__ import annotations

import pytest

from predicate_finder_spark.operators.evaluate import precision_recall
from predicate_finder_spark.plans.curation import curate_docs
from predicate_finder_spark.plans.pipeline import extract_triples
from predicate_finder_spark.synth import synth_corpus

ALL_LANGS = ("en", "und", "de", "fr", "es", "zh")


def test_quality_and_lang_gates(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs to the hills in a day"),
        (2, "zzzz qqqq ### ~~~~ !!!! 0000 xxxx yyyy"),
        (3, "le chat est sur la table et le chien est dans le jardin avec des fleurs"),
        (4, "the small cat is on the mat and it was happy that the sun is warm today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    kept = curate_docs(
        docs, min_quality=0.3, langs=("en",), near_dup=None
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4]
    got = {r["doc_id"]: r for r in kept.collect()}
    assert all(got[i]["lang_pred"] == "en" and got[i]["quality"] >= 0.3 for i in ids)


def test_exact_and_near_dup_dedup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (1, base),
        (2, base),                                  # exact dup -> dropped
        (3, base.replace("mu", "nu")),              # near dup  -> dropped
        (4, "one two three four five six seven eight nine ten eleven twelve"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    for mode in ("minhash", "jaccard"):
        kept = curate_docs(
            docs, min_quality=0.0, langs=ALL_LANGS, near_dup=mode,
            near_dup_threshold=0.5,
        )
        ids = sorted(r["doc_id"] for r in kept.collect())
        assert ids == [1, 4], (mode, ids)


def test_curate_then_extract_keeps_pr(spark):
    """VERDICT-r3 item 7: the composed flow — junk and duplicate pages are
    dropped by curation, extraction runs on the survivors only, and P/R vs
    the ORIGINAL gold is unchanged (1.0)."""
    t = synth_corpus(spark, 60)
    pages = t["pages"]
    # pollute the corpus: an exact duplicate page, a near-duplicate page,
    # and a junk page (none carry gold triples -> gold is unchanged)
    first = pages.orderBy("url").first()

    def _page(url, text):
        d = first.asDict()
        d.update(url=url, text=text)
        return tuple(d[c] for c in pages.columns)

    junk = spark.createDataFrame(
        [
            _page("zz_dup_exact", first["text"]),
            _page("zz_dup_near", first["text"] + " extra trailing note"),
            _page("zz_junk", "@@@@@@@@@@@ ###########"),
        ],
        pages.schema,
    )
    polluted = pages.unionByName(junk)
    curated = curate_docs(
        polluted, id_col="url", text_col="text", min_quality=0.15, langs=ALL_LANGS,
    )
    triples = extract_triples(
        spark, curated.select(*pages.columns), t["aliases"], t["kg_triples"],
        t["ontology"], t["embeddings"],
    )
    kept_urls = {r["url"] for r in curated.select("url").collect()}
    # originals all survive; every injected page is dropped
    assert "zz_dup_exact" not in kept_urls      # exact dedup (same text, higher url)
    assert "zz_dup_near" not in kept_urls       # minhash near-dup
    assert "zz_junk" not in kept_urls           # quality gate
    # originals may legitimately dedup against each other (the synth corpus
    # contains repeated noise pages), but never at the cost of gold: every
    # dropped original must be gold-free
    orig_urls = {r["url"] for r in pages.select("url").collect()}
    gold_urls = {r["url"] for r in t["gold_triples"].select("url").distinct().collect()}
    assert kept_urls < orig_urls | {"zz"}  # no invented rows
    assert (orig_urls - kept_urls).isdisjoint(gold_urls)
    pr = precision_recall(triples, t["gold_triples"])
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


def test_cluster_victim_policy_is_transitive(spark):
    """The distinguishing shape: doc 3 is similar to BOTH 1 and 2, but 1
    and 2 share nothing.  curate_docs' pair policy only ever drops a pair's
    larger id, so it keeps {1, 2}; the cluster policy composed from the
    same verified pairs (one survivor per connected component, the q65
    operator) keeps only the component minimum."""
    from predicate_finder_spark.operators.dedup import ngram_jaccard_pairs
    from predicate_finder_spark.operators.graph import connected_components

    w = " ".join(f"w{i}" for i in range(1, 13))          # w1..w12
    v = " ".join(f"v{i}" for i in range(1, 13))          # v1..v12
    mix = " ".join([f"w{i}" for i in range(1, 7)] + [f"v{i}" for i in range(1, 7)])
    docs = spark.createDataFrame(
        [(1, w), (2, v), (3, mix)], "doc_id int, text string"
    )
    # 3-gram shingle jaccard(1,3) = jaccard(2,3) = 4/16 = 0.25; (1,2) = 0
    pair_ids = sorted(
        r["doc_id"]
        for r in curate_docs(
            docs, min_quality=0.0, langs=ALL_LANGS, near_dup="jaccard",
            near_dup_threshold=0.2,
        ).collect()
    )
    comp = connected_components(ngram_jaccard_pairs(docs, threshold=0.2))
    victims = comp.filter("node != component").select(comp["node"].alias("doc_id"))
    cluster_ids = sorted(r["doc_id"] for r in docs.join(victims, "doc_id", "left_anti").collect())
    assert pair_ids == [1, 2], pair_ids      # 3 is the only id_b anywhere
    assert cluster_ids == [1], cluster_ids   # transitive closure keeps the min


def test_bad_near_dup_mode_raises(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with pytest.raises(ValueError, match="near_dup"):
        curate_docs(docs, near_dup="bogus")


def test_perplexity_gate(spark):
    """A bigram-LM perplexity gate composed after curate_docs: off-domain
    gibberish is filtered by the perplexity threshold while fluent
    in-domain docs survive."""
    from predicate_finder_spark.operators.lm import fit_bigram_lm, perplexity

    fluent = [
        "the cat sat on the mat near the door and the dog slept by the fire",
        "the dog sat on the log near the door and the cat slept by the mat",
        "the cat and the dog slept near the fire by the door on the mat",
    ]
    gibberish = "zorp quix flemb trast wuzzle brin kelt vosh drap nux morv"
    rows = [(i, t) for i, t in enumerate(fluent)] + [(9, gibberish)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = fit_bigram_lm(docs.filter("doc_id < 3"))
    # threshold between the in-domain band and the gibberish score
    ppl = {r["doc_id"]: r["log2_ppl"]
           for r in perplexity(docs, *model).collect()}
    cut = (max(ppl[i] for i in (0, 1, 2)) + ppl[9]) / 2
    assert max(ppl[i] for i in (0, 1, 2)) < ppl[9]

    kept = curate_docs(docs, min_quality=0.0, langs=("en", "und"), near_dup=None)
    scores = perplexity(kept, *model).filter(f"log2_ppl <= {cut}")
    kept = kept.join(scores.select("doc_id", "log2_ppl"), "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2]


def test_dup_span_cut_prestep(spark):
    """The duplicate-span cut runs BEFORE curate_docs (boilerplate is
    removed before any quality statistics are computed on it); the
    rewritten texts then collapse under exact dedup."""
    from predicate_finder_spark.operators.dedup import cut_duplicate_spans, duplicate_spans

    boiler = "click here to accept cookies and continue reading this site"
    rows = [
        (0, boiler + " the quick brown fox jumps over the lazy dog today"),
        (1, boiler + " the quick brown fox jumps over the lazy dog today"),
        (2, "a completely original sentence about orchestrating spark stages here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cut = cut_duplicate_spans(docs, duplicate_spans(docs, min_len=5))
    kept = curate_docs(cut, min_quality=0.0, langs=("en", "und"), near_dup=None)
    out = {r["doc_id"]: r["text"] for r in kept.collect()}
    # docs 0/1 were identical: boiler AND body are duplicated spans -> both
    # cut to empty, then exact dedup keeps only doc 0
    assert sorted(out) == [0, 2]
    assert out[0] == ""
    assert out[2] == rows[2][1]
