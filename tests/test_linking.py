"""Entity linking: mention spans, disambiguation, overlap resolution, LSH."""

from __future__ import annotations

from pyspark.sql import functions as F

from predicate_finder_spark.operators.linking import (
    disambiguate,
    link_mentions,
    lsh_blocked_candidates,
    resolve_mentions,
    resolve_overlaps,
)
from predicate_finder_spark.operators.mentions import explode_sentences, generate_mentions


def _sentences(spark, text):
    pages = spark.createDataFrame(
        [("u1", text, "en")], "url string, text string, lang string"
    )
    return explode_sentences(pages)


def test_mention_spans(spark):
    sent = _sentences(spark, "Alba Arnheim has birth place Mona Bexley.")
    m = generate_mentions(sent, 3)
    rows = {(r["start"], r["length"], r["surface"]) for r in m.collect()}
    assert (0, 2, "alba arnheim") in rows
    assert (5, 2, "mona bexley") in rows
    assert (0, 1, "alba") in rows
    assert (2, 3, "has birth place") in rows
    # all spans in bounds
    for s, ln, _ in rows:
        assert 0 <= s and s + ln <= 8


def test_disambiguation_picks_highest_prior(spark):
    m = spark.createDataFrame(
        [("u", 0, 0, 1, "alba")], "url string, sent_id int, start int, length int, surface string"
    )
    aliases = spark.createDataFrame(
        [("alba", "Alba_A", 0.3), ("alba", "Alba_B", 0.7)],
        "alias string, entity string, prior double",
    )
    got = disambiguate(link_mentions(m, aliases)).collect()
    assert len(got) == 1 and got[0]["entity"] == "Alba_B"


def test_overlap_resolution_keeps_maximal_span(spark):
    rows = [
        ("u", 0, 0, 2, "alba arnheim", "Alba_Arnheim", 0.95),
        ("u", 0, 0, 1, "alba", "Alba_X", 0.5),
        ("u", 0, 5, 2, "mona bexley", "Mona_Bexley", 0.95),
        ("u", 0, 5, 1, "mona", "Mona_X", 0.5),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, sent_id int, start int, length int, surface string, entity string, prior double",
    )
    kept = {(r["start"], r["length"]) for r in resolve_overlaps(df).collect()}
    assert kept == {(0, 2), (5, 2)}


def test_resolve_mentions_fused_equals_two_step(spark):
    rows = [
        ("u", 0, 0, 2, "alba arnheim", "Alba_Arnheim", 0.95),
        ("u", 0, 0, 2, "alba arnheim", "Alba_Other", 0.40),   # same-span loser
        ("u", 0, 0, 1, "alba", "Alba_X", 0.5),                 # contained
        ("u", 0, 5, 2, "mona bexley", "Mona_Bexley", 0.95),
        ("u", 0, 5, 1, "mona", "Mona_X", 0.5),                 # contained
        ("u", 1, 3, 1, "solo", "Solo_E", 0.9),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, sent_id int, start int, length int, surface string, entity string, prior double",
    )
    fused = {(r["sent_id"], r["start"], r["length"], r["entity"])
             for r in resolve_mentions(df).collect()}
    two_step = {(r["sent_id"], r["start"], r["length"], r["entity"])
                for r in resolve_overlaps(disambiguate(df)).collect()}
    assert fused == two_step == {
        (0, 0, 2, "Alba_Arnheim"), (0, 5, 2, "Mona_Bexley"), (1, 3, 1, "Solo_E"),
    }


def test_lsh_blocked_fuzzy_linking(spark):
    # typo'd surface still finds its alias through minhash banding + JW verify
    m = spark.createDataFrame(
        [("u", 0, 0, 2, "alba arnheimm")],
        "url string, sent_id int, start int, length int, surface string",
    )
    aliases = spark.createDataFrame(
        [("alba arnheim", "Alba_Arnheim", 0.9), ("rosa jutland", "Rosa_Jutland", 0.9)],
        "alias string, entity string, prior double",
    )
    got = lsh_blocked_candidates(m, aliases).collect()
    ents = {r["entity"] for r in got}
    assert "Alba_Arnheim" in ents and "Rosa_Jutland" not in ents


def test_dict_side_disambiguation_equivalence(spark, corpus):
    """top1_per_surface=True (dictionary-side argmax, round-4 shuffle-byte
    work) must produce EXACTLY the rows of the post-join per-span argmax —
    the resolve window's output is the contract."""
    from predicate_finder_spark.operators.extract import extract_pages
    from predicate_finder_spark.operators.linking import link_mentions, resolve_mentions
    from predicate_finder_spark.operators.mentions import explode_sentences, generate_mentions

    sent = explode_sentences(extract_pages(corpus["pages"]))
    mentions = generate_mentions(sent, 3)
    full = resolve_mentions(
        link_mentions(mentions, corpus["aliases"], broadcast_dict=True)
    )
    slim = resolve_mentions(
        link_mentions(
            mentions, corpus["aliases"], broadcast_dict=True, top1_per_surface=True
        )
    )
    cols = ["url", "sent_id", "start", "length", "entity", "prior"]
    assert full.select(*cols).exceptAll(slim.select(*cols)).count() == 0
    assert slim.select(*cols).exceptAll(full.select(*cols)).count() == 0
    assert slim.count() > 0


def test_entity_hash_injectivity_guard(spark, corpus):
    """Precondition check for the int-keyed KG join: xxhash64 injective
    over the synth entity dictionary, and the count is the domain size."""
    from pyspark.sql import functions as F

    from predicate_finder_spark.operators.predicates import verify_entity_hash_injective

    n = verify_entity_hash_injective(corpus["aliases"], corpus["kg_triples"])
    expect = (
        corpus["aliases"].select(F.col("entity").alias("e"))
        .unionByName(corpus["kg_triples"].select(F.col("s").alias("e")))
        .unionByName(corpus["kg_triples"].select(F.col("o").alias("e")))
        .distinct()
        .count()
    )
    assert n == expect > 0


def test_build_alias_dictionary_priors_and_loop(spark):
    """Mined priors = anchor statistics; the mined dictionary feeds
    link_mentions directly (the dictionary-growth loop)."""
    from predicate_finder_spark.operators.linking import build_alias_dictionary

    # 'paris' -> Paris 3x, Paris_Texas 1x; 'texas' -> Texas 2x
    obs = spark.createDataFrame(
        [("paris", "Paris")] * 3 + [("paris", "Paris_Texas")] + [("texas", "Texas")] * 2,
        "surface string, entity string",
    )
    d = build_alias_dictionary(obs)
    got = {(r.alias, r.entity): (r.n_pair, r.prior) for r in d.collect()}
    assert got[("paris", "Paris")] == (3, 0.75)
    assert got[("paris", "Paris_Texas")] == (1, 0.25)
    assert got[("texas", "Texas")] == (2, 1.0)

    # hygiene knobs
    assert build_alias_dictionary(obs, min_count=2).count() == 2
    assert build_alias_dictionary(obs, min_prior=0.5).count() == 2

    # the mined table plugs into link_mentions and disambiguation picks
    # the majority sense
    mentions = spark.createDataFrame(
        [("u1", 0, 0, 1, 1, "paris")],
        "url string, sent_id int, start int, end int, length int, surface string",
    )
    linked = link_mentions(mentions, d.drop("n_pair"))
    top = resolve_mentions(linked).collect()
    assert len(top) == 1 and top[0]["entity"] == "Paris"
