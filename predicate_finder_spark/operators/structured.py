"""Structured-data extraction from web pages: JSON-LD + infobox tables.

Common-Crawl KG construction mines schema.org JSON-LD blocks and
infobox-style key/value tables alongside the free text — the structured
channel that seeded DBpedia itself (the reference's entire predicate
vocabulary comes from infobox-derived DBpedia ontology properties;
see reference ``sparql/query.py`` predicate lookups).  Facts from here
feed the same (subj, pred, obj) sink as the text pipeline; predicate
surfaces canonicalize onto the ontology via the existing alias/predicate
machinery (operators/predicates.py).

Everything is pure column expressions — regex block extraction in the
Java-regex ∩ RE2 subset (oracle-portable, same constraint as
functions/urls.py), the JVM ``from_json`` map parse, and higher-order
map explode — zero Python per row.

At 100 TB: both extractors are narrow map stages over the page bytes
(explode fan-out is bounded by blocks/rows per page, never page count²);
nothing shuffles until the caller aggregates or joins the emitted facts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# schema.org embedding per the JSON-LD spec: a <script> tag whose type is
# exactly application/ld+json; non-greedy body, never nests
_JSONLD_PATTERN = '(?is)<script type="application/ld\\+json">(.*?)</script>'
# row-level extraction: grab whole <tr> elements first (regexp_extract_all
# yields ONE group, so key/value split happens per exploded row)
_TR_PATTERN = "(?is)<tr[^>]*>.*?</tr>"
_TH_PATTERN = "(?is)<th[^>]*>(.*?)</th\\s*>"
_TD_PATTERN = "(?is)<td[^>]*>(.*?)</td\\s*>"


def strip_markup(c: Column) -> Column:
    """Strip inner markup from an html fragment and collapse whitespace.

    Shared by the table-cell and anchor-text extractors (weblinks.py);
    both oracle-side twins replay the same two regexes with 'g'.
    """
    out = F.regexp_replace(c, "<[^>]+>", " ")
    return F.trim(F.regexp_replace(out, "\\s+", " "))


def extract_jsonld_blocks(html: Column | str) -> Column:
    """``html`` (binary or string) -> array<string> of raw JSON-LD bodies."""
    c = F.col(html) if isinstance(html, str) else html
    return F.regexp_extract_all(c.cast("string"), F.lit(_JSONLD_PATTERN), 1)


def jsonld_triples(pages: DataFrame) -> DataFrame:
    """(url, subj, pred, obj) facts from every JSON-LD block on every page
    of ``pages(url, html)``.

    ``subj`` is the block's ``@id`` when present, else the page URL (the
    JSON-LD default-subject rule).  ``@``-prefixed keys are JSON-LD
    keywords, not predicates — dropped after the subject is lifted.
    Values parse through ``from_json`` as ``map<string,string>``: flat
    string-valued objects (the overwhelmingly common schema.org shape)
    decode losslessly; a malformed block parses to NULL and is dropped,
    never poisoning the page's other blocks.
    """
    js = F.explode(extract_jsonld_blocks(F.col("html"))).alias("__js")
    blocks = pages.select("url", js)
    m = F.from_json("__js", "map<string,string>")
    kv = blocks.select(
        "url", F.coalesce(F.element_at(m, "@id"), F.col("url")).alias("subj"),
        F.explode(m).alias("pred", "obj"),
    )
    return kv.filter(~F.col("pred").startswith("@") & F.col("obj").isNotNull())


def structured_triples(
    pages: DataFrame,
    aliases: DataFrame,
    ontology: DataFrame,
) -> DataFrame:
    """Fuse the two structured channels into linked, canonicalized triples
    (subj, pred, obj, score, url, provenance) — the same contract as the
    text pipeline's output (scoring.to_triples), union-ready.

    Per page: the JSON-LD ``about`` value names the page's primary
    subject; each infobox row supplies a (predicate surface, object
    surface) pair.  Predicate surfaces canonicalize onto the ontology by
    snake-cased label match, with the exactly-one guard (a surface
    mapping to >1 distinct predicate is ambiguous and drops — reference
    DataExtract.py:120-123 semantics).  Entity surfaces link through the
    alias dictionary via argmax-prior (ambiguity must be broken by the
    priors; equal-prior ties are nondeterministic, same contract as
    ``max_by``).

    Scale shape: two narrow extraction scans of the same pages frame, one
    url-keyed equi-join to attach the subject (page-sized both sides,
    co-partitioned on the shuffle key), broadcast joins for the ontology
    keys and the alias dictionary.  Score is 1.0 — structured facts are
    deterministic extractions, not model guesses.
    """
    from predicate_finder_spark.functions.text import normalize_entity

    # direct map lookup instead of jsonld_triples + filter: exploding every
    # map entry just to keep pred == 'about' fans out per-key rows and then
    # drops almost all of them; try_element_at probes the parsed map once
    # per block (ANSI-safe on missing keys).  Value-identical: from_json's
    # map cannot hold duplicate keys, so the exploded branch also emitted
    # at most one 'about' row per block, with exactly this value.
    js = F.explode(extract_jsonld_blocks(F.col("html"))).alias("__js")
    about = (
        pages.select("url", js)
        .select(
            "url",
            F.try_element_at(
                F.from_json("__js", "map<string,string>"), F.lit("about")
            ).alias("subj_surface"),
        )
        .filter(F.col("subj_surface").isNotNull())
    )
    facts = infobox_facts(pages)
    onto_keys = (
        ontology.select(
            F.regexp_replace(F.lower("label"), " ", "_").alias("key"),
            "predicate",
        )
        .distinct()
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.max("predicate").alias("predicate"))
        .filter(F.col("n") == 1)
        .select("key", "predicate")
    )
    best_alias = aliases.groupBy("alias").agg(
        F.max_by("entity", "prior").alias("entity")
    )
    return (
        facts.join(F.broadcast(onto_keys), "key")
        .join(about, "url")
        .join(
            F.broadcast(best_alias.withColumnRenamed("entity", "subj")),
            normalize_entity(F.col("subj_surface")) == F.col("alias"),
        )
        .drop("alias")
        .join(
            F.broadcast(best_alias.withColumnRenamed("entity", "obj")),
            normalize_entity(F.col("value")) == F.col("alias"),
        )
        .select(
            "subj",
            F.col("predicate").alias("pred"),
            "obj",
            F.lit(1.0).alias("score"),
            "url",
            F.struct(
                F.lit("structured").alias("stage"),
                F.lit("jsonld_about+infobox").alias("rule"),
            ).alias("provenance"),
        )
    )


def infobox_facts(pages: DataFrame) -> DataFrame:
    """(url, key, value) facts from <th>/<td> rows of on-page tables.

    The DBpedia-style infobox channel: key is the header cell lowered and
    space-normalized to ``snake_case`` (a predicate *surface*, ready for
    ontology canonicalization); value keeps its human casing with inner
    markup stripped.  Rows lacking either cell (layout tables, spacers)
    drop out.
    """
    c = F.col("html").cast("string")
    rows = F.explode(
        F.regexp_extract_all(c, F.lit(_TR_PATTERN), 0)
    ).alias("__row")
    exploded = pages.select("url", rows)
    key = strip_markup(F.regexp_extract("__row", _TH_PATTERN, 1))
    val = strip_markup(F.regexp_extract("__row", _TD_PATTERN, 1))
    return (
        exploded.select(
            "url",
            F.regexp_replace(F.lower(key), " ", "_").alias("key"),
            val.alias("value"),
        )
        .filter((F.col("key") != "") & (F.col("value") != ""))
    )
