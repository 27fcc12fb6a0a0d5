"""Web-graph construction from the crawl's ``html`` column.

The north-rule input table carries raw page bytes (``html: binary``);
besides text extraction (operators/extract.py) a Common-Crawl-style KG
pipeline mines the LINK structure: outlink edges feed PageRank salience
(operators/graph.pagerank — already wired to the vertex sink), host-level
connectivity drives crawl frontier/seed-quality decisions, and anchor
statistics feed alias mining (operators/linking.build_alias_dictionary).

All extraction here is pure column expressions (codegen regex over the
decoded bytes — no Python worker, no shuffle until the edge aggregation),
and the regexes stay inside the Java-regex ∩ RE2 subset so a SQL oracle
can reproduce them byte-for-byte.

At 100 TB: extract+explode is a narrow map stage; the only shuffles are
the ``distinct()`` on canonical edges and the host-graph partial-agg
groupBy — both on short URL/host keys, never on page bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.urls import canonicalize_url, url_host
from predicate_finder_spark.operators.structured import strip_markup

# double-quoted href attribute values; [^"]+ keeps the full attr value
# (fragments/tracking params are the canonicalizer's job, not the regex's)
_HREF_PATTERN = '(?i)href="([^"]+)"'
# whole <a> elements (regexp_extract_all yields ONE group, so href/text
# split happens per exploded element — same trick as structured.py's <tr>)
_A_PATTERN = '(?is)<a\\b[^>]*href="[^"]*"[^>]*>.*?</a\\s*>'
_A_TEXT_PATTERN = "(?is)>(.*?)</a\\s*>"


def extract_outlinks(html: Column | str) -> Column:
    """``html`` (binary or string) -> array<string> of raw href values."""
    c = F.col(html) if isinstance(html, str) else html
    return F.regexp_extract_all(c.cast("string"), F.lit(_HREF_PATTERN), 1)


def outlink_edges(pages: DataFrame) -> DataFrame:
    """(src, dst) edge list of the page graph of ``pages(url, html)``, one
    row per distinct link.

    Both endpoints run through functions/urls.canonicalize_url, so mirror
    spellings of the same target (WWW-case, default ports, utm noise,
    fragments) collapse into one edge BEFORE the distinct — the dedup the crawl graph needs to not double-
    count every tracking-tagged copy of a link.  Self-loops are kept (a
    page may legitimately link to itself); empty hrefs never match the
    extraction regex.
    """
    # the raw href list is deduped per page (array_distinct) BEFORE the
    # fan-out — value-identical under the global distinct() that follows,
    # and it cuts the rows the canonicalizer and the distinct exchange must
    # chew (nav/footer boilerplate repeats the same hrefs on every page).
    # Note the src canonicalization runs per EDGE, not per page: with src
    # in the same select as the explode, ExtractGenerator computes it in
    # the Project ABOVE the Generate.  That placement is deliberate — a
    # per-page hoist (own select below the generator's) was tried and
    # measured 3.4x SLOWER at 200k pages (host_graph 6.7 s -> 22.8 s).
    # Row counts do not explain it: every synthetic page carries two
    # distinct nav hrefs, so edge rows outnumber page rows about 2:1.  The
    # cause is unverified — plans/r06 holds only per-edge plans, so it can
    # show neither a codegen boundary nor a wider row (html carried through
    # the hoisted Project) in the per-page variant.
    src = canonicalize_url(F.col("url"))
    dst = F.explode(F.array_distinct(extract_outlinks(F.col("html"))))
    edges = pages.select(src.alias("src"), dst.alias("__dst"))
    edges = edges.select("src", canonicalize_url(F.col("__dst")).alias("dst"))
    return edges.distinct()


def anchor_texts(pages: DataFrame) -> DataFrame:
    """(src, dst, anchor) — one row per <a> element of ``pages(url, html)``,
    both urls canonicalized, anchor markup stripped, whitespace collapsed,
    empty anchors dropped.

    This is the crawl-native alias-mining source: feeding the output, as
    ``(surface=anchor, entity=dst)``, to linking.build_alias_dictionary
    yields the (alias, entity, prior) dictionary from the corpus itself —
    Wikipedia-anchor-statistics style (Mendes et al., I-Semantics 2011),
    which the reference outsources to Spotlight's prebuilt model.  NOT
    distinct: observation counts carry the prior mass.
    """
    el = F.explode(
        F.regexp_extract_all(
            F.col("html").cast("string"), F.lit(_A_PATTERN), 0
        )
    ).alias("__el")
    # src canonicalization runs per exploded <a> element (ExtractGenerator
    # keeps it in the Project above the Generate).  Deliberate: a per-page
    # hoist below the generator was tried and measured ~1.8x slower at
    # 200k pages (1.43 s -> 2.60 s), although every page has at least two
    # <a> elements, so element rows outnumber page rows.  The cause is
    # unverified (see outlink_edges).
    src = canonicalize_url(F.col("url"))
    exploded = pages.select(src.alias("src"), el)
    dst = canonicalize_url(F.regexp_extract("__el", _HREF_PATTERN, 1))
    return exploded.select(
        "src",
        dst.alias("dst"),
        strip_markup(F.regexp_extract("__el", _A_TEXT_PATTERN, 1)).alias("anchor"),
    ).filter(F.col("anchor") != "")


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """One row per canonical URL of ``pages(url, warc_ts, html)``: the
    newest crawl snapshot.

    The same page arrives across crawls under mirror spellings and
    re-fetches; training/KG pipelines want exactly one — the freshest.
    Top-1 window over the canonical key, fully deterministic tie-break
    (ts desc, raw url asc, html md5 asc), so reruns and retries pick the
    identical survivor.  Adds ``canon_url``; original columns pass through.

    At 100 TB: ONE shuffle on the short canonical-url key.  The window
    never sorts whole pages — ordering keys are (ts, url, 16-byte md5);
    the html bytes ride the exchange untouched exactly once, which any
    keep-one-copy dedup must pay.
    """
    canon = canonicalize_url(F.col("url"))
    w = Window.partitionBy("canon_url").orderBy(
        F.col("warc_ts").desc(),
        F.col("url").asc(),
        F.md5(F.col("html")).asc(),
    )
    return (
        pages.withColumn("canon_url", canon)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def host_graph(edges: DataFrame) -> DataFrame:
    """Collapse a page edge list to (src_host, dst_host, n_links).

    One partial-agg groupBy on two short host keys; the host projection is
    the codegen'd url_host expression, so the page-level frame never
    reaches Python.
    """
    return (
        edges.select(
            url_host(F.col("src")).alias("src_host"),
            url_host(F.col("dst")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
