"""Web-graph construction from html (operators/weblinks.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from predicate_finder_spark.operators import weblinks


def test_extract_outlinks_fixture(spark):
    html = (
        '<html><body><a href="https://a.com/x">1</a>'
        "<a href='https://single-quoted.com/skipped'>2</a>"
        '<A HREF="HTTP://B.COM:80/y?utm_source=z#f">3</A>'
        '<a class="btn" href="https://a.com/x">dup</a></body></html>'
    )
    df = spark.createDataFrame([(1, html.encode())], "id long, html binary")
    links = df.select(weblinks.extract_outlinks("html").alias("ls")).collect()[0]["ls"]
    # raw extraction: order preserved, case-insensitive attr, double quotes only
    assert links == ["https://a.com/x", "HTTP://B.COM:80/y?utm_source=z#f", "https://a.com/x"]


def test_outlink_edges_canonicalize_collapses_mirrors(spark):
    html = (
        '<a href="https://t.com/p?utm_source=a">1</a>'
        '<a href="https://T.COM:443/p#frag">2</a>'
        '<a href="https://other.net/q">3</a>'
    )
    df = spark.createDataFrame(
        [("https://src.org/1", html.encode())], "url string, html binary"
    )
    edges = {(r["src"], r["dst"]) for r in weblinks.outlink_edges(df).collect()}
    # the two t.com spellings collapse into ONE canonical edge
    assert edges == {
        ("https://src.org/1", "https://t.com/p"),
        ("https://src.org/1", "https://other.net/q"),
    }


def test_synth_corpus_web_graph(spark, corpus):
    """The synthetic crawl now carries a deterministic link structure:
    every page links to the next page id and to one of 7 partner hosts —
    and the text-extraction invariant is untouched by the link markup."""
    from predicate_finder_spark.operators.extract import extract_pages

    pages = corpus["pages"]
    n = pages.count()
    edges = weblinks.outlink_edges(pages).cache()
    assert edges.count() == 2 * n  # next + partner per page, all distinct
    hosts = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in weblinks.host_graph(edges).collect()
    }
    # canonicalized partner hosts: lowercase, :443 stripped
    partner = {k: v for k, v in hosts.items() if k[1].startswith("partner")}
    assert set(k[1] for k in partner) <= {f"partner{i}.example.net" for i in range(7)}
    assert sum(partner.values()) == n
    assert hosts[("example.org", "example.org")] == n
    # byte-identical extraction invariant still holds with links in the nav
    re_extracted = extract_pages(pages.select("url", "warc_ts", "html", "lang", "text"))
    diff = (
        re_extracted.select("url", F.col("text").alias("t2"))
        .join(pages.select("url", "text"), "url")
        .filter(F.col("t2") != F.col("text"))
        .count()
    )
    assert diff == 0


def test_anchor_texts_fixture(spark):
    html = (
        '<a href="https://t.com/p?utm_source=a"><b>Nice</b>  page</a>'
        '<A class="x" HREF="https://u.net/q">u</A>'
        '<a href="https://v.org/r"><img src="i.png"/></a>'  # empty anchor -> dropped
    )
    df = spark.createDataFrame(
        [("https://SRC.org/1", html.encode())], "url string, html binary"
    )
    rows = {(r["src"], r["dst"], r["anchor"])
            for r in weblinks.anchor_texts(df).collect()}
    assert rows == {
        ("https://src.org/1", "https://t.com/p", "Nice page"),
        ("https://src.org/1", "https://u.net/q", "u"),
    }


def test_anchor_texts_feed_alias_dictionary(spark, corpus):
    """The crawl-native alias-mining loop: anchors -> (alias, entity, prior)
    via linking.build_alias_dictionary — each 'next' anchor points at a
    distinct page, so the alias mass splits uniformly."""
    from predicate_finder_spark.operators.linking import build_alias_dictionary

    pages = corpus["pages"]
    n = pages.count()
    anchors = weblinks.anchor_texts(pages)
    d = build_alias_dictionary(
        anchors.select(F.col("anchor").alias("surface"), F.col("dst").alias("entity"))
    )
    rows = d.filter(F.col("alias") == "next").collect()
    assert len(rows) == n
    assert all(abs(r["prior"] - 1.0 / n) < 1e-12 for r in rows)


def test_host_graph_feeds_pagerank(spark, corpus):
    """Host edges plug straight into operators/graph.pagerank."""
    from predicate_finder_spark.operators.graph import pagerank

    hg = weblinks.host_graph(weblinks.outlink_edges(corpus["pages"]))
    ranks = pagerank(
        hg.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")),
        n_iter=3,
    )
    r = {row["node"]: row["rank_units"] for row in ranks.collect()}
    assert len(r) == 8  # example.org + 7 partner hosts
    # example.org receives every page's 'next' link mass -> top rank
    assert r["example.org"] == max(r.values())


def test_latest_snapshot_fixture(spark):
    rows = [
        # one page, three crawl spellings; ts tie between the two newest
        ("http://a.com/x?utm_source=t", 200, b"v-new-1"),
        ("HTTP://A.COM:80/x#frag", 200, b"v-new-2"),
        ("http://a.com/x", 100, b"v-old"),
        # unrelated page
        ("http://b.com/y", 50, b"w"),
    ]
    df = spark.createDataFrame(
        [(u, t, h) for u, t, h in rows], "url string, ts long, html binary"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html")
    out = weblinks.latest_snapshot(df)
    got = {(r["canon_url"], r["url"]) for r in out.collect()}
    # ts tie at 200 -> lexicographically smaller RAW url wins
    assert got == {
        ("http://a.com/x", "HTTP://A.COM:80/x#frag"),
        ("http://b.com/y", "http://b.com/y"),
    }
    # original columns pass through
    assert {"url", "warc_ts", "html", "canon_url"} == set(out.columns)


def test_pipeline_dedup_snapshots_restores_pr(spark, corpus):
    """cfg.dedup_snapshots: pollute the corpus with an older junk snapshot
    of every page under a mirror URL spelling (upper scheme, utm tag) —
    the pre-step must keep exactly the original rows, so P/R stays 1.0.
    Without the pre-step the junk snapshots would survive as distinct
    pages and emit nothing for their urls."""
    from predicate_finder_spark.config import PipelineConfig
    from predicate_finder_spark.operators.evaluate import precision_recall
    from predicate_finder_spark.plans.pipeline import extract_triples

    pages = corpus["pages"]
    mirrors = pages.select(
        F.concat(
            F.lit("HTTPS://"),
            F.regexp_replace("url", "^https://", ""),
            F.lit("?utm_source=m"),
        ).alias("url"),
        (F.col("warc_ts") - F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
        F.encode(F.lit("<html><body>junk mirror</body></html>"), "UTF-8").alias("html"),
        F.lit("junk mirror").alias("text"),
        "lang",
    )
    polluted = pages.unionByName(mirrors)
    tri = extract_triples(
        spark, polluted, corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"],
        PipelineConfig(dedup_snapshots=True),
    )
    pr = precision_recall(tri, corpus["gold_triples"])
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr
