"""Extraction: the native Column expression against its Python oracle, the
byte-identical per-url invariant, and the Python eval nodes of the plans."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from predicate_finder_spark.operators.extract import extract_pages, extract_text

# The Python kernel that ran as a pandas UDF before extraction went native,
# kept as the oracle of the expression.
_DROP_BLOCKS = re.compile(r"(?is)<(head|script|style|nav|aside|footer)\b.*?</\1\s*>")
_DROP_AD_DIVS = re.compile(r'(?is)<div\b[^>]*class="[^"]*\bads?\b[^"]*"[^>]*>.*?</div\s*>')
_TAG = re.compile(r"(?s)<[^>]+>")
_WS = re.compile(r"\s+")
_ENTITIES = (
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&copy;", "(c)"), ("&nbsp;", " "),
)


def oracle(html: bytes | None) -> str:
    if html is None:
        return ""
    s = html.decode("utf-8", errors="replace")
    s = _DROP_BLOCKS.sub(" ", s)
    s = _DROP_AD_DIVS.sub(" ", s)
    s = _TAG.sub(" ", s)
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    return _WS.sub(" ", s).strip()


# Inputs where a Java regex could part from Python's ``re``: whitespace
# outside ASCII, tag-name case and boundaries, ad-class word boundaries,
# entity chains, unclosed blocks, null/empty and malformed UTF-8.
ADVERSARIAL = [
    "a\xa0b", "a\x1cb\x1d\x1e\x1fc", "x\u2003y", "x\u2028y\u2029", "\u3000lead trail\u3000",
    "\x85\x0b\x0c text \r\n", "a\u200bb", "a\u180eb", "a\ufeffb", "a\u1680b\u202f\u205fc",
    "<NAV>menu</nav>keep", "<Script>x</SCRIPT>keep", "<nav>m</NAV \n>keep",
    "<navigation>keep</navigation>", "<nav\u0301>keep</nav>", "<nav\xb2>keep</nav>",
    "<nav\u0663>k</nav>", "<nav-x>drop</nav>keep", "<aside_x>keep</aside_x>",
    "<footer1>keep</footer1>", "<style>x</style\u3000>keep", "<head>\n<title>t</title>\n</head >body",
    "<nav>a</nav><nav>b</nav >c", "<\u017fcript>x</script>k",
    '<div class="badsy">keep</div>', '<div class="x ads y">drop</div>keep',
    '<div class="ad">drop</div>keep', '<DIV CLASS="Ads">drop</DIV >keep',
    '<divx class="ads">k</divx>', '<div class="ad_s">k</div>', '<div class="ad\u015b">k</div>',
    '<div\xe9 class="ads">k</div>',
    "&amp;lt;b&amp;gt;", "&amp;amp;nbsp;", "<b>x</b>&copy;&nbsp;&#39;&quot;",
    "<script>unclosed", "<nav>unclosed <p>text</p>", "<<p>>x", "a < b > c",
    "<p>caf\xe9 \U0001F600</p>", None, "",
    b"abc\xe2\x82", b"ab\xff\xfecd", b"\xc3", b"x\xf0\x9f\x98", b"\xe2\x28\xa1",
]

# Where the expression and the oracle differ, on purpose.
DIVERGENT = {
    # an encoded surrogate: one U+FFFD on the JVM, one per byte in Python
    b"\xed\xa0\x80": ("\ufffd", "\ufffd" * 3),
    b"a\xed\xbf\xbfb": ("a\ufffdb", "a\ufffd\ufffd\ufffdb"),
    # Python's Unicode IGNORECASE folds \u017f/\u0130 into tag names; HTML folds ASCII
    "<\u017fcript>x</\u017fcript>k": ("x k", "k"),
    "<scr\u0130pt>x</script>k": ("x k", "k"),
}


def _native(spark, values) -> list[str]:
    rows = [(i, v.encode() if isinstance(v, str) else v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "i int, html binary")
    return [r.t for r in df.select("i", extract_text("html").alias("t")).orderBy("i").collect()]


def _python_udfs(df) -> list[str]:
    """Names of the Python UDFs the executed plan evaluates, one per call."""
    names = []
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        _, node, udfs = line.partition("EvalPython [")
        dropped = bool(node)
        while dropped:  # drop the argument lists, innermost first
            udfs, dropped = re.subn(r"\([^()]*\)", "", udfs)
        names += re.findall(r"(\w+)#\d+", udfs.partition("], [")[0])
    return sorted(names)


def test_kernel_strips_boilerplate(spark):
    html = (
        b"<html><head><title>t</title><script>var x;</script></head><body>"
        b"<nav>Home</nav><div class=\"ads\">Buy!</div>"
        b"<article><p>First one.</p><p>Second one.</p></article>"
        b"<footer>&copy; me</footer></body></html>"
    )
    assert _native(spark, [html]) == ["First one. Second one."]


def test_kernel_entities_and_nesting(spark):
    assert _native(spark, [b"<p>a &amp; b &lt;c&gt;</p>", None, b""]) == ["a & b <c>", "", ""]


def test_kernel_is_pure(spark):
    assert _native(spark, [b"<p>same input</p>"] * 2) == ["same input"] * 2


def test_native_equals_oracle_on_adversarial_inputs(spark):
    values = ADVERSARIAL + list(DIVERGENT)
    got = dict(zip(range(len(values)), _native(spark, values)))
    for i, v in enumerate(ADVERSARIAL):
        html = v.encode() if isinstance(v, str) else v
        assert got[i] == oracle(html), (v, got[i])
    for i, (v, (native, python)) in enumerate(DIVERGENT.items(), len(ADVERSARIAL)):
        html = v.encode() if isinstance(v, str) else v
        assert (got[i], oracle(html)) == (native, python), v


def test_native_equals_oracle_on_corpus(spark, corpus):
    rows = extract_pages(corpus["pages"]).select("html", "text").collect()
    assert rows and all(r.text == oracle(r.html) for r in rows)


def test_byte_identical_invariant(spark, corpus):
    """north_rule invariant: extracted text == gold text for every url."""
    out = extract_pages(corpus["pages"].withColumnRenamed("text", "gold"))
    bad = out.filter(F.col("text") != F.col("gold")).count()
    total = out.count()
    assert total > 0 and bad == 0


def test_extraction_deterministic_across_repartition(spark, corpus):
    a = extract_pages(corpus["pages"]).select("url", "text")
    b = extract_pages(corpus["pages"].repartition(11)).select("url", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_only_python_eval_node_is_the_scorer(spark, corpus):
    """Extraction runs in the JVM: the default flagship plan crosses into
    Python once, at the scorer."""
    assert _python_udfs(extract_pages(corpus["pages"])) == []
    from predicate_finder_spark.plans.pipeline import _triples_plan

    tri, sentences = _triples_plan(
        spark, corpus["pages"], corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"],
    )
    try:
        assert _python_udfs(tri) == ["score_udf"]
    finally:
        sentences.unpersist()
