"""N-Triples sink (sources/rdf.py): spec escapes, IRI minting, round-trip."""

from __future__ import annotations

import re

from predicate_finder_spark.sources.rdf import to_ntriples_lines, write_ntriples

_NT_LINE = re.compile(r"^<([^>]*)> <([^>]*)> (<[^>]*>|\"(?:[^\"\\]|\\.)*\") \.$")


def _lines(df):
    return sorted(r[0] for r in df.collect())


def test_bare_labels_minted_under_base(spark):
    tri = spark.createDataFrame(
        [("Berlin", "capitalOf", "Germany")], ["subj", "pred", "obj"]
    )
    [line] = _lines(to_ntriples_lines(tri))
    assert line == (
        "<http://example.org/resource/Berlin> <http://example.org/resource/capitalOf> "
        "<http://example.org/resource/Germany> ."
    )


def test_absolute_iris_pass_through(spark):
    tri = spark.createDataFrame(
        [("http://dbpedia.org/resource/Berlin", "http://dbpedia.org/ontology/capital", "x")],
        ["subj", "pred", "obj"],
    )
    [line] = _lines(to_ntriples_lines(tri))
    assert line.startswith("<http://dbpedia.org/resource/Berlin> "
                           "<http://dbpedia.org/ontology/capital> ")


def test_iri_escaping_forbidden_chars(spark):
    tri = spark.createDataFrame(
        [('a b"c<d>e', "p", "o")], ["subj", "pred", "obj"]
    )
    [line] = _lines(to_ntriples_lines(tri))
    assert line.split(" ")[0] == "<http://example.org/resource/a%20b%22c%3Cd%3Ee>"
    # every produced line must match the N-Triples grammar
    assert _NT_LINE.match(line)


def test_percent_not_double_escaped(spark):
    tri = spark.createDataFrame([("a%20b", "p", "o")], ["subj", "pred", "obj"])
    [line] = _lines(to_ntriples_lines(tri))
    assert line.split(" ")[0] == "<http://example.org/resource/a%2520b>"


def test_write_and_grammar_roundtrip(spark, tmp_path):
    rows = [(f"e{i}", "coOccursWith", f"e{(i * 7) % 13}") for i in range(50)]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = str(tmp_path / "graph.nt")
    write_ntriples(tri, out)
    back = _lines(spark.read.text(out))
    assert len(back) == 50
    assert all(_NT_LINE.match(x) for x in back)
    # parse back and compare the fact set
    parsed = set()
    for x in back:
        m = _NT_LINE.match(x)
        s, p, o = m.group(1), m.group(2), m.group(3)[1:-1]
        strip = lambda u: u.rsplit("/", 1)[-1]
        parsed.add((strip(s), strip(p), strip(o)))
    assert parsed == set(rows)


def test_no_python_worker_in_plan(spark):
    tri = spark.createDataFrame([("s", "p", "o")], ["subj", "pred", "obj"])
    plan = (
        to_ntriples_lines(tri)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Exchange" not in plan


def test_passthrough_iri_forbidden_chars_escaped(spark):
    """ADVICE r4: a scraped absolute-IRI value containing forbidden
    characters ('see http://x > y') must not emit a malformed line; its
    existing percent-encoding must survive untouched."""
    tri = spark.createDataFrame(
        [("see http://x > y", "http://ex.org/p", "http://ex.org/a%20b")],
        ["subj", "pred", "obj"],
    )
    [line] = _lines(to_ntriples_lines(tri))
    first = line.split("> <")[0] + ">"
    assert first == "<see%20http://x%20%3E%20y>"
    # pre-encoded %20 in a passthrough IRI is NOT double-escaped
    assert line.rstrip(" .").endswith("<http://ex.org/a%20b>")
