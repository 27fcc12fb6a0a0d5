"""N-Triples serialization of the constructed graph.

The reference emits its results as ad-hoc CSVs (xgboost/performance.py
reads them back by position); the interchange format the rest of the KG
world consumes is N-Triples (one `<s> <p> <o> .` line per fact, W3C
RDF 1.1 N-Triples).  This sink renders the engine's triples frame to
spec-compliant lines entirely JVM-side — one Project, no Python worker,
no shuffle — and writes them as partitioned text, so a 10^12-triple dump
is exactly as parallel as the frame feeding it.

IRI mapping: subjects/predicates/objects that are already absolute IRIs
(contain "://") pass through; bare labels are minted under ``BASE``
(percent-escaping the characters N-Triples forbids inside <>).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["to_ntriples_lines", "write_ntriples"]

BASE = "http://example.org/resource/"


_FORBIDDEN = (
    (" ", "%20"), ('"', "%22"), ("<", "%3C"), (">", "%3E"),
    ("{", "%7B"), ("}", "%7D"), ("|", "%7C"), ("^", "%5E"),
    ("`", "%60"), ("\\", "%5C"),
)


def _escape_forbidden(col: Column, escape_percent: bool) -> Column:
    escaped = col
    chain = ((("%", "%25"),) if escape_percent else ()) + _FORBIDDEN
    for ch, esc in chain:
        escaped = F.replace(escaped, F.lit(ch), F.lit(esc))
    return escaped


def _iri(col: Column) -> Column:
    # escape the code points N-Triples forbids unescaped inside <...>
    # (space, quotes, angle brackets, braces, pipe, caret, backtick, \).
    # Minted IRIs also escape '%' first (so the later escapes aren't
    # double-escaped); PASSTHROUGH absolute IRIs keep '%' as-is — a real
    # IRI's existing percent-encoding must survive — but still get the
    # forbidden-character escapes: a scraped value like 'see http://x > y'
    # would otherwise emit a malformed line that breaks the whole dump for
    # downstream parsers.
    return F.concat(
        F.lit("<"),
        F.when(col.contains("://"), _escape_forbidden(col, escape_percent=False))
        .otherwise(F.concat(F.lit(BASE), _escape_forbidden(col, escape_percent=True))),
        F.lit(">"),
    )


def to_ntriples_lines(triples: DataFrame) -> DataFrame:
    """One-column frame ``value`` of N-Triples lines over
    ``triples(subj, pred, obj)`` — pure column expressions (whole-stage
    codegen), row-parallel, order-free."""
    s, p, o = (_iri(F.col(c)) for c in ("subj", "pred", "obj"))
    return triples.select(F.concat_ws(" ", s, p, o, F.lit(".")).alias("value"))


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Write the graph as partitioned ``.nt`` text under ``path`` (one
    part file per partition — repartition upstream to size the dump)."""
    to_ntriples_lines(triples).write.mode("overwrite").text(path)
