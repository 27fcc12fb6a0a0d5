"""HTML -> text boilerplate-stripping extraction.

The per-row invariant (BASELINE.json input_hint): extracted ``text`` is
byte-identical per ``url`` across runs and parallelism levels.  Guaranteed by
construction — the extractor is one native Column expression, a pure function
of the html bytes (a ``regexp_replace``/``replace`` chain, no locale, no
threads, no Python worker).  (Readability-lite: drop head/script/style/nav/
aside/footer/ad blocks, keep content blocks, strip tags, decode entities,
collapse whitespace.)

The patterns are Java regexes written to match what Python's ``re`` does on
``str``, so ``tests/test_extract.py`` can check the expression against a
Python kernel row for row:

- ``_WS`` is Python's ``str.isspace`` class; Java's ``\\s`` misses
  ``\\x1c``-``\\x1f`` and the Unicode spaces, and ``F.trim`` strips only
  ``' '`` (enough once every whitespace run is one space).
- ``\\b`` after a tag name is spelled as Python's ``\\w`` boundary,
  ``[\\p{L}\\p{N}_]``: Java 17's ``\\b`` counts combining marks as word
  characters.  The class equals Python's ``\\w`` except on letters and
  digits newer than the JVM's Unicode tables (525 code points between
  Python 3.11 and Java 17).
- ``(?i)`` folds ASCII only, HTML's rule for tag names; Python's Unicode
  IGNORECASE also folds ``ſ``/``İ`` into them (``<ſcript>``).
- The html is decoded by the binary -> string cast.  Malformed UTF-8 becomes
  U+FFFD as with Python's ``errors="replace"``, except that an encoded
  surrogate (``b"\\xed\\xa0\\x80"``) yields one U+FFFD, not three.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WS = r"[\t\n\x0b\x0c\r\x1c-\x1f \x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
_WORD = r"[\p{L}\p{N}_]"
_DROP_BLOCKS = rf"(?is)<(head|script|style|nav|aside|footer)(?!{_WORD}).*?</\1{_WS}*>"
_DROP_AD_DIVS = (
    rf'(?is)<div(?!{_WORD})[^>]*class="[^"]*(?<!{_WORD})ads?(?!{_WORD})[^"]*"[^>]*>'
    rf".*?</div{_WS}*>"
)
_TAG = r"<[^>]+>"
_ENTITIES = (
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&copy;", "(c)"), ("&nbsp;", " "),
)


def extract_text(col: Column | str) -> Column:
    """Column expression: html (binary or string) -> extracted text, ``""``
    for null html."""
    s = (F.col(col) if isinstance(col, str) else col).cast("string")
    for pattern in (_DROP_BLOCKS, _DROP_AD_DIVS, _TAG):
        s = F.regexp_replace(s, pattern, " ")
    for ent, rep in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    s = F.trim(F.regexp_replace(s, _WS + "+", " "))
    return F.coalesce(s, F.lit(""))


def extract_pages(pages: DataFrame) -> DataFrame:
    """Replace ``text`` with the extraction of ``html``.

    At 100 TB this is a narrow map stage inside the scan's whole-stage
    codegen: no shuffle, no Python worker, columns pruned to (url, html) +
    passthrough.
    """
    return (
        pages.withColumn("text_extracted", extract_text("html"))
        .drop("text")
        .withColumnRenamed("text_extracted", "text")
    )
