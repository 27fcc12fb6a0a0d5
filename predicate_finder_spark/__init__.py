"""predicate_finder_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of dbpedia/predicate-finder.

The reference (/root/reference, GSoC 2019) links natural-language text to
DBpedia (entity, predicate) pairs via per-row HTTP calls (SPARQL, Spotlight,
Falcon, CoreNLP).  This engine re-expresses every capability as declarative
Spark DataFrame plans over local dictionary tables:

- triple extraction over Common-Crawl-style ``pages(url, warc_ts, html,
  text, lang)`` (boilerplate-stripping extraction as a native regex
  Column expression, byte-identical per url),
- entity linking = broadcast alias-dictionary joins with optional
  MinHash-LSH blocking (replaces Spotlight/Falcon REST: reference
  pretreatment/DataExtract.py:127-198),
- candidate predicate generation = joins against a local ``kg_triples``
  table in both s->o and o->s directions (replaces live SPARQL
  GetPredicateList: reference pretreatment/DataExtract.py:22-63),
- IDF x cosine candidate scoring (reference baseline/baseline.py:96-169),
- top-1-per-group window re-ranking (reference mgnn/test.py:196-198),
- graph materialization to vertex/edge tables, with per-stage checkpoint /
  resume manifests.

Everything is DataFrame/SQL-first; Python only ever runs inside Arrow-batched
pandas UDFs (no per-row Python), and the flagship plan's only one is the
scorer.
"""

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.session import get_spark

__all__ = ["PipelineConfig", "get_spark"]
__version__ = "0.1.0"
