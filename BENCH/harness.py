"""Scaffolding shared by the exploratory bench scripts: ``bench_extra.py``,
``BENCH/stage_profile.py`` and ``BENCH/prep_corpus.py``.

``bench.py`` is the frozen measurement and keeps its own copy of each
piece; the pieces here follow it, so their numbers compare with its:

- :func:`start_spark`: the engine's own session policy at
  ``local[$SPARK_GRAFT_CPUS]`` (default 32), JVM and Python workers warmed;
- :func:`load_corpus` and :func:`with_scorer`: the flagship's inputs,
  synthetic or the parquet snapshot at ``$SPARK_GRAFT_CORPUS_DIR``, and the
  scorer dictionaries pinned from the corpus-level IDF table, all
  materialized before any timed window;
- :func:`best_of` and :func:`force`: best-of-N wall time of a noop-forced
  plan, optionally from a cleared cache;
- :func:`even_waves`: the task sizing of ``bench.py``'s flagship window.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.operators.extract import extract_pages
from predicate_finder_spark.operators.mentions import explode_sentences
from predicate_finder_spark.operators.scoring import build_idf
from predicate_finder_spark.plans.pipeline import (
    build_scorer_dicts,
    extract_triples,
)
from predicate_finder_spark.session import get_spark
from predicate_finder_spark.synth import synth_corpus

DICTS = ("aliases", "kg_triples", "ontology", "embeddings")
CORPUS_TABLES = ("pages", *DICTS, "gold_triples", "idf")
# the synthetic KG dictionary is built distinct (synth.build_kg): skip the
# per-run dictionary-wide distinct shuffle, as a deploy with an
# ingest-deduped KG would
KG_CFG = PipelineConfig(kg_prededuped=True)
# below this many pages per-task overhead dominates the second-scale stages
# (measured at 20k pages / local[32]: 128 uncoalesced partitions cost 3.5x)
EVEN_WAVE_MIN_PAGES = 200_000


def start_spark(app_name: str, extra_conf: dict[str, str] | None = None):
    """``(spark, cpus)``: a session under ``get_spark``'s own sizing, with
    the JVM and the Python workers warmed so timings measure the work."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name=app_name, master=f"local[{cpus}]", extra_conf=extra_conf)
    spark.range(1_000_000).select(F.sum("id")).collect()
    return spark, cpus


def idf_table(pages):
    """The corpus-level IDF table: fixed state that every run and increment
    over the corpus shares (pipeline docstring)."""
    return build_idf(explode_sentences(extract_pages(pages)))


def load_corpus(spark, n_pages: int) -> dict:
    """The flagship's inputs by name (:data:`CORPUS_TABLES`, plus
    ``n_pages``), the dictionaries cached and counted.

    With ``$SPARK_GRAFT_CORPUS_DIR`` (a ``prep_corpus.py`` snapshot) the
    pages are not cached, so a timed window includes their parquet scan as
    a cluster job's would; otherwise ``n_pages`` synthetic pages are
    generated and cached.  ``idf`` is lazy until :func:`with_scorer`."""
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS_DIR")
    if corpus_dir:
        c = {
            name: spark.read.parquet(os.path.join(corpus_dir, name))
            for name in CORPUS_TABLES
        }
    else:
        c = synth_corpus(spark, n_pages)
        c["pages"] = c["pages"].cache()
        c["idf"] = idf_table(c["pages"])
    c["n_pages"] = c["pages"].count()
    for k in DICTS:
        c[k] = c[k].cache()
        c[k].count()
    return c


def with_scorer(c: dict) -> dict:
    """``c`` with its IDF table cached and the scorer dictionaries built
    from it (``scorer_dicts``), as ``bench.py`` pins them."""
    idf = c["idf"].cache()
    idf.count()
    scorer = build_scorer_dicts(idf, c["kg_triples"], c["ontology"], c["embeddings"], KG_CFG)
    return {**c, "idf": idf, "scorer_dicts": scorer}


def extract(spark, c: dict):
    """The flagship plan over a :func:`with_scorer` corpus."""
    return extract_triples(
        spark, c["pages"], c["aliases"], c["kg_triples"], c["ontology"],
        c["embeddings"], KG_CFG, idf=c["idf"], scorer_dicts=c["scorer_dicts"],
    )


def force(df) -> None:
    """Materialize every row with no driver collect."""
    df.write.mode("overwrite").format("noop").save()


def best_of(spark, label: str, run, keep=None, n: int = 2) -> float:
    """Best wall seconds of ``n`` calls of ``run`` under job description
    ``label``: this host's external load bursts last minutes, so the best
    run is the cleaner one.

    With ``keep`` (a frame), every call starts from a cleared cache holding
    only ``keep``, re-materialized: operators that persist their own
    waists would otherwise reuse the previous call's frames (the cache
    manager matches canonicalized plans) and measure nothing."""
    best = float("inf")
    for _ in range(n):
        if keep is not None:
            spark.catalog.clearCache()
            keep.persist()
            keep.count()
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        run()
        best = min(best, time.time() - t0)
    return round(best, 3)


def even_waves(spark, n_pages: int, cpus: int) -> None:
    """``bench.py``'s flagship task sizing: from
    :data:`EVEN_WAVE_MIN_PAGES` pages on, exactly 4 x cores shuffle
    partitions with AQE coalescing off, so the scorer's Python-UDF tasks
    land in even waves (size-based coalescing gave 19 or 24 tasks on 16
    cores: a 16+3 tail wave left cores ~28% idle)."""
    if n_pages >= EVEN_WAVE_MIN_PAGES:
        spark.conf.set("spark.sql.shuffle.partitions", str(4 * cpus))
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
