"""Incremental KG construction: process only never-seen pages per batch.

A production crawl pipeline never reprocesses the corpus: each new crawl
snapshot is diffed against the set of already-processed URLs, only the
delta flows through extraction, and the graph is the union of all
committed batches.  This works because the flagship plan is per-page
decomposable ONCE the corpus-level state is pinned: extraction, linking
(dictionary-side disambiguation), pairing, the KG join, and scoring are
all pure functions of (page, dictionaries) — so batch boundaries cannot
change any triple.  The one non-decomposable input, IDF/embedding
state, must therefore be passed in fixed (``scorer_dicts`` from
``plans.pipeline.build_scorer_dicts`` or a materialized ``idf`` table);
this module refuses to run without it rather than silently producing
batch-dependent scores.

State layout (append-only, crash-safe — the parquet/manifest stand-in
for Iceberg snapshot appends, same rationale as sources/tables.py):

    state_dir/batches/<batch_id>/triples/   triples of this delta
    state_dir/batches/<batch_id>/urls/      urls processed by this delta
    state_dir/batches/<batch_id>/_batch.json   atomic commit marker

A batch exists iff its ``_batch.json`` marker committed (through
``sources.tables.commit_json``); a crash mid-batch leaves no marker, the
partial dirs are ignored, and the next run reprocesses that delta —
idempotent by construction, no cleanup step.

Readers see committed batches only, as ONE parquet scan per state table:
``spark.read.schema(<manifest schema>).parquet(<one dir per batch>)``.
``write_stage`` records every table's schema in its ``_manifest.json``, so
no read runs a schema-inference job, and a state read costs no Spark job
at all while the scan names at most 32 paths
(``spark.sql.sources.parallelPartitionDiscovery.threshold``; above it
Spark lists the directories with one parallel job).  Passing directories,
not the manifests' file lists, keeps the count at one path per batch;
:func:`compact_batches` folds the batches back into one.

Scale shape at 10^12 docs: delta detection is ONE anti-join of the
snapshot against the processed-url table (shuffle on url, AQE-handled
skew), run once per commit: its urls are written first and the
extraction input is the snapshot semi-joined to them, so everything
downstream touches only the delta.  The seen-url side
grows monotonically but stores one short string per page — at Common
Crawl scale it is the same order as a single crawl's url list, and the
anti-join is the standard "new-crawl minus seen" step every crawler
runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.plans.pipeline import _triples_plan
from predicate_finder_spark.sources.tables import (
    commit_json, read_json, read_manifest, write_stage,
)

_BATCH_MARKER = "_batch.json"


def _batches_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "batches")


def committed_batches(state_dir: str) -> list[str]:
    """Visible committed batch ids, in commit order (ties: name).

    Batches listed in any committed marker's ``replaces`` field (written
    by :func:`compact_batches`) are hidden — the compacted batch IS their
    content, Iceberg-snapshot style."""
    bd = _batches_dir(state_dir)
    if not os.path.isdir(bd):
        return []
    out, replaced = [], set()
    for name in os.listdir(bd):
        meta = read_json(os.path.join(bd, name, _BATCH_MARKER))
        if meta is None:
            continue  # torn or absent marker: batch never happened
        out.append((meta.get("committed_at", 0.0), name))
        replaced.update(meta.get("replaces", []))
    return [name for _, name in sorted(out) if name not in replaced]


def _union_batches(
    spark: SparkSession, state_dir: str, names: list[str], table: str
) -> DataFrame | None:
    """``<batch>/<table>`` over the named batches as one schema-pinned
    parquet scan, or None when none of them carries the table.

    A batch without the table directory does not carry it; one whose
    table has no readable manifest is corrupt and raises.  Every batch's
    manifest schema must match the first one's up to nullability (file
    sources read every column as nullable); a batch that differs raises,
    named."""
    bd = _batches_dir(state_dir)
    dirs, schema, first = [], None, None
    for n in names:
        path = os.path.join(bd, n, table)
        if not os.path.isdir(path):
            continue
        m = read_manifest(path)
        if m is None or "schema" not in m:
            raise ValueError(f"batch {n!r}: {table}/ has no readable manifest")
        s = StructType.fromJson(json.loads(m["schema"]))
        if schema is None:
            schema, first = s, n
        elif s.simpleString() != schema.simpleString():
            raise ValueError(
                f"batch {n!r}: {table} schema {s.simpleString()} differs from "
                f"{schema.simpleString()} of batch {first!r}"
            )
        dirs.append(path)
    return spark.read.schema(schema).parquet(*dirs) if dirs else None


def incremental_state(
    spark: SparkSession, state_dir: str, as_of: str | None = None
) -> tuple[DataFrame | None, DataFrame | None]:
    """(cumulative triples, processed urls) across committed batches, or
    (None, None) when no batch has ever committed.

    ``as_of``: time-travel read — only batches up to and including the
    named batch (in commit order) contribute, the Iceberg snapshot-as-of
    semantics.  A batch folded away by :func:`compact_batches` is no
    longer addressable (compaction trades time-travel granularity for
    file count, exactly Iceberg's snapshot expiry) — asking for one
    raises rather than silently returning the wrong state."""
    names = committed_batches(state_dir)
    if as_of is not None:
        if as_of not in names:
            raise ValueError(
                f"as_of batch {as_of!r} is not a visible committed batch "
                f"(committed: {names}) — it may have been compacted away"
            )
        names = names[: names.index(as_of) + 1]
    return (
        _union_batches(spark, state_dir, names, "triples"),
        _union_batches(spark, state_dir, names, "urls"),
    )


def seen_content_hashes(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Union of committed batches' content-hash tables (``hashes/`` dirs),
    or None when no committed batch carries one.  Batches committed before
    content-dedup existed (or with it off) simply contribute nothing."""
    return _union_batches(spark, state_dir, committed_batches(state_dir), "hashes")


def extract_triples_incremental(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    kg_triples: DataFrame,
    ontology: DataFrame,
    embeddings: DataFrame,
    state_dir: str,
    batch_id: str,
    cfg: PipelineConfig | None = None,
    idf: DataFrame | None = None,
    scorer_dicts: tuple[dict, dict] | None = None,
    dedup_content: bool = False,
) -> DataFrame:
    """Process the pages of ``pages`` not yet in ``state_dir``, commit them
    as batch ``batch_id``, and return the cumulative triples table.

    Re-running with the same ``batch_id`` after a successful commit is a
    no-op read; re-running after a crash redoes the delta (the torn batch
    was never visible).  ``pages`` may be a full snapshot (superset of
    everything seen) or a pure delta feed — the anti-join makes both
    equivalent.

    ``dedup_content=True`` additionally drops crawl mirrors: pages whose
    ``md5(text)`` already appeared in ANY committed batch (one more
    anti-join — on a 16-byte key, not documents), plus within-batch exact
    duplicates (lowest url survives, operators/dedup semantics).  Mirror
    urls still commit to the seen-url table, so they are never re-fetched
    into a later delta; the per-batch ``hashes/`` table is the growing
    corpus fingerprint set — same monotone-state shape as seen urls.
    """
    if idf is None and scorer_dicts is None:
        raise ValueError(
            "incremental runs need corpus-level scorer state pinned: pass "
            "idf= or scorer_dicts= (plans.pipeline.build_scorer_dicts); a "
            "per-batch IDF would make scores depend on batch boundaries"
        )
    cfg = cfg or PipelineConfig()
    prior_triples, seen_urls = incremental_state(spark, state_dir)
    batch_dir = os.path.join(_batches_dir(state_dir), batch_id)
    if read_json(os.path.join(batch_dir, _BATCH_MARKER)) is not None:
        return prior_triples  # this batch already committed

    ch = cfg.config_hash()
    # commit order: the delta's urls first — the commit's one anti-join
    # against the seen urls, and its emptiness check — then the other
    # tables, then the marker (commit_json): the batch becomes visible
    # atomically with every table in place
    unseen = (
        pages.join(seen_urls.select("url"), "url", "left_anti")
        if seen_urls is not None else pages
    )
    urls = write_stage(
        unseen.select("url").distinct(), os.path.join(batch_dir, "urls"),
        "inc_urls", ch,
    )
    if urls["rows"] == 0:
        shutil.rmtree(batch_dir, ignore_errors=True)  # no batch to commit
        return prior_triples if prior_triples is not None else _empty_like(spark)
    # the delta's pages: the snapshot semi-joined to the written url table,
    # which is bounded by the delta, not by the state
    delta = pages.join(
        _union_batches(spark, state_dir, [batch_id], "urls"), "url", "left_semi"
    )

    extract_input = delta
    if dedup_content:
        from predicate_finder_spark.operators.dedup import exact_dedup

        seen_h = seen_content_hashes(spark, state_dir)
        hashed = delta.withColumn("_h", F.md5("text"))
        if seen_h is not None:
            hashed = hashed.join(seen_h.select("_h"), "_h", "left_anti")
        extract_input = exact_dedup(
            hashed, id_col="url", text_col="text"
        ).drop("_h")
        if extract_input.limit(1).count() == 0:
            extract_input = None  # all mirrors; the urls still commit

    tri, persisted = (
        _triples_plan(
            spark, extract_input, aliases, kg_triples, ontology, embeddings,
            cfg=cfg, idf=idf, scorer_dicts=scorer_dicts,
        )
        if extract_input is not None
        else (_empty_like(spark), None)
    )
    try:
        m = write_stage(tri, os.path.join(batch_dir, "triples"), "inc_triples", ch)
    finally:
        if persisted is not None:
            persisted.unpersist()  # the triples are written: no reader left
    if dedup_content:
        write_stage(
            delta.select(F.md5("text").alias("_h")).distinct(),
            os.path.join(batch_dir, "hashes"), "inc_hashes", ch,
        )
    commit_json(os.path.join(batch_dir, _BATCH_MARKER), {
        "batch_id": batch_id,
        "config_hash": ch,
        "committed_at": time.time(),
        "triples_rows": m["rows"],
    })

    cum, _ = incremental_state(spark, state_dir)
    return cum


def _empty_like(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [],
        "subj string, pred string, obj string, score double, url string, "
        "provenance struct<stage:string, rule:string>",
    )


def compact_batches(
    spark: SparkSession, state_dir: str, remove_old: bool = False
) -> str | None:
    """Fold every visible committed batch into ONE compacted batch —
    the Iceberg snapshot-compaction analog for the append-only state.

    A long-running ingest accumulates thousands of small batch dirs; the
    cumulative scan lists all of them on every read, with one Spark
    listing job once they pass 32.  Compaction rewrites
    the union (triples, urls, and content hashes where present) as a
    single batch whose marker lists the source batches in ``replaces``;
    readers hide replaced batches, so visibility flips ATOMICALLY with
    the marker rename.  Crash before the marker: the partial compact dir
    is invisible and the sources remain live — rerun-safe, no cleanup
    needed.  ``remove_old=True`` deletes the replaced dirs afterwards
    (best-effort; leaving them costs only disk — readers already ignore
    them).

    Returns the new batch id, or None when fewer than two batches exist.
    """
    names = committed_batches(state_dir)
    if len(names) < 2:
        return None
    bd = _batches_dir(state_dir)
    triples, urls = incremental_state(spark, state_dir)
    new_id = "compact-" + hashlib.md5("|".join(names).encode()).hexdigest()[:12]
    batch_dir = os.path.join(bd, new_id)
    m = write_stage(triples, os.path.join(batch_dir, "triples"), "inc_triples", "compact")
    write_stage(urls, os.path.join(batch_dir, "urls"), "inc_urls", "compact")
    h = _union_batches(spark, state_dir, names, "hashes")
    if h is not None:
        write_stage(h.distinct(), os.path.join(batch_dir, "hashes"),
                    "inc_hashes", "compact")
    commit_json(os.path.join(batch_dir, _BATCH_MARKER), {
        "batch_id": new_id,
        "committed_at": time.time(),
        "replaces": names,
        "triples_rows": m["rows"],
    })
    if remove_old:
        for n in names:
            shutil.rmtree(os.path.join(bd, n), ignore_errors=True)
    return new_id
