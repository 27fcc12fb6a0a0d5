"""Stage-table I/O with per-partition lineage manifests + atomic commit.

north_rule requirements implemented here:
- **resumable from checkpoint**: each stage writes parquet to a temp dir,
  then atomically renames and commits a ``_manifest.json`` recording the
  stage name, config hash, schema, row count, and per-file row counts.  A
  rerun with the same config hash skips the stage (idempotent resume); a
  killed run leaves no half-visible stage (temp dir + rename).
- **one commit protocol**: the package's only commit point.  Stage dirs
  publish by rename; manifests and ``plans/incremental`` batch markers by
  :func:`commit_json`, read back by :func:`read_json` (torn = absent).
- **format**: every table is parquet plus its ``_manifest.json``; there
  is no Iceberg (or other table-format) writer.  The manifest carries the
  snapshot metadata a table format would (schema, row and file counts,
  config hash, commit time).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


def manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def commit_json(file_path: str, obj: dict) -> None:
    """Publish ``obj`` at ``file_path`` atomically (tmp file + os.replace):
    a crash mid-write never leaves a truncated marker or manifest."""
    tmp = file_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
    os.replace(tmp, file_path)


def read_json(file_path: str) -> dict | None:
    """The committed JSON at ``file_path``, or None when missing or torn:
    "never committed", so resume redoes the work instead of crashing."""
    try:
        with open(file_path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def read_manifest(path: str) -> dict | None:
    return read_json(manifest_path(path))


def stage_complete(
    path: str, stage: str, config_hash: str, input_fp: str | None = None
) -> bool:
    """A stage is reusable when (name, config hash, input fingerprint) all
    match — same config over DIFFERENT input data must not silently reuse
    stale tables.  Manifests written before fingerprints existed lack the
    key and therefore recompute once."""
    m = read_manifest(path)
    ok = bool(m and m.get("stage") == stage and m.get("config_hash") == config_hash)
    if ok and input_fp is not None:
        ok = m.get("input_fingerprint") == input_fp
    return ok


def dataframe_fingerprint(df: DataFrame) -> str:
    """Cheap content fingerprint of a file-backed DataFrame: the sorted
    source-file list with size+mtime (driver-side listing, no job).  A new
    snapshot written to the same path changes part-file names/sizes, so the
    fingerprint changes.  In-memory DataFrames fall back to their schema
    (weak, documented)."""
    try:
        files = sorted(df.inputFiles())
    except Exception:  # pragma: no cover - defensive
        files = []
    parts = []
    for f in files:
        p = urlparse(f).path or f
        try:
            st = os.stat(p)
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f)
    if not parts:
        parts = [df.schema.json()]
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def input_fingerprint(
    base_dir: str, inputs: list[str] | None, input_dfs: list[DataFrame] | None = None
) -> str:
    """Combined fingerprint of a stage's inputs: upstream stage manifests
    (rows + committed_at + config hash) for named inputs, plus source-file
    fingerprints for raw DataFrame inputs (the pipeline's first stage)."""
    parts = []
    for name in sorted(inputs or []):
        m = read_manifest(os.path.join(base_dir, name))
        if m:
            parts.append(
                f"{name}:{m.get('rows')}:{m.get('committed_at')}:{m.get('config_hash')}"
            )
        else:
            parts.append(f"{name}:-")
    for df in input_dfs or []:
        parts.append(dataframe_fingerprint(df))
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def write_stage(
    df: DataFrame,
    path: str,
    stage: str,
    config_hash: str,
    inputs: list[str] | None = None,
    input_fp: str | None = None,
    metrics: dict | None = None,
) -> dict:
    """Write ``df`` as a stage table with atomic commit + lineage manifest.

    Returns the manifest dict.  Partition-level lineage = per-parquet-file
    row counts computed from the committed files themselves (so the
    manifest describes what is actually on disk, not what was planned).
    """
    t0 = time.time()
    tmp = path + ".__tmp__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df.write.mode("overwrite").parquet(tmp)

    # per-file row counts from the parquet FOOTERS of the committed files —
    # metadata reads only, no second scan of the stage output (the previous
    # shape re-read the whole table through a groupBy(input_file_name),
    # one extra full pass per checkpointed stage).  Keys are relative to
    # the table root.
    import pyarrow.parquet as pq

    partitions = {}
    for root, _dirs, files in os.walk(tmp):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            fpath = os.path.join(root, fname)
            partitions[os.path.relpath(fpath, tmp)] = pq.ParquetFile(
                fpath
            ).metadata.num_rows
    manifest = {
        "stage": stage,
        "config_hash": config_hash,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "schema": df.schema.json(),
        "rows": int(sum(partitions.values())),
        "n_files": len(partitions),
        "partitions": partitions,
        "inputs": inputs or [],
        "input_fingerprint": input_fp,
        "metrics": {**(metrics or {}), "write_sec": round(time.time() - t0, 3)},
    }
    commit_json(manifest_path(tmp), manifest)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)
    return manifest


def read_stage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table for repeat-join workloads.

    Both sides of a join bucketed on the same key with the same bucket
    count are co-located: SortMergeJoin reads matching buckets directly and
    the physical plan has NO Exchange on either side (guarded by
    tests/test_scale_paths.py).  For a dimension/fact pair joined in every
    pipeline run, the one-time bucketed write amortizes away every later
    shuffle — the classic 100 TB repeat-join play (hive-style bucketing,
    the parquet twin of Iceberg's bucket partition transform).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def checkpoint_stage(
    spark: SparkSession,
    df_fn,
    path: str | None,
    stage: str,
    config_hash: str,
    resume: bool = True,
    inputs: list[str] | None = None,
    input_dfs: list[DataFrame] | None = None,
) -> DataFrame:
    """Materialize-or-reuse: if ``path`` is set and a matching manifest
    (stage, config hash, input fingerprint) exists, read the table (stage
    skipped); else compute, commit, re-read.

    ``df_fn`` is a thunk so skipped stages never even build their plan.
    ``input_dfs``: raw DataFrame inputs (not stage names) to fingerprint —
    pass the source frames for stages that read external data.
    """
    if path is None:
        return df_fn()
    fp = input_fingerprint(os.path.dirname(path), inputs, input_dfs)
    if resume and stage_complete(path, stage, config_hash, fp):
        return read_stage(spark, path)
    t0 = time.time()
    df = df_fn()
    plan_sec = round(time.time() - t0, 3)
    write_stage(
        df, path, stage, config_hash, inputs=inputs, input_fp=fp,
        metrics={"plan_sec": plan_sec},
    )
    return read_stage(spark, path)
