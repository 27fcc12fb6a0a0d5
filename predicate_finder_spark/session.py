"""SparkSession factory: the one place the engine decides how a session is
pinned and sized.

Correctness pins: UTC timestamps (DuckDB-oracle comparison) and Arrow for
every pandas UDF.  Sizing, each derived from the box or the master:

- master: ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``;
- ``spark.sql.shuffle.partitions``: ``max(2 x local threads, 8)`` unless
  the caller passes ``shuffle_partitions``;
- ``spark.driver.memory``: ``$SPARK_DRIVER_MEM``, else
  :func:`driver_memory` of the box's physical RAM;
- AQE on, with partition coalescing and skew-join splitting; shuffled-hash
  joins preferred over sort-merge;
- ``spark.sql.codegen.cache.maxEntries``: a constant 1024, several times
  the largest product cycle's working set of generated classes (measured
  next to the setting).  Spark keeps compiled classes in an LRU keyed by
  their source text (default 100 entries); a cycle with more distinct
  classes than that evicts each one before its next use and recompiles
  all of them on every pass.

:func:`plan_bytes` is the optimizer size estimate that every size-keyed
plan choice (the KG broadcast cap, the driver queries' scan spreads) reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "predicate_finder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine (see the module
    docstring for the sizing rules).  On a real cluster the shuffle
    partition count would be sized to keep post-shuffle partitions in the
    64-256 MB range at the target data scale."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        shuffle_partitions = max(2 * _parse_local_threads(master), 8)

    ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy: allow shuffled-hash join when the per-partition
        # build side fits (guide: prefer hash over sort-merge when
        # applicable) — the engine's equi-joins on (url, sent_id) /
        # (__sid, __oid) / block keys then skip both sides' sorts.  The
        # per-partition build is bounded by the shuffle partition sizing
        # (AQE advisory size), and AQE's skew-join split stays on as the
        # OOM backstop.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
        # Arrow transfer for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch UDF overhead and feed the
        # vectorized scorer larger matvecs / better per-batch cache hits
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # Deterministic timestamps; DuckDB compares in UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache (static: read once, when the session is
        # built).  Classes per cycle at local[4]: ~140 for a kg_incremental
        # commit + republish + SPARQL read mix (~150 for the same cycle at
        # test scale), ~130 for extract_triples + materialize_graph at
        # 2,000 pages, ~80 for curate.  At the default 100 the LRU evicts
        # each class of the first three before its next use, so every pass
        # recompiles all of them (~1.3 s per kg_incremental op).  Metaspace
        # after 6 kg_incremental ops: 175 MB here, 181 MB at 100.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or driver_memory(ram_bytes),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_memory(ram_bytes: int) -> str:
    """Heap cap of the local-mode JVM: a third of physical RAM, at least
    2 GB.  Local mode runs every task in this one JVM, but the box also
    hosts the Python UDF workers and the OS page cache; a cap above RAM
    leaves a long-lived JVM without GC pressure until the kernel's OOM
    killer takes it.  No upper bound: a large box running wide local[N]
    scaling legs wants that third."""
    return f"{max(2, int(ram_bytes / 2**30 // 3))}g"


def plan_bytes(df: DataFrame) -> int:
    """Optimizer size estimate of a frame: accurate for cached inputs, file
    size for parquet scans.  Unknown (e.g. ExistingRDD, or the estimate
    fails) reads as huge, which disables a broadcast keyed on it and lets a
    scan spread through."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _parse_local_threads(master: str) -> int:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 8
