"""SparkSession factory.

One place to pin every config that matters for correctness (UTC timestamps
for DuckDB-oracle comparison, Arrow for pandas UDFs) and for scale (AQE,
skew-join handling, shuffle partition sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "predicate_finder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) else
    ``local[*]``.  ``shuffle_partitions`` defaults to 2x the local core
    count — on a real cluster this would be sized to keep post-shuffle
    partitions in the 64-256 MB range at the target data scale.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp:
            # BENCH/scaling.py sets this per leg by the uniform rule
            # 4 x cores (even python-UDF task waves; see the COALESCE
            # comment below) — measured: pinning ONE count across legs
            # slows the small leg ~18% on per-task overhead, which would
            # inflate the efficiency ratio for free; the rule keeps both
            # legs at their honest best
            shuffle_partitions = int(env_sp)
        else:
            n = _parse_local_threads(master)
            shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        # SPARK_GRAFT_COALESCE=0 pins the exact shuffle partition count:
        # for a known heavy python-UDF stage, a task count that is an even
        # multiple of the core count removes wave-quantization idle (AQE's
        # size-based coalescing produced e.g. 19 or 24 tasks on 16 cores —
        # a 16+3 tail wave left cores ~28% idle through the scorer stage;
        # measured in BENCH/stage_profile.py, see BENCH/BASELINE.md round 4)
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            "false" if os.environ.get("SPARK_GRAFT_COALESCE") == "0" else "true",
        )
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
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: give the single JVM most of the box
        # (cluster deployments size executors instead)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "64g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
