"""KG snapshot evolution: the triple delta between two graph snapshots.

A KG built incrementally over an Iceberg corpus (plans/incremental.py)
produces a new triple snapshot per ingest batch; the downstream consumers
(graph sinks, embedding trainers, curation audits) want the DELTA — what
appeared, what vanished — not a full re-read.  The reference has no
incremental story (single-shot scripts); this extends the pipeline-
lifecycle surface alongside plans/incremental.py.

100 TB shape: two ``left_anti`` equi-joins on the key columns — each one
shuffle on (subj, pred, obj) with map-side-combined ``distinct`` — and
never a full outer join that materializes the unchanged majority (at
snapshot scale, adds+removes are a sliver of the graph).  AQE handles
hot-predicate skew on the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_KEYS = ("subj", "pred", "obj")


def triple_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Rows only in ``new`` (``change='added'``) plus rows only in ``old``
    (``change='removed'``), keyed on ``TRIPLE_KEYS``; duplicates within a snapshot
    collapse first (a triple asserted twice is still one fact)."""
    k = list(TRIPLE_KEYS)
    o = old.select(*k).distinct()
    n = new.select(*k).distinct()
    added = n.join(o, k, "left_anti").withColumn("change", F.lit("added"))
    removed = o.join(n, k, "left_anti").withColumn("change", F.lit("removed"))
    return added.unionByName(removed)
