"""Materialize the deterministic synthetic corpus (+ the corpus-level IDF
table) to parquet ONCE, so scaling legs measure the pipeline over a stored
table — the way a cluster job reads input — instead of re-running the
generator at every parallelism level (at local[4] the generator+cache
overhead alone exceeded the 90-min leg budget at 3.2M pages).

Usage:  python BENCH/prep_corpus.py 3200000 /tmp/pfs_corpus_3200000
Then:   SPARK_GRAFT_CORPUS_DIR=/tmp/pfs_corpus_3200000 python bench.py
"""

from __future__ import annotations

import os
import sys
import time

from harness import CORPUS_TABLES, idf_table, start_spark

from predicate_finder_spark.synth import synth_corpus


def main() -> None:
    n = int(sys.argv[1])
    out = sys.argv[2]
    t0 = time.time()
    spark, _ = start_spark("pfs-prep-corpus")
    t = synth_corpus(spark, n)
    for name in CORPUS_TABLES:
        if name == "idf":
            # IDF is corpus-level state (pipeline docstring: incremental
            # runs MUST pass a fixed table), so it belongs with the corpus
            # snapshot, built over the pages as stored
            t["idf"] = idf_table(spark.read.parquet(os.path.join(out, "pages")))
        t[name].write.mode("overwrite").parquet(os.path.join(out, name))
    print(f"prepared {out} ({n} pages) in {round(time.time() - t0, 1)}s")


if __name__ == "__main__":
    main()
