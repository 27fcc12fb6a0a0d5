"""Per-stage profile of the flagship pipeline from the Spark event log —
find WHERE the wall time, bytes, spill and memory go at a given
parallelism, with no Spark UI.

The session writes its event log to a temporary directory.  Each completed
stage gives submission and completion times, its task count and the
summed task metrics (run and CPU time, GC, input, shuffle read/write,
spill); its task-end events give the largest single task's peak execution
memory, the figure a shuffled-hash join's build side (which cannot spill)
must fit in.  At p cores a perfectly parallel stage has wall ~=
run time / p; a stage whose wall stays flat when p quadruples is the
scaling bottleneck.  Driver time (planning, broadcast build, scheduling
gaps) shows up as wall minus the sum of stage walls.  The classes compiled
during the run (``codegen_compiles``) and their Janino time
(``codegen_compile_ms``, driver and task threads together; a task compiles
its own copy of a whole-stage class) bound how much of that gap is
code generation.

The measured run is the second of two identical runs (the first warms the
Python workers, code cache and broadcasts) under the session's own sizing
and ``bench.py``'s flagship task sizing (``harness.even_waves``).

Usage (one leg; run once per parallelism level, same corpus):

    SPARK_GRAFT_CPUS=4  PROFILE_PAGES=800000 python BENCH/stage_profile.py
    SPARK_GRAFT_CPUS=16 PROFILE_PAGES=800000 python BENCH/stage_profile.py

or against a pre-materialized corpus (BENCH/prep_corpus.py):

    SPARK_GRAFT_CORPUS_DIR=/tmp/pfs_corpus_800000 SPARK_GRAFT_CPUS=4 \
        python BENCH/stage_profile.py

``PROFILE_ACTION=count`` forces with ``count()`` as ``bench.py`` does
(default: a noop write); ``PROFILE_TOP`` caps the listed stages (default
14).  Prints one JSON line: {"cpus", "pages", "wall_sec",
"stage_wall_sum", "driver_gap_s", "codegen_compiles", "codegen_compile_ms",
"exec_run_total_s", "ideal_wall_s",
"n_stages", byte totals, "stages": [...top by wall...]}.
"""

from __future__ import annotations

import fileinput
import json
import os
import shutil
import sys
import tempfile
import time

from harness import REPO, best_of, even_waves, extract, force, load_corpus, start_spark, with_scorer

sys.path.insert(0, os.path.join(REPO, "perfbench"))
from tracing import _event_log_files  # one file, or Spark 4's rolling layout

_SUMS = {
    "run_s": ("internal.metrics.executorRunTime", 1e-3),
    "cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "input_bytes": ("internal.metrics.input.bytesRead", 1),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "spill_bytes": ("internal.metrics.diskBytesSpilled", 1),
}
_SHUFFLE_READ = (
    "internal.metrics.shuffle.read.remoteBytesRead",
    "internal.metrics.shuffle.read.localBytesRead",
)


def read_stages(log_dir: str) -> list[dict]:
    """Every successfully completed stage in the event log of the one
    application logged in ``log_dir``, in completion order: ``{"id",
    "name", "tasks", "submitted", "completed"`` (epoch seconds),
    ``"wall_s", "run_s", "cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"`` (summed
    over the stage's tasks) and ``"peak_task_mem_bytes"`` (the largest
    single task's peak execution memory)}``."""
    peak: dict[tuple[int, int], int] = {}
    stages = []
    with fileinput.input(_event_log_files(log_dir)) as lines:
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                mem = (ev.get("Task Metrics") or {}).get("Peak Execution Memory", 0)
                peak[key] = max(peak.get(key, 0), mem)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" in info:
                    continue
                acc = {a["Name"]: int(a["Value"]) for a in info.get("Accumulables", [])
                       if a.get("Name", "").startswith("internal.metrics.")}
                sub, comp = info["Submission Time"] / 1e3, info["Completion Time"] / 1e3
                row = {
                    "id": info["Stage ID"],
                    "name": info["Stage Name"],
                    "tasks": info["Number of Tasks"],
                    "submitted": sub,
                    "completed": comp,
                    "wall_s": comp - sub,
                    **{k: acc.get(name, 0) * scale for k, (name, scale) in _SUMS.items()},
                    "shuffle_read_bytes": sum(acc.get(n, 0) for n in _SHUFFLE_READ),
                    "peak_task_mem_bytes": peak.get(
                        (info["Stage ID"], info["Stage Attempt ID"]), 0),
                }
                stages.append(row)
    return stages


def codegen_counters(spark) -> tuple[int, float]:
    """``(classes, ms)`` this JVM has compiled so far.  Spark's codegen
    compile-time histogram (``CodegenMetrics``) takes one sample per class
    compiled; ``CodeGenerator.compileTime`` sums their nanoseconds (the
    histogram's own samples are a decaying reservoir, not a total)."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def main() -> None:
    n_pages = int(os.environ.get("PROFILE_PAGES", "200000"))
    action = os.environ.get("PROFILE_ACTION", "save")
    log_dir = tempfile.mkdtemp(prefix="pfs-eventlog-")
    try:
        spark, cpus = start_spark("pfs-stage-profile", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
        c = with_scorer(load_corpus(spark, n_pages))
        even_waves(spark, c["n_pages"], cpus)

        def one_run():
            tri = extract(spark, c)
            if action == "count":
                tri.count()
            else:
                force(tri)

        best_of(spark, "profile:warm-up", one_run, n=1)
        t0 = time.time()
        n0, ms0 = codegen_counters(spark)
        wall = best_of(spark, "profile:measured", one_run, n=1)
        n1, ms1 = codegen_counters(spark)
        spark.stop()  # flushes the event log
        new = [s for s in read_stages(log_dir) if s["submitted"] >= t0]
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    rows = [{
        "id": s["id"],
        "wall_s": round(s["wall_s"], 2),
        "run_s": round(s["run_s"], 2),
        "cpu_s": round(s["cpu_s"], 2),
        # parallel occupancy: 1.0 = all p cores busy the whole stage
        "occupancy": round(s["run_s"] / (s["wall_s"] * cpus), 3) if s["wall_s"] > 0 else None,
        "tasks": s["tasks"],
        "gc_s": round(s["gc_s"], 2),
        "in_mb": round(s["input_bytes"] / 1e6, 1),
        "sw_mb": round(s["shuffle_write_bytes"] / 1e6, 1),
        "sr_mb": round(s["shuffle_read_bytes"] / 1e6, 1),
        "spill_mb": round(s["spill_bytes"] / 1e6, 1),
        "peak_task_mem_mb": round(s["peak_task_mem_bytes"] / 1e6, 1),
        "name": s["name"][:60],
    } for s in new]
    rows.sort(key=lambda r: -r["wall_s"])
    stage_wall = sum(s["wall_s"] for s in new)
    run_total = sum(s["run_s"] for s in new)
    out = {
        "cpus": cpus,
        "pages": c["n_pages"],
        "wall_sec": round(wall, 2),
        "stage_wall_sum": round(stage_wall, 2),
        "driver_gap_s": round(wall - stage_wall, 2),
        "codegen_compiles": n1 - n0,
        "codegen_compile_ms": round(ms1 - ms0, 1),
        "exec_run_total_s": round(run_total, 2),
        "ideal_wall_s": round(run_total / cpus, 2),
        "n_stages": len(new),
        **{k: sum(s[k] for s in new) for k in (
            "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")},
        "peak_task_mem_bytes": max((s["peak_task_mem_bytes"] for s in new), default=0),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "stages": rows[: int(os.environ.get("PROFILE_TOP", "14"))],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
