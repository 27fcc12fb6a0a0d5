"""Benchmark of predicate_finder_spark: one workload per run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  Setup starts one Spark session at
``local[<cpus>]``, generates the workload's inputs from ``--seed`` and
writes them to parquet under ``.perfbench_work/``; the workload's
``warmup_ops`` untimed ops follow.
Then the workload repeats its op, and its reads, until ``--seconds`` have
passed and at least the workload's ``min_ops`` ops ran, checking every
output.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see README.md).
Lines before it report the box, the health of the timed window and, for a
traced run, the per-layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from procfs import Sampler, descendants, tree_cpu_s
from tracing import (
    EXTRA_METRICS,
    LAYER_FIELDS,
    LAYERS,
    PER_LAYER_UNITS,
    QUERY_SHAPES,
    Tracer,
    group_metrics,
    layer_table,
)

ROOT = os.getcwd()


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _fit_box(work: str) -> dict:
    """Environment for the Spark JVM and its Python workers, sized to the box."""
    env = {
        # workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # a third of RAM, 2-8 GB: the box is shared
        "SPARK_DRIVER_MEM": f"{max(2, min(8, int(_mem_gb() // 3)))}g",
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def _start_spark(work: str, trace: bool):
    from predicate_finder_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{_cpus()}]", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until no child process is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Run:
    def __init__(self, args) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.report_dir = os.path.join(ROOT, ".perfbench_out")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.makedirs(self.report_dir, exist_ok=True)
        self.env = _fit_box(self.work)
        self.cls = WORKLOADS[args.workload]
        self.sampler = Sampler(os.getpid())
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, errs: list[str]) -> None:
        self.failed += 1
        self.errors.extend(f"{what}: {e}" for e in errs)

    def one_op(self, wl, k: int, tracer=None, reps: int = 1) -> dict | None:
        """Op k with its output check, then its reads.  One attempt per op
        and per read; an attempt fails if it raises or its check fails."""
        op_id = f"op{k}"
        self.attempted += 1
        t0, c0 = time.time(), tree_cpu_s(os.getpid())
        try:
            if tracer is None:
                wl.spark.sparkContext.setJobGroup(f"{op_id}/op", op_id)
                res = wl.op(k)
            else:
                with tracer.span("op", op_id):
                    wl.traced_op(tracer, k)
                res = {"pages": wl.pages}
            t1, c1 = time.time(), tree_cpu_s(os.getpid())
            errs = wl.check(k)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            traceback.print_exc(file=sys.stderr)
            self.fail(f"op {k}", [f"{type(e).__name__}: {e}"])
            return None
        if errs:
            self.fail(f"op {k}", errs)
        reads = []
        wl.spark.sparkContext.setJobGroup(f"{op_id}/read", op_id)
        try:
            for r, shape, dt, ok in wl.reads(k, reps, tracer, op_id):
                self.attempted += 1
                if not ok:
                    self.fail(f"op {k} read {shape}", ["wrong answer"])
                reads.append((r, shape, dt))
        except Exception as e:  # noqa: BLE001 - every failure is counted
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.fail(f"op {k} reads", [f"{type(e).__name__}: {e}"])
        return {"wall_s": t1 - t0, "cpu_s": c1 - c0, "pages": res["pages"],
                "reads": reads}

    def main(self) -> dict:
        args = self.args
        self.sampler.start()
        t_setup = time.time()
        spark = _start_spark(self.work, args.trace)
        session_s = time.time() - t_setup
        try:
            wl = self.cls(spark, self.work, args.seed)
            wl.setup()
            setup_s = time.time() - t_setup
            oracle_s = wl.oracle() if hasattr(wl, "oracle") else 0.0
            # warm-up ops: JIT, Python workers and the file cache are warm before timing
            warm = [self.one_op(wl, k) for k in range(wl.warmup_ops)]
            if None in warm or self.failed:
                raise RuntimeError(f"warm-up op failed: {self.errors}")
            self.attempted = self.failed = 0
            start = self.sampler.mark()
            ops, k = [], wl.warmup_ops
            while (time.time() - start["t"] < args.seconds
                   or k < wl.warmup_ops + wl.min_ops) and (
                    args.trace == 0 or k < wl.warmup_ops + 2):
                r = self.one_op(wl, k, reps=wl.read_reps)
                if r is not None:
                    ops.append(r)
                k += 1
            health = self.sampler.window(start)
            if not ops:
                raise RuntimeError(f"every op failed: {self.errors}")
            out = {
                "workload": args.workload, "seed": args.seed,
                "setup": {"session_s": round(session_s, 3), **wl.setup_phases,
                          "setup_s": round(setup_s, 3), "oracle_s": round(oracle_s, 3),
                          "warmup_op_s": [round(w["wall_s"], 3) for w in warm]},
                "ops": [{"wall_s": round(o["wall_s"], 3), "cpu_s": round(o["cpu_s"], 2),
                         "pages": o["pages"]} for o in ops],
                "health": health,
                "digest": getattr(wl, "digest", None),
            }
            if args.trace:
                out["trace"] = self.traced(wl, ops, k)
        finally:
            _stop_spark(spark)
            self.sampler.stop()
        if args.trace:
            out["trace"] = self.layer_metrics(wl, out["trace"])
        else:
            out["metrics"] = self.end_to_end(setup_s, ops, health)
        return out

    def end_to_end(self, setup_s: float, ops: list[dict], health: dict) -> dict:
        op_p50 = statistics.median(o["wall_s"] for o in ops)
        mixes: dict[tuple[int, int], float] = {}
        shapes: dict[str, list[float]] = {}
        for i, o in enumerate(ops):
            for r, shape, dt in o["reads"]:
                mixes[i, r] = mixes.get((i, r), 0.0) + dt * 1e3
                shapes.setdefault(shape, []).append(dt * 1e3)
        self.reads = {"mixes": len(mixes), "reads": sum(map(len, shapes.values())),
                      "p50_ms": {k: round(statistics.median(v), 1) for k, v in shapes.items()}}
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (op_p50, "s"),
            "pages_per_s": (statistics.median(o["pages"] / o["wall_s"] for o in ops),
                            "pages/s"),
            "peak_rss_mb": (health["peak_rss_mb"], "MB"),
            "read_mix_p50_ms": (statistics.median(mixes.values()), "ms"),
        }

    def traced(self, wl, ops: list[dict], k: int) -> dict:
        """One op traced layer by layer after the untraced ones."""
        tracer = Tracer(wl.spark.sparkContext)
        self.one_op(wl, k, tracer)
        return {"tracer": tracer, "op_id": f"op{k}",
                "untraced_ops": [f"op{i}" for i in range(wl.warmup_ops, k)],
                "untraced_wall_s": statistics.median(o["wall_s"] for o in ops)}

    def layer_metrics(self, wl, t: dict) -> dict:
        """Per-layer metrics of the traced op, from its spans and the event
        log; also written with the raw spans and job-group sums to
        ``.perfbench_out/trace-<workload>-s<seed>.json``."""
        tracer, op_id = t["tracer"], t["op_id"]
        groups = group_metrics(os.path.join(self.work, "eventlog"))
        table = layer_table(tracer, [op_id], groups)
        op_wall = tracer.wall(op_id, "op")
        children = [s for s in tracer.spans if s["op_id"] == op_id and s["parent"] == "op"]
        probe = sum(s["end"] - s["start"] for s in children if s["name"].startswith("probe."))
        layer_sum = sum(s["end"] - s["start"] for s in children) - probe
        metrics = {f"{layer}.{field}": table[layer][field]
                   for layer in LAYERS for field in LAYER_FIELDS}
        extras = dict.fromkeys(EXTRA_METRICS, 0.0)
        extras.update(wl.layer_extras)
        commits = [groups[g] for g in (f"{o}/commit" for o in t["untraced_ops"])
                   if g in groups]
        if commits:
            extras["incremental.jobs_per_commit"] = statistics.median(
                g["jobs"] for g in commits)
            extras["incremental.tasks_per_commit"] = statistics.median(
                g["tasks"] for g in commits)
        for shape in QUERY_SHAPES:
            extras[f"query.jobs.{shape}"] = groups.get(
                f"{op_id}/query.{shape}", {}).get("jobs", 0)
        metrics.update(extras)
        metrics.update({
            "trace.op_wall_s": op_wall,
            "trace.layer_sum_s": layer_sum,
            "trace.gap_s": op_wall - probe - layer_sum,
            "trace.probe_s": probe,
            "trace.untraced_op_wall_s": t["untraced_wall_s"],
            "trace.overhead_s": op_wall - probe - t["untraced_wall_s"],
        })
        with open(os.path.join(self.report_dir, f"trace-{self.args.workload}"
                               f"-s{self.args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "job_groups": groups, "layers": table,
                       "metrics": metrics}, f, indent=1)
        return {"table": table, "metrics": metrics}


def _unit(name: str) -> str:
    if name.startswith("trace."):
        return "s"
    field = name.split(".")[1]
    if field in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[field]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_ms"):
        return "ms"
    if field.endswith(("_ratio", "_yield")) or field == "cands_per_pair":
        return "ratio"
    return "bytes" if field.endswith("bytes_written") else "count"


def _versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"cpus": _cpus(), "mem_gb": round(_mem_gb(), 1),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "python": sys.version.split()[0]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("kg_incremental", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import predicate_finder_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the root of a source checkout ({e})", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        out = run.main()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print("box " + json.dumps({**_versions(), "driver_mem": run.env["SPARK_DRIVER_MEM"]}))
    print("setup " + json.dumps(out["setup"]))
    print("ops " + json.dumps(out["ops"]))
    print("health " + json.dumps(out["health"]))
    if out.get("digest"):
        print("digest " + out["digest"])
    for e in run.errors[:20]:
        print("error " + e)
    if args.trace:
        metrics = out["trace"]["metrics"]
        print(f"{'layer':<12}" + "".join(f"{f:>14}" for f in LAYER_FIELDS))
        for layer, row in out["trace"]["table"].items():
            print(f"{layer:<12}" + "".join(f"{v:>14.4g}" for v in row.values()))
        print("trace " + json.dumps({k: round(v, 4) for k, v in metrics.items()
                                     if k.startswith("trace.")}))
        result = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
    else:
        print("reads " + json.dumps(run.reads))
        result = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
    print(f"error_rate {run.failed / max(run.attempted, 1):.6f} "
          f"({run.failed} of {run.attempted})")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
