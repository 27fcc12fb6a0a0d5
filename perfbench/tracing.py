"""Spans around calls into the engine's layers, and per-layer task metrics
from the Spark event log.

A span is ``{"name", "op_id", "parent", "start", "end", "cpu_s"}``: wall
clock seconds since the epoch, and the CPU seconds the process tree (JVM
and Python workers) used inside it.  While a span is open the Spark job
group is ``"<op_id>/<name>"``, so every stage its jobs run carries that
label into the event log (``spark.jobGroup.id`` in the stage properties).
"""

from __future__ import annotations

import fileinput
import json
import os
import time
from contextlib import contextmanager

from procfs import tree_cpu_s

LAYERS = (
    "extract", "mentions", "linking", "predicates", "scoring", "graph",
    "analysis", "dedup", "tables", "incremental", "query",
)
LAYER_FIELDS = (
    "wall_s", "cpu_s", "proc_cpu_s", "rows_out", "shuffle_bytes", "spill_bytes", "tasks",
)
QUERY_SHAPES = ("point", "scan", "two_hop", "union_optional", "path")
EXTRA_METRICS = (
    "linking.link_yield", "predicates.cands_per_pair", "scoring.keep_ratio",
    "scoring.dict_build_s", "analysis.pass_ratio", "dedup.lsh_candidate_pairs",
    "dedup.verified_pairs", "dedup.verify_yield", "tables.files_written",
    "tables.bytes_written", "incremental.state_read_s", "incremental.batches_visible",
    "incremental.state_files", "incremental.jobs_per_commit",
    "incremental.tasks_per_commit",
    *(f"query.{m}.{s}" for m in ("parse_ms", "exec_ms", "jobs") for s in QUERY_SHAPES),
)
PER_LAYER_UNITS = {
    "wall_s": "s", "cpu_s": "s", "proc_cpu_s": "s", "rows_out": "count",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "tasks": "count",
}


class Tracer:
    """Keeps spans in memory; labels Spark jobs with the open span."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}
        self._stack: list[str] = []
        self._pid = os.getpid()

    @contextmanager
    def span(self, name: str, op_id: str):
        """Time ``name`` in op ``op_id``; the enclosing open span is its parent."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(f"{op_id}/{name}", f"{op_id} {name}")
        start, cpu0 = time.time(), tree_cpu_s(self._pid)
        try:
            yield
        finally:
            self.spans.append({
                "name": name, "op_id": op_id, "parent": parent,
                "start": start, "end": time.time(),
                "cpu_s": tree_cpu_s(self._pid) - cpu0,
            })
            self._stack.pop()
            self.sc.setJobGroup(f"{op_id}/{parent or '-'}", f"{op_id} {parent or '-'}")

    def add_rows(self, layer: str, n: int) -> None:
        self.rows[layer] = self.rows.get(layer, 0) + int(n)

    def wall(self, op_id: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op_id"] == op_id and s["name"] == name)


def _event_log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged in ``log_dir``: a
    single file, or (Spark 4's rolling layout) ``eventlog_v2_<app>/`` with
    ``events_<n>_<app>`` parts, in order."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def group_metrics(log_dir: str) -> dict[str, dict]:
    """Task metrics summed per job group from a finished event log:
    ``{group: {"cpu_s", "run_s", "tasks", "jobs", "shuffle_bytes",
    "spill_bytes"}}``.  ``cpu_s`` is executor (JVM) CPU time; Python UDF
    workers are outside it, see the spans' ``cpu_s`` for the whole tree."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {
            "cpu_s": 0.0, "run_s": 0.0, "tasks": 0, "jobs": 0,
            "shuffle_bytes": 0, "spill_bytes": 0,
        })

    with fileinput.input(_event_log_files(log_dir)) as lines:
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                a = acc(group)
                a["tasks"] += 1
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out


def layer_table(tracer: Tracer, op_ids: list[str], groups: dict[str, dict]) -> dict:
    """Per-layer figures over the spans of ``op_ids``: ``{layer: {field: v}}``
    for every layer in LAYERS (zeros where the workload does no work).  A
    span or job group named ``<layer>.<detail>`` counts toward ``<layer>``."""
    table = {layer: dict.fromkeys(LAYER_FIELDS, 0) for layer in LAYERS}
    for s in tracer.spans:
        layer = s["name"].split(".", 1)[0]
        if s["op_id"] in op_ids and layer in table:
            row = table[layer]
            row["wall_s"] += s["end"] - s["start"]
            row["proc_cpu_s"] += s["cpu_s"]
    for group, g in groups.items():
        op_id, _, name = group.partition("/")
        layer = name.split(".", 1)[0]
        if op_id in op_ids and layer in table:
            row = table[layer]
            row["cpu_s"] += g["cpu_s"]
            row["shuffle_bytes"] += g["shuffle_bytes"]
            row["spill_bytes"] += g["spill_bytes"]
            row["tasks"] += g["tasks"]
    for layer, n in tracer.rows.items():
        table[layer]["rows_out"] = n
    return table
