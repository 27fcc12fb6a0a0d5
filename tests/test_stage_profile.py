"""The event-log stage reader behind ``BENCH/stage_profile.py``, on a
hand-written log in Spark 4's rolling layout: ``eventlog_v2_<app>/`` with
``events_<n>_<app>`` parts and an ``appstatus_<app>`` file that is not an
event file.  No Spark session starts."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "BENCH"))

APP = "local-1700000000000"


def _acc(**metrics) -> list[dict]:
    return [{"ID": i, "Name": f"internal.metrics.{k}", "Value": v}
            for i, (k, v) in enumerate(metrics.items())]


def _stage_completed(sid: int, name: str, tasks: int, sub_ms: int, comp_ms: int,
                     acc: list[dict], failed: bool = False) -> dict:
    info = {
        "Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": name,
        "Number of Tasks": tasks, "Submission Time": sub_ms,
        "Completion Time": comp_ms,
        # SQL metrics ride along with non-integer values; the reader skips them
        "Accumulables": acc + [{"ID": 99, "Name": "number of output rows", "Value": "7"}],
    }
    if failed:
        info["Failure Reason"] = "task lost"
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


def _task_end(sid: int, peak: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
        "Task Metrics": {"Peak Execution Memory": peak, "Executor Run Time": 1},
    }


@pytest.fixture
def log_dir(tmp_path: Path) -> Path:
    app_dir = tmp_path / f"eventlog_v2_{APP}"
    app_dir.mkdir()
    part1 = [
        {"Event": "SparkListenerApplicationStart", "App ID": APP},
        _task_end(0, 300),
        _task_end(0, 500),
        _stage_completed(0, "map at Job.scala:1", 2, 1_000, 3_500, _acc(
            executorRunTime=4_000, executorCpuTime=3_000_000_000, jvmGCTime=250,
            **{"input.bytesRead": 1_000, "shuffle.write.bytesWritten": 2_048,
               "diskBytesSpilled": 64, "memoryBytesSpilled": 512,
               "peakExecutionMemory": 800},
        )),
        # a failed attempt is not a completed stage
        _stage_completed(7, "lost", 1, 3_600, 3_700, _acc(executorRunTime=9), failed=True),
    ]
    part2 = [
        _task_end(1, 4_096),
        _stage_completed(1, "save at Job.scala:2", 1, 4_000, 4_500, _acc(
            executorRunTime=450, executorCpuTime=400_000_000, jvmGCTime=0,
            **{"shuffle.read.remoteBytesRead": 1_000,
               "shuffle.read.localBytesRead": 1_048,
               "peakExecutionMemory": 4_096},
        )),
    ]
    # part 10 sorts before part 2 by name: the reader must order numerically
    for n, events in ((1, part1), (10, part2)):
        (app_dir / f"events_{n}_{APP}").write_text(
            "".join(json.dumps(e) + "\n" for e in events))
    (app_dir / f"appstatus_{APP}").write_text("")
    return tmp_path


def test_read_stages_from_rolling_event_log(log_dir: Path):
    from stage_profile import read_stages

    s0, s1 = read_stages(str(log_dir))
    assert s0 == pytest.approx({
        "id": 0, "name": "map at Job.scala:1", "tasks": 2,
        "submitted": 1.0, "completed": 3.5, "wall_s": 2.5,
        "run_s": 4.0, "cpu_s": 3.0, "gc_s": 0.25,
        "input_bytes": 1_000, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 2_048, "spill_bytes": 64,
        "peak_task_mem_bytes": 500,
    })
    assert s1 == pytest.approx({
        "id": 1, "name": "save at Job.scala:2", "tasks": 1,
        "submitted": 4.0, "completed": 4.5, "wall_s": 0.5,
        "run_s": 0.45, "cpu_s": 0.4, "gc_s": 0.0,
        "input_bytes": 0, "shuffle_read_bytes": 2_048,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
        "peak_task_mem_bytes": 4_096,
    })
