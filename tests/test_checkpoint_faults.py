"""Checkpoint fault injection for sources/tables.py: a torn stage
manifest, a temp dir left by a killed write, and the timings a resumed
stage's manifest reports."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from predicate_finder_spark.sources.tables import (
    MANIFEST,
    checkpoint_stage,
    read_manifest,
    write_stage,
)


def _counted_stage(spark, calls: list):
    def fn():
        calls.append(1)
        return spark.range(40).selectExpr("id", "id % 7 AS k")

    return fn


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_torn_manifest_recomputes_stage(spark, tmp_path):
    calls = []
    fn = _counted_stage(spark, calls)
    p = str(tmp_path / "cp" / "s1")
    os.makedirs(os.path.dirname(p))
    clean = _rows(checkpoint_stage(spark, fn, p, "s1", "cfg"))

    # a crash mid-write of the manifest leaves a truncated file
    mp = os.path.join(p, MANIFEST)
    with open(mp) as f:
        text = f.read()
    with open(mp, "w") as f:
        f.write(text[: len(text) // 2])
    assert read_manifest(p) is None

    out = checkpoint_stage(spark, fn, p, "s1", "cfg")
    assert len(calls) == 2  # recomputed, not resumed and not crashed
    assert _rows(out) == clean and len(clean) == 40
    assert read_manifest(p)["rows"] == 40


def test_leftover_tmp_dir_does_not_break_next_write(spark, tmp_path):
    p = str(tmp_path / "stage")
    write_stage(spark.range(5), p, "s", "cfg")
    # what a write killed mid-flight leaves beside the committed table: a
    # truncated part file and a torn manifest in <path>.__tmp__
    tmp = p + ".__tmp__"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000-dead.snappy.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x01")
    with open(os.path.join(tmp, MANIFEST), "w") as f:
        f.write('{"stage": "s", "rows": 99')

    df = spark.range(25).selectExpr("id", "id % 3 AS k")
    m = write_stage(df, p, "s", "cfg")
    assert not os.path.exists(tmp)
    assert m == read_manifest(p)
    assert m["rows"] == 25 == spark.read.parquet(p).count()
    footers = {
        os.path.relpath(os.path.join(root, name), p):
            pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
        for root, _dirs, files in os.walk(p)
        for name in files
        if name.endswith(".parquet")
    }
    assert m["partitions"] == footers and m["n_files"] == len(footers) > 0


def test_resumed_stage_manifest_has_timings(spark, tmp_path):
    calls = []
    fn = _counted_stage(spark, calls)
    p = str(tmp_path / "cp" / "s1")
    os.makedirs(os.path.dirname(p))
    for _ in range(2):
        checkpoint_stage(spark, fn, p, "s1", "cfg")
    assert len(calls) == 1  # the second run resumed
    metrics = read_manifest(p)["metrics"]
    for key in ("plan_sec", "write_sec"):
        assert type(metrics[key]) in (int, float) and metrics[key] >= 0, metrics
