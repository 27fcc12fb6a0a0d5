"""``bin/run_pipeline.py`` end to end on a small synthetic corpus: the
metrics it reports match the manifests it wrote, P/R is 1.0, and the
flagship's persisted ``sentences`` frame is released once the triples are
written."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

from pyspark import StorageLevel

import predicate_finder_spark.plans.pipeline as pipeline
import predicate_finder_spark.session as session
from predicate_finder_spark.sources.tables import read_manifest

SCRIPT = Path(__file__).resolve().parents[1] / "bin" / "run_pipeline.py"


def _load_script():
    spec = importlib.util.spec_from_file_location("run_pipeline", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_pipeline_synthetic_smoke(spark, tmp_path, monkeypatch):
    persisted = []
    plan = pipeline._triples_plan

    def recording_plan(*args, **kw):
        out = plan(*args, **kw)
        persisted.append(out[1])
        return out

    monkeypatch.setattr(pipeline, "_triples_plan", recording_plan)
    # the session fixture, not a rebuilt one: no conf of the shared session moves
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    out = str(tmp_path / "kg")
    assert _load_script().main(["--synthetic", "60", "--out", out]) == 0

    metrics = json.loads((tmp_path / "kg" / "metrics.json").read_text())
    assert metrics["pr"]["precision"] == 1.0 and metrics["pr"]["recall"] == 1.0, metrics
    for table in ("triples", "vertices", "edges"):
        assert metrics[table] == read_manifest(f"{out}/{table}")["rows"] > 0, table
    [sentences] = persisted
    assert sentences is not None
    assert sentences.storageLevel == StorageLevel.NONE
