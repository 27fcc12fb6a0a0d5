"""Deterministic temperature mixture sampling (operators/sampling)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from predicate_finder_spark.operators.sampling import (
    _HASH_SPACE,
    mixture_plan,
    temperature_sample,
)


def _h32(key: str, salt: str = "") -> int:
    s = f"{key}|{salt}" if salt else key
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


@pytest.fixture(scope="module")
def skewed(spark):
    # 3 groups with sizes 640 / 80 / 10 — a head/tail mix
    rows = (
        [(i, "head") for i in range(640)]
        + [(1000 + i, "mid") for i in range(80)]
        + [(2000 + i, "tail") for i in range(10)]
    )
    return spark.createDataFrame(rows, "id long, grp string").cache()


def test_mixture_plan_weights_and_caps(spark, skewed):
    plan = {r["group"]: r.asDict() for r in mixture_plan(skewed, "grp", 200).collect()}
    assert plan["head"]["n_rows"] == 640
    # weight = floor(sqrt(n) * 1e6)
    for g, n in (("head", 640), ("mid", 80), ("tail", 10)):
        assert plan[g]["weight"] == math.floor(math.sqrt(n) * 1e6)
    # tail group: target share 200 * w/W ≈ 17 > 10 rows available -> capped
    w = {g: plan[g]["weight"] for g in plan}
    total = sum(w.values())
    tail_share = 200 * w["tail"] / total
    assert tail_share > 10
    assert plan["tail"]["thr32"] == _HASH_SPACE  # keep everything
    assert plan["head"]["thr32"] < _HASH_SPACE


def test_temperature_sample_flattens_mix(spark, skewed):
    out = temperature_sample(skewed, "grp", "id", target_rows=200, tau=0.5)
    got = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    # tau=0.5 upweights the tail: whole tail kept, head sampled well below
    # its proportional share (640/730 * 200 = 175)
    assert got["tail"] == 10
    assert got["head"] < 160
    # expected totals land near the target (binomial noise at these sizes)
    assert 120 <= sum(got.values()) <= 280
    # schema passthrough: original columns only
    assert out.columns == ["id", "grp"]


def test_temperature_sample_python_oracle(spark, skewed):
    """Exact end-to-end replay of the threshold arithmetic in Python."""
    rows = [(r["id"], r["grp"]) for r in skewed.collect()]
    sizes = {"head": 640, "mid": 80, "tail": 10}
    w = {g: math.floor(math.sqrt(n) * 1e6) for g, n in sizes.items()}
    total = sum(w.values())
    thr = {
        g: min(
            _HASH_SPACE,
            math.floor(float(200) * float(_HASH_SPACE) * float(w[g]) / float(total) / float(n)),
        )
        for g, n in sizes.items()
    }
    expected = {i for i, g in rows if _h32(str(i)) < thr[g]}
    got = {r["id"] for r in temperature_sample(skewed, "grp", "id", 200, tau=0.5).collect()}
    assert got == expected


def test_mixture_tau_one_is_proportional(spark, skewed):
    """tau=1: weight ∝ n, so every group gets the same keep-threshold
    (uniform global sample) — the degenerate case that sanity-checks the
    normalization."""
    plan = {r["group"]: r["thr32"] for r in mixture_plan(skewed, "grp", 73, tau=1.0).collect()}
    assert len({plan[g] for g in plan}) <= 2  # equal up to the 1e-6 weight quantization
