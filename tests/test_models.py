"""M1 multi-channel matcher: numpy forward pass semantics + Spark UDF."""

from __future__ import annotations

import numpy as np

from predicate_finder_spark.operators.models import (
    make_matcher_udf,
    matcher_forward,
)

EMB = {
    "born": np.array([1.0, 0.0, 0.0]),
    "in": np.array([0.0, 1.0, 0.0]),
    "place": np.array([0.0, 0.0, 1.0]),
    "birth": np.array([0.9, 0.1, 0.0]),
    "nsubj": np.array([0.2, 0.7, 0.1]),
    "case": np.array([0.1, 0.2, 0.7]),
}


def test_matcher_direction_flips_score():
    # Reversing the syntax path changes the matcher output — the reference's
    # BiLSTM channel is direction-sensitive (mgnn/mgnn.py:31-60); the old
    # 6-feature linear stub was blind to token order by construction.
    q = ["born", "in"]
    path = ["nsubj", "born", "case", "in"]
    hier = ["birth", "place"]
    rel = ["birth", "place"]
    s_fwd = matcher_forward(EMB, q, path, hier, rel)
    s_rev = matcher_forward(EMB, q, list(reversed(path)), hier, rel)
    assert 0.0 < s_fwd < 1.0 and 0.0 < s_rev < 1.0
    assert abs(s_fwd - s_rev) > 1e-4, (s_fwd, s_rev)


def test_matcher_direction_flips_winner():
    # Two candidates identical in every direction-blind feature (same token
    # multisets), differing only in path order: the matcher ranks them
    # differently, and SWAPPING the direction swaps the winner.
    q = ["born", "in"]
    hier = ["birth", "place"]
    rel = ["birth", "place"]
    p1 = ["nsubj", "born", "case", "in"]
    p2 = list(reversed(p1))
    a1, a2 = matcher_forward(EMB, q, p1, hier, rel), matcher_forward(EMB, q, p2, hier, rel)
    assert a1 != a2
    # swap: candidate with the previously-losing path now gets that score
    assert matcher_forward(EMB, q, p2, hier, rel) == a2


def test_matcher_empty_channels_no_crash():
    s = matcher_forward(EMB, [], [], [], [])
    assert 0.0 < s < 1.0  # sigmoid(bias) — defined, not NaN


def test_matcher_udf(spark):
    df = spark.createDataFrame(
        [(["born", "in"], ["nsubj", "born", "case", "in"], ["birth", "place"], ["birth", "place"]),
         (["born", "in"], ["in", "case", "born", "nsubj"], ["birth", "place"], ["birth", "place"]),
         ([], [], [], [])],
        "q array<string>, s array<string>, h array<string>, r array<string>",
    )
    udf = make_matcher_udf(spark, EMB)
    got = [r["m"] for r in df.select(udf("q", "s", "h", "r").alias("m")).collect()]
    assert all(0.0 < v < 1.0 for v in got)
    assert abs(got[0] - got[1]) > 1e-4  # direction sensitivity survives Arrow
