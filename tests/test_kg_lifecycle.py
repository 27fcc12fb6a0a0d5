"""KG lifecycle operators: snapshot triple-diff (operators/evolve.py) and
TransE-style deterministic negative sampling (operators/kg_negatives.py)."""

from __future__ import annotations

import pytest

from predicate_finder_spark.operators.evolve import triple_diff
from predicate_finder_spark.operators.kg_negatives import corrupt_triples

SCHEMA = "subj string, pred string, obj string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_triple_diff_added_and_removed(spark):
    old = _df(spark, [("a", "p", "b"), ("a", "p", "c"), ("x", "q", "y")])
    new = _df(spark, [("a", "p", "b"), ("x", "q", "z")])
    got = {(r.subj, r.pred, r.obj, r.change) for r in triple_diff(old, new).collect()}
    assert got == {
        ("x", "q", "z", "added"),
        ("a", "p", "c", "removed"),
        ("x", "q", "y", "removed"),
    }


def test_triple_diff_collapses_duplicates_and_identity(spark):
    old = _df(spark, [("a", "p", "b"), ("a", "p", "b")])
    new = _df(spark, [("a", "p", "b")])
    assert triple_diff(old, new).count() == 0


def test_corrupt_triples_negatives_never_true(spark):
    base = _df(
        spark,
        [(f"e{i}", "p", f"e{(i + 1) % 6}") for i in range(6)],
    )
    ents = spark.createDataFrame([(f"e{i}",) for i in range(6)], "entity string")
    out = corrupt_triples(base, ents, n_neg=4)
    negs = out.filter("label = 0.0")
    # anti-join guarantee: no negative coincides with a true triple
    assert negs.join(base, ["subj", "pred", "obj"], "inner").count() == 0
    # all positives present exactly once, slot -1
    pos = out.filter("label = 1.0")
    assert pos.count() == 6
    assert {r.slot for r in pos.collect()} == {-1}


def test_corrupt_triples_slot_semantics(spark):
    base = _df(spark, [("s1", "p", "o1"), ("s2", "p", "o2")])
    ents = spark.createDataFrame(
        [(f"z{i}",) for i in range(50)], "entity string"
    )  # disjoint pool: every draw corrupts
    out = corrupt_triples(base, ents, n_neg=2).filter("label = 0.0").collect()
    assert len(out) == 4  # nothing collides with a true triple
    for r in out:
        if r.slot % 2 == 0:
            assert r.subj.startswith("z") and r.obj in ("o1", "o2")
        else:
            assert r.obj.startswith("z") and r.subj in ("s1", "s2")


def test_corrupt_triples_partition_invariant(spark):
    base = _df(
        spark, [(f"e{i}", f"p{i % 3}", f"e{(i * 7) % 20}") for i in range(20)]
    )
    ents = spark.createDataFrame([(f"e{i}",) for i in range(20)], "entity string")
    key = lambda r: (r.subj, r.pred, r.obj, r.slot, r.label)
    a = sorted(map(key, corrupt_triples(base, ents, n_neg=3).collect()))
    b = sorted(
        map(key, corrupt_triples(base.repartition(9), ents, n_neg=3).collect())
    )
    assert a == b


def test_corrupt_triples_empty_dictionary_raises(spark):
    base = _df(spark, [("a", "p", "b")])
    ents = spark.createDataFrame([], "entity string")
    with pytest.raises(ValueError, match="empty entity dictionary"):
        corrupt_triples(base, ents)


# --- PMI co-occurrence ----------------------------------------------------

def test_pmi_hand_computed(spark):
    """4 observations: (a,x) twice, (a,y) once, (b,y) once.
    N=4; c(a)=3, c(b)=1; c(x)=2, c(y)=2.
    pmi(a,x) = log2(4*2/(3*2)) = log2(4/3); pmi(b,y) = log2(4*1/(1*2)) = 1."""
    import math

    from predicate_finder_spark.operators.cooccur import pmi_pairs

    obs = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y")], "subj string, obj string"
    )
    got = {(r.subj, r.obj): (r.n_pair, r.pmi) for r in pmi_pairs(obs).collect()}
    assert got[("a", "x")][0] == 2
    assert abs(got[("a", "x")][1] - math.log2(4 / 3)) < 1e-12
    assert abs(got[("a", "y")][1] - math.log2(4 / 6)) < 1e-12
    assert abs(got[("b", "y")][1] - 1.0) < 1e-12


def test_predicate_stats_hand_computed(spark):
    from predicate_finder_spark.operators.cooccur import predicate_stats

    t = _df(
        spark,
        [
            ("s1", "birthPlace", "o1"),
            ("s2", "birthPlace", "o1"),
            ("s3", "birthPlace", "o2"),     # functional: 3 subj / 3 triples
            ("s1", "knows", "o1"),
            ("s1", "knows", "o2"),
            ("s2", "knows", "o2"),          # 2 subj / 3 triples
        ],
    )
    got = {r.pred: r for r in predicate_stats(t).collect()}
    bp, kn = got["birthPlace"], got["knows"]
    assert (bp.n_triples, bp.n_subj, bp.n_obj) == (3, 3, 2)
    assert bp.functionality == 1.0 and abs(bp.inverse_functionality - 2 / 3) < 1e-12
    assert (kn.n_triples, kn.n_subj, kn.n_obj) == (3, 2, 2)
    assert abs(kn.functionality - 2 / 3) < 1e-12
