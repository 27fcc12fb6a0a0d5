"""Evaluation: triple precision/recall vs gold.

Spark re-expression of the reference's cal_acc (xgboost/performance.py:5-30
— exact match joins) and per-template breakdown (performance.py:33-67): the
O(n^2) driver loops become equi-joins + aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

TRIPLE_KEY = ["url", "subj", "pred", "obj"]


def precision_recall(triples: DataFrame, gold: DataFrame) -> dict[str, float]:
    """Exact-match P/R/F1 on (url, subj, pred, obj) — the north_rule gate
    (P/R >= 0.95)."""
    pred = triples.select(*TRIPLE_KEY).distinct().cache()
    g = gold.select(*TRIPLE_KEY).distinct().cache()
    try:
        n_pred = pred.count()
        n_gold = g.count()
        n_hit = pred.join(g, TRIPLE_KEY, "inner").count()
    finally:
        pred.unpersist()
        g.unpersist()
    p = n_hit / n_pred if n_pred else 0.0
    r = n_hit / n_gold if n_gold else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {
        "precision": p, "recall": r, "f1": f1,
        "n_pred": float(n_pred), "n_gold": float(n_gold), "n_hit": float(n_hit),
    }
