"""Single-node re-ranker fitting over distributed feature extraction.

The reference trains its re-ranker off-cluster: get_train_data.py:166-184
assembles 6 features per (question, candidate), QueryFilter.py:160-167
negative-samples one wrong predicate per question, QueryFilter.py:172-173
splits 80/20, and train_xgb.py:12-34 fits an XGBoost regressor on the
resulting small matrix.  This module is the same architecture on Spark:

  build_features / question_features  (distributed, operators/features.py)
    -> negative_sample                (distributed, ≤2 rows per question)
    -> train_dev_split                (distributed, deterministic)
    -> fit_linear_reranker            (THIS module: single-node numpy fit
                                       on the collected training rows)
    -> serialize_linear_model -> make_rerank_udf(framework='linear')
                                      (broadcast back, distributed scoring)

The collect is bounded BY CONSTRUCTION: negative_sample emits at most one
positive and one negative per question key, so the training matrix is
O(#questions x 6), never corpus-sized — the classic "features on the
cluster, fit on the driver, broadcast the model back" loop.

xgboost/torch are absent from this sandbox (verified round 1), so the fit
is an L2-regularized logistic regression solved by IRLS/Newton — fully
deterministic (no SGD, no seed sensitivity), converges in a handful of
iterations on 6 features, and its linear scores are rank-equivalent to
any monotone link.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from predicate_finder_spark.operators.models import (
    FEATURE_COLS,
    N_MATCHER_CHANNELS,
    serialize_linear_model,
)


def fit_linear_reranker(
    train: DataFrame,
    feature_cols: list[str] | None = None,
    label_col: str = "label",
    l2: float = 1e-2,
    max_iter: int = 50,
    tol: float = 1e-10,
) -> bytes:
    """Fit L2-regularized logistic regression on the (small) training rows
    and return the serialized model for ``make_rerank_udf(framework='linear')``.

    Features are standardized for conditioning; the standardization is
    folded back into the returned raw-space weights, so inference applies
    plain ``X @ w + b`` with no preprocessing.
    """
    cols = list(feature_cols or FEATURE_COLS)
    pdf = train.select(*cols, label_col).toPandas()
    if len(pdf) == 0:
        raise ValueError("fit_linear_reranker: empty training set")
    X = pdf[cols].to_numpy(dtype=np.float64)
    y = pdf[label_col].to_numpy(dtype=np.float64)

    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    # a near-constant feature's std can come back as ~1e-17..1e-8 instead of
    # exactly 0 (summation-order noise, or a channel that genuinely barely
    # varies); dividing by it standardizes NOISE up to signal scale and
    # explodes the refolded raw-space weight, so treat anything below 1e-6
    # of the mean's scale as constant (its weight then contributes only a
    # constant offset — rank-neutral)
    sd[sd <= 1e-6 * np.maximum(1.0, np.abs(mu))] = 1.0
    Xs = (X - mu) / sd
    Xa = np.hstack([Xs, np.ones((len(Xs), 1))])

    k = Xa.shape[1]
    reg = l2 * np.eye(k)
    reg[-1, -1] = 1e-8  # effectively unregularized intercept
    w = np.zeros(k)
    for _ in range(max_iter):
        p = 1.0 / (1.0 + np.exp(-(Xa @ w)))
        g = Xa.T @ (p - y) + reg @ w
        r = p * (1.0 - p) + 1e-6
        H = (Xa * r[:, None]).T @ Xa + reg
        step = np.linalg.solve(H, g)
        w -= step
        if float(np.max(np.abs(step))) < tol:
            break

    # fold standardization back: score = ((x - mu)/sd) @ ws + bs
    ws, bs = w[:-1], float(w[-1])
    w_raw = ws / sd
    b_raw = bs - float((ws * mu / sd).sum())
    return serialize_linear_model(w_raw, b_raw)


def fit_matcher(
    train: DataFrame,
    channels_col: str = "channels",
    label_col: str = "label",
    l2: float = 1e-2,
) -> bytes:
    """Fit the matcher's fc layer on labeled channel-feature rows — the
    sandbox analog of the reference's MGNN training loop
    (mgnn/train.py:116-217: BCE over the fc output on positive/negative
    question-predicate pairs).  ``channels_col`` holds the 8 channel
    cosines (models.make_matcher_features_udf), as
    plans.questions.question_matcher_channels builds them; the fit reuses
    the IRLS logistic solver, and the returned bytes plug into
    models.make_matcher_udf(model_bytes=...).

    Same bounded-collect contract as fit_linear_reranker: callers feed it
    negative-sampled rows (O(#questions), never corpus-sized).
    """
    cols = [f"m{i}" for i in range(N_MATCHER_CHANNELS)]
    wide = train.select(
        *[F.col(channels_col)[i].alias(c) for i, c in enumerate(cols)],
        label_col,
    )
    return fit_linear_reranker(wide, feature_cols=cols, label_col=label_col, l2=l2)
