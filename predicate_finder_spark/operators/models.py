"""Model-inference surface (M1/M2; SURVEY.md §2.9).

The reference scores candidates with a torch MGNN (mgnn/mgnn.py:98-125,
batched + padded in mgnn/test.py:24-91) and re-ranks with an XGBoost
regressor over 6 features (xgboost/test_xgb_pkl.py:72-74).  Neither torch
nor xgboost is in this container, so:

- the Spark-side shape is real: a scalar-iterator pandas UDF that loads the
  broadcast model ONCE per executor/python-worker and scores Arrow batches
  (the `predict_batch_udf` pattern) over the assembled feature columns;
- the model kernel is pluggable: a real booster's bytes load via
  ``framework='xgboost'`` when the library exists; ``framework='linear'``
  loads weights FITTED in-repo by operators/train.py (pure-numpy logistic
  on the negative_sample/train_dev_split output — the sandbox-runnable
  analog of the reference's xgboost/train_xgb.py:12-34); with no model at
  all, a deterministic fixed-weight stand-in keeps tests and plans alive
  but its rankings are unvalidated — prefer the fitted path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_COLS = ["f_prior", "f_answer_sim", "f_embed_sim", "f_overlap", "f_jw", "f_score"]

# deterministic stand-in weights: rank mostly by matcher score + overlap
_FALLBACK_W = np.array([0.05, 0.02, 0.1, 0.3, 0.03, 0.5])
_FALLBACK_B = 0.0


def serialize_linear_model(w, b: float) -> bytes:
    """Serialize fitted linear/logistic weights (operators/train.py) for
    broadcast into make_rerank_udf — the K4 model-sink payload."""
    import io

    buf = io.BytesIO()
    np.savez(buf, w=np.asarray(w, dtype=np.float64), b=np.float64(b))
    return buf.getvalue()


def deserialize_linear_model(model_bytes: bytes) -> tuple[np.ndarray, float]:
    import io

    z = np.load(io.BytesIO(model_bytes))
    return z["w"], float(z["b"])


def _load_model(model_bytes: bytes | None, framework: str):
    if framework == "linear" and model_bytes is not None:
        w, b = deserialize_linear_model(model_bytes)

        def predict(X: np.ndarray) -> np.ndarray:
            # ranking use: the logistic link is monotone, so the linear
            # score orders candidates identically to the probability
            return X @ w + b

        return predict, "linear_fitted"

    if framework == "xgboost" and model_bytes is not None:
        try:
            import xgboost as xgb  # not in the sandbox image; works on clusters

            booster = xgb.Booster()
            booster.load_model(bytearray(model_bytes))

            def predict(X: np.ndarray) -> np.ndarray:
                return booster.inplace_predict(X)

            return predict, "xgboost"
        except ImportError:
            pass

    def predict(X: np.ndarray) -> np.ndarray:
        return X @ _FALLBACK_W + _FALLBACK_B

    return predict, "linear_fallback"


# ---------------------------------------------------------------------------
# M1: multi-channel matcher (numpy forward pass)
# ---------------------------------------------------------------------------
# Fixed deterministic fc weights over the 8 channel-pair cosines.  The
# syntax-forward vs syntax-backward asymmetry (0.30 vs -0.10) is what makes
# path DIRECTION matter — the reference's BiLSTM learns exactly this kind of
# asymmetry from its two directional hidden states.  These are the
# no-model FALLBACK; operators/train.py fit_matcher learns the channel
# weighting from labeled candidates (the sandbox analog of the reference's
# mgnn/train.py:116-217 fc training) and the fitted bytes plug in via
# make_matcher_udf(model_bytes=...).
_MATCHER_W = np.array([0.25, 0.10, 0.30, -0.10, 0.15, 0.05, 0.10, 0.05])
_MATCHER_B = -0.2
_MATCHER_GAMMA = 0.7
N_MATCHER_CHANNELS = 8


def _directional_means(vs: list, present: list[bool]) -> tuple:
    """Forward/backward exponentially-weighted means over present token
    vectors — the two directional summaries a BiLSTM's last hidden states
    provide (mgnn/mgnn.py:31-60 lstm_process), with masking (mgnn.py:85-95)
    realized by skipping absent embeddings."""
    idx = [i for i, p in enumerate(present) if p]
    if not idx:
        return None, None
    n = len(idx)
    fw = np.zeros_like(vs[idx[0]])
    bw = np.zeros_like(vs[idx[0]])
    wf = wb = 0.0
    for rank, i in enumerate(idx):
        a = _MATCHER_GAMMA ** (n - 1 - rank)  # last token heaviest
        b = _MATCHER_GAMMA ** rank            # first token heaviest
        fw += a * vs[i]
        bw += b * vs[i]
        wf += a
        wb += b
    return fw / wf, bw / wb


def _cos(a, b) -> float:
    if a is None or b is None:
        return 0.0
    na, nb = float(np.linalg.norm(a)), float(np.linalg.norm(b))
    return float(a @ b) / (na * nb + 1e-9)


def matcher_channel_features(
    emb: dict[str, np.ndarray],
    query: list[str],
    syntax: list[str],
    hier: list[str],
    rel: list[str],
) -> np.ndarray:
    """The matcher's 8 channel-interaction cosines — the feature vector the
    reference's MGNN fc layer consumes (mgnn/mgnn.py:98-125: embed each
    channel, encode query/syntax direction-sensitively, mean-pool hier/rel,
    concatenate the channel interactions)."""

    def embed(tokens):
        vs, present = [], []
        for t in tokens or []:
            v = emb.get(t.lower())
            vs.append(v if v is not None else 0)
            present.append(v is not None)
        return vs, present

    def mean(tokens):
        vs, present = embed(tokens)
        got = [v for v, p in zip(vs, present) if p]
        return np.mean(got, axis=0) if got else None

    q_f, q_b = _directional_means(*embed(query))
    s_f, s_b = _directional_means(*embed(syntax))
    h = mean(hier)
    r = mean(rel)
    return np.array([
        _cos(q_f, r), _cos(q_b, r),
        _cos(s_f, r), _cos(s_b, r),
        _cos(h, r),
        _cos(q_f, h), _cos(s_f, h), _cos(q_b, s_b),
    ])


def matcher_forward(
    emb: dict[str, np.ndarray],
    query: list[str],
    syntax: list[str],
    hier: list[str],
    rel: list[str],
    w: np.ndarray | None = None,
    b: float | None = None,
) -> float:
    """Numpy forward pass of the reference's 4-channel matcher: channel
    features -> fc + sigmoid.  ``w``/``b`` default to the deterministic
    hand-fixed fallback; pass weights fitted by operators/train.py
    fit_matcher for validated rankings (mgnn/train.py:116-217 analog)."""
    feats = matcher_channel_features(emb, query, syntax, hier, rel)
    wv = _MATCHER_W if w is None else w
    bv = _MATCHER_B if b is None else b
    z = float(feats @ wv) + bv
    return 1.0 / (1.0 + np.exp(-z))


def _as_lists(*series):
    for row in zip(*series):
        yield [list(x) if x is not None else [] for x in row]


def make_matcher_udf(
    spark: SparkSession,
    emb: dict[str, np.ndarray],
    model_bytes: bytes | None = None,
):
    """M1 as an Arrow-batched pandas UDF over the four channel columns
    (query tokens, syntax path, hier labels, predicate words).  The
    embedding dict broadcasts once per executor.  ``model_bytes``:
    serialized fitted fc weights (train.fit_matcher); None uses the
    hand-weight fallback."""
    emb_bc = spark.sparkContext.broadcast(emb)
    if model_bytes is not None:
        w_fit, b_fit = deserialize_linear_model(model_bytes)
    else:
        w_fit, b_fit = None, None

    @F.pandas_udf(T.DoubleType())
    def matcher_udf(
        query: pd.Series, syntax: pd.Series, hier: pd.Series, rel: pd.Series
    ) -> pd.Series:
        E = emb_bc.value
        out = [
            matcher_forward(E, q, s, h, r, w=w_fit, b=b_fit)
            for q, s, h, r in _as_lists(query, syntax, hier, rel)
        ]
        return pd.Series(out, dtype="float64")

    return matcher_udf


def make_matcher_features_udf(spark: SparkSession, emb: dict[str, np.ndarray]):
    """The 8 channel cosines as array<double> — the training-data side of
    the matcher loop: distributed channel-feature extraction feeding the
    single-node fc fit (train.fit_matcher)."""
    emb_bc = spark.sparkContext.broadcast(emb)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def matcher_features_udf(
        query: pd.Series, syntax: pd.Series, hier: pd.Series, rel: pd.Series
    ) -> pd.Series:
        E = emb_bc.value
        out = [
            matcher_channel_features(E, q, s, h, r).tolist()
            for q, s, h, r in _as_lists(query, syntax, hier, rel)
        ]
        return pd.Series(out)

    return matcher_features_udf


def make_rerank_udf(
    spark: SparkSession,
    model_bytes: bytes | None = None,
    framework: str = "xgboost",
):
    """Scalar-iterator pandas UDF: model loads once per worker, then scores
    every Arrow batch — the M2 inference pattern.  Input: one struct column
    of the 6 features."""
    bc = spark.sparkContext.broadcast(model_bytes)

    @F.pandas_udf(T.DoubleType())
    def rerank_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        predict, _ = _load_model(bc.value, framework)
        for pdf in it:
            X = pdf[FEATURE_COLS].to_numpy(dtype=np.float64)
            yield pd.Series(predict(X))

    return rerank_udf


def rerank(features: DataFrame, udf) -> DataFrame:
    """Add ``rerank_score`` from the feature columns."""
    feat = F.struct(*[F.col(c).cast("double").alias(c) for c in FEATURE_COLS])
    return features.withColumn("rerank_score", udf(feat))
