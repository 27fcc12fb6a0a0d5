"""Pipeline configuration.

A single frozen dataclass; its stable hash is what stage manifests record so
checkpoint/resume can detect "same config, same input -> skip stage".
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for the triple-extraction pipeline.

    Defaults mirror the reference's behavior where one exists:
    - ``predicate_blacklist``       (reference pretreatment/DataExtract.py:58-62)
    - ``max_ngram`` 2 for scoring n-grams (reference baseline/baseline.py:124)
    - ``default_idf`` 2.0           (reference baseline/baseline.py:133-138)
    - ``min_link_prior`` plays spotlight_confidence (DataExtract.py:131,
      there 0.4); the default 0.0 keeps every dictionary candidate and lets
      disambiguation pick — set 0.4 to reproduce the reference's pruning.
    """

    # entity linking
    min_link_prior: float = 0.0
    max_mention_ngram: int = 3
    use_lsh_blocking: bool = False
    # candidate predicates
    predicate_blacklist: tuple[str, ...] = (
        "#", "subject", "wiki", "hypernym", "gender",
    )
    # declare the kg_triples dictionary already (s, p, o)-distinct: skips a
    # per-run dictionary-wide distinct shuffle (production KGs are deduped
    # once at ingest; output is invariant either way — see
    # operators/predicates.py candidate_predicates)
    kg_prededuped: bool = False
    # scoring: 'baseline' = IDF x cosine argmax (the reference's strongest
    # artifact, baseline/baseline.py); 'rerank' adds the 6-feature model
    # re-ranker on top (reference xgboost/test_xgb_pkl.py)
    scorer: str = "baseline"
    max_ngram: int = 2
    default_idf: float = 2.0
    # driver-broadcast budget: floor/cap the IDF vocabulary pulled to the
    # driver (open web text has unbounded vocabulary; words below the floor
    # score with default_idf, exactly like OOV).  None/1 = unbounded.
    idf_min_df: int = 1
    max_vocab: int | None = None
    # skew handling: AQE's runtime skew-join split is the always-on
    # backstop; explicit salting (2.25x on the Zipf skew bench,
    # BENCH/skew.py) is opt-in for known-pathological head keys because it
    # multiplies the build-side shuffle by salt_buckets — on a
    # well-distributed corpus that is pure overhead on the hot KG join
    salt_buckets: int = 8
    salted_join: bool = False
    # language filter (reference DataExtract.py:76: FILTER(lang(?label)='en'))
    languages: tuple[str, ...] = ("en",)
    # crawl-snapshot dedup pre-step (weblinks.latest_snapshot): keep only
    # the newest snapshot per canonical URL before extraction — the
    # standard multi-crawl hygiene for Common-Crawl-style inputs.  Part of
    # config_hash: toggling it must invalidate stage checkpoints (the
    # source-file fingerprint can't see a plan-level pre-step)
    dedup_snapshots: bool = False
    # orchestration
    checkpoint_dir: str | None = None
    resume: bool = True

    def config_hash(self) -> str:
        """Stable content hash for stage-manifest resume checks."""
        d = asdict(self)
        d.pop("checkpoint_dir", None)
        d.pop("resume", None)
        blob = json.dumps(d, sort_keys=True, default=str).encode()
        return hashlib.sha256(blob).hexdigest()[:16]
