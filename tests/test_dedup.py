"""Dedup operators: exact, n-gram Jaccard, MinHash-LSH, embedding."""

from __future__ import annotations

import pytest

from predicate_finder_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog while birds sing in the trees"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("dog", "cat")),  # near dup of 0
        (3, "completely different text about spark shuffle partitions and joins"),
        (4, "another unrelated document mentioning parquet files and row groups"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs).collect())
    assert kept == [0, 2, 3, 4]  # doc 1 collapsed into 0


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8, verify_threshold=0.5).collect()}
    assert (0, 1) in got and (0, 2) in got
    assert (0, 3) not in got and (3, 4) not in got


def test_minhash_verify_runs_on_candidates_only(docs, spark):
    out = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8, verify_threshold=0.1)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the verify stage joins shingle SETS onto the candidate pairs; a
    # regression to the corpus-wide inverted-index recompute would reintroduce
    # an exploded `shingle` column into the plan
    assert "shingle#" not in plan, plan


def test_minhash_verify_jaccard_matches_exact(docs):
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8, verify_threshold=0.1).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert lsh  # candidates exist
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-9, (k, v, exact.get(k))


def test_embedding_cosine_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_cosine_pairs(vecs, threshold=0.95, n_planes=4).collect()}
    assert (0, 1) in got and (0, 2) not in got


def test_embedding_lsh_multitable_recall(spark):
    """OR-amplification recall bound: on planted near-dup clusters, the
    default 8-table/8-plane blocking must recover >= 95% of the true
    cosine>=0.9 pairs (single-table recall at this angle is ~0.5 — the
    round-2 recall gap this structure fixes), and every returned pair must
    be a true pair (the exact-cosine verify makes precision 1.0)."""
    import itertools

    import numpy as np

    rng = np.random.RandomState(7)
    dim, n_base, dup_per = 16, 40, 3
    rows = []
    vid = 0
    for _ in range(n_base):
        base = rng.randn(dim)
        base /= np.linalg.norm(base)
        for _ in range(dup_per):
            v = base + 0.05 * rng.randn(dim)  # ||noise||^2 ~ 0.04 -> cosine ~0.96-0.98
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    X = np.array([r[1] for r in rows])
    sims = X @ X.T
    truth = {
        (i, j)
        for i, j in itertools.combinations(range(len(rows)), 2)
        if sims[i, j] >= 0.9
    }
    assert len(truth) >= n_base * 2  # the fixture actually plants pairs

    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(vecs, threshold=0.9).collect()
    }
    assert got <= truth  # verify stage: no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"multi-table LSH recall {recall:.3f} < 0.95"


# ---------------------------------------------------------------------------
# exact-substring duplicate spans (Lee et al. 2022 semantics, k-gram seeded)
# ---------------------------------------------------------------------------

_BOILER = "subscribe to our newsletter for all the latest updates"  # 9 tokens


@pytest.fixture(scope="module")
def span_docs(spark):
    rows = [
        (0, _BOILER + " alpha beta gamma delta"),
        (1, _BOILER + " epsilon zeta eta theta"),
        (2, "a fully original document with no duplicated content at all"),
        (3, "short text"),  # below min_len: no grams at all
        (4, "x y z w v " + _BOILER),  # boilerplate at the tail
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_duplicate_spans_hand_example(span_docs):
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
        for r in dedup.duplicate_spans(span_docs, min_len=5).collect()
    }
    # 9-token boilerplate with k=5: duplicated starts 0..4 merge to [0, 9)
    assert spans[0] == (0, 9, 9)
    assert spans[1] == (0, 9, 9)
    assert spans[4] == (5, 14, 9)  # shifted by the 5 unique lead tokens
    assert 2 not in spans and 3 not in spans


def test_duplicate_spans_intra_document_repeat(spark):
    # the same 5-gram occurs twice INSIDE one doc -> both sites are spans
    phrase = "one two three four five"
    df = spark.createDataFrame(
        [(0, phrase + " filler aa bb cc dd " + phrase)], "doc_id long, text string"
    )
    got = sorted(
        (r["span_start"], r["span_end"])
        for r in dedup.duplicate_spans(df, min_len=5).collect()
    )
    assert got == [(0, 5), (10, 15)]


def _py_spans(rows, k):
    from collections import Counter

    from predicate_finder_spark.functions.text import py_tokenize

    toks = {i: py_tokenize(t) for i, t in rows}
    c = Counter()
    for ts in toks.values():
        for p in range(len(ts) - k + 1):
            c[tuple(ts[p : p + k])] += 1
    out = set()
    for i, ts in toks.items():
        dup = [p for p in range(len(ts) - k + 1) if c[tuple(ts[p : p + k])] >= 2]
        while dup:
            run = [dup.pop(0)]
            while dup and dup[0] == run[-1] + 1:
                run.append(dup.pop(0))
            out.add((i, run[0], run[-1] + k, run[-1] + k - run[0]))
    return out


def test_duplicate_spans_python_twin(spark):
    # deterministic corpus with cross-doc shared chunks at varied offsets
    words = ["w%d" % i for i in range(30)]
    rows = []
    for d in range(12):
        body = [words[(d * 7 + j) % 30] for j in range(20)]
        if d % 3 == 0:  # plant an 8-token shared chunk
            body[4:12] = ["dup%d" % j for j in range(8)]
        rows.append((d, " ".join(body)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in dedup.duplicate_spans(df, min_len=5).collect()
    }
    assert got == _py_spans(rows, 5)


def test_cut_duplicate_spans(span_docs):
    spans = dedup.duplicate_spans(span_docs, min_len=5)
    cut = {r["doc_id"]: r["text"] for r in
           dedup.cut_duplicate_spans(span_docs, spans).collect()}
    assert cut[0] == "alpha beta gamma delta"
    assert cut[1] == "epsilon zeta eta theta"
    assert cut[4] == "x y z w v"
    # untouched docs pass through byte-identical
    assert cut[2] == "a fully original document with no duplicated content at all"
    assert cut[3] == "short text"
