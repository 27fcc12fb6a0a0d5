"""Deduplication operators for web-scale training-data pipelines.

Four families, all shuffle-shaped for 100 TB (no pairwise O(n^2) scans —
candidate pairs always come from an equi-join on a blocking key):

- exact:        groupBy(normalized text hash) -> keep min doc id
- MinHash-LSH:  shingle -> minhash -> band -> bucket equi-join -> verify
- n-gram Jaccard: shared-shingle inverted-index join -> exact Jaccard
- embedding cosine: LSH-bucketed (random hyperplane) or brute top-k via ANN

Hashes are md5-based (functions/hashing.py) so the DuckDB oracle can
reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.hashing import lsh_bands, word_shingles
from predicate_finder_spark.functions.text import tokenize


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per exact (md5 of) text.

    Hash-groupBy on md5(text) — at scale this shuffles 16-byte keys, not
    documents; Spark's partial aggregation dedups map-side first.
    """
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _pair_frame(docs: DataFrame, id_col: str, keyed: DataFrame) -> DataFrame:
    """Join a (id, block_key) frame with itself on block_key, id_a < id_b."""
    a = keyed.select(F.col(id_col).alias("id_a"), "block_key")
    b = keyed.select(F.col(id_col).alias("id_b"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-k-gram Jaccard near-dup pairs via inverted-index join.

    shingle explode -> self-join on shingle (the inverted index) ->
    per-pair intersection count -> |A∪B| = |A|+|B|-|A∩B|.  Only documents
    sharing >=1 shingle ever meet, so the join is the blocking step.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    The self-join is quadratic *per shingle group*: a boilerplate shingle
    shared by 10^6 docs would emit ~5*10^11 pairs.  This is the exact,
    oracle-checked path (q42, q65); minhash_lsh_pairs is the scale path.
    """
    sh = docs.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(tokenize(F.col(text_col)), shingle_k)).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.8,
) -> DataFrame:
    """MinHash-LSH candidate pairs, optionally verified with exact Jaccard.

    signature -> band keys -> explode -> self-join on band key (blocking,
    no pairwise scan).  With b bands of r rows, P(candidate) =
    1-(1-s^r)^b — the standard S-curve.  ``verify_threshold`` None returns
    raw candidates (recall-oriented); otherwise exact Jaccard is computed
    FOR THE CANDIDATE PAIRS ONLY — each side's shingle set is joined onto
    the pair and intersected per row (array_intersect), so the verify cost
    is O(|candidates|), never a second corpus-wide inverted-index self-join
    (which would defeat the point of LSH at 100 TB).
    """
    rows = num_hashes // bands
    # projection boundaries matter here: lsh_bands references its signature
    # argument once per band lambda, and Catalyst does NOT hoist the common
    # subexpression out of higher-order-function lambdas — passing the fused
    # minhash(shingles(tokenize(text))) expression in re-evaluates the whole
    # signature per band (measured 4-8x slower at 20k pages).  Materializing
    # the signature as a named column in a Project *below* the Generate
    # (CollapseProject never merges through Generate) makes it a per-row
    # attribute lookup.
    shingled = docs.select(
        F.col(id_col),
        word_shingles(tokenize(F.col(text_col)), shingle_k).alias("__sh"),
    )
    # Signature via explode + grouped min, NOT the transform/array_min
    # higher-order column (functions/hashing.minhash_signature): Spark
    # evaluates higher-order lambdas INTERPRETED (no whole-stage codegen
    # inside the lambda), so 16 seeds x |shingles| md5s per doc pay
    # per-element interpreter overhead — measured ~2.3x slower than this
    # shape at 20k pages.  Here the Generate and the 16 md5 columns are
    # codegen'd, the per-doc min is a map-side partial aggregate (each
    # doc's shingles sit in one partition, so the exchange carries ONE
    # 16-hash row per doc), and the VALUES are byte-identical — same
    # h_i(s) = md5(s || '#' || i) family, same lexicographic min, so every
    # downstream band key, candidate pair, and oracle row is unchanged.
    sig_cols = [
        F.min(F.md5(F.concat(F.col("__s"), F.lit(f"#{i}")))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    sig_df = (
        shingled.select(F.col(id_col), F.explode("__sh").alias("__s"))
        .groupBy(id_col)
        .agg(*sig_cols, F.count(F.lit(1)).alias("__n"))
        .select(
            F.col(id_col),
            F.col("__n"),
            F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("__sig"),
        )
    )
    # shingle-set size rides the band keys (one int per row): for the verify
    # path it powers an exact size-compatibility prune below
    keyed = sig_df.select(
        F.col(id_col), F.col("__n"),
        F.explode(lsh_bands(F.col("__sig"), bands, rows)).alias("bk"),
    ).select(
        F.col(id_col), F.col("__n"),
        F.concat_ws(":", F.col("bk.band"), F.col("bk.key")).alias("block_key"),
    )
    a = keyed.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "block_key")
    b = keyed.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "block_key")
    joined = a.join(b, "block_key").filter(F.col("id_a") < F.col("id_b"))
    if verify_threshold is not None:
        # exact-Jaccard upper bound: J(A,B) <= min(|A|,|B|) / max(|A|,|B|)
        # (the intersection is at most the smaller set, the union at least
        # the larger).  Pairs below the threshold on that bound can never
        # verify, so dropping them BEFORE the pair distinct and the
        # shingle-array joins changes nothing in the output.  Cost: two int
        # comparisons per banded row; measured round 6 at 200k pages it
        # prunes ~30% of banding candidates on the size-homogeneous
        # synthetic corpus — more on real crawls, where doc lengths are
        # heavy-tailed and most banded collisions pair unequal sizes.
        joined = joined.filter(
            F.least("__na", "__nb")
            >= F.lit(float(verify_threshold)) * F.greatest("__na", "__nb")
        )
    pairs = joined.select("id_a", "id_b").distinct()
    if verify_threshold is None:
        return pairs
    # materialize the candidate ids before the verify joins: the pair frame
    # is two id columns (tiny — LSH already blocked), but left lazy its
    # banding subtree (signature + explode + self-join over the full corpus)
    # would be RE-EXECUTED inside each verify join branch — measured 13x
    # slower at 2k docs, and at 100 TB it would mean extra full corpus
    # passes.  Persist-at-the-narrow-waist is the standard shape: candidates
    # are O(pairs), never O(corpus).
    # persist() alone is NOT enough: a single downstream action submits the
    # banding subtree and both verify-join scan stages CONCURRENTLY, and the
    # cache only dedupes work once populated — the parallel stages each
    # recompute the subtree first (measured 4x slower at 20k pages).  The
    # count() forces the tiny (id_a, id_b) frame before the fan-out.
    pairs = pairs.persist()
    pairs.count()
    # same shingle universe as ngram_jaccard_pairs (word_shingles is
    # already distinct), so the jaccard values are identical.  Shingle only
    # the CANDIDATE docs: a semi-join on the (tiny, persisted) pair ids
    # prunes the corpus before the tokenize/shingle projection runs, so the
    # verify stage re-shingles O(candidates) docs, not the whole corpus —
    # at 100 TB the difference between two more full-corpus passes and a
    # few thousand rows.  Output-identical: every (id_a, id_b) row still
    # finds both its shingle sets.
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        docs.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("id"),
            word_shingles(tokenize(F.col(text_col)), shingle_k).alias("sh"),
        )
    )
    # persist-at-the-narrow-waist, same argument as `pairs` above: the
    # sets frame feeds BOTH verify join branches, and Spark does not dedupe
    # common subtrees across branches of one plan — left lazy, the corpus
    # semi-join + candidate shingling executes once PER SIDE (two full
    # probe passes over the docs frame at 100 TB).  The frame is
    # candidate-bounded (<= 2 x |pairs| rows), and the count() populates it
    # before the two branches are submitted concurrently.
    sets = sets.persist()
    sets.count()
    verified = (
        pairs.join(sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("__n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("__n_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("__n_inter")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def embedding_cosine_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs via OR-amplified random-hyperplane LSH.

    ``n_tables`` independent tables, each blocking on the sign-pattern of
    ``n_planes`` md5-derived pseudo-random hyperplanes; candidate pairs are
    the union over tables (deduped), verified with exact cosine.

    Recall math: one table's collision probability at angle θ is
    p = (1-θ/π)^n_planes; OR-amplification lifts it to 1-(1-p)^n_tables —
    at the default threshold 0.95 (θ≈18°, p≈0.43) a SINGLE table silently
    misses the majority of true near-duplicates, while 8 tables reach
    ≈0.989.  Same structure as the MinHash band OR upstream.

    Join shape at 100 TB: the keyed frame carries (id, block_key) ONLY —
    vectors are joined back for the O(|unique candidate pairs|) cosine
    verify, so fat embeddings shuffle once per side, not once per table,
    and the per-table self-join shuffles 8-byte ids + short keys.
    """
    from predicate_finder_spark.functions.similarity import cosine_expr

    dim_probe = vectors.select(F.size(F.col(vec_col)).alias("d")).first()["d"]

    def table_key(t: int) -> F.Column:
        # deterministic pseudo-random hyperplanes from md5(table, plane, dim)
        planes = [
            F.array(*[
                (F.conv(F.substring(F.md5(F.lit(f"t{t}plane{p}dim{d}")), 1, 8), 16, 10)
                 .cast("double") / F.lit(float(1 << 32)) - 0.5)
                for d in range(dim_probe)
            ])
            for p in range(n_planes)
        ]
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(F.col(vec_col), pl, lambda x, y: x.cast("double") * y),
                    F.lit(0.0), lambda acc, v: acc + v,
                ) >= 0, F.lit("1"),
            ).otherwise(F.lit("0"))
            for pl in planes
        ]
        return F.concat_ws("", F.lit(f"t{t}:"), *bits)

    keyed = vectors.select(
        F.col(id_col),
        F.explode(F.array(*[table_key(t) for t in range(n_tables)])).alias("block_key"),
    )
    pairs = _pair_frame(vectors, id_col, keyed)
    sets = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        pairs.join(sets.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .withColumn("cosine", cosine_expr(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def duplicate_spans(docs: DataFrame, min_len: int = 5) -> DataFrame:
    """Exact duplicated-substring spans of ``docs(doc_id, text)``, k-gram
    seeded (the distributed analog of Lee et al. 2022's suffix-array
    substring dedup).

    A window start ``p`` in a document is *duplicated* iff the ``min_len``-token
    gram beginning at ``p`` occurs at any OTHER (doc, position) in the corpus
    — cross-document or a repeat inside the same document.  Maximal runs of
    consecutive duplicated starts ``[p1..p2]`` merge into one span covering
    token indices ``[p1, p2 + min_len)``: every ``min_len``-token window inside
    the span is duplicated somewhere, which is exactly the suffix-array
    criterion restricted to seeds of length ``min_len`` (a duplicated
    substring of length L >= min_len contributes L - min_len + 1 consecutive
    duplicated starts, so it is recovered in full).

    Shuffle shape at 100 TB: the gram explode emits one narrow row per token
    (id, pos, 16-byte md5) — documents themselves never shuffle; duplicate
    detection is a partial-agg groupBy on the md5 key followed by one
    semi-join back; island merging is one per-document window.  No pairwise
    doc comparison anywhere.

    Returns (doc_id, span_start, span_end, n_tokens) with token-index bounds,
    span_end exclusive.
    """
    k = min_len
    toks = docs.select(F.col("doc_id").alias("id"), tokenize(F.col("text")).alias("ts"))
    grams = toks.select(
        "id",
        F.posexplode(
            F.when(
                F.size("ts") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("ts") - k),
                    lambda i: F.md5(F.array_join(F.slice(F.col("ts"), i + 1, k), " ")),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "g"),
    )
    # grams occurring at >= 2 (doc, pos) sites; partial agg shrinks map-side
    dup_keys = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__c")).filter(F.col("__c") >= 2)
    dup_pos = grams.join(dup_keys.select("g"), "g", "left_semi")
    # gaps-and-islands: consecutive duplicated starts share (pos - row_number)
    w = Window.partitionBy("id").orderBy("pos")
    islands = dup_pos.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("id", "__grp")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + k).alias("span_end"))
        .select(
            F.col("id").alias("doc_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        )
    )


def cut_duplicate_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Remove every duplicated span's tokens and reassemble ``text`` of
    ``docs(doc_id, text)``.

    Policy: ALL occurrences of duplicated material are dropped (duplicated
    spans in web corpora are overwhelmingly boilerplate; dropping every
    occurrence is the standard production simplification of Lee et al.'s
    keep-one).  Documents with no spans pass through byte-identical.

    The spans frame aggregates to one array per document before the join, so
    the corpus-side join is 1:1 (never a row explosion), and the token cut is
    a single higher-order filter — no Python, no second shuffle of the text.
    """
    agg = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = docs.join(agg, "doc_id", "left")
    ts = tokenize(F.col("text"))
    kept = F.filter(
        ts,
        lambda _t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.withColumn(
        "text",
        F.when(F.col("__spans").isNull(), F.col("text")).otherwise(F.array_join(kept, " ")),
    ).drop("__spans")
