"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``    — flagship triple-extraction pipeline seeded from
                      /root/testdata/sf0.001/documents.parquet.
``queries()``       — one entry per implemented operator family from
                      SURVEY.md §2 (+ the training-data-pipeline ops),
                      each runnable at any sf dir.
``oracle_sql()``    — DuckDB-equivalent ANSI SQL per query (omitted only
                      for genuinely non-SQL ops: the pandas-UDF-scored KG
                      pipeline and the IVF ANN path).

Column names are aliased identically on both sides; floating aggregates are
rounded on both sides; hashes are md5-based so both engines compute
bit-identical values.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.analysis import (
    LANG_PROFILES,
    word_token_count_bpe_ish,
)
from predicate_finder_spark.functions.hashing import (
    minhash_signature,
    rolling_fingerprint,
    word_shingles,
)
from predicate_finder_spark.operators.ann import brute_force_topk, build_ivf_cells, ivf_topk
from predicate_finder_spark.operators.joins import salted_join
from predicate_finder_spark.session import plan_bytes

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "was", "that", "it")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tokens(col):
    """Space-split tokens, empties dropped — the engine tokenizer reduces to
    this on the punctuation-free documents corpus; the oracle mirrors it
    with list_filter(string_split(...))."""
    return F.filter(F.split(col, " "), lambda x: x != F.lit(""))




def _spread_by(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on ``keys`` at full core width when the scan plans
    fewer tasks than cores (the local sf tables are single parquet files
    with ONE row group, so a scan — however many cores the box has — runs
    one task, and every map-heavy stage fused into it is serialized).

    Keyed on a downstream window/aggregation key, this replaces the
    operator's own exchange (ClusteredDistribution is satisfied by any
    hash partitioning on the keys) rather than adding one; keyed on a
    unique row key it is a plain scan spread.  Either way hash repartition
    pays no sort-before-repartition (that cost is round-robin-only, which
    is why the round-robin _spread variant was retired — measured: q19 at
    sf0.1 0.37 s -> 1.4 s under round-robin's local sort) and row-to-
    partition assignment is deterministic under task retry (guide §2.5).
    At cluster scale the scan has >= cores splits and this is a no-op.

    The 4 MB size-estimate guard keeps small scans whole: repartitioning a
    few hundred KB to 32 tasks costs more scheduling than it buys
    (measured: q12 at sf0.01 0.34 s -> 0.74 s without the guard), while the
    multi-MB sf1.0 tables gain 2-3x."""
    sc = df.sparkSession.sparkContext
    if plan_bytes(df) > 4 * 1024 * 1024 and df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, *[F.col(k) for k in keys])
    return df


# ---------------------------------------------------------------------------
# entry: flagship pipeline
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG triple extraction over pages deterministically seeded
    from the sf0.001 documents table (doc ids drive page/sentence/entity
    choices; dictionaries are the synthetic DBpedia stand-ins)."""
    from predicate_finder_spark.plans.pipeline import extract_triples
    from predicate_finder_spark.synth import (
        build_aliases,
        build_embeddings,
        build_kg,
        build_ontology,
        build_pages,
        sentence_rows,
    )

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    ids = docs.select(F.col("doc_id").cast("long").alias("page_id"))
    rows = sentence_rows(spark, n_pages=0, ids=ids).cache()
    pages = build_pages(rows)
    triples = extract_triples(
        spark,
        pages,
        build_aliases(spark),
        build_kg(rows),
        build_ontology(spark),
        build_embeddings(spark),
    )
    return triples


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def q01_filter_project(spark, sf):
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def q02_regex_filter(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(~F.col("text").rlike("spark|join"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q03_regex_extract(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("n_chars") > 300)
        .select("doc_id", F.regexp_extract("text", "^([a-z]+)", 1).alias("first_word"))
    )


def q04_normalize(spark, sf):
    return _t(spark, sf, "customer").select(
        "c_custkey",
        F.regexp_replace(F.lower("c_name"), "[^a-z0-9 ]", "").alias("norm_name"),
    )


def q05_distinct(spark, sf):
    return _t(spark, sf, "customer").select("c_mktsegment").distinct()


def q06_dim_join(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("acctbal"))
    )


def q07_two_direction_union(spark, sf):
    n = _t(spark, sf, "nation")
    cust = (
        _t(spark, sf, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.lit("cust").alias("kind"))
    )
    supp = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.lit("supp").alias("kind"))
    )
    return cust.unionByName(supp).groupBy("n_name", "kind").agg(F.count(F.lit(1)).alias("n"))


def q08_eval_join(spark, sf):
    # examined round 6, deliberately NOT spread: customer auto-broadcasts
    # (dimension-sized) and the partial aggregation collapses the join
    # output to 5 rows per task, so the single-task scan+probe+agg is
    # already cheaper than one extra exchange of the fact side (measured
    # at 1.5M simulated rows: 0.52 s plain vs 0.72 s spread)
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q09_semi_join(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        _t(spark, sf, "customer")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey")
    )


def q10_anti_join(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        _t(spark, sf, "customer")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey")
    )


def q11_salted_join(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, ["o_custkey"], buckets=8, salt_source="o_orderkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )


def q12_idf(spark, sf):
    # N folded into the plan (broadcast 1-row agg + cross join): a separate
    # d.count() would scan the corpus twice.
    # df(word) = docs containing the word: doc_id is the documents table's
    # row key (unique at every sf; tests/test_queries.py checks it), so
    # per-row array_distinct already makes (doc_id, word) globally unique
    # and the explode can feed the word
    # aggregation DIRECTLY — one exchange (partial word counts) instead of
    # two (the old (doc_id, word) distinct shuffled every pair first).
    d = _spread_by(_t(spark, sf, "documents"), "doc_id")
    n = d.agg(F.countDistinct("doc_id").alias("__n"))
    words = d.select(F.explode(F.array_distinct(_tokens(F.col("text")))).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n))
        .select("word", "df", F.round(F.log2(F.col("__n") / F.col("df")), 6).alias("idf"))
    )


def q13_vocab(spark, sf):
    d = _t(spark, sf, "documents")
    counts = (
        d.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return counts.withColumn("word_id", F.row_number().over(w))


def q14_global_agg(spark, sf):
    return _t(spark, sf, "events").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.round(F.avg("value"), 4).alias("mean"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


def q15_grouped_agg(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def q16_argmax(spark, sf):
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        _t(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q17_rollup(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n"))


def q18_cube(spark, sf):
    return (
        _t(spark, sf, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q19_distinct_count(spark, sf):
    # hash-spread on the distinct key: the countDistinct rewrite's heavy
    # phase is the (l_returnflag, l_partkey) dedup, and partitioning by
    # l_partkey both spreads it cores-wide and makes the post-shuffle
    # partial dedup complete (all copies of a pair land together).
    # Measured at 6M simulated rows: 2.51 s plain / 2.12 s spread-by-both-
    # keys / 1.79 s this shape.  No-op at cluster scale (guard in
    # _spread_by).
    return (
        _spread_by(_t(spark, sf, "lineitem"), "l_partkey")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q20_top1_window(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        _spread_by(
            _t(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
            "o_custkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


def q21_lag_delta(spark, sf):
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        _t(spark, sf, "events")
        .withColumn("delta", F.round(F.col("value") - F.lag("value").over(w), 4))
        .select("user_id", "event_id", "delta")
    )


def q22_running_sum(spark, sf):
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # hash-spread on the window key: replaces the window's own exchange
    # (which AQE's size-based coalescing would shrink to a handful of
    # partitions, serializing the per-user sort) with a pinned core-width
    # partitioning — same mechanism as q20, no-op at cluster scale.
    return (
        _spread_by(_t(spark, sf, "events"), "user_id")
        .withColumn("running", F.round(F.sum("value").over(w), 4))
        .select("user_id", "event_id", "running")
    )


def q23_topk_per_group(spark, sf):
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
    return (
        _t(spark, sf, "part")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "rn")
    )


def q24_global_topk(spark, sf):
    return (
        _t(spark, sf, "events")
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(100)
        .select("event_id", F.round("value", 4).alias("value"))
    )


def q25_hash_split(spark, sf):
    return (
        _t(spark, sf, "orders")
        .withColumn(
            "split",
            F.when(F.col("o_orderkey") % 10 < 8, F.lit("train")).otherwise(F.lit("test")),
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q26_union(spark, sf):
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


def q27_intersect(spark, sf):
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    return c.intersect(o)


def q28_except(spark, sf):
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    return c.exceptAll(o).distinct()


def q29_stopword_counts(spark, sf):
    toks = _tokens(F.col("text"))
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).alias("n_stop"),
    )


def q30_scalar_funcs(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.levenshtein("lang", F.lit("en")).alias("lev"),
        F.round(F.log2("n_chars"), 6).alias("lg"),
    )


def q31_fingerprint(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fp")
    )


def q32_ann_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(e, q, k=5)
    return top.select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q33_dedup_exact(spark, sf):
    return (
        _t(spark, sf, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def q34_minhash_sig(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    sig = minhash_signature(word_shingles(_tokens(F.col("text")), 3), 8)
    return d.select("doc_id", F.posexplode(sig).alias("seed", "sig"))


def q35_sessionize(spark, sf):
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # microsecond-exact gap: timestamp->double keeps sub-second precision
    # like DuckDB's epoch(); unix_timestamp truncates to whole seconds and
    # would diverge for gaps within 1 s of the 1800 s session boundary.
    # (NTZ needs the intermediate timestamp cast; the tz offset cancels in
    # the difference.)
    ts_sec = F.col("ts").cast("timestamp").cast("double")
    gap = ts_sec - F.lag(ts_sec).over(w)
    return (
        _t(spark, sf, "events")
        .withColumn("new_sess", F.when(gap > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg((F.sum("new_sess") + 1).alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def q36_tumbling_window(spark, sf):
    # hour bucket via pure epoch arithmetic — tz-independent, unlike
    # date_trunc which truncates in the (driver-controlled) session tz
    bucket = (F.floor(F.unix_timestamp(F.col("ts")) / 3600) * 3600).cast("long")
    # examined round 6, deliberately NOT spread: the map-side partial
    # aggregation collapses each task's rows to ~#buckets x #types before
    # any exchange, so the single-task scan+agg beats paying a full-row
    # exchange first (measured at 1M simulated rows: 0.22 s plain vs
    # 1.07 s spread)
    return (
        _t(spark, sf, "events")
        .groupBy(bucket.alias("hour_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def q37_pivot(spark, sf):
    ev = _t(spark, sf, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "error", "signup")
    ]
    return ev.groupBy("user_id").agg(*aggs)


def q38_langid_hits(spark, sf):
    toks = _tokens(F.col("text"))

    def _hits(words):
        return lambda x: x.isin(*words)

    cols = [
        F.size(F.filter(toks, _hits(tuple(LANG_PROFILES[lang])))).alias(f"{lang}_hits")
        for lang in ("en", "de", "fr")
    ]
    return _t(spark, sf, "documents").select("doc_id", *cols)


def q39_bpe_count(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", word_token_count_bpe_ish(F.col("text")).alias("n_bpe")
    )


def q41_token_overlap(spark, sf):
    from predicate_finder_spark.functions.text import token_overlap_ratio

    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return _t(spark, sf, "documents").select(
        "doc_id", F.round(token_overlap_ratio(toks, stop_arr), 6).alias("overlap")
    )


def q42_jaccard_pairs(spark, sf):
    from predicate_finder_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=1e-9)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q43_simhash(spark, sf):
    """SimHash signatures — exact 60-bit integer construction, mirrored
    bit-for-bit by the DuckDB oracle (hex-fold of md5 + `//`/`<<` integer
    arithmetic)."""
    from predicate_finder_spark.functions.hashing import simhash64

    return _t(spark, sf, "documents").select(
        "doc_id", simhash64(_tokens(F.col("text"))).alias("sig")
    )


def q44_syntax_path(spark, sf):
    """Dependency shortest-path feature (pandas-UDF parser).  Oracled via a
    precomputed expected table keyed by md5(text) — the parse is a pure
    deterministic function of the tokens, so its outputs for the driver
    testdata (all three sf dirs) are pinned in
    predicate_finder_spark/resources/q44_expected.json and joined back in
    DuckDB."""
    from predicate_finder_spark.operators.syntax import make_syntax_path_udf

    udf = make_syntax_path_udf()
    toks = _tokens(F.col("text"))
    return (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.concat_ws(
                "|", udf(F.slice(toks, 1, 8), F.lit(0), F.least(F.size(toks), F.lit(8)) - 1)
            ).alias("path"),
        )
    )


def q46_asof_join(spark, sf):
    """As-of join (union + carry-forward window — one shuffle, no range
    blow-up): for each event, the user's most recent order at that time."""
    from predicate_finder_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    out = asof_join(
        ev, orders, key="user_id", left_time="ts", right_time="o_orderdate",
        right_cols=["o_orderkey"], tie_col="o_orderkey",
    )
    return out.select("event_id", "user_id", "o_orderkey")


def q47_range_join(spark, sf):
    """Range join via bucketized equi-join: price bands over order totals."""
    from predicate_finder_spark.operators.temporal import range_join

    bands = _t(spark, sf, "orders").sparkSession.createDataFrame(
        [("low", 0.0, 50_000.0), ("mid", 50_000.0, 150_000.0),
         ("high", 150_000.0, 1e9)],
        "band string, lo double, hi double",
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    joined = range_join(o, bands, value_col="o_totalprice", bucket_width=25_000.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


def q48_quantiles(spark, sf):
    """Exact interpolated quantiles per group (Spark percentile == DuckDB
    quantile_cont); the approx variants (percentile_approx /
    approx_count_distinct) exist as built-ins but are not oracle-exact."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
        )
    )


def q45_centroids(spark, sf):
    """A5/A6: distributed elementwise mean per label (IVF centroid shape)."""
    return (
        _t(spark, sf, "embeddings")
        .select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"))
    )


def q49_camel_split(spark, sf):
    """C2 camelCase split round-trip: camelize p_name's words (initcap +
    concat), split back with camel_split, one row per word."""
    from predicate_finder_spark.functions.text import camel_split

    camel = F.concat_ws("", F.transform(F.split("p_name", " "), F.initcap))
    return _t(spark, sf, "part").select(
        "p_partkey", F.posexplode(camel_split(camel)).alias("pos", "word")
    )


def q50_ngrams(spark, sf):
    """C3 contiguous n-grams (space-joined bigrams) of document tokens."""
    from predicate_finder_spark.functions.text import ngram_texts

    return _t(spark, sf, "documents").select(
        "doc_id", F.posexplode(ngram_texts(_tokens(F.col("text")), 2)).alias("pos", "gram")
    )


def q51_wh_word(spark, sf):
    """C5 wh-word detection: last wh-word in the token list, falling back to
    the first token."""
    from predicate_finder_spark.functions.text import wh_word

    return _t(spark, sf, "documents").select(
        "doc_id", wh_word(_tokens(F.col("text"))).alias("wh")
    )


def q52_jaro_winkler(spark, sf):
    """C7 Jaro-Winkler (pandas UDF) vs DuckDB's native
    jaro_winkler_similarity — canonical 0.7 boost threshold on both sides."""
    from predicate_finder_spark.functions.similarity import jaro_winkler_udf

    return _t(spark, sf, "customer").select(
        "c_custkey",
        F.round(
            jaro_winkler_udf(F.col("c_name"), F.lit("Customer#000000042")), 6
        ).alias("jw"),
        F.round(jaro_winkler_udf(F.lower("c_name"), F.col("c_mktsegment")), 6).alias(
            "jw_seg"
        ),
    )


def q53_quality(spark, sf):
    """Document quality score — one codegen'd expression (length, alpha
    ratio, stopword ratio, mean-word-length sanity)."""
    from predicate_finder_spark.functions.analysis import quality_score

    return _t(spark, sf, "documents").select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


def q54_embed_neardup(spark, sf):
    """Embedding near-dup pairs via deterministic OR-amplified (3-table)
    random-hyperplane LSH blocking + exact cosine verify (md5-derived
    planes are bit-identical in DuckDB, so the whole blocked multi-table
    join — candidate union, dedup, verify — is oracled)."""
    from predicate_finder_spark.operators.dedup import embedding_cosine_pairs

    # the synthetic embeddings hold no true near-dups (max blocked-pair
    # cosine ~0.48), so the threshold is set low to give the verify stage a
    # non-trivial result set at every sf
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    pairs = embedding_cosine_pairs(
        e, id_col="vec_id", vec_col="embedding", threshold=0.3, n_planes=6,
        n_tables=3,
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q55_cands(spark, sf):
    """Deterministic flagship-front-half candidate triples over the
    documents table (shared by q55/q58/q59; derivation documented on
    q55_kg_candidates)."""
    from predicate_finder_spark.operators.linking import link_mentions, resolve_mentions
    from predicate_finder_spark.operators.mentions import generate_mentions
    from predicate_finder_spark.operators.predicates import (
        candidate_predicates,
        pair_mentions,
    )
    from predicate_finder_spark.synth import _u

    docs = _t(spark, sf, "documents")
    sent = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).alias("sent_id"),
        F.col("text").alias("sentence"),
        _tokens(F.col("text")).alias("tokens"),
    )
    freq = (
        sent.select(F.explode("tokens").alias("alias"))
        .groupBy("alias")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("alias").asc())
        .limit(20)
    )
    aliases = freq.select("alias", F.col("alias").alias("entity"), F.lit(0.9).alias("prior"))
    a, b = freq.select(F.col("alias").alias("wa")), freq.select(F.col("alias").alias("wb"))
    top_pairs = a.crossJoin(b).filter(F.col("wa") != F.col("wb"))  # 20x20 dim
    kg = top_pairs.filter(_u("kg", F.col("wa"), F.col("wb")) < 0.4).select(
        F.col("wa").alias("s"),
        F.lit("http://example.org/ontology/coOccursWith").alias("p"),
        F.col("wb").alias("o"),
    )
    kg_noise = top_pairs.filter(_u("bl", F.col("wa"), F.col("wb")) < 0.2).select(
        F.col("wa").alias("s"),
        F.lit("http://example.org/ontology/wikiPageLink").alias("p"),
        F.col("wb").alias("o"),
    )
    mentions = generate_mentions(sent, max_n=1)
    resolved = resolve_mentions(link_mentions(mentions, aliases))
    pairs = pair_mentions(resolved, sent)
    return candidate_predicates(pairs, kg.unionByName(kg_noise))


def q55_kg_candidates(spark, sf):
    """Flagship front half through the KG join, oracled end-to-end: mention
    generation (real operator) -> alias equi-join + fused disambiguation/
    containment windows -> consecutive-mention pairing -> both-direction KG
    join with blacklist filter (operators/{mentions,linking,predicates}.py).

    Inputs are derived deterministically from the documents table so DuckDB
    can rebuild them exactly: the alias dictionary is the corpus's top-20
    words (count desc, word asc), the KG is the md5-seeded 40% of ordered
    top-word pairs under predicate coOccursWith, plus md5-seeded
    wikiPageLink noise rows that the blacklist filter must drop — the
    oracle generates NO noise rows, so equality proves the F2 filter fires.
    The scorer window downstream stays rows-only (q40)."""
    cands = _q55_cands(spark, sf)
    return cands.select(
        "url", "sent_id", "subj", "obj", "pred", "rule",
        F.array_join("rel_tokens", " ").alias("rel"),
        F.round("pair_prior", 4).alias("pair_prior"),
    )


def q56_approx_quantiles(spark, sf):
    """percentile_approx per group — no value oracle (approx result is
    algorithm-specific); driver records rows+schema, and the tolerance
    bound vs the exact percentile is pinned in tests/test_queries.py."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile_approx(value, 0.5, 1000)"), 4).alias("p50_approx"),
            F.round(F.expr("percentile_approx(value, 0.95, 1000)"), 4).alias("p95_approx"),
        )
    )


def q57_approx_distinct(spark, sf):
    """approx_count_distinct (HLL++) per group — same rows-only contract as
    q56; the relative-error tolerance vs countDistinct is pinned in
    tests/test_queries.py."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("users_approx"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q58_graph_edges(spark, sf):
    """Graph materialization, edge half (plans/pipeline.py
    materialize_graph — the operator run_pipeline's graph sink uses):
    edges(src, dst, pred, weight) over the deterministic q55 candidate
    triples, weight = supporting-mention count.  One groupBy shuffle;
    value-exact oracle closes the flagship's sink stage."""
    from predicate_finder_spark.plans.pipeline import materialize_graph

    _, edges = materialize_graph(_q55_cands(spark, sf))
    return edges


def q59_graph_vertices(spark, sf):
    """Graph materialization, vertex half: distinct subj ∪ obj with
    display label + type — the union-distinct dedup pattern at graph
    scale (same operator as q58)."""
    from predicate_finder_spark.plans.pipeline import materialize_graph

    vertices, _ = materialize_graph(_q55_cands(spark, sf))
    return vertices


def q60_ivf_topk(spark, sf):
    """IVF ANN under the oracle gate (VERDICT-r3 item 4): deterministic
    seeded centroids (8 lowest-id vectors), broadcast-argmin assignment,
    n_probe=2 cell equi-join, exact top-5 within the probed cells
    (operators/ann.py:59-172).  Every stage is md5/argmax arithmetic, so
    the FULL approximate path is value-exact SQL-expressible — recall vs
    brute force is covered separately by tests/test_ann.py."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids, assigned = build_ivf_cells(e, n_cells=8)
    top = ivf_topk(assigned, centroids, q, k=5, n_probe=2)
    return top.select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q61_curation(spark, sf):
    """Composed curation pipeline (plans/curation.py curate_docs) under the
    value-exact gate: quality gate (>= 0.5) -> language gate (en) -> exact
    dedup (min doc_id per md5) -> MinHash-LSH near-dup dedup (16 hashes, 4
    bands, Jaccard-verified at 0.8).  The oracle replicates every stage in
    SQL including the LSH banding, so the scale path itself — not just its
    ingredients — is value-checked."""
    from predicate_finder_spark.plans.curation import curate_docs

    d = _t(spark, sf, "documents")
    kept = curate_docs(
        d, min_quality=0.5, langs=("en",), near_dup="minhash",
        near_dup_threshold=0.8,
    )
    return kept.select("doc_id", "quality", "lang_pred")


def q62_pii_scrub(spark, sf):
    """PII redaction for training-data curation (functions/analysis.py
    pii_scrub / pii_hit_count): chained regexp_replace inside codegen.
    The raw documents carry no PII, so the query injects a deterministic
    doc_id-derived email / phone / IPv4 suffix — rebuilt identically by
    the oracle — and equality proves each pattern both fires and leaves
    surrounding text intact."""
    from predicate_finder_spark.functions.analysis import pii_hit_count, pii_scrub

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    injected = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), sid, F.lit("@example.com or +1-555-"),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" at 10.2."), F.pmod("doc_id", F.lit(256)).cast("string"),
        F.lit(".7 ok"),
    )
    return d.select(
        "doc_id",
        pii_scrub(injected).alias("scrubbed"),
        pii_hit_count(injected).cast("long").alias("pii_hits"),
    )


def q63_repetition(spark, sf):
    """Gopher-style boilerplate signal: duplicate-bigram fraction per
    document (functions/analysis.py repetition_ratio), a pure higher-order
    column expression."""
    from predicate_finder_spark.functions.analysis import repetition_ratio

    return _t(spark, sf, "documents").select(
        "doc_id", F.round(repetition_ratio(F.col("text"), 2), 4).alias("rep_ratio")
    )


def q64_decontam(spark, sf):
    """Benchmark decontamination (operators/decontam.py): per-document
    count of distinct word-5-grams shared with an eval set (GPT-3
    appendix-C-style train-test overlap scrub).  The deterministic
    'benchmark' is the doc_id % 13 == 0 slice of the corpus, so every
    benchmark member flags at least itself; the gram join key is md5,
    mirrored exactly by the oracle."""
    from predicate_finder_spark.operators.decontam import contamination_hits

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.pmod("doc_id", F.lit(13)) == 0)
    return contamination_hits(docs, bench, ngram_n=5).select(
        "doc_id", F.col("n_hits").cast("long").alias("n_hits")
    )


def q65_components(spark, sf):
    """Distributed connected components (operators/graph.py — alternating
    large-star/small-star, O(log^2) rounds, groupBy-min + equi-joins only)
    over the verified n-gram-Jaccard near-dup pair graph.  The oracle is a
    DuckDB recursive CTE computing min-reachable-id — value-exact, so the
    iterative Spark algorithm is pinned against a declarative transitive
    closure."""
    from predicate_finder_spark.operators.dedup import ngram_jaccard_pairs
    from predicate_finder_spark.operators.graph import connected_components

    docs = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5)
    comp = connected_components(pairs)
    return comp.select(F.col("node").alias("doc_id"), "component")


def q66_pack_chunks(spark, sf):
    """Concat-and-chunk sequence packing (operators/packing.py): md5-bucketed
    streams, per-bucket running token offsets, budget-64 chunk assignment —
    all window + integer arithmetic, mirrored exactly by the oracle."""
    from predicate_finder_spark.operators.packing import pack_chunks

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    out = pack_chunks(docs, budget=64, n_buckets=4, tokens_col="n_tok")
    return out.select(
        "doc_id", F.col("bucket").cast("long").alias("bucket"), "n_tokens",
        "tok_offset", F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunks_spanned",
    )


def q67_url_canonical(spark, sf):
    """URL canonicalization + host extraction for web-corpus curation
    (functions/urls.py): lowercase scheme/host, strip userinfo / default
    port / fragment / tracking params — one codegen'd regex chain, every
    pattern in the Java-regex ∩ RE2 subset so the oracle is byte-exact.
    The documents table carries no URL column, so the query builds a
    deterministic messy URL per row (doc_id/source-derived) exercising
    every cleanup pass."""
    from predicate_finder_spark.functions.urls import canonicalize_url, url_host

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    messy = F.concat(
        F.lit("HTTP://User@WWW."), F.upper("source"), F.lit(".COM:80/D"), sid,
        F.lit("/Page?utm_source=s"), sid, F.lit("&q="),
        F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit("&gclid=g"), sid, F.lit("#frag"),
    )
    return d.select(
        "doc_id",
        canonicalize_url(messy).alias("canon_url"),
        url_host(messy).alias("host"),
    )


def q68_domain_stats(spark, sf):
    """Per-domain corpus stats (the crawl-curation dashboard query): group
    by extracted host -> page count, distinct languages, mean quality.
    The quality mean goes through an exact integer micro-unit sum
    (sum of round(q*1e6) BIGINTs, order-independent) then ONE double
    division — bit-identical in any engine, unlike a float SUM whose
    value depends on partial-aggregation order."""
    from predicate_finder_spark.functions.analysis import quality_score
    from predicate_finder_spark.functions.urls import url_host

    d = _t(spark, sf, "documents")
    host = url_host(F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com/p")))
    qmicro = F.round(quality_score(F.col("text")) * 1e6).cast("long")
    return (
        d.select(host.alias("host"), F.col("lang"), qmicro.alias("qmicro"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.round(
                F.sum("qmicro").cast("double") / F.count(F.lit(1)).cast("double") / 1e6, 6
            ).alias("avg_quality"),
        )
    )


def q69_temperature_mix(spark, sf):
    """Temperature-resampled training mixture (operators/sampling.py):
    per-language share ∝ n^0.5, target 40% of the corpus — ONE
    map-side-combinable count per group, broadcast thresholds, md5
    keep-filter; the corpus never shuffles.  Thresholds use integer
    weights + a pinned chain of correctly-rounded IEEE ops, so the kept
    row set is bit-identical in the oracle."""
    from predicate_finder_spark.operators.sampling import temperature_sample

    d = _t(spark, sf, "documents")
    target = d.count() * 2 // 5  # dimension-bounded driver count, mirrored in SQL
    out = temperature_sample(d, "lang", "doc_id", target_rows=target, tau=0.5)
    return out.select("doc_id", "lang")


def q70_bpe_pieces(spark, sf):
    """BPE tokenizer application (operators/bpe.py): pinned 64-merge table
    (PINNED_WORD_FREQS — corpus-learned merges are sf-dependent, covered by
    test_bpe), distributed apply via the Arrow-batched pandas UDF with the
    shared engine tokenizer.  Oracled q44-style: expected
    (n_pieces, md5-of-pieces) per md5(text), generated by the pure-python
    reference path (bin/gen_q70_expected.py)."""
    from predicate_finder_spark.operators.bpe import (
        PINNED_WORD_FREQS,
        learn_bpe,
        make_bpe_udf,
    )

    merges = learn_bpe(list(PINNED_WORD_FREQS), 64)
    pieces = make_bpe_udf(merges)(F.col("text"))
    return (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(pieces).cast("long").alias("n_pieces"),
            F.md5(F.array_join(pieces, "|")).alias("pieces_hash"),
        )
    )


def q71_quality_fitted(spark, sf):
    """Fitted quality classifier inference (operators/quality.py): pinned
    IRLS-fitted weights folded into ONE JVM-side column expression — the
    6 curation features (log-tokens, alpha/stop/digit ratios, mean word
    length, 2-gram repetition) and the log-odds score, zero Python
    workers.  Fully value-oracled: DuckDB recomputes every feature and the
    literal-weight dot product."""
    from predicate_finder_spark.operators.quality import (
        PINNED_QUALITY_WEIGHTS,
        quality_logit,
    )

    z = quality_logit(F.col("text"), weights=PINNED_QUALITY_WEIGHTS)
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.round(z, 6).alias("logit"),
        (z >= 0).cast("int").alias("keep"),
    )


def q72_pagerank(spark, sf):
    """Entity-salience PageRank over the materialized KG edge list
    (operators/graph.pagerank): 5 iterations, damping 0.85, ranks in LONG
    micro-units with exact integer division — order-independent sums, so
    the ranking is deterministic at any parallelism AND the whole
    iterative computation is value-exact in SQL (the oracle unrolls the 5
    iterations; no tolerance anywhere)."""
    from predicate_finder_spark.operators.graph import pagerank
    from predicate_finder_spark.plans.pipeline import materialize_graph

    _, edges = materialize_graph(_q55_cands(spark, sf))
    return pagerank(edges, n_iter=5)


def q73_triple_diff(spark, sf):
    """KG snapshot delta (operators/evolve.triple_diff): two overlapping
    corpus slices yield two (source, hasLang, lang) fact snapshots; the
    delta is added/removed facts — two left_anti equi-joins, never a full
    outer join over the unchanged majority."""
    from predicate_finder_spark.operators.evolve import triple_diff

    d = _t(spark, sf, "documents")

    def snap(cond):
        return d.filter(cond).select(
            F.col("source").alias("subj"),
            F.lit("hasLang").alias("pred"),
            F.col("lang").alias("obj"),
        )

    return triple_diff(snap(F.col("doc_id") < 300), snap(F.col("doc_id") >= 150))


def q74_kg_negatives(spark, sf):
    """TransE-style negative sampling over the q55 candidate triples
    (operators/kg_negatives.corrupt_triples): md5-deterministic entity
    corruption (even slot = subj, odd = obj), false negatives removed by
    ONE left_anti join against the true set.  The draw arithmetic is
    engine-portable, so the full sample — index assignment, corruption,
    anti-join — is value-exact in DuckDB."""
    from predicate_finder_spark.operators.kg_negatives import corrupt_triples

    base = _q55_cands(spark, sf).select("subj", "pred", "obj")
    ents = base.select(F.col("subj").alias("entity")).union(
        base.select(F.col("obj").alias("entity"))
    )
    return corrupt_triples(base, ents, n_neg=2)


def q75_two_hop(spark, sf):
    """2-hop path counting over the KG edge list — the graph self-join
    scale shape: ONE equi-join on the mid entity (AQE splits hub-key
    skew), then a partial-agg groupBy; never an adjacency materialization."""
    from predicate_finder_spark.plans.pipeline import materialize_graph

    _, edges = materialize_graph(_q55_cands(spark, sf))
    e = edges.select("src", "dst").distinct()
    a = e.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
    b = e.select(F.col("src").alias("mid"), F.col("dst").alias("c"))
    return (
        a.join(b, "mid")
        .filter(F.col("a") != F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )


def q76_pmi(spark, sf):
    """Entity co-occurrence PMI over the KG candidate pairs
    (operators/cooccur.pmi_pairs): three partial-agg groupBys + two
    marginal joins + codegen'd log2 — the distant-supervision prior,
    value-exact in SQL."""
    from predicate_finder_spark.operators.cooccur import pmi_pairs

    cands = _q55_cands(spark, sf).select("subj", "obj")
    out = pmi_pairs(cands)
    return out.select("subj", "obj", "n_pair", F.round("pmi", 6).alias("pmi"))


def q77_predicate_stats(spark, sf):
    """Per-predicate schema-induction stats (operators/cooccur.
    predicate_stats): ONE partial-agg groupBy computing counts, distincts,
    and functionality ratios — the ontology-QA signal that flags
    extraction blow-ups.  Runs over a 3-predicate fact set derived from
    the documents table (hasLang is functional by construction, hosts is
    its inverse-shaped sibling, usesLang is many-to-many)."""
    from predicate_finder_spark.operators.cooccur import predicate_stats

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc"), "source", "lang"
    )
    facts = (
        d.select(F.col("doc").alias("subj"), F.lit("hasLang").alias("pred"),
                 F.col("lang").alias("obj"))
        .unionByName(
            d.select(F.col("source").alias("subj"), F.lit("hosts").alias("pred"),
                     F.col("doc").alias("obj")))
        .unionByName(
            d.select(F.col("source").alias("subj"), F.lit("usesLang").alias("pred"),
                     F.col("lang").alias("obj")))
    )
    out = predicate_stats(facts)
    return out.select(
        "pred", "n_triples", "n_subj", "n_obj",
        F.round("functionality", 6).alias("functionality"),
        F.round("inverse_functionality", 6).alias("inverse_functionality"),
    )


def q78_alias_mining(spark, sf):
    """Anchor-statistics dictionary mining (operators/linking.
    build_alias_dictionary — the Spotlight dictionary-construction loop):
    prior(alias, entity) = c(alias, entity)/c(alias) over deterministic
    synthetic anchors (sense = md5 bucket of (doc_id, token), so surfaces
    are ambiguous by construction); min_count/min_prior hygiene applied."""
    from predicate_finder_spark.functions.hashing import md5_bucket
    from predicate_finder_spark.operators.linking import build_alias_dictionary

    toks = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("surface"))
    )
    pairs = toks.select(
        "surface",
        F.concat(
            F.col("surface"), F.lit("#"),
            md5_bucket(F.concat_ws("|", "doc_id", "surface"), 3).cast("string"),
        ).alias("entity"),
    )
    out = build_alias_dictionary(pairs, min_count=2, min_prior=0.2)
    return out.select(
        "alias", "entity", F.round("prior", 6).alias("prior"), "n_pair"
    )


def q79_redirects(spark, sf):
    """Redirect-chain resolution by pointer doubling (operators/graph.
    resolve_chains — entity canonicalization): synthetic redirect chains
    of md5-determined length 1..3 per source; every source must resolve
    to its terminal.  The oracle unrolls the same doubling rounds, so the
    whole O(log chain) join cascade is value-exact."""
    from predicate_finder_spark.functions.hashing import md5_bucket
    from predicate_finder_spark.operators.graph import resolve_chains

    s = _t(spark, sf, "documents").select(F.col("source").alias("s")).distinct()
    ln = (md5_bucket(F.col("s"), 3) + 1).alias("ln")
    lv = s.select("s", ln)

    def node(i):
        return F.col("s") if i == 0 else F.concat(F.col("s"), F.lit(f">{i}"))

    parts = [
        lv.filter(F.col("ln") >= i).select(
            node(i - 1).alias("src"), node(i).alias("dst")
        )
        for i in (1, 2, 3)
    ]
    mapping = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return resolve_chains(mapping)


def q80_heavy_hitters(spark, sf):
    """Exact heavy hitters over the exploded token column (operators/
    sketch.heavy_hitters): per-partition Misra-Gries candidates (Arrow-
    batched, NO shuffle of the token column) + exact verify of the
    candidate set — output provably equals the plain GROUP BY answer,
    which is exactly what the oracle runs."""
    from predicate_finder_spark.operators.sketch import heavy_hitters

    toks = _t(spark, sf, "documents").select(
        F.explode(_tokens(F.col("text"))).alias("tok")
    )
    return heavy_hitters(toks, "tok", num=1, den=50)


def q81_fold_diacritics(spark, sf):
    """Diacritic folding (functions/text.fold_diacritics — the alias-
    normalization step exact-surface linking needs): synthesize accented
    surfaces from customer names (translate vowels to accented forms),
    fold back, and emit the folded surface + round-trip flag.  Both
    engines run the identical explicit char map — no locale, no ICU."""
    from predicate_finder_spark.functions.text import fold_diacritics

    base = F.lower(F.col("c_name"))
    accented = F.translate(base, "aeiou", "áéîöü")
    return _t(spark, sf, "customer").select(
        "c_custkey",
        accented.alias("accented"),
        fold_diacritics(accented).alias("folded"),
        (fold_diacritics(accented) == base).cast("int").alias("round_trip"),
    )


def q82_quantize(spark, sf):
    """int8 embedding quantization (functions/vectors.quantize_embedding
    — the 4x ANN memory/bandwidth lever): scale, quantized-vector hash,
    and max reconstruction error per vector, all explicit arithmetic
    (floor(x/scale + 0.5) half-up — no rounding-mode dependence), so the
    full quantize→dequantize→error path is value-exact in DuckDB."""
    from predicate_finder_spark.functions.vectors import (
        dequantize_embedding,
        quantize_embedding,
    )

    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    qs = quantize_embedding(F.col("embedding"))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    deq = dequantize_embedding(qs)
    return e.select(
        "vec_id",
        F.round(qs["scale"], 9).alias("scale"),
        F.md5(
            F.array_join(F.transform(qs["q"], lambda x: x.cast("string")), ",")
        ).alias("q_hash"),
        F.round(
            F.array_max(F.zip_with(v, deq, lambda a, b: F.abs(a - b))), 9
        ).alias("max_err"),
    )


def q83_sliding_chunks(spark, sf):
    """Sliding-window chunking with overlap (operators/packing.
    sliding_chunks — the RAG/long-context sample cutter, never crossing a
    document boundary): size 32, stride 24 over the documents table;
    chunk text hashed for the value compare."""
    from predicate_finder_spark.operators.packing import sliding_chunks

    out = sliding_chunks(
        _t(spark, sf, "documents"), id_col="doc_id", size=32, stride=24
    )
    return out.select(
        F.col("id").alias("doc_id"), "chunk_id", "start", "n_tokens",
        F.md5("chunk").alias("chunk_hash"),
    )


def q84_dup_spans(spark, sf):
    """Exact duplicated-substring spans (dedup.duplicate_spans — the
    distributed Lee-et-al.-2022 substring dedup, 8-token k-gram seeds):
    maximal token ranges whose every 8-gram window occurs at >= 2 corpus
    sites, merged per document via gaps-and-islands."""
    from predicate_finder_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf, "documents"), min_len=8)


def q85_lm_ppl(spark, sf):
    """Bigram-LM self-perplexity (operators/lm.py, the CCNet-style
    model-based quality gate): add-one-smoothed bigram LM fit on the
    documents table, scored over the same table.  Integer micro-unit
    outputs — parallelism-exact and hashable without float rounding."""
    from predicate_finder_spark.operators import lm as _lm

    d = _t(spark, sf, "documents")
    ctx, bgs, v = _lm.fit_bigram_lm(d)
    out = _lm.perplexity(d, ctx, bgs, v, keep_micro=True)
    return out.select(
        "doc_id",
        "n_bigrams",
        "sum_micro",
        F.floor(-F.col("sum_micro").cast("double") / F.col("n_bigrams") + 0.5)
        .cast("bigint")
        .alias("ppl_micro"),
    )


def q86_cut_spans(spark, sf):
    """Substring-dedup span CUT (dedup.cut_duplicate_spans composed on
    q84's spans): every duplicated 8-gram region removed from every
    document, text rebuilt.  Hash + surviving token count per doc."""
    from predicate_finder_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicate_spans,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    spans = duplicate_spans(d, min_len=8)
    out = cut_duplicate_spans(d, spans)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        F.size(_tokens(F.col("text"))).alias("n_tokens"),
    )


def _weblink_pages(spark, sf):
    """Deterministic crawl-page frame (url + binary html) built from the
    documents table for the weblinks queries: two links per page, both
    exercising the canonicalization passes (upper-case scheme/host,
    default :443 port, tracking param, fragment, mixed-case HREF attr)."""
    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><a href="HTTPS://WWW.Example.COM:443/d'), sid,
        F.lit("?utm_source=x&q="), F.pmod("doc_id", F.lit(5)).cast("string"),
        F.lit('">a</a><p>t</p><A HREF="http://mirror'),
        F.pmod("doc_id", F.lit(3)).cast("string"),
        F.lit(".net/p"), sid, F.lit('#sec"><b>Mirror</b>  site</A></body></html>'),
    )
    return d.select(
        F.concat(
            F.lit("http://src"), F.pmod("doc_id", F.lit(4)).cast("string"),
            F.lit(".org/doc/"), sid,
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def q87_outlink_edges(spark, sf):
    """Web-graph edge extraction (operators/weblinks.py): codegen regex
    href extraction over binary page bytes, both endpoints canonicalized
    (functions/urls) before the distinct.  Every regex is in the
    Java-regex ∩ RE2 subset, so the oracle replays the identical chain."""
    from predicate_finder_spark.operators.weblinks import outlink_edges

    return outlink_edges(_weblink_pages(spark, sf))


def q88_host_graph(spark, sf):
    """Host-level rollup of the page graph (weblinks.host_graph): codegen
    url_host projection of the canonical edges, ONE partial-agg groupBy on
    two short host keys."""
    from predicate_finder_spark.operators.weblinks import host_graph, outlink_edges

    return host_graph(outlink_edges(_weblink_pages(spark, sf)))


def q91_anchor_texts(spark, sf):
    """Anchor-text mining (weblinks.anchor_texts): whole-<a> element
    explode, href canonicalization, markup-stripped anchor surfaces — the
    crawl-native alias-dictionary source (feeds
    linking.build_alias_dictionary, q78's input contract)."""
    from predicate_finder_spark.operators.weblinks import anchor_texts

    return anchor_texts(_weblink_pages(spark, sf))


def q92_latest_snapshot(spark, sf):
    """Crawl-snapshot dedup (weblinks.latest_snapshot): every 3 consecutive
    doc_ids are one page under three mirror spellings (case/port/fragment/
    tracking variants); keep the newest snapshot per canonical URL with the
    deterministic tie-break (ts desc, url asc, html md5 asc) — the ts is
    built (doc_id % 2)-valued so ties genuinely exercise the url leg."""
    from predicate_finder_spark.operators.weblinks import latest_snapshot

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    g = F.floor(F.col("doc_id") / 3).cast("long").cast("string")
    v = F.pmod("doc_id", F.lit(3))
    url = (
        F.when(v == 0, F.concat(F.lit("http://site.com/p"), g))
        .when(v == 1, F.concat(F.lit("HTTP://SITE.COM:80/p"), g, F.lit("#frag")))
        .otherwise(F.concat(F.lit("http://site.com/p"), g, F.lit("?utm_source=x")))
    )
    pages = d.select(
        url.alias("url"),
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod("doc_id", F.lit(2)) * 3600
        ).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html>doc"), sid, F.lit("</html>")), "UTF-8").alias("html"),
    )
    return latest_snapshot(pages).select(
        "canon_url", "url", F.md5("html").alias("html_hash")
    )


def q93_bgp_triangles(spark, sf):
    """Basic-graph-pattern query over the constructed KG (operators/
    query.bgp_match): the SPARQL-core conjunctive fragment the reference
    ships to dbpedia.org per row (query_dbpedia.py:14-60) evaluated on the
    engine's OWN triples — here the classic triangle pattern
    { ?a p ?b . ?b p ?c . ?a p ?c } over the q55 candidate set.  Each
    pattern is a filtered projection of one scan (constant pred pushed
    down); the greedy planner joins them on shared variables only — the
    plan is three equi-joins, never a cartesian (tests/test_query.py)."""
    from predicate_finder_spark.operators.query import bgp_match

    tri = _q55_cands(spark, sf).select("subj", "pred", "obj")
    p = "coOccursWith"
    return bgp_match(tri, [("?a", p, "?b"), ("?b", p, "?c"), ("?a", p, "?c")])


def q94_reachability(spark, sf):
    """Bounded property-path query pred+ (operators/query.transitive_pairs):
    all entity pairs within 3 coOccursWith hops on the q55 candidate graph.
    Pointer doubling — reach(<=2h) = reach(<=h) composed with itself — so
    the hop bound costs O(log k) self equi-joins + distincts, never a
    per-hop BFS; the exact non-power-of-two bound comes from composing the
    binary digits of max_hops (module docstring)."""
    from predicate_finder_spark.operators.query import transitive_pairs

    tri = _q55_cands(spark, sf).select("subj", "pred", "obj")
    return transitive_pairs(tri, "coOccursWith", max_hops=3)


def _structured_pages(spark, sf):
    """Deterministic crawl pages carrying the two structured-data channels
    (operators/structured.py): a schema.org JSON-LD block and an infobox
    table with inner markup + messy whitespace."""
    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">{"@id":"doc:'),
        sid,
        F.lit('","@type":"Document","title":"Doc '), sid,
        F.lit('","source":"'), F.col("source"),
        F.lit('","lang":"'), F.col("lang"),
        F.lit('"}</script></head><body><aside><table>'
              "<tr><th>Source Name</th><td><b>"),
        F.col("source"),
        F.lit("</b></td></tr><tr><th>Word  Bucket</th><td> "),
        F.pmod("doc_id", F.lit(10)).cast("string"),
        F.lit(" </td></tr></table></aside></body></html>"),
    )
    return d.select(
        F.concat(F.lit("http://docs.example.org/"), sid).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def q89_jsonld_triples(spark, sf):
    """JSON-LD fact extraction (structured.jsonld_triples): regex block
    extraction + JVM map parse + map explode; @id lifts to subj, @-keys
    drop.  All patterns Java-regex ∩ RE2, values all strings — the DuckDB
    oracle replays the chain with its json functions byte-for-byte."""
    from predicate_finder_spark.operators.structured import jsonld_triples

    return jsonld_triples(_structured_pages(spark, sf))


def q90_infobox_facts(spark, sf):
    """Infobox key/value extraction (structured.infobox_facts): <tr> row
    explode, th/td split, markup strip, snake_case key normalization."""
    from predicate_finder_spark.operators.structured import infobox_facts

    return infobox_facts(_structured_pages(spark, sf))


def q40_kg_pipeline(spark, sf):
    """Flagship KG pipeline (pandas-UDF scorer — no SQL oracle; driver
    records a rows-only check).  Deterministic synthetic corpus."""
    from predicate_finder_spark.plans.pipeline import extract_triples
    from predicate_finder_spark.synth import synth_corpus

    t = synth_corpus(spark, 60)
    tri = extract_triples(
        spark, t["pages"], t["aliases"], t["kg_triples"], t["ontology"], t["embeddings"]
    )
    return tri.select("url", "subj", "pred", "obj")


def q95_scorer(spark, sf):
    """Flagship scorer under the VALUE-EXACT gate (VERDICT-r4 item 3 — the
    last unoracled flagship stage): max-over-ngrams cosine(gram-mean,
    pred-mean) x max-IDF, with the default-IDF 2.0 OOV fallback, the +1e-9
    cosine guard, and the 1.1x direction-agreement boost — the REAL
    operators (scoring.make_scorer_udf / score_candidates; reference
    semantics baseline/baseline.py:96-169, guard :149-152, default IDF
    :133-138) over q55-style candidates.

    Determinism contract: the KG picks one of THREE predicates per edge
    (md5-seeded), so pred_tokens / widf vary per row; the embedding
    dictionary is md5-derived per (word, dim) over the bounded vocabulary
    (top-20 corpus words + predicate camel words — dictionary-sized driver
    pulls, never corpus-sized); the IDF dictionary is the engine's
    build_idf restricted to the predicate camel words ('part' is a top
    corpus word, so partOf takes a REAL idf while coOccursWith falls back
    to 2.0).  DuckDB rebuilds every stage: candidates, embeddings, IDF,
    n-gram mean vectors with OOV-zero semantics, cosine, boost."""
    import hashlib

    import numpy as np

    from predicate_finder_spark.functions.text import camel_split
    from predicate_finder_spark.operators.linking import link_mentions, resolve_mentions
    from predicate_finder_spark.operators.mentions import generate_mentions
    from predicate_finder_spark.operators.predicates import (
        candidate_predicates,
        pair_mentions,
    )
    from predicate_finder_spark.operators.scoring import (
        build_idf,
        make_scorer_udf,
        score_candidates,
    )
    from predicate_finder_spark.synth import _u

    docs = _t(spark, sf, "documents")
    sent = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).alias("sent_id"),
        F.col("text").alias("sentence"),
        _tokens(F.col("text")).alias("tokens"),
    )
    freq = (
        sent.select(F.explode("tokens").alias("alias"))
        .groupBy("alias")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("alias").asc())
        .limit(20)
    )
    aliases = freq.select("alias", F.col("alias").alias("entity"), F.lit(0.9).alias("prior"))
    a, b = freq.select(F.col("alias").alias("wa")), freq.select(F.col("alias").alias("wb"))
    top_pairs = a.crossJoin(b).filter(F.col("wa") != F.col("wb"))  # 20x20 dim
    pick = _u("pp", F.col("wa"), F.col("wb"))
    pred_uri = (
        F.when(pick < 1.0 / 3.0, F.lit("http://example.org/ontology/coOccursWith"))
        .when(pick < 2.0 / 3.0, F.lit("http://example.org/ontology/locatedIn"))
        .otherwise(F.lit("http://example.org/ontology/partOf"))
    )
    kg = top_pairs.filter(_u("kg", F.col("wa"), F.col("wb")) < 0.4).select(
        F.col("wa").alias("s"), pred_uri.alias("p"), F.col("wb").alias("o")
    )
    mentions = generate_mentions(sent, max_n=1)
    resolved = resolve_mentions(link_mentions(mentions, aliases))
    pairs = pair_mentions(resolved, sent)
    cands = candidate_predicates(pairs, kg).withColumn(
        "pred_tokens", camel_split(F.col("pred"))
    )

    camel = ["co", "occurs", "with", "located", "in", "part", "of"]
    top_words = [r["alias"] for r in freq.collect()]  # bounded: 20 rows
    vocab = sorted({w.lower() for w in top_words} | set(camel))

    def _upy(key: str) -> float:
        return (int(hashlib.md5(key.encode()).hexdigest()[:12], 16) % 1000003) / 1000003.0

    emb = {
        w: np.array([_upy(f"emb|{w}|{d}") * 2.0 - 1.0 for d in range(4)])
        for w in vocab
    }
    idf_rows = build_idf(sent).filter(F.col("word").isin(camel)).collect()
    idf = {r["word"]: r["idf"] for r in idf_rows}
    scorer = make_scorer_udf(spark, emb, idf, max_ngram=2, default_idf=2.0)
    scored = score_candidates(cands, scorer)
    return scored.select(
        "url", "subj", "obj", "pred", "rule",
        F.array_join("rel_tokens", " ").alias("rel"),
        F.round("score", 6).alias("score"),
    ).distinct()


def q96_reach_star(spark, sf):
    """Unbounded reflexive-transitive closure pred* through the SPARQL
    front end (VERDICT-r4 item 6): fixpoint pointer doubling with digest
    convergence (operators/query.transitive_pairs(max_hops=None) via
    graph._state_digest) plus the zero-hop reflexive pairs over every
    graph node — vs a DuckDB recursive CTE (AS MATERIALIZED per the q72
    trap: the edge set is referenced by both the closure and the
    reflexive arm)."""
    from predicate_finder_spark.operators.query import sparql_select

    tri = _q55_cands(spark, sf).select("subj", "pred", "obj")
    return sparql_select(
        tri, "SELECT DISTINCT ?src ?dst WHERE { ?src coOccursWith* ?dst . }"
    )


def q97_sparql_union(spark, sf):
    """SPARQL UNION through the string front end (VERDICT-r4 item 6): each
    branch evaluates as required+branch patterns, bindings align on the
    variable union, branches union with set semantics — vs the two-branch
    SQL union.  The cartesian refusal fires per branch (tests/test_query),
    so this also certifies the planner guard end-to-end."""
    from predicate_finder_spark.operators.query import sparql_select

    tri = _q55_cands(spark, sf).select("subj", "pred", "obj")
    return sparql_select(
        tri,
        "SELECT DISTINCT ?s ?o ?r WHERE { ?s coOccursWith ?o . "
        "{ ?o coOccursWith ?r } UNION { ?r coOccursWith ?s } }",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver's correctness artifact records the FIRST
    # 50 entries.  Round-5 rotation (VERDICT-r4 item 1): the 41 oracled
    # queries that have NEVER appeared in any CORRECTNESS_r* window
    # (q51-q54, q56-q59, q62-q94 -- the whole round-4 surface: PageRank,
    # duplicate spans, web channels, BGP, curation components) now occupy
    # the window, plus the three NEW round-5 queries (q95 scorer oracle,
    # q96 pred* closure, q97 UNION) and the once-certified r4 rotations
    # (q55/q60/q61) with three high-value anchors (q32/q34/q12).  The
    # 4x-driver-certified basics (q01-q31 etc.) yield their slots -- still
    # registered, still run by the local gate (tests/test_queries.py)
    # against the same DuckDB oracles every session.
    return {
        # --- never driver-checked before round 5 ---
        "q51_wh_word": q51_wh_word,
        "q52_jaro_winkler": q52_jaro_winkler,
        "q53_quality": q53_quality,
        "q54_embed_neardup": q54_embed_neardup,
        "q56_approx_quantiles": q56_approx_quantiles,
        "q57_approx_distinct": q57_approx_distinct,
        "q58_graph_edges": q58_graph_edges,
        "q59_graph_vertices": q59_graph_vertices,
        "q62_pii_scrub": q62_pii_scrub,
        "q63_repetition": q63_repetition,
        "q64_decontam": q64_decontam,
        "q65_components": q65_components,
        "q66_pack_chunks": q66_pack_chunks,
        "q67_url_canonical": q67_url_canonical,
        "q68_domain_stats": q68_domain_stats,
        "q69_temperature_mix": q69_temperature_mix,
        "q70_bpe_pieces": q70_bpe_pieces,
        "q71_quality_fitted": q71_quality_fitted,
        "q72_pagerank": q72_pagerank,
        "q73_triple_diff": q73_triple_diff,
        "q74_kg_negatives": q74_kg_negatives,
        "q75_two_hop": q75_two_hop,
        "q76_pmi": q76_pmi,
        "q77_predicate_stats": q77_predicate_stats,
        "q78_alias_mining": q78_alias_mining,
        "q79_redirects": q79_redirects,
        "q80_heavy_hitters": q80_heavy_hitters,
        "q81_fold_diacritics": q81_fold_diacritics,
        "q82_quantize": q82_quantize,
        "q83_sliding_chunks": q83_sliding_chunks,
        "q84_dup_spans": q84_dup_spans,
        "q85_lm_ppl": q85_lm_ppl,
        "q86_cut_spans": q86_cut_spans,
        "q87_outlink_edges": q87_outlink_edges,
        "q88_host_graph": q88_host_graph,
        "q89_jsonld_triples": q89_jsonld_triples,
        "q90_infobox_facts": q90_infobox_facts,
        "q91_anchor_texts": q91_anchor_texts,
        "q92_latest_snapshot": q92_latest_snapshot,
        "q93_bgp_triangles": q93_bgp_triangles,
        "q94_reachability": q94_reachability,
        # --- new in round 5 ---
        "q95_scorer": q95_scorer,
        "q96_reach_star": q96_reach_star,
        "q97_sparql_union": q97_sparql_union,
        # --- once-certified (r4) + high-value anchors ---
        "q55_kg_candidates": q55_kg_candidates,
        "q60_ivf_topk": q60_ivf_topk,
        "q61_curation": q61_curation,
        "q32_ann_topk": q32_ann_topk,
        "q34_minhash_sig": q34_minhash_sig,
        "q12_idf": q12_idf,
        # --- past the driver's 50-entry cap (local gate only) ---
        "q01_filter_project": q01_filter_project,
        "q02_regex_filter": q02_regex_filter,
        "q03_regex_extract": q03_regex_extract,
        "q04_normalize": q04_normalize,
        "q05_distinct": q05_distinct,
        "q06_dim_join": q06_dim_join,
        "q07_two_direction_union": q07_two_direction_union,
        "q08_eval_join": q08_eval_join,
        "q09_semi_join": q09_semi_join,
        "q10_anti_join": q10_anti_join,
        "q11_salted_join": q11_salted_join,
        "q13_vocab": q13_vocab,
        "q14_global_agg": q14_global_agg,
        "q15_grouped_agg": q15_grouped_agg,
        "q16_argmax": q16_argmax,
        "q17_rollup": q17_rollup,
        "q18_cube": q18_cube,
        "q19_distinct_count": q19_distinct_count,
        "q20_top1_window": q20_top1_window,
        "q21_lag_delta": q21_lag_delta,
        "q22_running_sum": q22_running_sum,
        "q23_topk_per_group": q23_topk_per_group,
        "q24_global_topk": q24_global_topk,
        "q25_hash_split": q25_hash_split,
        "q26_union": q26_union,
        "q27_intersect": q27_intersect,
        "q28_except": q28_except,
        "q29_stopword_counts": q29_stopword_counts,
        "q30_scalar_funcs": q30_scalar_funcs,
        "q31_fingerprint": q31_fingerprint,
        "q33_dedup_exact": q33_dedup_exact,
        "q35_sessionize": q35_sessionize,
        "q36_tumbling_window": q36_tumbling_window,
        "q37_pivot": q37_pivot,
        "q38_langid_hits": q38_langid_hits,
        "q39_bpe_count": q39_bpe_count,
        "q40_kg_pipeline": q40_kg_pipeline,
        "q41_token_overlap": q41_token_overlap,
        "q42_jaccard_pairs": q42_jaccard_pairs,
        "q43_simhash": q43_simhash,
        "q44_syntax_path": q44_syntax_path,
        "q45_centroids": q45_centroids,
        "q46_asof_join": q46_asof_join,
        "q47_range_join": q47_range_join,
        "q48_quantiles": q48_quantiles,
        "q49_camel_split": q49_camel_split,
        "q50_ngrams": q50_ngrams,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------
_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"
_TOK = "list_filter(string_split(text, ' '), x -> x <> '')"


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["q01_filter_project"] = """
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY o_orderstatus
    """
    sqls["q02_regex_filter"] = """
        SELECT lang, count(*) AS n FROM documents
        WHERE NOT regexp_matches(text, 'spark|join') GROUP BY lang
    """
    sqls["q03_regex_extract"] = """
        SELECT doc_id, regexp_extract(text, '^([a-z]+)', 1) AS first_word
        FROM documents WHERE n_chars > 300
    """
    sqls["q04_normalize"] = """
        SELECT c_custkey, regexp_replace(lower(c_name), '[^a-z0-9 ]', '', 'g') AS norm_name
        FROM customer
    """
    sqls["q05_distinct"] = "SELECT DISTINCT c_mktsegment FROM customer"
    sqls["q06_dim_join"] = """
        SELECT r_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """
    sqls["q07_two_direction_union"] = """
        SELECT n_name, kind, count(*) AS n FROM (
          SELECT n_name, 'cust' AS kind FROM customer JOIN nation ON c_nationkey = n_nationkey
          UNION ALL
          SELECT n_name, 'supp' AS kind FROM supplier JOIN nation ON s_nationkey = n_nationkey
        ) GROUP BY n_name, kind
    """
    sqls["q08_eval_join"] = """
        SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment
    """
    sqls["q09_semi_join"] = """
        SELECT c_custkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """
    sqls["q10_anti_join"] = """
        SELECT c_custkey FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """
    sqls["q11_salted_join"] = """
        SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment
    """
    sqls["q12_idf"] = f"""
        WITH words AS (
          SELECT DISTINCT doc_id, unnest({_TOK}) AS word FROM documents
        ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT word, count(*) AS df,
               round(log2(n.n_docs / count(*)), 6) AS idf
        FROM words, n GROUP BY word, n.n_docs
    """
    sqls["q13_vocab"] = f"""
        WITH c AS (
          SELECT word, count(*) AS n FROM (
            SELECT unnest({_TOK}) AS word FROM documents
          ) GROUP BY word HAVING count(*) >= 2
        )
        SELECT word, n, row_number() OVER (ORDER BY n DESC, word ASC) AS word_id FROM c
    """
    sqls["q14_global_agg"] = """
        SELECT count(*) AS n, round(sum(value), 2) AS total, round(avg(value), 4) AS mean,
               round(min(value), 4) AS vmin, round(max(value), 4) AS vmax
        FROM events
    """
    sqls["q15_grouped_agg"] = """
        SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        FROM events GROUP BY event_type
    """
    sqls["q16_argmax"] = """
        SELECT user_id, event_id, event_type FROM (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
          FROM events
        ) WHERE rn = 1
    """
    sqls["q17_rollup"] = """
        SELECT r_name, n_name, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """
    sqls["q18_cube"] = """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """
    sqls["q19_distinct_count"] = """
        SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """
    sqls["q20_top1_window"] = """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price FROM (
          SELECT *, row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders
        ) WHERE rn = 1
    """
    sqls["q21_lag_delta"] = """
        SELECT user_id, event_id,
               round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 4) AS delta
        FROM events
    """
    sqls["q22_running_sum"] = """
        SELECT user_id, event_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
        FROM events
    """
    sqls["q23_topk_per_group"] = """
        SELECT p_brand, p_partkey, rn FROM (
          SELECT p_brand, p_partkey,
                 row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
          FROM part
        ) WHERE rn <= 3
    """
    sqls["q24_global_topk"] = """
        SELECT event_id, round(value, 4) AS value FROM events
        ORDER BY value DESC, event_id ASC LIMIT 100
    """
    sqls["q25_hash_split"] = """
        SELECT CASE WHEN o_orderkey % 10 < 8 THEN 'train' ELSE 'test' END AS split,
               count(*) AS n
        FROM orders GROUP BY 1
    """
    sqls["q26_union"] = """
        SELECT c_nationkey AS nationkey FROM customer
        UNION SELECT s_nationkey AS nationkey FROM supplier
    """
    sqls["q27_intersect"] = """
        SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey AS k FROM orders
    """
    sqls["q28_except"] = """
        SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders
    """
    sqls["q29_stopword_counts"] = f"""
        SELECT doc_id, len({_TOK}) AS n_tok,
               len(list_filter({_TOK}, x -> x IN {_STOP_SQL})) AS n_stop
        FROM documents
    """
    sqls["q30_scalar_funcs"] = """
        SELECT doc_id, levenshtein(lang, 'en') AS lev, round(log2(n_chars), 6) AS lg
        FROM documents
    """
    sqls["q31_fingerprint"] = """
        SELECT doc_id,
               list_reduce(
                 list_prepend(0::BIGINT,
                   list_transform(range(1, len(text) + 1), i -> ascii(text[i])::BIGINT)),
                 (a, b) -> (a * 31 + b) % 2147483647) AS fp
        FROM documents
    """
    sqls["q32_ann_topk"] = """
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3
        ), s AS (
          SELECT q.query_id, e.vec_id,
                 list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
          FROM embeddings e, q
        ), r AS (
          SELECT query_id, vec_id, c,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
          FROM s
        )
        SELECT query_id, vec_id, rank, round(c, 4) AS cosine FROM r WHERE rank <= 5
    """
    sqls["q33_dedup_exact"] = """
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY md5(text)
    """
    sqls["q34_minhash_sig"] = f"""
        WITH tok AS (
          SELECT doc_id, {_TOK} AS ts FROM documents WHERE doc_id < 100
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(ts) >= 3
                      THEN list_distinct(list_transform(range(0, len(ts) - 2),
                           i -> ts[i + 1] || ' ' || ts[i + 2] || ' ' || ts[i + 3]))
                      ELSE [array_to_string(ts, ' ')] END AS shingles
          FROM tok
        ), e AS (
          SELECT doc_id, unnest(shingles) AS s FROM sh
        )
        SELECT doc_id, seed::INT AS seed, min(md5(s || '#' || seed)) AS sig
        FROM e, (SELECT unnest(range(0, 8)) AS seed)
        GROUP BY doc_id, seed
    """
    sqls["q35_sessionize"] = """
        WITH g AS (
          SELECT user_id, event_id,
                 epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap
          FROM events
        )
        SELECT user_id,
               (sum(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) + 1)::BIGINT AS n_sessions,
               count(*) AS n_events
        FROM g GROUP BY user_id
    """
    sqls["q36_tumbling_window"] = """
        SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS hour_start, event_type,
               count(*) AS n, round(sum(value), 2) AS total
        FROM events GROUP BY 1, 2
    """
    sqls["q37_pivot"] = """
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
               sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup
        FROM events GROUP BY user_id
    """
    _langs = {lang: "('" + "','".join(LANG_PROFILES[lang]) + "')" for lang in ("en", "de", "fr")}
    sqls["q38_langid_hits"] = f"""
        SELECT doc_id,
               len(list_filter({_TOK}, x -> x IN {_langs['en']})) AS en_hits,
               len(list_filter({_TOK}, x -> x IN {_langs['de']})) AS de_hits,
               len(list_filter({_TOK}, x -> x IN {_langs['fr']})) AS fr_hits
        FROM documents
    """
    sqls["q39_bpe_count"] = f"""
        SELECT doc_id,
               list_sum(list_transform({_TOK},
                 x -> greatest(1, cast(ceil(len(x) / 4.0) AS BIGINT))))::BIGINT AS n_bpe
        FROM documents
    """
    sqls["q41_token_overlap"] = f"""
        SELECT doc_id,
               round(len(list_intersect(list_distinct({_TOK}), {list(STOPWORDS)}))
                     / len(list_distinct({_TOK})), 6) AS overlap
        FROM documents
    """
    sqls["q42_jaccard_pairs"] = f"""
        WITH tok AS (
          SELECT doc_id, {_TOK} AS ts FROM documents WHERE doc_id < 200
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(ts) >= 3
                      THEN list_distinct(list_transform(range(0, len(ts) - 2),
                           i -> ts[i + 1] || ' ' || ts[i + 2] || ' ' || ts[i + 3]))
                      ELSE [array_to_string(ts, ' ')] END AS shingles
          FROM tok
        ), e AS (
          SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
        ), sizes AS (
          SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(n_inter / (na.n + nb.n - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE n_inter / (na.n + nb.n - n_inter) >= 1e-9
    """
    # dim bound derived from the data (not a hardcoded 64): per-row
    # unnest(range(..len(embedding))) mirrors Spark's posexplode exactly
    sqls["q45_centroids"] = """
        SELECT label, dim, round(avg(val::DOUBLE), 6) AS centroid
        FROM (
          SELECT label,
                 unnest(range(0, len(embedding))) AS dim,
                 unnest(embedding) AS val
          FROM embeddings
        )
        GROUP BY label, dim
    """
    sqls["q46_asof_join"] = """
        SELECT e.event_id, e.user_id, o.o_orderkey
        FROM events e
        LEFT JOIN LATERAL (
          SELECT o_orderkey FROM orders
          WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
          ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
        ) o ON true
    """
    sqls["q47_range_join"] = """
        SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
                     ('high', 150000.0, 1e9)) AS b(band, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """
    sqls["q48_quantiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.25), 4) AS p25,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.75), 4) AS p75
        FROM events GROUP BY event_type
    """
    # q43: exact mirror of functions/hashing.py simhash64 — per-token 60-bit
    # hash from the first 15 hex chars of md5 (hex-fold via strpos), bit b
    # extracted with BIGINT `//`+`%` (exact), sign-summed, recomposed with <<
    sqls["q43_simhash"] = f"""
        WITH tok AS (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), h AS (
          SELECT doc_id,
                 list_transform(ts, t -> list_reduce(
                   list_prepend(0::BIGINT,
                     list_transform(range(1, 16),
                       i -> (strpos('0123456789abcdef', md5(t)[i]) - 1)::BIGINT)),
                   (a, b) -> a * 16 + b)) AS hs
          FROM tok
        )
        SELECT doc_id,
               coalesce(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN coalesce(list_sum(list_transform(hs,
                        h -> CASE WHEN (h // (1::BIGINT << b)) % 2 = 1
                             THEN 1 ELSE -1 END)), 0) > 0
                      THEN (1::BIGINT << b) ELSE 0 END)), 0)::BIGINT AS sig
        FROM h
    """
    sqls["q49_camel_split"] = r"""
        WITH c AS (
          SELECT p_partkey,
                 list_aggregate(
                   list_transform(string_split(p_name, ' '),
                                  x -> upper(x[1]) || x[2:]),
                   'string_agg', '') AS camel
          FROM part
        ), s AS (
          SELECT p_partkey,
                 list_filter(
                   string_split_regex(
                     lower(trim(regexp_replace(camel, '([A-Z])', ' \1', 'g'))),
                     '[\s_]+'),
                   x -> x <> '') AS w
          FROM c
        )
        SELECT p_partkey,
               unnest(range(0, len(w)))::INT AS pos,
               unnest(w) AS word
        FROM s
    """
    sqls["q50_ngrams"] = f"""
        WITH tok AS (
          SELECT doc_id, {_TOK} AS ts FROM documents
        )
        SELECT doc_id,
               unnest(range(0, greatest(len(ts) - 1, 0)))::INT AS pos,
               unnest(CASE WHEN len(ts) >= 2
                      THEN list_transform(range(0, len(ts) - 1),
                           i -> ts[i + 1] || ' ' || ts[i + 2])
                      ELSE []::VARCHAR[] END) AS gram
        FROM tok
    """
    _WH_SQL = "('what','which','who','whom','whose','where','when','how')"
    sqls["q51_wh_word"] = f"""
        WITH lt AS (
          SELECT doc_id, list_transform({_TOK}, x -> lower(x)) AS toks
          FROM documents
        )
        SELECT doc_id,
               coalesce(list_filter(toks, x -> x IN {_WH_SQL})[-1], toks[1]) AS wh
        FROM lt
    """
    sqls["q52_jaro_winkler"] = """
        SELECT c_custkey,
               round(jaro_winkler_similarity(c_name, 'Customer#000000042'), 6) AS jw,
               round(jaro_winkler_similarity(lower(c_name), c_mktsegment), 6) AS jw_seg
        FROM customer
    """
    from predicate_finder_spark.functions.analysis import ENGLISH_STOPWORDS

    _estop = "('" + "','".join(ENGLISH_STOPWORDS) + "')"
    sqls["q53_quality"] = f"""
        WITH t AS (
          SELECT doc_id, list_transform({_TOK}, x -> lower(x)) AS toks
          FROM documents
        ), s AS (
          SELECT doc_id,
                 len(toks) AS n,
                 len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS alpha,
                 len(list_filter(toks, x -> x IN {_estop})) AS stop,
                 CASE WHEN len(toks) > 0
                      THEN list_sum(list_transform(toks, x -> len(x))) / len(toks)::DOUBLE
                      ELSE 0.0 END AS mean_len
          FROM t
        )
        SELECT doc_id,
               round((least(n / 100.0, 1.0)
                      + CASE WHEN n > 0 THEN alpha / n::DOUBLE ELSE 0.0 END
                      + least((CASE WHEN n > 0 THEN stop / n::DOUBLE ELSE 0.0 END) * 4.0, 1.0)
                      + CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END
                     ) / 4.0, 6) AS quality
        FROM s
    """
    # q54: md5-derived hyperplanes are reproduced exactly (hex-fold of the
    # first 8 md5 chars / 2^32 - 0.5); per-table block key = sign pattern of
    # the 6 plane dots, candidates = union over the 3 tables DEDUPED, then
    # the cosine verify mirrors the engine's +1e-9-guarded formula so the
    # filter boundary and rounded values are identical
    _hex8 = (
        "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 9), "
        "i -> (strpos('0123456789abcdef', md5({s})[i]) - 1)::BIGINT)), "
        "(x, y) -> x * 16 + y)"
    )
    _plane = _hex8.format(s="'t' || t || 'plane' || p || 'dim' || (d - 1)")
    sqls["q54_embed_neardup"] = f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 500
        ), keys AS (
          SELECT vec_id, t,
                 list_aggregate(list_transform(range(0, 6), p ->
                   CASE WHEN coalesce(list_sum(list_transform(range(1, len(v) + 1), d ->
                          v[d] * ({_plane} / 4294967296.0 - 0.5))), 0.0) >= 0
                        THEN '1' ELSE '0' END), 'string_agg', '') AS bk
          FROM e, (SELECT unnest(range(0, 3)) AS t) tables
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM keys a JOIN keys b
            ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id
        ), pairs AS (
          SELECT id_a, id_b,
                 list_sum(list_transform(range(1, len(ea.v) + 1), d -> ea.v[d] * eb.v[d]))
                 / (sqrt(list_sum(list_transform(ea.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(eb.v, x -> x * x))) + 1e-9) AS cos
          FROM cand
          JOIN e ea ON ea.vec_id = cand.id_a
          JOIN e eb ON eb.vec_id = cand.id_b
        )
        SELECT id_a, id_b, round(cos, 6) AS cosine
        FROM pairs WHERE cos >= 0.3
    """
    # q44: the heuristic parse + LCA walk is a pure deterministic function
    # of the tokens; expected (md5(text) -> path) pairs for the driver
    # testdata are precomputed (resources/q44_expected.json, generated from
    # the pure-python kernel in operators/syntax.py) and joined in DuckDB.
    import json as _json

    _q44_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "predicate_finder_spark", "resources", "q44_expected.json",
    )
    with open(_q44_path) as _f:
        _q44 = _json.load(_f)
    _vals = ",\n          ".join(
        "('{}', '{}')".format(h, p.replace("'", "''")) for h, p in sorted(_q44.items())
    )
    sqls["q44_syntax_path"] = f"""
        WITH expected(h, path) AS (VALUES
          {_vals}
        )
        SELECT d.doc_id, e.path
        FROM documents d JOIN expected e ON md5(d.text) = e.h
        WHERE d.doc_id < 200
    """
    # q55: the flagship front half (mentions -> alias join -> disambiguate/
    # containment -> consecutive pairing -> both-direction KG join +
    # blacklist) rebuilt in SQL.  The md5-seeded KG selection mirrors
    # synth._u: fold 12 md5 hex chars to a bigint, % 1000003 / 1000003.
    # The oracle generates only coOccursWith triples; the Spark side ALSO
    # feeds blacklisted wikiPageLink noise into candidate_predicates, so a
    # broken F2 filter would surface as extra rows here.
    _hex12 = (
        "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 13), "
        "i -> (strpos('0123456789abcdef', md5({s})[i]) - 1)::BIGINT)), "
        "(x, y) -> x * 16 + y)"
    )
    _ukg = _hex12.format(s="'kg|' || a.word || '|' || b.word")
    _q55_sql = f"""
        WITH toks AS (
          SELECT doc_id::VARCHAR AS url,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents
        ), words AS (
          SELECT url, unnest(range(len(toks))) AS start, unnest(toks) AS w
          FROM toks
        ), freq AS (
          SELECT w AS word, count(*) AS c FROM words GROUP BY w
          ORDER BY c DESC, word ASC LIMIT 20
        ), linked AS (
          SELECT words.url, words.start, words.w AS entity
          FROM words JOIN freq ON words.w = freq.word
        ), seq AS (
          SELECT url, start, entity,
                 lead(entity) OVER (PARTITION BY url ORDER BY start ASC) AS entity2,
                 lead(start) OVER (PARTITION BY url ORDER BY start ASC) AS start2
          FROM linked
        ), pairs AS (
          SELECT s.url, s.entity, s.entity2,
                 coalesce(array_to_string(t.toks[s.start + 2 : s.start2], ' '), '') AS rel
          FROM seq s JOIN toks t ON s.url = t.url
          WHERE s.entity2 IS NOT NULL AND s.start2 >= s.start + 1
        ), kg AS (
          SELECT a.word AS s, b.word AS o
          FROM freq a, freq b
          WHERE a.word <> b.word AND ({_ukg} % 1000003) / 1000003.0 < 0.4
        ), oriented AS (
          SELECT url, rel, entity AS s, entity2 AS o, 'forward' AS rule FROM pairs
          UNION ALL
          SELECT url, rel, entity2 AS s, entity AS o, 'reverse' AS rule FROM pairs
        )
        SELECT oriented.url, 0 AS sent_id, oriented.s AS subj, oriented.o AS obj,
               'coOccursWith' AS pred, oriented.rule, oriented.rel,
               round(0.81::DOUBLE, 4) AS pair_prior
        FROM oriented JOIN kg ON oriented.s = kg.s AND oriented.o = kg.o
    """
    sqls["q55_kg_candidates"] = _q55_sql
    # q58/q59: materialize_graph over the same deterministic candidate set
    # (the q55 SQL as a subquery) — edges = support-count groupBy, vertices
    # = union-distinct of both endpoint columns
    sqls["q58_graph_edges"] = f"""
        SELECT subj AS src, obj AS dst, pred, count(*)::DOUBLE AS weight
        FROM ({_q55_sql}) c
        GROUP BY subj, obj, pred
    """
    sqls["q59_graph_vertices"] = f"""
        WITH c AS ({_q55_sql}),
        ids AS (SELECT subj AS id FROM c UNION SELECT obj AS id FROM c)
        SELECT id, replace(id, '_', ' ') AS label, 'entity' AS type FROM ids
    """
    sqls["q60_ivf_topk"] = """
        WITH seeds AS (
          SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell_id,
                 embedding::DOUBLE[] AS centroid
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 8)
        ), cent AS (
          SELECT list(centroid ORDER BY cell_id ASC) AS cl FROM seeds
        ), sims AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                 list_transform((SELECT cl FROM cent),
                                c -> list_cosine_similarity(e.embedding::DOUBLE[], c)) AS s
          FROM embeddings e
        ), assigned AS (
          SELECT vec_id, v, list_position(s, list_aggregate(s, 'max')) - 1 AS cell_id FROM sims
        ), q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3
        ), qcell AS (
          SELECT q.query_id, q.qv, s.cell_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, s.centroid) DESC, s.cell_id ASC) AS rc
          FROM q, seeds s
        ), probe AS (
          SELECT query_id, qv, cell_id FROM qcell WHERE rc <= 2
        ), scored AS (
          SELECT p.query_id, a.vec_id, list_cosine_similarity(a.v, p.qv) AS c
          FROM assigned a JOIN probe p USING (cell_id)
        ), r AS (
          SELECT query_id, vec_id, c,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, rank, round(c, 4) AS cosine FROM r WHERE rank <= 5
    """
    _langs5 = {lang: "('" + "','".join(LANG_PROFILES[lang]) + "')"
               for lang in LANG_PROFILES}
    sqls["q61_curation"] = f"""
        WITH t AS (
          SELECT doc_id, text, list_transform({_TOK}, x -> lower(x)) AS toks
          FROM documents
        ), s AS (
          SELECT doc_id, text, toks,
                 len(toks) AS n,
                 len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS alpha,
                 len(list_filter(toks, x -> x IN {_estop})) AS stop,
                 CASE WHEN len(toks) > 0
                      THEN list_sum(list_transform(toks, x -> len(x))) / len(toks)::DOUBLE
                      ELSE 0.0 END AS mean_len,
                 len(list_filter(toks, x -> x IN {_langs5['en']})) AS h_en,
                 len(list_filter(toks, x -> x IN {_langs5['de']})) AS h_de,
                 len(list_filter(toks, x -> x IN {_langs5['fr']})) AS h_fr,
                 len(list_filter(toks, x -> x IN {_langs5['es']})) AS h_es,
                 len(list_filter(toks, x -> x IN {_langs5['zh']})) AS h_zh
          FROM t
        ), q AS (
          SELECT doc_id, text,
                 round((least(n / 100.0, 1.0)
                        + CASE WHEN n > 0 THEN alpha / n::DOUBLE ELSE 0.0 END
                        + least((CASE WHEN n > 0 THEN stop / n::DOUBLE ELSE 0.0 END) * 4.0, 1.0)
                        + CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END
                       ) / 4.0, 6) AS quality,
                 CASE WHEN greatest(h_en, h_de, h_fr, h_es, h_zh) = 0 THEN 'und'
                      WHEN h_en = greatest(h_en, h_de, h_fr, h_es, h_zh) THEN 'en'
                      WHEN h_de = greatest(h_en, h_de, h_fr, h_es, h_zh) THEN 'de'
                      WHEN h_fr = greatest(h_en, h_de, h_fr, h_es, h_zh) THEN 'fr'
                      WHEN h_es = greatest(h_en, h_de, h_fr, h_es, h_zh) THEN 'es'
                      ELSE 'zh' END AS lang_pred
          FROM s
        ), gate AS (
          SELECT doc_id, text, quality, lang_pred FROM q
          WHERE quality >= 0.5 AND lang_pred = 'en'
        ), ex AS (
          SELECT doc_id, text, quality, lang_pred,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
          FROM gate
        ), kept AS (
          SELECT doc_id, text, quality, lang_pred FROM ex WHERE rn = 1
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len({_TOK}) >= 3
                      THEN list_distinct(list_transform(range(0, len({_TOK}) - 2),
                           i -> {_TOK}[i + 1] || ' ' || {_TOK}[i + 2] || ' ' || {_TOK}[i + 3]))
                      ELSE [array_to_string({_TOK}, ' ')] END AS shingles
          FROM kept JOIN (SELECT doc_id, text AS dtext FROM documents) d USING (doc_id)
        ), e AS (
          SELECT DISTINCT doc_id, unnest(shingles) AS sg FROM sh
        ), sig AS (
          SELECT doc_id, seed::INT AS seed, min(md5(sg || '#' || seed)) AS h
          FROM e, range(0, 16) r(seed)
          GROUP BY doc_id, seed
        ), band AS (
          SELECT doc_id, seed // 4 AS b, string_agg(h, '|' ORDER BY seed) AS bkey
          FROM sig GROUP BY doc_id, seed // 4
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
          FROM band a JOIN band c ON a.b = c.b AND a.bkey = c.bkey
                                 AND a.doc_id < c.doc_id
        ), sizes AS (
          SELECT doc_id, count(*) AS nsh FROM e GROUP BY doc_id
        ), ver AS (
          SELECT id_a, id_b
          FROM (
            SELECT cand.id_a, cand.id_b, count(*) AS n_inter
            FROM cand
            JOIN e ea ON ea.doc_id = cand.id_a
            JOIN e eb ON eb.doc_id = cand.id_b AND eb.sg = ea.sg
            GROUP BY cand.id_a, cand.id_b
          ) i
          JOIN sizes na ON na.doc_id = id_a
          JOIN sizes nb ON nb.doc_id = id_b
          WHERE n_inter / (na.nsh + nb.nsh - n_inter) >= 0.8
        )
        SELECT doc_id, quality, lang_pred FROM kept
        WHERE doc_id NOT IN (SELECT id_b FROM ver)
    """
    sqls["q62_pii_scrub"] = r"""
        WITH inj AS (
          SELECT doc_id,
                 substr(text, 1, 40) || ' contact user' || doc_id
                 || '@example.com or +1-555-'
                 || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 || ' at 10.2.' || (doc_id % 256)::VARCHAR || '.7 ok' AS t
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                   '\+\d{1,3}[- ]\d{3,4}[- ]\d{3,4}\b', '<PHONE>', 'g') AS scrubbed,
               len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               + len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
               + len(regexp_extract_all(t, '\+\d{1,3}[- ]\d{3,4}[- ]\d{3,4}\b')) AS pii_hits
        FROM inj
    """
    sqls["q63_repetition"] = f"""
        WITH tok AS (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), g AS (
          SELECT doc_id,
                 CASE WHEN len(ts) >= 2
                      THEN list_transform(range(0, len(ts) - 1),
                           i -> ts[i + 1] || ' ' || ts[i + 2])
                      ELSE []::VARCHAR[] END AS gs
          FROM tok
        )
        SELECT doc_id,
               CASE WHEN len(gs) > 0
                    THEN round(1.0 - len(list_distinct(gs)) / len(gs)::DOUBLE, 4)
                    ELSE 0.0 END AS rep_ratio
        FROM g
    """
    sqls["q64_decontam"] = f"""
        WITH tok AS (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(ts) >= 5
                      THEN list_distinct(list_transform(range(0, len(ts) - 4),
                           i -> ts[i + 1] || ' ' || ts[i + 2] || ' ' || ts[i + 3]
                                || ' ' || ts[i + 4] || ' ' || ts[i + 5]))
                      ELSE [array_to_string(ts, ' ')] END AS grams
          FROM tok
        ), e AS (
          SELECT DISTINCT doc_id, md5(unnest(grams)) AS h FROM sh
        ), bg AS (
          SELECT DISTINCT h FROM e WHERE doc_id % 13 = 0
        )
        SELECT e.doc_id, count(*) AS n_hits
        FROM e JOIN bg USING (h)
        GROUP BY e.doc_id
    """
    # q65: the same pair generation as q42 (threshold 0.5), then transitive
    # closure via recursive CTE — min reachable id == the engine's component
    sqls["q65_components"] = f"""
        WITH RECURSIVE tok AS (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(ts) >= 3
                      THEN list_distinct(list_transform(range(0, len(ts) - 2),
                           i -> ts[i + 1] || ' ' || ts[i + 2] || ' ' || ts[i + 3]))
                      ELSE [array_to_string(ts, ' ')] END AS shingles
          FROM tok
        ), e AS (
          SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
        ), sizes AS (
          SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT id_a, id_b
          FROM inter
          JOIN sizes na ON na.doc_id = id_a
          JOIN sizes nb ON nb.doc_id = id_b
          WHERE n_inter / (na.n + nb.n - n_inter) >= 0.5
        ), edges AS (
          SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(s, d) AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
        )
        SELECT s AS doc_id, least(s, min(d)) AS component
        FROM reach GROUP BY s
    """
    # q66: engine-portable md5 bucket (hex-fold of the first 8 md5 chars of
    # the id string, mod n) then per-bucket running-sum window — exact
    # integer arithmetic end to end
    sqls["q66_pack_chunks"] = f"""
        WITH base AS (
          SELECT doc_id,
                 list_reduce(list_prepend(0::BIGINT,
                   list_transform(range(1, 9),
                     i -> (strpos('0123456789abcdef', md5(doc_id::VARCHAR)[i]) - 1)::BIGINT)),
                   (a, b) -> a * 16 + b) % 4 AS bucket,
                 len({_TOK})::BIGINT AS n_tokens
          FROM documents
        ), packed AS (
          SELECT doc_id, bucket, n_tokens,
                 (sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS tok_offset
          FROM base
        )
        SELECT doc_id, bucket, n_tokens, tok_offset,
               tok_offset // 64 AS chunk_id,
               ((tok_offset + greatest(n_tokens, 1) - 1) // 64
                - tok_offset // 64 + 1)::BIGINT AS chunks_spanned
        FROM packed
    """
    # q67: the same messy URL is rebuilt in SQL and pushed through the
    # identical regex chain (Java-regex ∩ RE2 patterns; DuckDB needs the
    # explicit 'g' flag where Spark replaces all matches)
    _TRK = r"(utm_[a-z]+|gclid|fbclid|msclkid|ref)=[^&#]*"
    sqls["q67_url_canonical"] = f"""
        WITH m AS (
          SELECT doc_id,
                 'HTTP://User@WWW.' || upper(source) || '.COM:80/D' || doc_id ||
                 '/Page?utm_source=s' || doc_id || '&q=' || (doc_id % 7) ||
                 '&gclid=g' || doc_id || '#frag' AS url
          FROM documents
        ), s AS (
          SELECT doc_id, url,
                 regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
                 regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
                 regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
          FROM m
        ), h AS (
          SELECT *, lower(regexp_replace(hostport, '^[^@]*@', '')) AS host0 FROM s
        ), h2 AS (
          SELECT *,
            CASE WHEN lower(scheme) = 'http'  AND host0 LIKE '%:80'
                   THEN regexp_replace(host0, ':80$', '')
                 WHEN lower(scheme) = 'https' AND host0 LIKE '%:443'
                   THEN regexp_replace(host0, ':443$', '')
                 ELSE host0 END AS host
          FROM h
        ), c AS (
          SELECT *,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              rest, '#.*$', ''), '&{_TRK}', '', 'g'),
              '\\?{_TRK}&', '?'), '\\?{_TRK}$', '') AS rest_c
          FROM h2
        )
        SELECT doc_id,
               CASE WHEN scheme <> '' THEN lower(scheme) || '://' || host || rest_c
                    ELSE '' END AS canon_url,
               CASE WHEN scheme <> '' THEN host ELSE '' END AS host
        FROM c
    """
    # q68: quality mean via exact integer micro-unit sum (order-independent)
    # then one double division — reuses the q53 quality expression
    sqls["q68_domain_stats"] = f"""
        WITH t AS (
          SELECT lower(source || '.example.com') AS host, lang,
                 list_transform({_TOK}, x -> lower(x)) AS toks
          FROM documents
        ), s AS (
          SELECT host, lang,
                 len(toks) AS n,
                 len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS alpha,
                 len(list_filter(toks, x -> x IN {_estop})) AS stop,
                 CASE WHEN len(toks) > 0
                      THEN list_sum(list_transform(toks, x -> len(x))) / len(toks)::DOUBLE
                      ELSE 0.0 END AS mean_len
          FROM t
        ), q AS (
          SELECT host, lang,
                 CAST(round(((least(n / 100.0, 1.0)
                      + CASE WHEN n > 0 THEN alpha / n::DOUBLE ELSE 0.0 END
                      + least((CASE WHEN n > 0 THEN stop / n::DOUBLE ELSE 0.0 END) * 4.0, 1.0)
                      + CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END
                     ) / 4.0) * 1000000.0) AS BIGINT) AS qmicro
          FROM s
        )
        SELECT host, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
               round(sum(qmicro)::DOUBLE / count(*)::DOUBLE / 1000000.0, 6) AS avg_quality
        FROM q GROUP BY host
    """
    # q69: integer weights floor(sqrt(n)*1e6), order-independent BIGINT
    # normalizing sum, pinned chain of correctly-rounded IEEE ops for the
    # per-group threshold, md5 hex-fold keep-filter — all bit-identical
    sqls["q69_temperature_mix"] = """
        WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        w AS (
          SELECT lang, n,
                 CAST(floor(sqrt(n::DOUBLE) * 1000000.0) AS BIGINT) AS weight
          FROM cnt
        ),
        tot AS (SELECT sum(weight) AS tw FROM w),
        tgt AS (SELECT (count(*) * 2) // 5 AS t FROM documents),
        thr AS (
          SELECT lang,
                 least(4294967296,
                   CAST(floor((t::DOUBLE * 4294967296.0) * weight::DOUBLE
                              / tw::DOUBLE / n::DOUBLE) AS BIGINT)) AS thr32
          FROM w, tot, tgt
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN thr USING (lang)
        WHERE list_reduce(list_prepend(0::BIGINT,
                list_transform(range(1, 9),
                  i -> (strpos('0123456789abcdef', md5(d.doc_id::VARCHAR)[i]) - 1)::BIGINT)),
                (a, b) -> a * 16 + b) < thr32
    """
    # q70: q44-style expected-value oracle (BPE application is iterative —
    # not SQL-expressible — but a pure function of the text given the
    # pinned merge table, so the python reference path's outputs join back
    # by md5(text))
    _q70_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "predicate_finder_spark", "resources", "q70_expected.json",
    )
    with open(_q70_path) as _f:
        _q70 = _json.load(_f)
    _q70_vals = ",\n          ".join(
        "('{}', {}, '{}')".format(h, v.split("|")[0], v.split("|")[1])
        for h, v in sorted(_q70.items())
    )
    sqls["q70_bpe_pieces"] = f"""
        WITH expected(h, n_pieces, pieces_hash) AS (VALUES
          {_q70_vals}
        )
        SELECT d.doc_id, e.n_pieces, e.pieces_hash
        FROM documents d JOIN expected e ON md5(d.text) = e.h
        WHERE d.doc_id < 200
    """
    # q71: every feature of the fitted quality classifier recomputed in
    # DuckDB (same lowered-token base as q53; rep_ratio's 2-grams use the
    # RAW-case tokens, mirroring functions/analysis.repetition_ratio) and
    # the pinned weights inlined as full-precision literals — repr() is
    # shortest-round-trip, so both engines parse the identical double
    from predicate_finder_spark.operators.quality import PINNED_QUALITY_WEIGHTS

    (_qw0, _qw1, _qw2, _qw3, _qw4, _qw5), _qb = PINNED_QUALITY_WEIGHTS
    sqls["q71_quality_fitted"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOK} AS ts,
                 list_transform({_TOK}, x -> lower(x)) AS toks
          FROM documents
        ), f AS (
          SELECT doc_id,
                 len(toks) AS n,
                 CASE WHEN len(toks) > 0 THEN len(toks) ELSE 1 END::DOUBLE AS safe,
                 len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))::DOUBLE AS alpha,
                 len(list_filter(toks, x -> x IN {_estop}))::DOUBLE AS stop,
                 len(list_filter(toks, x -> regexp_matches(x, '[0-9]')))::DOUBLE AS digit,
                 CASE WHEN len(toks) > 0
                      THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)::DOUBLE
                      ELSE 0.0 END AS mean_len,
                 CASE WHEN len(ts) >= 2
                      THEN 1.0 - len(list_distinct(list_transform(
                             range(0, len(ts) - 1), i -> ts[i + 1] || ' ' || ts[i + 2]
                           )))::DOUBLE / (len(ts) - 1)::DOUBLE
                      ELSE 0.0 END AS rep
          FROM t
        ), z AS (
          SELECT doc_id,
                 {_qb!r} + {_qw0!r} * ln(1.0 + n)
                         + {_qw1!r} * (alpha / safe)
                         + {_qw2!r} * (stop / safe)
                         + {_qw3!r} * mean_len
                         + {_qw4!r} * rep
                         + {_qw5!r} * (digit / safe)
                   AS zval
          FROM f
        )
        SELECT doc_id, round(zval, 6) AS logit,
               CAST(zval >= 0 AS INT) AS keep
        FROM z
    """
    # q72: the 5 PageRank iterations unrolled as chained CTEs — every
    # reduction is integer arithmetic (micro-unit ranks, floor division),
    # so the iterative computation matches the engine bit-for-bit; sums
    # come back HUGEINT in DuckDB, hence the final BIGINT cast
    _PR_SCALE = 10**12
    _pr = f"""
        WITH cand AS MATERIALIZED ({_q55_sql}),
        e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM cand),
        nodes AS MATERIALIZED (
          SELECT src AS node FROM e UNION SELECT dst AS node FROM e
        ),
        deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
        p AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, {_PR_SCALE} // (SELECT n FROM p) AS r FROM nodes)"""
    # every iteration CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and r{i-1} has two consumers (contrib + dangling), which
    # would re-evaluate the whole upstream chain exponentially
    for _i in range(1, 6):
        _pr += f""",
        c{_i} AS MATERIALIZED (
          SELECT e.dst AS node, sum(r.r // d.deg) AS contrib
          FROM e JOIN r{_i - 1} r ON e.src = r.node
                 JOIN deg d ON e.src = d.src
          GROUP BY e.dst
        ),
        g{_i} AS MATERIALIZED (
          SELECT coalesce(sum(r.r), 0) // (SELECT n FROM p) AS share
          FROM r{_i - 1} r LEFT JOIN deg d ON r.node = d.src
          WHERE d.src IS NULL
        ),
        r{_i} AS MATERIALIZED (
          SELECT n.node,
                 (15 * {_PR_SCALE}) // (100 * (SELECT n FROM p))
                 + (85 * (coalesce(c.contrib, 0) + (SELECT share FROM g{_i}))) // 100
                   AS r
          FROM nodes n LEFT JOIN c{_i} c ON n.node = c.node
        )"""
    _pr += f"""
        SELECT node, CAST(r AS BIGINT) AS rank_units,
               CAST(r AS DOUBLE) / {_PR_SCALE}.0 AS rank
        FROM r5
    """
    sqls["q72_pagerank"] = _pr
    sqls["q73_triple_diff"] = """
        WITH o AS (
          SELECT DISTINCT source AS subj, 'hasLang' AS pred, lang AS obj
          FROM documents WHERE doc_id < 300
        ), n AS (
          SELECT DISTINCT source AS subj, 'hasLang' AS pred, lang AS obj
          FROM documents WHERE doc_id >= 150
        )
        SELECT subj, pred, obj, 'added' AS change FROM n
        WHERE NOT EXISTS (
          SELECT 1 FROM o WHERE o.subj = n.subj AND o.pred = n.pred AND o.obj = n.obj
        )
        UNION ALL
        SELECT subj, pred, obj, 'removed' AS change FROM o
        WHERE NOT EXISTS (
          SELECT 1 FROM n WHERE n.subj = o.subj AND n.pred = o.pred AND n.obj = o.obj
        )
    """
    # q74: the negative-sampling draw replayed exactly — row_number entity
    # index (binary string order in both engines), md5-first-8-hex-chars
    # fold mod E (functions/hashing.md5_bucket arithmetic), slot-parity
    # corruption, NOT EXISTS false-negative guard
    _neg_key = "d.subj || '|' || d.pred || '|' || d.obj || '|' || s.slot::VARCHAR || '|kgneg'"
    _neg_hash = _hex8.format(s=_neg_key)
    sqls["q74_kg_negatives"] = f"""
        WITH cand AS MATERIALIZED ({_q55_sql}),
        base AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM cand),
        ents AS (SELECT subj AS e FROM base UNION SELECT obj AS e FROM base),
        idx AS (SELECT e, row_number() OVER (ORDER BY e) - 1 AS i FROM ents),
        n AS (SELECT count(*) AS c FROM ents),
        drawn AS (
          SELECT d.subj, d.pred, d.obj, s.slot::INT AS slot,
                 {_neg_hash} % (SELECT c FROM n) AS i
          FROM base d, (SELECT unnest(range(0, 2)) AS slot) s
        ),
        corr AS (
          SELECT CASE WHEN d.slot % 2 = 0 THEN i2.e ELSE d.subj END AS subj,
                 d.pred,
                 CASE WHEN d.slot % 2 = 1 THEN i2.e ELSE d.obj END AS obj,
                 d.slot
          FROM drawn d JOIN idx i2 ON d.i = i2.i
        )
        SELECT subj, pred, obj, -1 AS slot, 1.0::DOUBLE AS label FROM base
        UNION ALL
        SELECT c.subj, c.pred, c.obj, c.slot, 0.0::DOUBLE AS label
        FROM corr c
        WHERE NOT EXISTS (
          SELECT 1 FROM base b
          WHERE b.subj = c.subj AND b.pred = c.pred AND b.obj = c.obj
        )
    """
    sqls["q75_two_hop"] = f"""
        WITH cand AS MATERIALIZED ({_q55_sql}),
        e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM cand)
        SELECT a.src AS a, b.dst AS c, count(*)::BIGINT AS n_paths
        FROM e a JOIN e b ON a.dst = b.src
        WHERE a.src <> b.dst
        GROUP BY a.src, b.dst
    """
    sqls["q76_pmi"] = f"""
        WITH cand AS MATERIALIZED ({_q55_sql}),
        obs AS MATERIALIZED (SELECT subj AS a, obj AS b FROM cand),
        pc AS (SELECT a, b, count(*) AS n_pair FROM obs GROUP BY a, b),
        lc AS (SELECT a, count(*) AS n_a FROM obs GROUP BY a),
        rc AS (SELECT b, count(*) AS n_b FROM obs GROUP BY b),
        n AS (SELECT count(*) AS t FROM obs)
        SELECT pc.a AS subj, pc.b AS obj, pc.n_pair,
               round(log2((SELECT t FROM n)::DOUBLE * pc.n_pair::DOUBLE
                          / (lc.n_a::DOUBLE * rc.n_b::DOUBLE)), 6) AS pmi
        FROM pc JOIN lc USING (a) JOIN rc USING (b)
    """
    sqls["q77_predicate_stats"] = """
        WITH facts AS (
          SELECT doc_id::VARCHAR AS subj, 'hasLang' AS pred, lang AS obj FROM documents
          UNION ALL
          SELECT source, 'hosts', doc_id::VARCHAR FROM documents
          UNION ALL
          SELECT source, 'usesLang', lang FROM documents
        )
        SELECT pred,
               count(*) AS n_triples,
               count(DISTINCT subj) AS n_subj,
               count(DISTINCT obj) AS n_obj,
               round(count(DISTINCT subj)::DOUBLE / count(*), 6) AS functionality,
               round(count(DISTINCT obj)::DOUBLE / count(*), 6) AS inverse_functionality
        FROM facts
        GROUP BY pred
    """
    # q78: the md5 sense-bucket fold replayed with the shared _hex8 idiom
    _q78_hash = _hex8.format(s="t.doc_id::VARCHAR || '|' || t.surface")
    sqls["q78_alias_mining"] = f"""
        WITH t AS (
          SELECT doc_id, unnest({_TOK}) AS surface
          FROM documents WHERE doc_id < 200
        ),
        pairs AS MATERIALIZED (
          SELECT t.surface,
                 t.surface || '#' || ({_q78_hash} % 3)::VARCHAR AS entity
          FROM t
        ),
        pc AS (SELECT surface AS alias, entity, count(*) AS n_pair
               FROM pairs GROUP BY 1, 2),
        sc AS (SELECT surface AS alias, count(*) AS n_surface
               FROM pairs GROUP BY 1)
        SELECT alias, entity,
               round(n_pair::DOUBLE / n_surface, 6) AS prior, n_pair
        FROM pc JOIN sc USING (alias)
        WHERE n_pair >= 2 AND n_pair::DOUBLE / n_surface >= 0.2
    """
    # q79: the pointer-doubling rounds unrolled (m_k = m_{k-1} composed
    # with itself), then the cycle-guard anti filter — all string ops
    _q79_len = "(" + _hex8.format(s="s") + " % 3) + 1"
    _q79 = f"""
        WITH srcs AS (SELECT DISTINCT source AS s FROM documents),
        lv AS MATERIALIZED (SELECT s, {_q79_len} AS ln FROM srcs),
        m0 AS MATERIALIZED (
          SELECT s AS src, s || '>1' AS dst FROM lv WHERE ln >= 1
          UNION ALL SELECT s || '>1', s || '>2' FROM lv WHERE ln >= 2
          UNION ALL SELECT s || '>2', s || '>3' FROM lv WHERE ln >= 3
        )"""
    for _i in range(1, 7):
        _q79 += f""",
        m{_i} AS MATERIALIZED (
          SELECT a.src, coalesce(b.dst, a.dst) AS dst
          FROM m{_i - 1} a LEFT JOIN m{_i - 1} b ON a.dst = b.src
        )"""
    _q79 += """
        SELECT m6.src, m6.dst AS target FROM m6
        WHERE NOT EXISTS (SELECT 1 FROM m6 h WHERE h.src = m6.dst)
    """
    sqls["q79_redirects"] = _q79
    sqls["q80_heavy_hitters"] = f"""
        WITH t AS MATERIALIZED (
          SELECT unnest({_TOK}) AS tok FROM documents
        ),
        n AS (SELECT count(*) AS total FROM t)
        SELECT tok AS value, count(*) AS cnt
        FROM t GROUP BY tok
        HAVING count(*) * 50 >= (SELECT total FROM n) * 1
    """
    from predicate_finder_spark.functions.text import _FOLD_DST, _FOLD_SRC

    sqls["q81_fold_diacritics"] = f"""
        WITH a AS (
          SELECT c_custkey,
                 translate(lower(c_name), 'aeiou', 'áéîöü') AS accented,
                 lower(c_name) AS base
          FROM customer
        )
        SELECT c_custkey, accented,
               replace(replace(replace(
                 translate(accented, '{_FOLD_SRC}', '{_FOLD_DST}'),
                 'ß', 'ss'), 'æ', 'ae'), 'œ', 'oe') AS folded,
               CAST(replace(replace(replace(
                 translate(accented, '{_FOLD_SRC}', '{_FOLD_DST}'),
                 'ß', 'ss'), 'æ', 'ae'), 'œ', 'oe') = base AS INT) AS round_trip
        FROM a
    """
    sqls["q82_quantize"] = """
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 500
        ), s AS (
          SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
          FROM e
        ), qz AS (
          SELECT vec_id, v,
                 CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END AS scale,
                 CASE WHEN mx > 0
                      THEN list_transform(v, x -> floor(x / (mx / 127.0) + 0.5)::INT)
                      ELSE list_transform(v, x -> 0) END AS q
          FROM s
        )
        SELECT vec_id, round(scale, 9) AS scale,
               md5(list_aggregate(list_transform(q, x -> x::VARCHAR),
                                  'string_agg', ',')) AS q_hash,
               round(list_max(list_transform(range(1, len(v) + 1),
                     i -> abs(v[i] - q[i]::DOUBLE * scale))), 9) AS max_err
        FROM qz
    """
    sqls["q83_sliding_chunks"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), nn AS (
          SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0
        ), c AS (
          SELECT doc_id, ts,
                 unnest(range(0, CASE WHEN n <= 32 THEN 1
                        ELSE ((n - 32 + 23) // 24) + 1 END)) AS cid
          FROM nn
        )
        SELECT doc_id, cid::INT AS chunk_id, (cid * 24)::INT AS start,
               len(list_slice(ts, cid * 24 + 1, cid * 24 + 32))::INT AS n_tokens,
               md5(list_aggregate(list_slice(ts, cid * 24 + 1, cid * 24 + 32),
                                  'string_agg', ' ')) AS chunk_hash
        FROM c
    """
    sqls["q84_dup_spans"] = f"""
        WITH tok AS MATERIALIZED (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), grams AS MATERIALIZED (
          SELECT doc_id,
                 unnest(CASE WHEN len(ts) >= 8 THEN range(0, len(ts) - 7)
                        ELSE []::BIGINT[] END)::INT AS pos,
                 unnest(CASE WHEN len(ts) >= 8
                        THEN list_transform(range(0, len(ts) - 7),
                             i -> array_to_string(ts[i + 1:i + 8], ' '))
                        ELSE []::VARCHAR[] END) AS gram
          FROM tok
        ), dup AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c FROM grams
          ) WHERE c >= 2
        ), isl AS (
          SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM dup
        )
        SELECT doc_id, min(pos)::INT AS span_start, (max(pos) + 8)::INT AS span_end,
               (max(pos) + 8 - min(pos))::INT AS n_tokens
        FROM isl GROUP BY doc_id, grp
    """
    sqls["q85_lm_ppl"] = f"""
        WITH tok AS MATERIALIZED (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), inst AS MATERIALIZED (
          SELECT doc_id,
                 unnest(CASE WHEN len(ts) >= 2
                        THEN list_transform(range(0, len(ts) - 1), i -> ts[i + 1])
                        ELSE []::VARCHAR[] END) AS u,
                 unnest(CASE WHEN len(ts) >= 2
                        THEN list_transform(range(0, len(ts) - 1), i -> ts[i + 2])
                        ELSE []::VARCHAR[] END) AS w
          FROM tok
        ), ctx AS MATERIALIZED (
          SELECT u, count(*) AS c_u FROM inst GROUP BY u
        ), bgs AS MATERIALIZED (
          SELECT u, w, count(*) AS c_uw FROM inst GROUP BY u, w
        ), v AS (
          SELECT count(DISTINCT t) AS vs FROM (SELECT unnest(ts) AS t FROM tok)
        ), terms AS (
          SELECT i.doc_id,
                 floor(log2((coalesce(b.c_uw, 0) + 1)::DOUBLE
                            / (coalesce(c.c_u, 0) + v.vs)::DOUBLE)
                       * 1000000 + 0.5)::BIGINT AS micro
          FROM inst i LEFT JOIN ctx c USING (u) LEFT JOIN bgs b USING (u, w), v
        )
        SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(micro)::BIGINT AS sum_micro,
               floor(-(sum(micro)::DOUBLE) / count(*) + 0.5)::BIGINT AS ppl_micro
        FROM terms GROUP BY doc_id
    """
    sqls["q86_cut_spans"] = f"""
        WITH tok AS MATERIALIZED (
          SELECT doc_id, {_TOK} AS ts FROM documents
        ), grams AS MATERIALIZED (
          SELECT doc_id,
                 unnest(CASE WHEN len(ts) >= 8 THEN range(0, len(ts) - 7)
                        ELSE []::BIGINT[] END)::INT AS pos,
                 unnest(CASE WHEN len(ts) >= 8
                        THEN list_transform(range(0, len(ts) - 7),
                             i -> array_to_string(ts[i + 1:i + 8], ' '))
                        ELSE []::VARCHAR[] END) AS gram
          FROM tok
        ), dup AS MATERIALIZED (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c FROM grams
          ) WHERE c >= 2
        ), covered AS MATERIALIZED (
          SELECT DISTINCT doc_id, unnest(range(pos, pos + 8))::INT AS ci FROM dup
        ), tokpos AS (
          SELECT doc_id, unnest(ts) AS tk, unnest(range(0, len(ts)))::INT AS idx
          FROM tok
        ), kept AS (
          SELECT p.doc_id, p.tk, p.idx
          FROM tokpos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.idx = c.ci
          WHERE c.doc_id IS NULL
        ), res AS (
          SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) AS text2, count(*) AS n
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id, md5(coalesce(r.text2, '')) AS text_hash,
               coalesce(r.n, 0)::INT AS n_tokens
        FROM tok t LEFT JOIN res r USING (doc_id)
    """
    # q87/q88: the synthetic crawl page + href extraction + the full
    # canonicalization chain replayed in SQL (same Java-regex ∩ RE2
    # patterns as q67; the canon/host chains are emitted by helpers so
    # both endpoints share one source of truth)
    def _canon(u: str) -> str:
        scheme = f"regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)"
        hostport = f"regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)"
        rest = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')"
        host0 = f"lower(regexp_replace({hostport}, '^[^@]*@', ''))"
        host = (
            f"CASE WHEN lower({scheme}) = 'http' AND {host0} LIKE '%:80'"
            f" THEN regexp_replace({host0}, ':80$', '')"
            f" WHEN lower({scheme}) = 'https' AND {host0} LIKE '%:443'"
            f" THEN regexp_replace({host0}, ':443$', '')"
            f" ELSE {host0} END"
        )
        rest_c = (
            f"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            f"{rest}, '#.*$', ''), '&{_TRK}', '', 'g'), '\\?{_TRK}&', '?'),"
            f" '\\?{_TRK}$', '')"
        )
        return f"(lower({scheme}) || '://' || {host} || {rest_c})"

    def _host(u: str) -> str:
        hostport = f"regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)"
        return (
            f"lower(regexp_replace(regexp_replace({hostport}, '^[^@]*@', ''),"
            f" ':[0-9]+$', ''))"
        )

    _WEBLINK_EDGES = f"""
        WITH m AS (
          SELECT 'http://src' || (doc_id % 4) || '.org/doc/' || doc_id AS src_url,
                 '<html><body><a href="HTTPS://WWW.Example.COM:443/d' || doc_id ||
                 '?utm_source=x&q=' || (doc_id % 5) ||
                 '">a</a><p>t</p><A HREF="http://mirror' || (doc_id % 3) ||
                 '.net/p' || doc_id || '#sec"><b>Mirror</b>  site</A></body></html>' AS html
          FROM documents
        ), l AS (
          SELECT src_url,
                 unnest(regexp_extract_all(html, '(?i)href="([^"]+)"', 1)) AS raw
          FROM m
        ), e AS (
          SELECT DISTINCT {_canon('src_url')} AS src, {_canon('raw')} AS dst FROM l
        )
    """
    sqls["q87_outlink_edges"] = _WEBLINK_EDGES + "SELECT src, dst FROM e"
    sqls["q88_host_graph"] = _WEBLINK_EDGES + f"""
        SELECT {_host('src')} AS src_host, {_host('dst')} AS dst_host,
               count(*) AS n_links
        FROM e GROUP BY 1, 2
    """
    # q91: whole-<a> element explode + href/text split + markup strip
    _anchor_cell = (
        "trim(regexp_replace(regexp_replace(regexp_extract(el,"
        " '(?is)>(.*?)</a\\s*>', 1), '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    sqls["q91_anchor_texts"] = _WEBLINK_EDGES + f""", a AS (
          SELECT src_url,
                 unnest(regexp_extract_all(html,
                   '(?is)<a\\b[^>]*href="[^"]*"[^>]*>.*?</a\\s*>', 0)) AS el
          FROM m
        ), x AS (
          SELECT src_url,
                 regexp_extract(el, '(?i)href="([^"]+)"', 1) AS raw,
                 {_anchor_cell} AS anchor
          FROM a
        )
        SELECT {_canon('src_url')} AS src, {_canon('raw')} AS dst, anchor
        FROM x WHERE anchor <> ''
    """
    # q92: snapshot dedup — same canon chain, row_number twin
    sqls["q92_latest_snapshot"] = f"""
        WITH m AS (
          SELECT doc_id,
                 CASE doc_id % 3
                   WHEN 0 THEN 'http://site.com/p' || (doc_id // 3)
                   WHEN 1 THEN 'HTTP://SITE.COM:80/p' || (doc_id // 3) || '#frag'
                   ELSE 'http://site.com/p' || (doc_id // 3) || '?utm_source=x'
                 END AS url,
                 1700000000 + (doc_id % 2) * 3600 AS ts,
                 '<html>doc' || doc_id || '</html>' AS html
          FROM documents
        ), c AS (
          SELECT url, ts, {_canon('url')} AS canon_url, md5(html) AS h FROM m
        ), r AS (
          SELECT canon_url, url, h,
                 row_number() OVER (PARTITION BY canon_url
                   ORDER BY ts DESC, url ASC, h ASC) AS rn
          FROM c
        )
        SELECT canon_url, url, h AS html_hash FROM r WHERE rn = 1
    """
    # q93: the BGP triangle is three self equi-joins over the DISTINCT
    # (subj, obj) projection of the q55 candidate set (single predicate
    # 'coOccursWith' after the blacklist; bgp_match emits SPARQL set
    # semantics, so the oracle distincts both the edge set and the result)
    sqls["q93_bgp_triangles"] = f"""
        WITH cand AS MATERIALIZED ({_q55_sql}),
        e AS MATERIALIZED (
          SELECT DISTINCT subj, obj FROM cand WHERE pred = 'coOccursWith'
        )
        SELECT DISTINCT e1.subj AS a, e1.obj AS b, e2.obj AS c
        FROM e e1
        JOIN e e2 ON e2.subj = e1.obj
        JOIN e e3 ON e3.subj = e1.subj AND e3.obj = e2.obj
    """
    # q94: 3-hop bounded reachability — the oracle unrolls it as a
    # recursive CTE with a hop counter (terminates on cycles because the
    # (src, dst, hops) tuple set is finite under the bound)
    sqls["q94_reachability"] = f"""
        WITH RECURSIVE cand AS MATERIALIZED ({_q55_sql}),
        e AS MATERIALIZED (
          SELECT DISTINCT subj AS src, obj AS dst FROM cand
          WHERE pred = 'coOccursWith'
        ),
        reach(src, dst, hops) AS (
          SELECT src, dst, 1 FROM e
          UNION
          SELECT r.src, e.dst, r.hops + 1
          FROM reach r JOIN e ON e.src = r.dst
          WHERE r.hops < 3
        )
        SELECT DISTINCT src, dst FROM reach
    """
    # q89/q90: the structured-data channels — JSON-LD via DuckDB's json
    # functions, infobox via the identical regex chain (the \s+ collapse
    # and <[^>]+> strip need explicit 'g'; Spark replaces all matches)
    _STRUCTURED_PAGES = """
        SELECT 'http://docs.example.org/' || doc_id AS url,
               '<html><head><script type="application/ld+json">{"@id":"doc:'
               || doc_id || '","@type":"Document","title":"Doc ' || doc_id
               || '","source":"' || source || '","lang":"' || lang
               || '"}</script></head><body><aside><table>'
               || '<tr><th>Source Name</th><td><b>' || source
               || '</b></td></tr><tr><th>Word  Bucket</th><td> '
               || (doc_id % 10)
               || ' </td></tr></table></aside></body></html>' AS html
        FROM documents
    """
    sqls["q89_jsonld_triples"] = f"""
        WITH m AS ({_STRUCTURED_PAGES}), b AS (
          SELECT url, unnest(regexp_extract_all(html,
                 '(?is)<script type="application/ld\\+json">(.*?)</script>', 1)) AS js
          FROM m
        ), k AS (
          SELECT url, js,
                 coalesce(json_extract_string(js, '$.@id'), url) AS subj,
                 unnest(json_keys(js)) AS pred
          FROM b
        )
        SELECT url, subj, pred, json_extract_string(js, '$.' || pred) AS obj
        FROM k WHERE pred NOT LIKE '@%' AND json_extract_string(js, '$.' || pred) IS NOT NULL
    """

    def _cell(pat: str) -> str:
        return (
            f"trim(regexp_replace(regexp_replace(regexp_extract(tr, '{pat}', 1),"
            f" '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g'))"
        )

    _th_cell = _cell("(?is)<th[^>]*>(.*?)</th\\s*>")
    _td_cell = _cell("(?is)<td[^>]*>(.*?)</td\\s*>")
    sqls["q90_infobox_facts"] = f"""
        WITH m AS ({_STRUCTURED_PAGES}), r AS (
          SELECT url, unnest(regexp_extract_all(html, '(?is)<tr[^>]*>.*?</tr>', 0)) AS tr
          FROM m
        ), c AS (
          SELECT url,
                 {_th_cell} AS k,
                 {_td_cell} AS v
          FROM r
        )
        SELECT url, replace(lower(k), ' ', '_') AS key, v AS value
        FROM c WHERE k <> '' AND v <> ''
    """
    # q95: the flagship scorer value-exact (VERDICT-r4 item 3).  Every
    # dictionary is rebuilt from first principles: embeddings are the
    # md5-fold formula per (word, dim) over the bounded vocab, IDF is
    # log2(N/df) restricted to the predicate camel words, the KG picks one
    # of three predicates per md5-seeded edge.  Gram semantics mirror
    # scoring.make_scorer_udf exactly: unigram = token vector (OOV rows
    # drop), bigram = (v_j + v_{j+1}) / in-vocab-count (drop when both
    # OOV), sim = dot / (|g| * |pv| + 1e-9), best = max(0, max sims),
    # score = best * widf * 1.1^(direction agreement).
    _upp = _hex12.format(s="'pp|' || a.word || '|' || b.word")
    _uemb = _hex12.format(s="'emb|' || word || '|' || d")
    _uembw = _hex12.format(s="'emb|' || w || '|' || (d - 1)")
    _camel_sql = "['co','occurs','with','located','in','part','of']"
    sqls["q95_scorer"] = f"""
        WITH toks AS (
          SELECT doc_id::VARCHAR AS url,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents
        ), words AS (
          SELECT url, unnest(range(len(toks))) AS start, unnest(toks) AS w
          FROM toks
        ), freq AS (
          SELECT w AS word, count(*) AS c FROM words GROUP BY w
          ORDER BY c DESC, word ASC LIMIT 20
        ), linked AS (
          SELECT words.url, words.start, words.w AS entity
          FROM words JOIN freq ON words.w = freq.word
        ), seq AS (
          SELECT url, start, entity,
                 lead(entity) OVER (PARTITION BY url ORDER BY start ASC) AS entity2,
                 lead(start) OVER (PARTITION BY url ORDER BY start ASC) AS start2
          FROM linked
        ), prs AS (
          SELECT s.url, s.start, s.entity, s.entity2,
                 coalesce(t.toks[s.start + 2 : s.start2], []) AS rtoks
          FROM seq s JOIN toks t ON s.url = t.url
          WHERE s.entity2 IS NOT NULL AND s.start2 >= s.start + 1
        ), kg AS (
          SELECT s,
                 CASE WHEN u < 1.0/3.0 THEN 'coOccursWith'
                      WHEN u < 2.0/3.0 THEN 'locatedIn'
                      ELSE 'partOf' END AS pred,
                 o
          FROM (
            SELECT a.word AS s, b.word AS o,
                   ({_upp} % 1000003) / 1000003.0 AS u,
                   ({_ukg} % 1000003) / 1000003.0 AS ukg
            FROM freq a, freq b WHERE a.word <> b.word
          ) WHERE ukg < 0.4
        ), oriented AS (
          SELECT url, start, rtoks, entity AS s, entity2 AS o, 'forward' AS rule FROM prs
          UNION ALL
          SELECT url, start, rtoks, entity2 AS s, entity AS o, 'reverse' AS rule FROM prs
        ), cand AS (
          SELECT o2.url, o2.start, o2.rtoks, o2.s AS subj, o2.o AS obj,
                 kg.pred, o2.rule
          FROM oriented o2 JOIN kg ON o2.s = kg.s AND o2.o = kg.o
        ), vocab AS (
          SELECT DISTINCT lower(word) AS word FROM (
            SELECT word FROM freq
            UNION ALL SELECT unnest({_camel_sql})
          )
        ), emb AS (
          SELECT word,
                 list_transform(range(0, 4), d ->
                   (({_uemb} % 1000003) / 1000003.0) * 2.0 - 1.0) AS v
          FROM vocab
        ), idf AS (
          SELECT w AS word,
                 log2((SELECT count(*) FROM toks)::DOUBLE / count(*)) AS idf
          FROM (SELECT DISTINCT url, w FROM
                 (SELECT url, lower(unnest(toks)) AS w FROM toks))
          WHERE w IN ('co','occurs','with','located','in','part','of')
          GROUP BY w
        ), predw AS (
          SELECT 'coOccursWith' AS pred, ['co','occurs','with'] AS pw
          UNION ALL SELECT 'locatedIn', ['located','in']
          UNION ALL SELECT 'partOf', ['part','of']
        ), pvecs AS (
          SELECT pred,
                 list_transform(range(1, 5), d ->
                   list_sum(list_transform(pw, w ->
                     (({_uembw} % 1000003) / 1000003.0) * 2.0 - 1.0))
                   / len(pw)) AS pv
          FROM predw
        ), pw_flat AS (
          SELECT pred, unnest(pw) AS w FROM predw
        ), widfs AS (
          SELECT pred,
                 CASE WHEN max(coalesce(i.idf, 0.0)) > 0.0
                      THEN max(coalesce(i.idf, 0.0)) ELSE 2.0 END AS widf
          FROM pw_flat LEFT JOIN idf i ON i.word = pw_flat.w
          GROUP BY pred
        ), relpos AS (
          SELECT url, start, rule, pred,
                 unnest(range(len(rtoks))) AS j,
                 unnest(list_transform(rtoks, x -> lower(x))) AS w
          FROM cand
        ), relvec AS (
          SELECT r.url, r.start, r.rule, r.pred, r.j, e.v
          FROM relpos r LEFT JOIN emb e ON r.w = e.word
        ), uni AS (
          SELECT url, start, rule, pred, v AS g
          FROM relvec WHERE v IS NOT NULL
        ), bi AS (
          SELECT a.url, a.start, a.rule, a.pred,
                 list_transform(range(1, 5), d ->
                   (coalesce(a.v[d], 0.0) + coalesce(b.v[d], 0.0))
                   / ((a.v IS NOT NULL)::INT + (b.v IS NOT NULL)::INT)) AS g
          FROM relvec a JOIN relvec b
            ON a.url = b.url AND a.start = b.start AND a.rule = b.rule
           AND b.j = a.j + 1
          WHERE a.v IS NOT NULL OR b.v IS NOT NULL
        ), grams AS (
          SELECT * FROM uni UNION ALL SELECT * FROM bi
        ), sims AS (
          SELECT g.url, g.start, g.rule, g.pred,
                 list_sum(list_transform(range(1, 5), d -> g.g[d] * p.pv[d]))
                 / (sqrt(list_sum(list_transform(g.g, x -> x * x)))
                    * sqrt(list_sum(list_transform(p.pv, x -> x * x))) + 1e-9) AS sim
          FROM grams g JOIN pvecs p ON g.pred = p.pred
        ), best AS (
          SELECT url, start, rule, pred, max(sim) AS b
          FROM sims GROUP BY url, start, rule, pred
        )
        SELECT DISTINCT c.url, c.subj, c.obj, c.pred, c.rule,
               coalesce(array_to_string(c.rtoks, ' '), '') AS rel,
               round(
                 greatest(coalesce(bb.b, 0.0), 0.0) * w.widf *
                 CASE WHEN coalesce(lower(c.rtoks[1]) IN ('is','was','are','were')
                            AND lower(c.rtoks[len(c.rtoks)]) = 'of', false)
                           = (c.rule = 'reverse')
                      THEN 1.1 ELSE 1.0 END, 6) AS score
        FROM cand c
        LEFT JOIN best bb ON bb.url = c.url AND bb.start = c.start
                         AND bb.rule = c.rule AND bb.pred = c.pred
        JOIN widfs w ON w.pred = c.pred
    """
    # q96: unbounded pred* = recursive-CTE closure + reflexive arm (edge
    # set AS MATERIALIZED — the q72 inlining trap: it is referenced by the
    # recursion AND the nodes arm)
    sqls["q96_reach_star"] = f"""
        WITH RECURSIVE e AS MATERIALIZED (
          SELECT DISTINCT subj AS src, obj AS dst FROM ({_q55_sql})
        ), rr AS (
          SELECT src, dst FROM e
          UNION
          SELECT rr.src, e2.dst FROM rr JOIN e e2 ON rr.dst = e2.src
        ), nodes AS (
          SELECT src AS n FROM e UNION SELECT dst AS n FROM e
        )
        SELECT src, dst FROM rr
        UNION
        SELECT n AS src, n AS dst FROM nodes
    """
    # q97: two-branch UNION over the same edge set
    sqls["q97_sparql_union"] = f"""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT subj AS s, obj AS o FROM ({_q55_sql})
        )
        SELECT DISTINCT a.s, a.o, b.o AS r FROM e a JOIN e b ON b.s = a.o
        UNION
        SELECT a.s, a.o, b.s AS r FROM e a JOIN e b ON b.o = a.s
    """
    # q40_kg_pipeline, q56, q57: intentionally rows-only entries (q40 =
    # pandas-UDF-scored multi-stage pipeline, pinned by unit tests + the
    # P/R gate; q56/q57 = approximate aggregates whose values are
    # algorithm-specific, pinned by tolerance tests vs the exact
    # aggregates in tests/test_queries.py)
    return sqls
