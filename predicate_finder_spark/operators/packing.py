"""Sequence packing for LLM pretraining batches (concat-and-chunk).

A training-data pipeline's last mile: documents are concatenated in a
deterministic order and the token stream is cut into fixed-budget chunks
(the standard GPT-style packing — documents may span a chunk boundary).
This operator computes, per document, WHERE it lands in that chunked
stream: its start chunk, how many chunks it spans, and its token offset.
A writer can then ``groupBy(bucket, chunk)`` to emit the physical
sequences.

Scale shape: a single global concatenation order would be one giant
window (single-reducer sort — forbidden at 100 TB).  Instead documents
are hashed into ``n_buckets`` independent streams (engine-portable
``md5_bucket`` of the id, so the oracle agrees), each packed with a
``partitionBy(bucket) orderBy(id)`` window — one shuffle, per-bucket
sorts, embarrassingly parallel.  Buckets
are the unit a downstream data-loader shards by anyway; size ``n_buckets``
so a bucket's documents fit one task (~10^5-10^6 docs/bucket).

The whole computation is window + arithmetic column expressions
(no Python), so the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from predicate_finder_spark.functions.hashing import md5_bucket
from predicate_finder_spark.functions.text import tokenize


def pack_chunks(
    docs: DataFrame,
    budget: int,
    n_buckets: int = 8,
    tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document of ``docs(doc_id, text)`` its place in
    per-bucket concat-and-chunk packing.

    Returns the input ids plus:

    - ``bucket``      — which independent stream (md5_bucket(id), oracle-exact)
    - ``n_tokens``    — whitespace token count (or ``tokens_col`` as given)
    - ``tok_offset``  — tokens before this doc within its bucket stream
    - ``chunk_id``    — floor(tok_offset / budget): the chunk the doc starts in
    - ``chunks_spanned`` — how many budget-sized chunks the doc touches

    Documents with zero tokens span one (empty) position in their start
    chunk by convention (``chunks_spanned`` = 1).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    n_tokens = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
        )
    )
    base = docs.select(
        F.col("doc_id"),
        md5_bucket(F.col("doc_id").cast("string"), n_buckets).alias("bucket"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy(F.col("doc_id").asc())
    packed = (
        base.withColumn(
            "tok_offset",
            (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) - F.col("n_tokens")).cast("long"),
        )
        .withColumn("chunk_id", F.floor(F.col("tok_offset") / budget))
        .withColumn(
            "chunks_spanned",
            (
                F.floor(
                    (F.col("tok_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                    / budget
                )
                - F.col("chunk_id")
                + 1
            ).cast("long"),
        )
    )
    return packed


def sliding_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Per-document sliding-window chunking with overlap — the RAG/
    long-context training-sample cutter (vs :func:`pack_chunks`, which
    concatenates ACROSS documents; this one never crosses a document
    boundary, and ``size - stride`` tokens of context repeat between
    consecutive chunks).

    Output: one row per (doc, chunk): ``(id, chunk_id, start, n_tokens,
    chunk)`` where chunk = tokens[start : start + size] rejoined.  A doc
    with <= size tokens yields exactly one chunk; empty docs yield none;
    the last window is the remainder (never padded).  n_chunks =
    ceil((n - size) / stride) + 1.

    Pure column expressions end-to-end (tokenize -> sequence -> explode ->
    slice): narrow, no shuffle, no Python — embarrassingly parallel over
    input splits, and value-exact in the q83 oracle."""
    if not (0 < stride <= size):
        raise ValueError("sliding_chunks: need 0 < stride <= size")
    toks = tokenize(F.col("text"))
    rows = df.select(
        F.col(id_col).alias("id"), toks.alias("__toks"), F.size(toks).alias("__n")
    ).filter(F.col("__n") > 0)
    n = F.col("__n")
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.floor((n - F.lit(size) + F.lit(stride - 1)) / F.lit(stride)).cast("int")
        + F.lit(1)
    )
    exploded = rows.select(
        "id", "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    chunk = F.slice(F.col("__toks"), start + 1, size)
    return exploded.select(
        "id",
        "chunk_id",
        start.alias("start"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk"),
    )
