"""Incremental ingest: new page snapshots -> streaming extraction ->
incremental state.

The reference is batch-only (SURVEY.md §2.10); this is the incremental
analog the north_star sketches: ``readStream`` on the pages table ->
watermarked event-time windows -> the same stateless extraction UDFs ->
``foreachBatch`` commits to an incremental state dir (``plans/incremental``,
read with ``incremental_state``).  Every pipeline operator is per-document
or a join against static dictionaries, so streaming needs no custom state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from predicate_finder_spark import schemas
from predicate_finder_spark.operators.extract import extract_text


def read_page_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over a pages parquet directory (stand-in for a
    Kafka/WARC feed; same downstream plan)."""
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_extract(pages_stream: DataFrame, languages: tuple[str, ...] = ("en",)) -> DataFrame:
    """Stateless streaming extraction: lang filter + pandas-UDF extraction —
    identical semantics to the batch stage (same pure function, so batch
    and streaming outputs are byte-identical per url)."""
    return (
        pages_stream.filter(F.col("lang").isin(*languages))
        .select("url", "warc_ts", extract_text("html").alias("text"), "lang")
    )


def windowed_page_counts(
    pages_stream: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling-window ingest metrics: pages per (window, lang).
    Late data beyond the watermark is dropped (state bounded)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )


def streaming_triples(
    spark: SparkSession,
    pages_path: str,
    aliases: DataFrame,
    kg_triples: DataFrame,
    ontology: DataFrame,
    embeddings: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    scorer_dicts: tuple[dict, dict],
    cfg=None,
    max_files_per_trigger: int = 4,
) -> None:
    """Stream page files and commit micro-batch ``epoch_id`` as batch
    ``epoch-<epoch_id>`` of the incremental state dir ``state_dir``
    (``plans.incremental.extract_triples_incremental``); read the
    cumulative triples with ``incremental_state``.

    ``checkpoint_dir`` keeps epoch ids stable across restarts: a later run
    processes only files added since, and an epoch Spark replays (crash
    after the batch commit, before the offset commit) is a committed no-op.
    ``scorer_dicts`` pins corpus-level scorer state, as in
    ``extract_triples_incremental``, so the cumulative state equals the
    batch run over the whole corpus (tested).
    """
    from predicate_finder_spark.plans.incremental import extract_triples_incremental

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        extract_triples_incremental(
            spark, batch_df, aliases, kg_triples, ontology, embeddings,
            state_dir, batch_id=f"epoch-{epoch_id:08d}", cfg=cfg,
            scorer_dicts=scorer_dicts,
        )

    q = (
        read_page_stream(spark, pages_path, max_files_per_trigger)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def run_to_memory_sink(stream_df: DataFrame, name: str) -> None:
    """Drive a (bounded file-source) stream to completion into a memory
    sink — the synchronous smoke path for tests."""
    q = (
        stream_df.writeStream.outputMode(
            "append" if "n_pages" not in stream_df.columns else "complete"
        )
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
