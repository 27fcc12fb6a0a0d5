"""Incremental ingest: new page snapshots -> streamed micro-batches ->
incremental state.

The reference is batch-only (SURVEY.md §2.10); this is the incremental
analog the north_star sketches: ``readStream`` on the pages table ->
``foreachBatch`` runs the batch extraction plan on each micro-batch and
commits it to an incremental state dir (``plans/incremental``, read with
``incremental_state``).  Every pipeline operator is per-document or a join
against static dictionaries, so streaming needs no custom state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from predicate_finder_spark import schemas


def read_page_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over a pages parquet directory (stand-in for a
    Kafka/WARC feed; same downstream plan)."""
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
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
