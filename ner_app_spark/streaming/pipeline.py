"""Incremental KG construction: the batch pipeline's fused extract stage
applied per micro-batch as pages arrive, with an idempotent per-batch
sink.

``foreachBatch`` is the arrival-path shape for the flagship job
(plans/pipeline.py is the reprocessing shape): each micro-batch of pages
runs the SAME stages as the batch job — ``extracted_text`` over the html,
then the fused Arrow stage (operators/extract.py,
``extract_phrases_and_triples``) over the extracted text — and lands its
triples under ``sink/batch=<id>`` with mode=overwrite.
Overwrite-into-a-batch-keyed directory is the standard exactly-once
recipe for foreachBatch sinks: a replayed batch (restart between sink
write and offset commit) rewrites the same directory with the same
deterministic content instead of appending a duplicate. Triples are
per-document-local (BENCH.md §5 — the round-3 fusion), so the union of
per-batch outputs over ANY partition of the pages equals the
whole-corpus batch answer; the registry row's DuckDB oracle is
literally the batch ``kg_triples`` replay.

Restart/resume comes from the streaming checkpoint (source offsets + batch
ids), demonstrated in tests/test_streaming.py: kill after batch k, restart
with the same checkpoint dir, only batches > k run.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import (
    extract_phrases_and_triples,
    extracted_text,
    fused_triples,
)


def start_triples_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    schema,
    sink: Callable[[DataFrame, int], None],
    lang: str = "ru",
    num_partitions: int = 8,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    processing_interval: str = "30 seconds",
):
    """Start (and return) the incremental triples query over a parquet
    landing directory of pages (url, warc_ts, html, text, lang). Each
    micro-batch runs the batch job's own stages — ``extracted_text`` over
    the html, then the fused stage over the extracted text — and hands
    its triples and batch id to ``sink``. ``available_now=True`` drains
    what is present and stops (the cron/backfill shape); ``False`` runs
    continuously, polling the landing zone every
    ``processing_interval``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        fused = extract_phrases_and_triples(
            extracted_text(batch_df),
            lang=lang,
            num_partitions=num_partitions,
            text_col="extracted",
        )
        sink(fused_triples(fused), batch_id)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=processing_interval)
    )
    return writer.start()


def stream_kg_triples(
    spark: SparkSession,
    input_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema,
    **stream_opts,
):
    """The incremental triples query with the batch-keyed parquet sink:
    batch N lands under ``sink_dir/batch=N`` with mode=overwrite.
    ``stream_opts`` are start_triples_stream's options."""

    def sink(triples: DataFrame, batch_id: int) -> None:
        triples.write.mode("overwrite").parquet(f"{sink_dir}/batch={batch_id}")

    return start_triples_stream(
        spark, input_dir, checkpoint_dir, schema, sink, **stream_opts
    )


def triples_result(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Union of the per-batch sinks (partition discovery on batch=N),
    shaped like extract.fused_triples output."""
    return spark.read.parquet(sink_dir).select("url", "subj", "pred", "obj")
