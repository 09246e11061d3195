"""Incremental KG construction: the batch pipeline's stages applied per
micro-batch as pages arrive, landing exactly once in a snapshot (icelite)
triples table.

``foreachBatch`` is the arrival-path shape for the flagship job
(plans/pipeline.py is the reprocessing shape): each micro-batch of pages
runs the SAME stages as the batch job — ``extracted_text`` over the html,
then the fused Arrow stage (operators/extract.py,
``extract_phrases_and_triples``) over the extracted text — and appends
its triples to the table. Triples are per-document-local (BENCH.md §5 —
the round-3 fusion), so the union of per-batch outputs over ANY
partition of the pages equals the whole-corpus batch answer; the
registry row's DuckDB oracle is literally the batch ``kg_triples``
replay.

Exactly-once comes the way an Iceberg streaming sink gets it — a
**watermark in the snapshot summary**. Every micro-batch append stamps
``streaming_commit/<checkpoint-key> = <batch id>`` (one key per
checkpoint, so two streams into one table keep separate frontiers);
before appending, the handler reads that watermark and SKIPS the batch
if it is already covered. A crash between the table commit and the
source-offset commit replays the batch on restart, the watermark covers
it, and nothing is double-appended — append + stamp are one atomic
metadata commit (icelite's O_EXCL version claim), so there is no window
where the data is in but the stamp is not. ``plans/incremental.py``
uses the same device for the pages-table arrival path.

The checkpoint key is derived from the checkpoint location (md5, like
every other portable hash in this repo), because batch ids are only
unique per streaming checkpoint. Single writer per checkpoint is
Structured Streaming's own contract; concurrent OTHER writers (another
stream into the same table, the maintenance job's compaction) are safe —
appends re-merge on conflict, and expire_snapshots carries an expired
watermark onto the current snapshot.

Restart/resume comes from the streaming checkpoint (source offsets + batch
ids), demonstrated in tests/test_streaming.py: kill after batch k, restart
with the same checkpoint dir, only batches > k run.

Downstream of this sink the table is a normal icelite table: time travel
over micro-batch history, footer-stats pruning, and run_maintenance.py
compaction of the per-trigger small files (exactly the workload
table-maintenance exists for).
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import (
    extract_phrases_and_triples,
    extracted_text,
    fused_triples,
)
from ..tables.icelite import IceTable, bucket


def checkpoint_key(checkpoint_dir: str) -> str:
    """Stable key for a checkpoint LOCATION: local paths are resolved to
    an absolute form and trailing slashes dropped, so equivalent
    spellings (./ckpt vs /data/ckpt vs /data/ckpt/) hash identically —
    Spark normalizes checkpointLocation for its offset log, and a key
    that did not would silently disable replay dedup across relaunches
    with a different spelling."""
    import os

    loc = checkpoint_dir.rstrip("/")
    if "://" not in loc:
        loc = os.path.abspath(loc)
    return md5(loc.encode()).hexdigest()[:12]


def _stamp_key(ckpt_key: str) -> str:
    return f"streaming_commit/{ckpt_key}"


def committed_batch_ids(table_path: str, ckpt_key: str) -> set[int]:
    """Batch ids with a live stamp for this checkpoint (snapshot-summary
    stamps only, not the frontier expire_snapshots carries — see
    last_committed_batch for the replay test)."""
    if not IceTable.exists(table_path):
        return set()
    key = _stamp_key(ckpt_key)
    return {
        s["summary"][key]
        for s in IceTable(table_path).snapshots()
        if key in s["summary"]
    }


def last_committed_batch(table_path: str, ckpt_key: str) -> int | None:
    """This checkpoint's replay frontier: the table's watermark for it,
    carried stamps included. Batch ids are monotone per checkpoint
    (Structured Streaming's contract), so the newest stamp is the
    highest committed id."""
    return IceTable(table_path).watermark(_stamp_key(ckpt_key))


def commit_batch(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    ckpt_key: str,
    batch_id: int,
    partition_spec=None,
    sort_order=None,
    target_files: int | None = None,
) -> str | None:
    """Idempotently commit one micro-batch: create the table on the first
    ever batch, append with the watermark stamp otherwise, skip
    (returning None) if this (checkpoint, batch) is already covered.
    The stamp rides the SAME atomic metadata commit as the data on both
    paths (create's initial snapshot carries it via summary_extra), so
    there is no window where the data is in but the stamp is not; a
    crashed create (directory present, v1 never committed) is detected
    by IceTable.exists and simply re-created — its half-written files
    are orphans for the maintenance sweep."""
    stamp = {_stamp_key(ckpt_key): batch_id}
    if not IceTable.exists(table_path):
        t = IceTable.create(
            spark, table_path, df,
            partition_spec=partition_spec, sort_order=sort_order,
            target_files=target_files, summary_extra=stamp,
        )
        return t.current_snapshot_id()
    last = last_committed_batch(table_path, ckpt_key)
    if last is not None and batch_id <= last:
        return None  # replayed batch: already committed, exactly-once
    return IceTable(table_path).append(
        spark, df, target_files=target_files, summary_extra=stamp
    )


def stream_kg_triples_to_table(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema,
    lang: str = "ru",
    num_partitions: int = 8,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    processing_interval: str = "30 seconds",
    target_files: int | None = None,
):
    """Start (and return) the incremental triples query over a parquet
    landing directory of pages (url, warc_ts, html, text, lang). Each
    micro-batch runs ``extracted_text`` over the html, then the fused
    stage over the extracted text, and commits its triples exactly once
    into the icelite table at ``table_path`` (bucketed by subj like the
    batch publisher). ``available_now=True`` drains what is present and
    stops (the cron/backfill shape); ``False`` runs continuously,
    polling the landing zone every ``processing_interval``."""
    key = checkpoint_key(checkpoint_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        fused = extract_phrases_and_triples(
            extracted_text(batch_df),
            lang=lang,
            num_partitions=num_partitions,
            text_col="extracted",
        )
        commit_batch(
            spark, table_path, fused_triples(fused), key, batch_id,
            partition_spec=[bucket("subj", 16)], sort_order=["subj"],
            target_files=target_files,
        )

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=processing_interval)
    )
    return writer.start()


def table_triples_result(spark: SparkSession, table_path: str) -> DataFrame:
    """The landed triples, shaped like extract.fused_triples output."""
    df, _ = IceTable(table_path).scan(
        spark, columns=["url", "subj", "pred", "obj"]
    )
    return df
