"""Exactly-once streaming sink into a snapshot (icelite) table.

The batch-keyed parquet sink (pipeline.py) gets idempotent replay from
directory overwrite; this sink gets it the way an Iceberg streaming sink
does — a **commit marker in the snapshot summary**. Every micro-batch
append is stamped with ``streaming_commit = "<checkpoint-key>:<batch
id>"``; before appending, the handler scans the snapshot log for that
marker and SKIPS the batch if present. A crash between the table commit
and the source-offset commit replays the batch on restart, the marker is
found, and nothing is double-appended — append + marker are one atomic
metadata commit (icelite's O_EXCL version claim), so there is no window
where the data is in but the marker is not.

The checkpoint key is derived from the checkpoint location (md5, like
every other portable hash in this repo), because batch ids are only
unique per streaming checkpoint. Single writer per checkpoint is
Structured Streaming's own contract; concurrent OTHER writers (another
stream into the same table, the maintenance job's compaction) are safe —
appends re-merge on conflict and markers ride in the snapshot log, which
compaction and expiration never rewrite for retained snapshots.

Downstream of this sink the table is a normal icelite table: time travel
over micro-batch history, footer-stats pruning, and run_maintenance.py
compaction of the per-trigger small files (exactly the workload
table-maintenance exists for).
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import DataFrame, SparkSession

from ..tables.icelite import IceTable, bucket
from .pipeline import start_triples_stream


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


def committed_batch_ids(table_path: str, ckpt_key: str) -> set[int]:
    """Batch ids with a live marker for this checkpoint (snapshot-summary
    stamps only — see last_committed_batch for the replay test, which
    also honors markers carried forward by history expiration)."""
    if not IceTable.exists(table_path):
        return set()
    out = set()
    for s in IceTable(table_path).snapshots():
        marker = s["summary"].get("streaming_commit", "")
        key, _, bid = marker.rpartition(":")
        if key == ckpt_key:
            out.add(int(bid))
    return out


def last_committed_batch(table_path: str, ckpt_key: str) -> int | None:
    """Highest batch id known committed for this checkpoint. Reads both
    live ``streaming_commit`` markers and the ``streaming_commits_carried``
    dict that expire_snapshots folds expired markers into. Batch ids are
    monotone per checkpoint (Structured Streaming's contract), so max is
    exactly the replay frontier."""
    if not IceTable.exists(table_path):
        return None
    last = None
    for s in IceTable(table_path).snapshots():
        marker = s["summary"].get("streaming_commit", "")
        key, _, bid = marker.rpartition(":")
        if key == ckpt_key:
            last = int(bid) if last is None else max(last, int(bid))
        v = s["summary"].get("streaming_commits_carried", {}).get(ckpt_key)
        if v is not None:
            last = int(v) if last is None else max(last, int(v))
    return last


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
    ever batch, append with the commit marker otherwise, skip (returning
    None) if this (checkpoint, batch) is already in the snapshot log.
    The marker rides the SAME atomic metadata commit as the data on both
    paths (create's initial snapshot carries it via summary_extra), so
    there is no window where the data is in but the marker is not; a
    crashed create (directory present, v1 never committed) is detected
    by IceTable.exists and simply re-created — its half-written files
    are orphans for the maintenance sweep."""
    marker = {"streaming_commit": f"{ckpt_key}:{batch_id}"}
    if not IceTable.exists(table_path):
        t = IceTable.create(
            spark, table_path, df,
            partition_spec=partition_spec, sort_order=sort_order,
            target_files=target_files, summary_extra=marker,
        )
        return t.current_snapshot_id()
    last = last_committed_batch(table_path, ckpt_key)
    if last is not None and batch_id <= last:
        return None  # replayed batch: already committed, exactly-once
    return IceTable(table_path).append(
        spark, df, target_files=target_files, summary_extra=marker
    )


def stream_kg_triples_to_table(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema,
    target_files: int | None = None,
    **stream_opts,
):
    """The incremental KG pipeline landing in a snapshot table: same
    stream as pipeline.stream_kg_triples (``stream_opts`` are
    start_triples_stream's options), but the sink is an icelite triples
    table (bucketed by subj like the batch publisher) with exactly-once
    micro-batch commits."""
    key = checkpoint_key(checkpoint_dir)

    def sink(triples: DataFrame, batch_id: int) -> None:
        commit_batch(
            spark, table_path, triples, key, batch_id,
            partition_spec=[bucket("subj", 16)], sort_order=["subj"],
            target_files=target_files,
        )

    return start_triples_stream(
        spark, input_dir, checkpoint_dir, schema, sink, **stream_opts
    )


def table_triples_result(spark: SparkSession, table_path: str) -> DataFrame:
    df, _ = IceTable(table_path).scan(
        spark, columns=["url", "subj", "pred", "obj"]
    )
    return df
