"""Incremental KG construction over a growing pages snapshot table.

A production crawl corpus grows by appends (one snapshot per crawl dump).
Re-running the full pipeline per dump rescans 10^12 rows to process the
newest 10^9 — this plan instead consumes ONLY the pages appended since
the last run, using ``IceTable.incremental_scan``:

    pages table (icelite) --incremental_scan--> run_pipeline
        --> append to `phrases` table   [watermark: consumed pages snapshot]
        --> append to `triples` table   [watermark: consumed pages snapshot]
        --> append to `links` table     [watermark: consumed pages snapshot]

Exactly-once, the same device as the streaming sink (streaming/icesink.py):
each output append stamps the consumed pages-table snapshot id as an
icelite watermark (``summary_extra``) into its OWN atomic snapshot
commit. A crash anywhere — before any append, between two appends —
leaves each output table with a truthful high-water mark; the next run
reads each table's watermark and catches it up independently. No
offsets live outside the tables.

The increment runs through run_pipeline itself — the same staged
extracted → analysis → links sequence, observed counters and
``pipeline.<stage>`` job labels as the batch job — and only its
DOC-LOCAL outputs are appended: each page's phrases and triples depend
on that page alone, and a mention's link is a deterministic function of
the mention and the static broadcast alias dim, so per-doc occurrence
rows compose over appends too. The global outputs (connected-components
canonicalization, nodes/edges) are left unread, and no job reads the
accumulated tables: jobs/run_pipeline.py --publish re-extracts from the
pages. The streaming sink (streaming/icesink.py) lands triples only and
keeps its own extract stage: run_pipeline would add linking and two
staged writes to every micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..operators.linking import link_occurrences
from ..tables.icelite import IceTable
from .pipeline import run_pipeline

#: watermark key stamped on every incremental append: the pages snapshot
#: id whose data is fully contained in this output snapshot
MARKER = "incremental_source"


def last_consumed_snapshot(table: IceTable) -> str | None:
    """The pages snapshot id this output table has fully consumed."""
    return table.watermark(MARKER)


def run_incremental(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    lang: str = "ru",
    n_parts: int = 32,
    target_files: int | None = None,
    min_link_score: float = 0.5,
) -> dict:
    """One incremental ingestion run. Returns a counters dict; a no-op
    run (no new pages for any output table) reports ``pages: 0`` and
    ``stages: []``.

    ``run_pipeline`` runs over the increment once per DISTINCT
    high-water mark among the output tables (normally once — the marks
    only diverge if a previous run crashed between two appends).

    No counter re-scans its data: ``pages`` is run_pipeline's
    ``documents``, observed while its extracted stage was written, and
    each output table's count is the ``added_records`` of the snapshot
    its append (or create) committed. ``stages`` lists the StageMetrics
    of every run_pipeline call, as jobs/run_pipeline.py prints them."""
    pages_t = IceTable(pages_path)
    to_sid = pages_t.current_snapshot_id()
    out_paths = {
        name: os.path.join(out_root, name)
        for name in ("phrases", "triples", "links")
    }
    froms = {
        name: last_consumed_snapshot(IceTable(path))
        for name, path in out_paths.items()
    }
    counters: dict = {
        "pages_snapshot": to_sid,
        "pages": 0,
        "phrases": 0,
        "triples": 0,
        "links": 0,
        "tables_caught_up": [],
        "stages": [],
    }
    for from_sid in sorted(
        {f for f in froms.values() if f != to_sid}, key=str
    ):
        behind = [n for n, f in froms.items() if f == from_sid]
        if from_sid is None:
            # bootstrap: the full table as of to_sid (scan applies any
            # equality deletes; later runs are pure appends)
            inc, _ = pages_t.scan(spark, snapshot_id=to_sid)
        else:
            # an empty increment still flows through: the append below
            # may add zero rows but MUST advance the watermark, or every
            # later run would re-extract the same range
            inc, _ = pages_t.incremental_scan(
                spark, from_snapshot=from_sid, to_snapshot=to_sid
            )
        out = run_pipeline(
            spark, inc, n_parts=n_parts, lang=lang,
            min_link_score=min_link_score,
        )
        try:
            frames = {
                "phrases": out.phrases,
                "triples": out.triples,
                "links": link_occurrences(out.phrases, out.links),
            }
            for name in behind:
                df = frames[name]
                path = out_paths[name]
                if IceTable.exists(path):
                    table = IceTable(path)
                    sid = table.append(
                        spark, df, target_files=target_files,
                        summary_extra={MARKER: to_sid},
                    )
                else:
                    table = IceTable.create(
                        spark, path, df, target_files=target_files,
                        summary_extra={MARKER: to_sid},
                    )
                    sid = table.current_snapshot_id()
                counters[name] += table.snapshot(sid)["summary"]["added_records"]
                counters["tables_caught_up"].append(name)
            counters["pages"] += out.counts["documents"]
            counters["stages"] += [m.__dict__ for m in out.metrics]
        finally:
            out.cleanup()
    return counters
