"""Incremental KG construction over a growing pages snapshot table.

A production crawl corpus grows by appends (one snapshot per crawl dump).
Re-running the full pipeline per dump rescans 10^12 rows to process the
newest 10^9 — this plan instead consumes ONLY the pages appended since
the last run, using ``IceTable.incremental_scan``:

    pages table (icelite) --incremental_scan--> extract (mapInPandas)
        --> append to `phrases` table   [watermark: consumed pages snapshot]
        --> append to `triples` table   [watermark: consumed pages snapshot]

Exactly-once, the same device as the streaming sink (streaming/icesink.py):
each output append stamps the consumed pages-table snapshot id as an
icelite watermark (``summary_extra``) into its OWN atomic snapshot
commit. A crash anywhere — before either append, between the two
appends — leaves each output table with a truthful high-water mark; the
next run reads each table's watermark and catches it up independently.
No offsets live outside the tables.

Only the DOC-LOCAL stages are incremental: extract → phrases → triples
(each page's rows depend on that page alone) and per-occurrence entity
linking (a mention's link is a deterministic function of the mention and
the static broadcast alias dim, so per-doc occurrence rows compose over
appends too). The genuinely global stages (connected-components
canonicalization, nodes/edges) read the WHOLE accumulated tables — that
is the periodic publish job (jobs/run_pipeline.py --publish), which at
scale runs at a lower cadence than ingestion.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import (
    EXTRACTED_SCHEMA,
    extract_phrases_and_triples,
    extracted_text,
    fused_phrases,
    fused_triples,
)
from ..operators.linking import link_mentions, link_occurrences
from ..sources.pages import alias_dict_df
from ..tables.icelite import IceTable

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
    run (no new pages for any output table) reports ``pages: 0``.

    The fused extract is the expensive stage; it runs once per DISTINCT
    high-water mark among the output tables (normally once — the marks
    only diverge if a previous run crashed between its two appends).

    No counter re-scans its data: ``pages`` is observed on the spill
    write of the increment's extracted text, and each output table's
    count is the ``added_records`` of the snapshot its append (or
    create) committed."""
    from ..session import scratch_base

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
        scratch = tempfile.mkdtemp(prefix="ner_inc_", dir=scratch_base())
        try:
            # pages are observed on a write of their own (a fresh
            # Observation per high-water mark): below the analysis
            # shuffle, adaptive execution drops the observed subtree
            # when no page passes the lang filter, and the count is lost
            seen = Observation("incremental.pages")
            path = os.path.join(scratch, "extracted")
            extracted_text(inc).observe(
                seen, F.count(F.lit(1)).alias("pages")
            ).write.mode("overwrite").parquet(path)
            fused = extract_phrases_and_triples(
                spark.read.schema(EXTRACTED_SCHEMA).parquet(path),
                lang=lang,
                num_partitions=n_parts,
                text_col="extracted",
            )
            # both output appends consume `fused`; spill it once instead
            # of running the mapInPandas extract twice (plans/pipeline.py
            # shape)
            path = os.path.join(scratch, "fused")
            fused.write.mode("overwrite").parquet(path)
            fused = spark.read.parquet(path)
            phrases = fused_phrases(fused)
            frames = {
                "phrases": phrases,
                "triples": fused_triples(fused),
                # per-doc occurrences compose over appends: the per-
                # mention link is deterministic against the static
                # broadcast alias dim, and scoring runs over only the
                # increment's DISTINCT mentions
                "links": link_occurrences(
                    phrases,
                    link_mentions(
                        phrases, alias_dict_df(spark),
                        min_score=min_link_score,
                    ),
                ),
            }
            n_pages = seen.get["pages"]
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
            counters["pages"] += n_pages
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    return counters
