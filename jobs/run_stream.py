#!/usr/bin/env python
"""Incremental (streaming) KG launch entrypoint.

    cd /root/repo && zip -qr /tmp/ner_app_spark.zip ner_app_spark
    spark-submit --master local[32] --py-files /tmp/ner_app_spark.zip \
        jobs/run_stream.py --input /data/pages_landing \
        --table /tmp/kg_stream_triples --checkpoint /tmp/kg_stream_ckpt

Watches a parquet landing directory for arriving page files and runs the
batch job's text extraction and fused extract+triples stage per
micro-batch (streaming/icesink.py), committing each micro-batch's
triples exactly once into the snapshot (icelite) table `--table`.
`--available-now` drains what is present and exits (the cron/backfill
shape); without it the query runs continuously. A killed job relaunched
with the same `--checkpoint` resumes from the committed source offsets
— already-processed files are never reprocessed, and a replayed batch
is skipped by the table's watermark (pinned in tests/test_streaming.py).

With `--synth N` (no `--input`), N deterministic pages are staged into a
scratch landing dir as `--chunks` files first — the hermetic smoke shape.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet landing directory of pages")
    ap.add_argument("--synth", type=int, default=0,
                    help="stage N synthetic pages as the landing dir")
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument("--table", required=True,
                    help="snapshot (icelite) triples table to land in — "
                    "exactly-once via a watermark in the snapshot log")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--parts", type=int, default=8)
    ap.add_argument("--lang", default="ru")
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    ap.add_argument("--available-now", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="--available-now drains present files and exits "
                    "(default); --no-available-now watches the landing "
                    "zone continuously (use --run-for-sec to bound)")
    ap.add_argument("--run-for-sec", type=float, default=0,
                    help="with --no-available-now: stop the query after "
                    "this many seconds (0 = run until killed)")
    args = ap.parse_args()

    from ner_app_spark.session import get_session, scratch_base
    from ner_app_spark.sources.pages import synth_pages_df
    from ner_app_spark.streaming import (
        stage_chunks,
        stream_kg_triples_to_table,
        table_triples_result,
    )
    from ner_app_spark.tables.icelite import IceTable

    spark = get_session(app_name="kg-stream")
    t0 = time.monotonic()
    landing = None
    try:
        if args.input:
            input_dir = args.input
            schema = spark.read.parquet(input_dir).schema
        else:
            input_dir = landing = tempfile.mkdtemp(
                prefix="kg_stream_landing_", dir=scratch_base()
            )
            pages = synth_pages_df(spark, args.synth or 200)
            stage_chunks(pages, input_dir, "url", args.chunks)
            schema = pages.schema

        q = stream_kg_triples_to_table(
            spark,
            input_dir,
            args.table,
            args.checkpoint,
            schema=schema,
            lang=args.lang,
            num_partitions=args.parts,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=args.available_now,
        )
        if not args.available_now and args.run_for_sec > 0:
            q.awaitTermination(args.run_for_sec)
            q.stop()
        q.awaitTermination()
        n = table_triples_result(spark, args.table).count()
    finally:
        if landing:
            shutil.rmtree(landing, ignore_errors=True)
    wall = round(time.monotonic() - t0, 3)
    out = {
        "wall_sec": wall,
        "triples": n,
        "triples_per_sec": round(n / wall, 2),
        "snapshots": len(IceTable(args.table).snapshots()),
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
