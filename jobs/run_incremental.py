#!/usr/bin/env python
"""Incremental ingestion entrypoint: consume pages appended to a growing
snapshot table since the last run, append phrases/triples/links
increments.

    cd /root/repo && zip -qr /tmp/ner_app_spark.zip ner_app_spark
    spark-submit --master local[32] --py-files /tmp/ner_app_spark.zip \
        jobs/run_incremental.py --pages-table /data/pages \
        --output /data/kg

Idempotent under crash/re-run: each output table records the pages
snapshot it has consumed in its own atomic commit (plans/incremental.py);
re-invocation processes only what is missing, per table. Entity
linking is per mention occurrence, so it runs incrementally too; the
global stages (canonicalization, nodes/edges) come from
jobs/run_pipeline.py --publish, which re-extracts from the pages. The
JSON output lists the staged ``stages`` of every increment, in the shape
jobs/run_pipeline.py prints them.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-table", required=True,
                    help="icelite snapshot table of pages")
    ap.add_argument("--output", required=True,
                    help="root for the phrases/, triples/ and links/ output "
                    "tables")
    ap.add_argument("--parts", type=int, default=32)
    ap.add_argument("--lang", default="ru")
    ap.add_argument("--target-files", type=int, default=None)
    ap.add_argument("--min-link-score", type=float, default=0.5)
    args = ap.parse_args()

    from ner_app_spark.plans.incremental import run_incremental
    from ner_app_spark.session import get_session

    spark = get_session(app_name="kg-incremental")
    t0 = time.monotonic()
    counters = run_incremental(
        spark,
        pages_path=args.pages_table,
        out_root=args.output,
        lang=args.lang,
        n_parts=args.parts,
        target_files=args.target_files,
        min_link_score=args.min_link_score,
    )
    counters["wall_sec"] = round(time.monotonic() - t0, 3)
    print(json.dumps(counters))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
