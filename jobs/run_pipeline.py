#!/usr/bin/env python
"""Production launch entrypoint (BASELINE.json: `spark-submit --py-files`).

    cd /root/repo && zip -qr /tmp/ner_app_spark.zip ner_app_spark
    spark-submit --master local[32] --py-files /tmp/ner_app_spark.zip \
        jobs/run_pipeline.py --pages 2000 --workdir /tmp/kg_ckpt \
        --output /tmp/kg_out

On a real cluster the same invocation takes `--master yarn|k8s://...` and
`--input <parquet/iceberg path>` instead of the synthetic `--pages`; the
pipeline plan is identical. A killed run re-invoked with the same
`--workdir` resumes from the per-partition checkpoint manifest with zero
recomputation of completed parts (plans/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table path (parquet/iceberg)")
    ap.add_argument("--input-warc", help="read pages from WARC file(s) or a "
                    "directory of segments (Common Crawl layout; "
                    "sources/warc.py — one task per segment file)")
    ap.add_argument("--pages", type=int, default=2000,
                    help="synthesize N deterministic pages instead of --input")
    ap.add_argument("--workdir", help="checkpoint root (enables resume)")
    ap.add_argument("--output", help="write nodes/edges/triples/links here")
    ap.add_argument("--publish", help="publish nodes/edges/triples as "
                    "snapshot tables (icelite) under this root — each run "
                    "is a new time-travelable snapshot")
    ap.add_argument("--parts", type=int, default=32)
    ap.add_argument("--lang", default="ru")
    ap.add_argument("--min-link-score", type=float, default=0.5)
    ap.add_argument("--web-aliases", action="store_true",
                    help="union the web-mined anchor-text alias dictionary "
                    "(webgraph.anchor_alias_dim over the same pages scan) "
                    "into the linking dictionary")
    ap.add_argument("--dedup-fetch-log", action="store_true",
                    help="treat the input as a raw multi-snapshot fetch "
                    "log and keep only the LATEST full row per url "
                    "(CDX-style dedup, operators/fetchlog.dedup_fetches) "
                    "before any other stage")
    ap.add_argument("--honor-robots", action="store_true",
                    help="crawl compliance: drop pages carrying a "
                    "noindex robots meta before extraction "
                    "(webgraph.indexable_pages — a map-local predicate "
                    "on the page scan, no shuffle)")
    ap.add_argument("--min-host-quality", type=int,
                    help="domain block-list gate: drop every page from "
                    "hosts whose mean quality (integer micros, "
                    "webgraph.host_quality) is below this threshold before "
                    "extraction; the host dim is host-sized and broadcast "
                    "semi-joined to the page scan. At production scale the "
                    "dim comes from the previous crawl snapshot — here it "
                    "is computed from the same input")
    ap.add_argument("--contexts", action="store_true",
                    help="also emit the disambiguation-training context "
                    "table (linking.mention_contexts: one row per mention "
                    "occurrence x candidate entity with ±5-token context, "
                    "mined from the boilerplate-stripped extracted surface "
                    "with the linking stage's dictionary; zero-shuffle "
                    "scan) to <output>/contexts")
    ap.add_argument("--edge-split", action="store_true",
                    help="also emit the leak-free transductive "
                    "train/val/test link-prediction split over the "
                    "emitted triples (sampling.edge_split) to "
                    "<output>/edge_split and report per-split counts")
    args = ap.parse_args()

    from ner_app_spark.plans.pipeline import (
        pipeline_counters,
        run_pipeline,
        write_outputs,
    )
    from ner_app_spark.session import get_session
    from ner_app_spark.sources.pages import read_pages, synth_pages_df

    spark = get_session(app_name="kg-pipeline")
    t0 = time.monotonic()
    if args.input_warc:
        from ner_app_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input_warc)
    elif args.input:
        pages = read_pages(spark, args.input)
    else:
        pages = synth_pages_df(spark, args.pages)
    if args.dedup_fetch_log:
        # the input is a raw multi-snapshot fetch log (several fetches
        # per url across crawl snapshots): keep only the LATEST full row
        # per url before any downstream stage sees the corpus — one
        # url-hash partial-agg shuffle (operators/fetchlog.dedup_fetches)
        from ner_app_spark.operators import fetchlog

        pages = fetchlog.dedup_fetches(pages)
    if args.honor_robots:
        from ner_app_spark.operators import webgraph

        pages = webgraph.indexable_pages(pages)
    host_gate = None
    if args.min_host_quality is not None:
        from pyspark.sql import functions as F

        from ner_app_spark.operators import webgraph

        hq = webgraph.host_quality(pages)
        keep = F.col("mean_quality_micros") >= args.min_host_quality
        # one action for both counts: each action re-runs host_quality
        # over the whole pages scan
        host_gate = hq.agg(
            F.count(F.lit(1)).alias("hosts_total"),
            F.count_if(keep).alias("hosts_allowed"),
        ).first().asDict()
        allowed = hq.filter(keep).select("host")
        pages = pages.join(
            F.broadcast(allowed),
            F.regexp_extract("url", webgraph.HOST_RE, 1) == F.col("host"),
            "left_semi",
        )
    out = run_pipeline(
        spark,
        pages,
        workdir=args.workdir,
        n_parts=args.parts,
        lang=args.lang,
        min_link_score=args.min_link_score,
        web_aliases=args.web_aliases,
    )
    # the scratch dir holds every staged frame: remove it on failure
    # too (a failed --output or --publish would otherwise leak it)
    try:
        counters = pipeline_counters(out)
        if args.output:
            write_outputs(out, args.output)
        n_contexts = None
        if args.contexts:
            from ner_app_spark.operators.linking import mention_contexts
            from ner_app_spark.sources.pages import morphology_df

            # mine the boilerplate-stripped surface the extraction/linking
            # stages saw (never the raw html), with the SAME dictionary the
            # linking stage probed (out.aliases — includes --web-aliases)
            ctx = mention_contexts(
                out.extracted,
                out.aliases,
                morphology_df(spark),
                lang=args.lang,
                text_col="extracted",
            )
            if args.output:
                ctx.write.mode("overwrite").parquet(f"{args.output}/contexts")
                ctx = spark.read.parquet(f"{args.output}/contexts")
            n_contexts = ctx.count()
        split_counts = None
        if args.edge_split:
            from ner_app_spark.operators.sampling import edge_split

            split = edge_split(out.triples.select("subj", "pred", "obj"))
            if args.output:
                split.write.mode("overwrite").parquet(f"{args.output}/edge_split")
                split = spark.read.parquet(f"{args.output}/edge_split")
            split_counts = {
                r["split"]: r["count"]
                for r in split.groupBy("split").count().collect()
            }
        snapshots = None
        if args.publish:
            from ner_app_spark.tables.icelite import publish_pipeline_tables

            tables = publish_pipeline_tables(spark, out, args.publish)
            snapshots = {
                name: t.current_snapshot_id() for name, t in tables.items()
            }
        wall = round(time.monotonic() - t0, 3)
        print(json.dumps({
            "wall_sec": wall,
            **({"snapshots": snapshots} if snapshots else {}),
            **({"host_gate": host_gate} if host_gate else {}),
            **({"edge_split": split_counts} if split_counts is not None else {}),
            **({"contexts": n_contexts} if n_contexts is not None else {}),
            "docs_per_sec": round(counters["documents"] / wall, 2),
            "triples_per_sec": round(counters["triples"] / wall, 2),
            **counters,
            "stages": [m.__dict__ for m in out.metrics],
        }))
    finally:
        out.cleanup()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
