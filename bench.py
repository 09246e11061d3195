#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
``SF_DIR`` below, an sf0.1 dataset) on local[session.cpu_count()] and
prints ONE JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.
The ``kg_pipeline`` line times the production batch job:
run_pipeline -> pipeline_counters -> cleanup.

--scaling mode: runs the same KG job at two parallelism levels,
local[max(1, c // 4)] and local[c] with c = session.cpu_count(), in fresh
JVMs on the SAME input, and reports throughput at both plus scaling
efficiency = (T_lo / T_hi) / (hi / lo); see BENCH.md.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

from ner_app_spark.session import cpu_count

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = cpu_count()
PAGES_PER_SF = 20_000  # sf0.1 -> 2000 synthetic pages for the KG job


def _sf() -> float:
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    return float(m.group(1)) if m else 0.1


def _force(df) -> int:
    """Materialize fully without collecting (noop sink)."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def kg_job(spark, n_pages: int, n_parts: int) -> dict:
    """The production KG job over ``n_pages`` synthetic pages, without
    publishing the graph tables (write_outputs): run_pipeline ->
    pipeline_counters -> cleanup. Returns pipeline_counters' counts."""
    from ner_app_spark.plans.pipeline import pipeline_counters, run_pipeline
    from ner_app_spark.sources.pages import synth_pages_df

    out = run_pipeline(spark, synth_pages_df(spark, n_pages), n_parts=n_parts)
    try:
        return pipeline_counters(out)
    finally:
        out.cleanup()


#: min-of-N per headline line: this host is a shared VM with bursty
#: neighbor load (identical runs vary up to 4x within minutes); the min
#: estimates machine capability instead of neighbor noise. 2 trials
#: roughly doubles bench wall (~2 min at sf0.1) — override with
#: SPARK_GRAFT_BENCH_TRIALS=1 for a quick single pass.
BENCH_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))

#: registry rows timed as extras (outside the headline total)
EXTRA_ROWS = (
    "entity_pagerank", "triangle_count", "hash_split", "kmeans_clusters",
    "decontaminate", "pii_scan", "host_link_edges", "host_pagerank",
    "url_normalize", "anchor_aliases", "anchor_alias_dim", "host_quality",
    "robots_gate", "domain_table", "fetch_log_latest", "crawl_frontier",
    "kg_negative_samples", "frontier_waves", "stratified_sample",
    "triple_support", "predicate_stats", "triple_intervals",
    "dup_span_fraction", "alias_ambiguity", "pack_chunks", "kg_edge_split",
    "mention_contexts", "kg_encoded_triples", "kg_extend_ids",
    "functional_violations", "lpa_communities",
)


def run_bench() -> dict:
    from ner_app_spark.queries import QUERIES
    from ner_app_spark.session import get_session

    spark = get_session(app_name="bench", shuffle_partitions=CPUS * 2)
    sf = _sf()
    n_pages = max(200, int(PAGES_PER_SF * sf))
    timings: dict[str, float] = {}

    # untimed warmup: a ~100-page pipeline pass so trial 1 does not pay
    # Python-worker spin-up / codegen classloading (round-2 VERDICT #3 —
    # the driver's first trial was timing cold workers, not the job)
    kg_job(spark, 100, CPUS * 2)
    # the flagship gets 3 trials (min-of-3) unless quick mode (TRIALS=1)
    kg_trials = int(
        os.environ.get("SPARK_GRAFT_KG_TRIALS", "3" if BENCH_TRIALS > 1 else "1")
    )
    kg_walls = []
    for _ in range(kg_trials):
        t0 = time.monotonic()
        counts = kg_job(spark, n_pages, CPUS * 2)
        kg_walls.append(round(time.monotonic() - t0, 3))
    timings["kg_pipeline"] = min(kg_walls)

    from pyspark.sql import functions as F

    from ner_app_spark.operators import dedup, graphalgo, similarity

    def _docs_1k(s):
        # the synthetic word-salad corpus is degenerately self-similar
        # (every doc shares most of a ~60-word vocabulary), so all-pairs
        # doc-similarity queries are inherently quadratic on it; the
        # pair-family headline entries run on a transparent 1000-doc cap
        # (labeled *_1k) instead of silently timing a pathological input
        return (
            s.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") < 1000)
        )

    headline: dict[str, object] = {
        "tfidf_single_doc": QUERIES["tfidf_single_doc"],
        "topk_terms": QUERIES["topk_terms"],
        "doc_freq_idf": QUERIES["doc_freq_idf"],
        "minhash_lsh_pairs_1k": lambda s, _: dedup.minhash_lsh_candidates(_docs_1k(s)),
        # the PRODUCTION near-dup shape: Jaccard verify on LSH candidates only
        "near_dup_verified_1k": lambda s, _: dedup.near_dup_verified(
            _docs_1k(s), min_jaccard=0.3
        ),
        "ann_cosine_topk": QUERIES["ann_cosine_topk"],
        "embedding_near_dup": QUERIES["embedding_near_dup"],
        # raw operator, not the registry wrapper: the queries() entry now
        # embeds a recall-vs-bruteforce self-check (driver correctness
        # machinery), which would double-count the exact path here
        "lsh_bucket_topk": lambda s, _: similarity.lsh_bucket_topk(
            s.read.parquet(f"{SF_DIR}/embeddings.parquet"), k=5
        ),
        "similar_docs_topk": QUERIES["similar_docs_topk"],
        "join_remap": QUERIES["join_remap"],
        "topk_per_group": QUERIES["topk_per_group"],
        "quality_score": QUERIES["quality_score"],
        "lang_id": QUERIES["lang_id"],
    }
    for name, fn in headline.items():
        walls = []
        for _ in range(BENCH_TRIALS):
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            walls.append(round(time.monotonic() - t0, 3))
        timings[name] = min(walls)

    # graph-analytics, curation, web and KG rows: reported as EXTRAS,
    # outside the headline total. Each is its registry row at the
    # registry's sizes (the web and KG rows read 400 synthetic pages at
    # sf0.1), unwrapped past the _eager_once memo so every trial re-runs
    # the job; dup_clusters stays on the 1000-doc cap of the _1k lines.
    extras_fns: dict[str, object] = {
        "dup_clusters_1k": lambda s, _: graphalgo.dup_clusters(
            _docs_1k(s), min_jaccard=0.3
        ),
        **{n: getattr(QUERIES[n], "__wrapped__", QUERIES[n]) for n in EXTRA_ROWS},
    }
    extras: dict[str, float] = {}
    for name, fn in extras_fns.items():
        walls = []
        for _ in range(BENCH_TRIALS):
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            walls.append(round(time.monotonic() - t0, 3))
        extras[name] = min(walls)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "total_headline_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "trials": BENCH_TRIALS,
        "kg_counts": counts,
        "kg_docs_per_sec": round(counts["documents"] / timings["kg_pipeline"], 2),
        "kg_triples_per_sec": round(counts["triples"] / timings["kg_pipeline"], 2),
        "extra_queries": extras,
        "cpus": CPUS,
    }
    spark.stop()
    return result


def run_scaling_child(cores: int, n_pages: int, stage: str = "all") -> dict:
    """One fresh-JVM measurement at local[cores]. stage='all' = the KG
    job (kg_job); stage='extract' = the fused mapInPandas extract stage
    only (phrases and triples), the compute-dominant fraction."""
    from ner_app_spark.operators.extract import (
        extract_phrases_and_triples,
        fused_phrases,
    )
    from ner_app_spark.session import get_session
    from ner_app_spark.sources.pages import synth_pages_df

    spark = get_session(
        app_name=f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores * 2,
    )
    # Untimed warmup (same methodology as the headline bench): a 200-page
    # pass of the identical job shape absorbs the one-time per-JVM costs
    # — Python-worker spin-up, codegen/JIT compile, broadcast machinery.
    if stage == "extract":
        extract_phrases_and_triples(
            synth_pages_df(spark, 200), num_partitions=cores
        ).count()
    else:
        kg_job(spark, 200, cores)
    t0 = time.monotonic()
    if stage == "extract":
        n_phrases = fused_phrases(
            extract_phrases_and_triples(
                synth_pages_df(spark, n_pages), num_partitions=cores * 2
            )
        ).count()
        counts: dict = {"documents": n_pages, "phrases": n_phrases}
    else:
        counts = kg_job(spark, n_pages, cores * 2)
    wall = time.monotonic() - t0
    spark.stop()
    return {"cores": cores, "wall_sec": round(wall, 3), **counts}


def run_scaling() -> dict:
    """Same job, same input, local[lo] vs local[hi] with
    (lo, hi) = (max(1, c // 4), c), c = session.cpu_count();
    efficiency = (T_lo / T_hi) / (hi / lo).

    Two methodology notes (both reported in the output):
      * The scaling input is larger than the headline-bench input
        (SPARK_GRAFT_SCALING_PAGES, default 400k*sf pages): the gate
        measures how COMPUTE scales, so the job must be compute-dominated
        — at the headline size, fixed costs (session, Python worker
        spin-up, per-stage scheduling) dominate and no parallelism level
        can show speedup (Amdahl).
      * Each level runs `trials` times and the MINIMUM wall is used:
        min-of-N estimates machine capability rather than neighbor noise.
    """
    sf = _sf()
    n_pages = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", max(2000, int(400_000 * sf))))
    trials = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "2"))
    lo, hi = max(1, CPUS // 4), CPUS

    def measure(stage: str, pages: int) -> dict[int, dict]:
        # Levels INTERLEAVED within each trial round (lo, hi, lo, hi...),
        # not blocked per level: a neighbor burst that spans one level's
        # whole block corrupts both its trials and min-of-N cannot recover
        # the comparison; interleaved, a burst hits one trial of EACH
        # level and the min at both levels comes from the same quiet window.
        runs: dict[int, list] = {lo: [], hi: []}
        for _ in range(trials):
            for cores in (lo, hi):
                out = subprocess.run(
                    [
                        sys.executable, __file__, "--scaling-child",
                        str(cores), str(pages), stage,
                    ],
                    capture_output=True,
                    text=True,
                    timeout=3600,
                )
                line = out.stdout.strip().splitlines()[-1]
                runs[cores].append(json.loads(line))
        results: dict[int, dict] = {}
        for cores, rs in runs.items():
            best = min(rs, key=lambda r: r["wall_sec"])
            results[cores] = {**best, "all_trials_sec": [r["wall_sec"] for r in rs]}
        return results

    results = measure("all", n_pages)
    extract = measure("extract", n_pages)
    t_lo, t_hi = results[lo]["wall_sec"], results[hi]["wall_sec"]
    e_lo, e_hi = extract[lo]["wall_sec"], extract[hi]["wall_sec"]
    return {
        "metric": "scaling_efficiency",
        "value": round((t_lo / t_hi) / (hi / lo), 4),
        "extract_only_efficiency": round((e_lo / e_hi) / (hi / lo), 4),
        "unit": "efficiency",
        "levels": [lo, hi],
        "sf": sf,
        "scaling_pages": n_pages,
        "trials": trials,
        "method": (
            "min-of-N wall per level, levels interleaved; full KG job "
            "(run_pipeline -> pipeline_counters) + extract-only"
        ),
        "runs": results,
        "extract_runs": extract,
        "docs_per_sec": {
            str(lo): round(n_pages / t_lo, 2), str(hi): round(n_pages / t_hi, 2)
        },
        "extract_docs_per_sec": {
            str(lo): round(n_pages / e_lo, 2), str(hi): round(n_pages / e_hi, 2)
        },
    }


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-child":
        stage = sys.argv[4] if len(sys.argv) > 4 else "all"
        print(json.dumps(run_scaling_child(int(sys.argv[2]), int(sys.argv[3]), stage)))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_bench()))
