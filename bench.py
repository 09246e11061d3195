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

    from ner_app_spark.operators import dedup, similarity

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
        # the PRODUCTION near-dup shape (Jaccard verify on LSH candidates
        # only); the quadratic all-pairs jaccard_pairs stays registry-only
        # as the declared exactness oracle (round-2 VERDICT #8)
        "near_dup_verified_1k": lambda s, _: dedup.near_dup_verified(
            _docs_1k(s), min_jaccard=0.3
        ),
        "simhash": QUERIES["simhash"],
        "ann_cosine_topk": QUERIES["ann_cosine_topk"],
        "embedding_near_dup": QUERIES["embedding_near_dup"],
        # raw operator, not the registry wrapper: the queries() entry now
        # embeds a recall-vs-bruteforce self-check (driver correctness
        # machinery), which would double-count the exact path here
        "lsh_bucket_topk": lambda s, _: similarity.lsh_bucket_topk(
            s.read.parquet(f"{SF_DIR}/embeddings.parquet"), k=5
        ),
        "similar_docs_topk": QUERIES["similar_docs_topk"],
        "pricing_summary": QUERIES["pricing_summary"],
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

    # graph-analytics + curation rows (late round 4): reported as
    # EXTRAS, outside the headline total, so the total stays
    # line-for-line comparable with BASELINE.md's 16-line series. Raw
    # operators, not the (memoized) registry wrappers, so every trial
    # re-runs the full job (including k-means training).
    from ner_app_spark.operators import graphalgo, similarity, webgraph
    from ner_app_spark.operators.sampling import hash_split
    from ner_app_spark.sources.pages import synth_pages_df as _spdf

    def _synth_pages(s):
        return _spdf(s, n_pages)

    def _bench_hash_split(s, _):
        return hash_split(s.read.parquet(f"{SF_DIR}/documents.parquet"))

    def _bench_kmeans(s, _):
        return similarity.kmeans_clusters(
            s.read.parquet(f"{SF_DIR}/embeddings.parquet")
        )

    def _bench_fetch_log(s):
        from pyspark.sql import functions as F

        from ner_app_spark.operators import fetchlog

        pages = _synth_pages(s).select("url", "warc_ts", "text")
        pn = F.regexp_extract("url", "page/([0-9]+)", 1).cast("int")
        re1 = pages.filter(pn % 7 == 0).select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            F.concat("text", F.lit(" (rev2)")).alias("text"),
        )
        re2 = pages.filter(pn % 21 == 0).select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 2 DAY")).alias("warc_ts"),
            F.concat("text", F.lit(" (rev3)")).alias("text"),
        )
        return fetchlog.latest_fetches(pages.unionByName(re1).unionByName(re2))

    def _bench_stratified(s):
        from ner_app_spark.operators.sampling import stratified_sample

        return stratified_sample(
            _synth_pages(s).select("url", "lang"), {"ru": 0.25}
        )

    extras_fns: dict[str, object] = {
        "dup_clusters_1k": lambda s, _: graphalgo.dup_clusters(
            _docs_1k(s), min_jaccard=0.3
        ),
        "entity_pagerank": lambda s, _: graphalgo.pagerank(
            graphalgo.cooccurrence_edges(
                s.read.parquet(f"{SF_DIR}/documents.parquet")
            ),
            iters=6,
        ),
        "triangle_count": lambda s, _: graphalgo.triangle_counts(
            graphalgo.cooccurrence_edges(
                s.read.parquet(f"{SF_DIR}/documents.parquet")
            )
        ),
        "hash_split": _bench_hash_split,
        "kmeans_clusters": _bench_kmeans,
        # round-5 curation rows (lazy registry wrappers, re-planned per
        # trial): 13-gram benchmark decontamination against the broadcast
        # eval dim; email/phone/IPv4 PII lanes + redaction length
        "decontaminate": QUERIES["decontaminate"],
        "pii_scan": QUERIES["pii_scan"],
        # host-level web link graph over the same page count as
        # kg_pipeline: codegen href/host extraction + weighted edge agg,
        # then 6 directed fixed-point PageRank iterations over the hosts
        "host_link_edges": lambda s, _: webgraph.host_edges(_synth_pages(s)),
        "host_pagerank": lambda s, _: webgraph.host_pagerank(
            _synth_pages(s), iters=6
        ),
        # crawl-side URL canonicalization over the noised registry fixture
        "url_normalize": QUERIES["url_normalize"],
        # anchor-text alias mining (salted distinct-linker counts) and
        # the endorsement-gated web alias dictionary built from it
        "anchor_aliases": lambda s, _: webgraph.anchor_aliases(_synth_pages(s)),
        "anchor_alias_dim": lambda s, _: webgraph.anchor_alias_dim(
            _synth_pages(s)
        ),
        # domain-level curation rollup: per-host quality/volume stats
        # (fixed-point mean quality) over the extracted pages
        "host_quality": lambda s, _: webgraph.host_quality(_synth_pages(s)),
        # crawl-compliance lane: noindex/nofollow flags, one codegen
        # regex over the page scan (measures ~the scan itself)
        "robots_gate": lambda s, _: webgraph.robots_directives(_synth_pages(s)),
        # the domain decision table: quality rollup ⋈ PageRank prior
        "domain_table": lambda s, _: webgraph.domain_table(_synth_pages(s), iters=6),
        # CDX-style fetch-log rollup over the same page count, with the
        # registry row's deterministic re-fetch derivation (pn%7/pn%21)
        "fetch_log_latest": lambda s, _: _bench_fetch_log(s),
        # frontier scheduling: canonicalized anti-join + salted distinct
        # referrers + broadcast PageRank prior
        "crawl_frontier": lambda s, _: webgraph.crawl_frontier(
            _synth_pages(s), iters=6
        ),
        # deterministic TransE negatives over the pipeline's triples
        # (registry wrapper: extract -> triples -> bucketed slot draw)
        "kg_negative_samples": QUERIES["kg_negative_samples"],
        # politeness wave schedule over the frontier (host-partitioned
        # ranking on top of the crawl_frontier plan)
        "frontier_waves": lambda s, _: webgraph.frontier_waves(
            webgraph.crawl_frontier(_synth_pages(s), iters=6), per_wave=2
        ),
        # per-language training-mix rebalancer (filter-only projection)
        "stratified_sample": lambda s, _: _bench_stratified(s),
        # corpus-level triple confidence (salted distinct-host evidence)
        "triple_support": QUERIES["triple_support"],
        # KG schema induction: per-pred cardinalities + PARIS
        # functionality, all rolled up from the (pred,subj,obj) pre-agg
        "predicate_stats": QUERIES["predicate_stats"],
        # temporal KG: first/last crawl observation per assertion
        # (url-keyed warc_ts join riding the extract partitioning)
        "triple_intervals": QUERIES["triple_intervals"],
        # substring-level dedup signal (Lee et al.) over sf documents
        "dup_span_fraction": QUERIES["dup_span_fraction"],
        # EL ambiguity prior: dim-side entity fan-out x salted corpus
        # exposure, semi-filtered to the alias set before the broadcast
        "alias_ambiguity": QUERIES["alias_ambiguity"],
        # concat-and-chunk packing offsets: bucket-sharded cumsum + div
        "pack_chunks": QUERIES["pack_chunks"],
        # leak-free transductive link-prediction split: provisional
        # md5 bucket + one-pass anchor repair over the train dims
        "kg_edge_split": QUERIES["kg_edge_split"],
        # disambiguation training rows: ±5-token contexts, zero-shuffle
        # (tokenize + posexplode + broadcast dims + array slices)
        "mention_contexts": QUERIES["mention_contexts"],
        # int64 id mint + encoded edge list (bucket-sharded row_number)
        "kg_encoded_triples": QUERIES["kg_encoded_triples"],
        # snapshot-growth id continuation (two-snapshot mint)
        "kg_extend_ids": QUERIES["kg_extend_ids"],
        # KG constraint audit: induced-functional predicates' violating
        # (pred, subj) groups over the distinct-pair table
        "functional_violations": QUERIES["functional_violations"],
        # deterministic sync LPA (4 rounds) over the co-occurrence graph
        "lpa_communities": QUERIES["lpa_communities"],
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
