"""The end-to-end KG construction pipeline (SURVEY.md §3.1 Spark
lifecycle):

    pages -> extract_text -> phrases + triples + nodes/edges (one
          per-doc mapInPandas pass) -> entity links
          [-> canonical ids, computed when first read]

Every output is computed once: each stage is written once and read
back, and the counters that mirror the reference's stats dict
(phrase_extractor.py:67-71) are observed while those writes run. Nodes
and edges are keyed by their page, so the analysis pass mints them and
they are narrow projections of its stage: no shuffle, no stage of their
own. The two heavy stages optionally checkpoint per-partition (resume
with zero recomputation of completed parts).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.components import canonicalize
from ..operators.extract import (
    extract_phrases_and_triples,
    extracted_text,
    fused_edges,
    fused_nodes,
    fused_phrases,
    fused_triples,
)
from ..operators.linking import link_mentions
from ..sources.pages import alias_dict_df
from .checkpoint import CheckpointManager, StageMetrics


@dataclass
class PipelineOutput:
    extracted: DataFrame
    phrases: DataFrame
    triples: DataFrame
    links: DataFrame
    #: canonical entity ids (operators.components.canonicalize over the
    #: links), computed on the first read and then reused; given as a
    #: frame or as a zero-argument function that builds it
    canon: DataFrame = field(repr=False, compare=False)
    nodes: DataFrame
    edges: DataFrame
    #: the resolved candidate-generation dictionary (curated dim, plus
    #: the web-mined anchor dim when web_aliases) — exposed so job-level
    #: consumers (e.g. --contexts) reuse the SAME dictionary the linking
    #: stage probed instead of re-deriving it
    aliases: DataFrame
    metrics: list[StageMetrics] = field(default_factory=list)
    #: scratch parquet dir backing the staged frames above (every stage
    #: without a workdir; links with one, whose workdir keeps only the
    #: resumable stages); call cleanup() only once you are done with
    #: them (canon included).
    scratch: str | None = None
    #: pipeline_counters' values, observed while the stages were written;
    #: a counter missing here is counted by an action
    counts: dict = field(default_factory=dict)

    def cleanup(self) -> None:
        if self.scratch:
            shutil.rmtree(self.scratch, ignore_errors=True)
            self.scratch = None


def _read_canon(out: PipelineOutput) -> DataFrame:
    if not isinstance(out._canon, DataFrame):
        out._canon = out._canon()
    return out._canon


def _write_canon(out: PipelineOutput, canon) -> None:
    out._canon = canon


# set after @dataclass, which would otherwise take the property for the
# field's default; the generated __init__ assigns through the setter
PipelineOutput.canon = property(_read_canon, _write_canon)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str | None = None,
    n_parts: int = 32,
    lang: str = "ru",
    min_link_score: float = 0.5,
    web_aliases: bool = False,
) -> PipelineOutput:
    """Run the full pipeline. Every stage is written ONCE and read back,
    so its consumers (canonicalize, the counters, the writes of
    write_outputs, --contexts/--edge-split/--publish) never re-run its
    lineage — a lazy frame would re-execute the mapInPandas extract or
    the linking stage once per consumer.

    Three stages: extracted, analysis and links. The extracted and
    analysis stages land in a scratch parquet table, or with ``workdir``
    set checkpoint per-partition and resume; links always land in
    scratch. Nodes and edges are narrow projections of the analysis
    stage (fused_nodes / fused_edges: the analysis pass marks them per
    url), equal to mint_nodes / mint_edges over its phrases and triples.
    ``canon`` is computed on its first read, from the staged links (and
    with a workdir through its ``cc`` checkpoint dir), so this function
    launches no connected-components job. Parquet, not ``.cache()``,
    deliberately — the deserialized cache write is DRAM-bandwidth-bound
    and anti-scales with cores, while the parquet encode is CPU-bound
    and scales (measured, BENCH.md §5); it is also the north-star shape
    (stages land in tables).

    The counters are observed on those writes (``DataFrame.observe``;
    nodes and edges on the analysis write), except on a checkpointed
    stage: a resumed run skips completed parts, so its write sees only
    some rows and one agg over the stage's data counts it instead. Each
    stage labels its Spark jobs ``pipeline.<stage>`` and appends a
    StageMetrics (rows, wall). The caller owns
    ``PipelineOutput.cleanup()``."""
    import tempfile

    from ..session import scratch_base

    ckpt = CheckpointManager(workdir, n_parts=n_parts) if workdir else None
    sc = spark.sparkContext
    metrics: list[StageMetrics] = []
    scratch = tempfile.mkdtemp(prefix="ner_kg_", dir=scratch_base())

    def stage(
        name: str, df: DataFrame, key: str | None = None, **extra: Column
    ) -> DataFrame:
        """``df`` written once and read back. Its StageMetrics counters
        hold ``rows`` plus the ``extra`` aggregates; a stage with a
        ``key`` is the resumable one when a workdir is set."""
        exprs = [F.count(F.lit(1)).alias("rows")]
        exprs += [e.alias(k) for k, e in extra.items()]
        caller = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"pipeline.{name}")
        t0 = time.monotonic()
        try:
            if ckpt is not None and key is not None:
                out, m = ckpt.run_stage(spark, name, df, key)
                m.counters = out.agg(*exprs).first().asDict()
            else:
                path = os.path.join(scratch, name)
                obs = Observation(f"pipeline.{name}")
                df.observe(obs, *exprs).write.mode("overwrite").parquet(path)
                out = spark.read.schema(df.schema).parquet(path)
                counters = obs.get
                m = StageMetrics(name, 0, 0, 0, counters["rows"], 0, counters)
        finally:
            sc.setJobDescription(caller)
        m.wall_ms = int((time.monotonic() - t0) * 1000)
        metrics.append(m)
        return out

    # mid-run failure must not leak the scratch dir (repeated failed
    # runs would exhaust /dev/shm — round-3 ADVICE #1); the success path
    # stays caller-owned via PipelineOutput.cleanup()
    try:
        extracted = stage("extracted", extracted_text(pages), key="url")
        # ONE fused mapInPandas stage emits phrases AND triples (triples
        # are per-doc local, oracle.triples_for_doc) and marks the url's
        # nodes and edges — no shuffle between them; the kg_triples
        # registry row hash-checks this same path. Observed metrics
        # reject DISTINCT, hence size(collect_set(...))
        phrase = F.col("kind") == "phrase"
        fused = stage(
            "analysis",
            extract_phrases_and_triples(
                extracted, lang=lang, num_partitions=n_parts, text_col="extracted"
            ),
            key="url",
            phrases=F.count_if(phrase),
            triples=F.count_if(F.col("kind") == "triple"),
            unique_phrase_types=F.size(
                F.collect_set(F.when(phrase, F.col("type")))
            ),
            nodes=F.count_if(F.col("node")),
            edges=F.count_if(
                F.col("subj_type").isNotNull() & F.col("obj_type").isNotNull()
            ),
        )
        phrases = fused_phrases(fused)
        triples = fused_triples(fused)

        # candidate-generation dictionary: the curated dim, optionally
        # unioned with the web-mined anchor dictionary (dst_host-keyed
        # entity ids minted disjoint above WEB_ENTITY_ID_BASE). The web
        # dim derives from the SAME pages scan the extract stage read —
        # at 10^12 pages its endorsement gate keeps it broadcast-sized
        # (webgraph.anchor_alias_dim docstring).
        aliases = alias_dict_df(spark)
        if web_aliases:
            from ..operators.webgraph import anchor_alias_dim

            aliases = aliases.unionByName(anchor_alias_dim(pages))
        links = stage(
            "links", link_mentions(phrases, aliases, min_score=min_link_score)
        )
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    by_stage = {m.stage: m.counters for m in metrics}
    analysis = by_stage["analysis"]
    counts = {
        "documents": by_stage["extracted"]["rows"],
        "phrases": analysis["phrases"],
        "unique_phrase_types": analysis["unique_phrase_types"],
        "triples": analysis["triples"],
        "links": by_stage["links"]["rows"],
        "nodes": analysis["nodes"],
        "edges": analysis["edges"],
    }
    return PipelineOutput(
        extracted=extracted,
        phrases=phrases,
        triples=triples,
        links=links,
        # checkpointed runs are reliable END-TO-END: the CC rounds inside
        # canonicalize route through the same manifest-backed checkpoint
        # (subdir keeps cc_round_* manifests apart from stage manifests)
        canon=partial(
            canonicalize,
            links.select("mention", "entity_id"),
            workdir=os.path.join(workdir, "cc") if workdir else None,
        ),
        nodes=fused_nodes(fused),
        edges=fused_edges(fused),
        aliases=aliases,
        metrics=metrics,
        scratch=scratch,
        counts=counts,
    )


def analysis_sink(phrases: DataFrame, out_dir: str) -> DataFrame:
    """S2: the reference's content-addressed analysis-JSON sink,
    distributed (/root/reference/src/services/text_service.py:8-23,
    src/routers/api.py:22-29). Per document: build the analysis payload
    {phrases: [{phrase, type, tfidf_score, length}...], total_phrases,
    unique_phrase_types}, hash it with md5(canonical_json) — byte-exact
    reference identity — and write ``analysis_{md5}.json`` ONLY if absent
    (write-iff-absent = idempotent resume). Files are written executor-
    side inside the Arrow batch pass; the returned frame carries
    (url, analysis_id, written) for auditing.

    At 100 TB the one groupBy(url) here shares the extract stage's
    url-hash partitioning (no extra shuffle after repartition); the sink
    itself is embarrassingly parallel.

    REQUIREMENT: ``out_dir`` must be a SHARED filesystem (NFS/object-store
    mount) — write-iff-absent is implemented with node-local path checks,
    which are only globally idempotent when every executor sees the same
    namespace; on a raw object store, route through a FileSystem API with
    atomic put-if-absent instead (round-2 ADVICE #4). The directory is
    created inside the executor closure so fresh worker nodes need no
    driver-side setup."""
    import json as _json
    import os

    from ..functions.jsonhash import json_hash
    per_doc = (
        phrases.groupBy("url")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("phrase", "type", "tfidf", "length"))
            ).alias("plist")
        )
    )

    def run(batches):
        import pandas as pd

        os.makedirs(out_dir, exist_ok=True)  # executor-side (shared FS)
        for pdf in batches:
            rows = {"url": [], "analysis_id": [], "written": []}
            for url, plist in zip(pdf["url"], pdf["plist"]):
                payload = {
                    "phrases": [
                        {
                            "phrase": p["phrase"],
                            "type": p["type"],
                            "tfidf_score": p["tfidf"],
                            "length": int(p["length"]),
                        }
                        for p in plist
                    ],
                    "total_phrases": len(plist),
                    "unique_phrase_types": len({p["type"] for p in plist}),
                }
                h = json_hash(payload)
                path = os.path.join(out_dir, f"analysis_{h}.json")
                wrote = False
                if not os.path.exists(path):  # write-iff-absent (S2)
                    tmp = path + ".tmp"
                    with open(tmp, "w", encoding="utf-8") as f:
                        _json.dump(payload, f, ensure_ascii=False, indent=2)
                    os.replace(tmp, path)
                    wrote = True
                rows["url"].append(url)
                rows["analysis_id"].append(h)
                rows["written"].append(wrote)
            yield pd.DataFrame(rows, columns=["url", "analysis_id", "written"])

    return per_doc.mapInPandas(
        run, schema="url string, analysis_id string, written boolean"
    )


def read_analysis(spark: SparkSession, out_dir: str, analysis_id: str) -> dict:
    """S3: analysis source — read back one content-addressed file
    (text_service.py:25-28)."""
    import json as _json

    with open(f"{out_dir}/analysis_{analysis_id}.json", encoding="utf-8") as f:
        return _json.load(f)


def write_outputs(out: PipelineOutput, target_dir: str) -> None:
    """Publish the graph tables as parquet dirs under ``target_dir``
    (production: ``writeTo(...).append()`` on an Iceberg catalog).

    The four tables are written from their frames. For a run_pipeline
    output nothing is recomputed: nodes and edges are projections of
    the staged analysis, triples and links read their stages. Then
    ``out.nodes``/``out.edges`` are re-pointed at the published dirs,
    so later readers (``--publish``) scan the written tables instead of
    recomputing them. Staged links stay in scratch because
    ``out.canon`` reads them on demand."""
    for name in ("nodes", "edges", "triples", "links"):
        getattr(out, name).write.mode("overwrite").parquet(
            os.path.join(target_dir, name)
        )
    for name in ("nodes", "edges"):
        df = getattr(out, name)
        path = os.path.join(target_dir, name)
        setattr(out, name, df.sparkSession.read.schema(df.schema).parquet(path))


def pipeline_counters(out: PipelineOutput) -> dict:
    """The job counters (A4 analog). A run_pipeline output carries them
    all, observed while its stages were written, so this launches no
    Spark job; a counter with no observation (a hand-built
    PipelineOutput) is counted by an action."""
    actions = {
        "documents": out.extracted.count,
        "phrases": out.phrases.count,
        "unique_phrase_types": out.phrases.select("type").distinct().count,
        "triples": out.triples.count,
        "links": out.links.count,
        "nodes": out.nodes.count,
        "edges": out.edges.count,
    }
    return {
        k: out.counts[k] if k in out.counts else count()
        for k, count in actions.items()
    }
