"""run_pipeline computes each output once: its counters are observed
while the stages are written, and write_outputs publishes the staged
nodes/edges by moving them instead of recomputing them."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest

from ner_app_spark.operators.extract import (
    extract_phrases_and_triples,
    extracted_text,
    fused_phrases,
    fused_triples,
)
from ner_app_spark.operators.graph import mint_edges, mint_nodes
from ner_app_spark.operators.linking import link_mentions
from ner_app_spark.plans.pipeline import (
    PipelineOutput,
    pipeline_counters,
    run_pipeline,
    write_outputs,
)
from ner_app_spark.sources.pages import alias_dict_df, synth_pages_df

STAGES = ["extracted", "analysis", "links", "nodes", "edges"]


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages_df(spark, 30, num_partitions=4)


@pytest.fixture(scope="module")
def direct(spark, pages):
    """A no-workdir run_pipeline output that the tests only read."""
    out = run_pipeline(spark, pages, n_parts=4)
    yield out
    out.cleanup()


@pytest.fixture(scope="module")
def fresh(spark, pages):
    """The pipeline's outputs built lazily from the operators, with no
    staging: every action recomputes them from ``pages``."""
    extracted = extracted_text(pages)
    fused = extract_phrases_and_triples(
        extracted, num_partitions=4, text_col="extracted"
    )
    phrases, triples = fused_phrases(fused), fused_triples(fused)
    nodes = mint_nodes(phrases)
    aliases = alias_dict_df(spark)
    return {
        "extracted": extracted,
        "phrases": phrases,
        "triples": triples,
        "links": link_mentions(phrases, aliases),
        "nodes": nodes,
        "edges": mint_edges(triples, nodes),
        "aliases": aliases,
    }


@pytest.fixture(scope="module")
def fresh_counts(fresh):
    return {
        "documents": fresh["extracted"].count(),
        "phrases": fresh["phrases"].count(),
        "unique_phrase_types": fresh["phrases"].select("type").distinct().count(),
        "triples": fresh["triples"].count(),
        "links": fresh["links"].count(),
        "nodes": fresh["nodes"].count(),
        "edges": fresh["edges"].count(),
    }


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _hand_built(fresh, **kw) -> PipelineOutput:
    return PipelineOutput(
        extracted=fresh["extracted"], phrases=fresh["phrases"],
        triples=fresh["triples"], links=fresh["links"],
        canon=fresh["links"].select("mention", "entity_id"),
        nodes=fresh["nodes"], edges=fresh["edges"],
        aliases=fresh["aliases"], **kw,
    )


def test_observed_counters_equal_fresh_counts_in_every_mode(
    spark, pages, direct, fresh_counts, tmp_path
):
    assert fresh_counts["documents"] == 30 and fresh_counts["edges"] > 0

    def check(out, mode):
        assert pipeline_counters(out) == fresh_counts, mode
        assert [m.stage for m in out.metrics] == STAGES, mode
        rows = {m.stage: m.counters["rows"] for m in out.metrics}
        assert rows["extracted"] == fresh_counts["documents"], mode
        assert rows["analysis"] == (
            fresh_counts["phrases"] + fresh_counts["triples"]
        ), mode
        for name in ("links", "nodes", "edges"):
            assert rows[name] == fresh_counts[name], (mode, name)

    check(direct, "direct")
    wd = str(tmp_path / "wd")
    for mode in ("workdir", "resumed"):
        out = run_pipeline(spark, pages, workdir=wd, n_parts=4)
        try:
            check(out, mode)
            analysis = out.metrics[1]
            assert (analysis.parts_computed == 0) == (mode == "resumed")
        finally:
            out.cleanup()


def test_pipeline_counters_launches_no_spark_job(spark, direct):
    sc = spark.sparkContext
    group = "pipeline-counters-probe"
    try:
        sc.setJobGroup(group, "pipeline_counters")
        counters = pipeline_counters(direct)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        direct.extracted.count()  # the probe does see a real action
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert counters["documents"] == 30


def test_output_frames_read_their_staged_tables(direct):
    """Consumers of a run_pipeline output (--contexts reads extracted,
    --edge-split triples) scan the staged parquet; no output re-runs a
    Python stage or the nodes/edges aggregation."""
    for name in ("extracted", "phrases", "triples", "links", "nodes", "edges"):
        plan = getattr(direct, name)._jdf.queryExecution().optimizedPlan()
        plan = plan.toString()
        assert "MapInPandas" not in plan and "Aggregate" not in plan, name
        assert "parquet" in plan.lower(), name


def test_write_outputs_moves_staged_nodes_and_edges(
    spark, pages, fresh, tmp_path
):
    target = str(tmp_path / "kg")
    out = run_pipeline(spark, pages, n_parts=4)
    try:
        write_outputs(out, target)
        for name in ("nodes", "edges", "links", "triples"):
            got = spark.read.parquet(os.path.join(target, name))
            assert _rows(got) == _rows(fresh[name]), name
        for name in ("nodes", "edges"):
            # moved, not copied, and the output frame reads the published dir
            assert not os.path.exists(os.path.join(out.scratch, name))
            files = getattr(out, name).inputFiles()
            assert files and all(
                os.path.dirname(urlparse(f).path) == os.path.join(target, name)
                for f in files
            ), files
            assert _rows(getattr(out, name)) == _rows(fresh[name])
        # links stay staged: canon still reads them
        assert os.path.isdir(os.path.join(out.scratch, "links"))
        assert out.canon.count() > 0
    finally:
        out.cleanup()


def test_hand_built_output_counts_and_writes(
    spark, fresh, fresh_counts, tmp_path
):
    # a counter with an observation uses it; the rest are counted
    partial = _hand_built(fresh, counts={"documents": 123})
    assert pipeline_counters(partial) == {**fresh_counts, "documents": 123}

    # frames of a hand-built output were not staged: they are written
    out = _hand_built(fresh)
    nodes = out.nodes
    target = str(tmp_path / "kg")
    write_outputs(out, target)
    assert out.nodes is nodes
    for name in ("nodes", "edges", "links", "triples"):
        got = spark.read.parquet(os.path.join(target, name))
        assert got.count() == fresh_counts[name], name
