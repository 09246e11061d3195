"""run_pipeline computes each output once: its counters are observed
while the stages are written, nodes and edges are projections of the
analysis stage that equal mint_nodes/mint_edges, canonicalization runs
only when ``canon`` is read, and write_outputs publishes without
recomputing."""

from __future__ import annotations

import copy
import datetime
import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ner_app_spark import oracle
from ner_app_spark.operators import components
from ner_app_spark.operators.components import canonicalize
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

STAGES = ["extracted", "analysis", "links"]


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
def modes(spark, pages, direct, tmp_path_factory):
    """run_pipeline outputs in the three checkpoint modes: no workdir, a
    fresh workdir, and that workdir fully resumed."""
    wd = str(tmp_path_factory.mktemp("modes") / "wd")
    outs = {"direct": direct}
    try:
        for mode in ("workdir", "resumed"):
            outs[mode] = run_pipeline(spark, pages, workdir=wd, n_parts=4)
        yield outs
    finally:
        for mode in ("workdir", "resumed"):
            if mode in outs:
                outs[mode].cleanup()


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


def _dirs(df):
    return {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}


def _assert_minted_graph(spark, out, target):
    """Published nodes/edges equal mint_nodes/mint_edges over the run's
    phrases and triples, and so do the analysis stage's counters."""
    want_nodes = mint_nodes(out.phrases)
    want = {
        "nodes": _rows(want_nodes),
        "edges": _rows(mint_edges(out.triples, want_nodes)),
    }
    # copied: write_outputs re-points the frames of the output it writes
    write_outputs(copy.copy(out), target)
    analysis = {m.stage: m for m in out.metrics}["analysis"].counters
    for name in ("nodes", "edges"):
        got = _rows(spark.read.parquet(os.path.join(target, name)))
        assert got == want[name], name
        assert analysis[name] == len(want[name]) == out.counts[name], name


def _hand_built(fresh, **kw) -> PipelineOutput:
    return PipelineOutput(
        extracted=fresh["extracted"], phrases=fresh["phrases"],
        triples=fresh["triples"], links=fresh["links"],
        canon=fresh["links"].select("mention", "entity_id"),
        nodes=fresh["nodes"], edges=fresh["edges"],
        aliases=fresh["aliases"], **kw,
    )


def test_observed_counters_equal_fresh_counts_in_every_mode(
    modes, fresh_counts
):
    assert fresh_counts["documents"] == 30 and fresh_counts["edges"] > 0
    for mode, out in modes.items():
        assert pipeline_counters(out) == fresh_counts, mode
        assert [m.stage for m in out.metrics] == STAGES, mode
        counters = {m.stage: m.counters for m in out.metrics}
        assert counters["extracted"]["rows"] == fresh_counts["documents"], mode
        assert counters["analysis"]["rows"] == (
            fresh_counts["phrases"] + fresh_counts["triples"]
        ), mode
        assert counters["links"]["rows"] == fresh_counts["links"], mode
        for name in ("nodes", "edges"):
            assert counters["analysis"][name] == fresh_counts[name], (mode, name)
        if mode != "direct":
            resumed = out.metrics[1].parts_computed == 0
            assert resumed == (mode == "resumed")


def test_nodes_and_edges_are_the_minted_graph_in_every_mode(
    spark, modes, tmp_path
):
    """Nodes and edges are projections of the analysis stage (no stage
    of their own) and publish exactly mint_nodes/mint_edges."""
    for mode, out in modes.items():
        analysis = _dirs(out.phrases)
        for name in ("nodes", "edges"):
            assert _dirs(getattr(out, name)) == analysis, (mode, name)
        _assert_minted_graph(spark, out, str(tmp_path / mode))


def test_duplicate_urls_merge_into_one_graph_per_url(spark, pages, tmp_path):
    """A url that occurs twice (an exact copy, or two different bodies)
    gets mint_nodes' one node per (url, text, type) with the max tfidf
    and mint_edges' distinct edges over the union of its copies, while
    its phrase and triple rows stay one set per copy."""
    rows = [r.asDict() for r in pages.collect()]
    ru = [r for r in rows if r["lang"] == "ru" and r["text"]]
    corpus = rows + [dict(ru[0]), {**ru[1], "url": ru[2]["url"]}]
    out = run_pipeline(
        spark, spark.createDataFrame(corpus, pages.schema), n_parts=4
    )
    try:
        want_phrases, want_triples = [], []
        for r in corpus:
            if r["lang"] != "ru" or not r["text"]:
                continue
            ph = oracle.analyze(r["text"])
            want_phrases += [
                (r["url"], p.phrase, p.type, p.tfidf, p.length, p.head_noun)
                for p in ph
            ]
            want_triples += oracle.triples_for_doc(r["url"], ph)
        assert _rows(out.phrases) == sorted(want_phrases)
        assert _rows(out.triples) == sorted(want_triples)
        _assert_minted_graph(spark, out, str(tmp_path / "kg"))
    finally:
        out.cleanup()


def test_dirty_pages_do_not_fail_the_run(spark, pages, direct):
    """A NULL html extracts to "" and invalid UTF-8 decodes with
    replacement characters: the run completes, counts every page, and the
    good pages' phrases are those of a run without the dirty ones."""
    ts = datetime.datetime(2024, 1, 1)
    dirty = spark.createDataFrame(
        [
            ("https://dirty.example/null", ts, None, "", "ru"),
            ("https://dirty.example/plain", ts, b"\xff\xfe \xd0", "", "ru"),
            ("https://dirty.example/html", ts,
             b"<html><p>\xd0\x9c\xd0 \xc3</p></html>", "", "ru"),
        ],
        StructType([StructField(f.name, f.dataType) for f in pages.schema]),
    )
    out = run_pipeline(spark, pages.unionByName(dirty), n_parts=4)
    try:
        assert pipeline_counters(out)["documents"] == 33
        texts = dict(out.extracted.select("url", "extracted").collect())
        assert texts["https://dirty.example/null"] == ""
        assert texts["https://dirty.example/plain"] == "\ufffd\ufffd \ufffd"
        good = out.phrases.filter(~F.col("url").startswith("https://dirty."))
        assert sorted(good.collect()) == sorted(direct.phrases.collect())
    finally:
        out.cleanup()


def test_canon_is_computed_on_first_read(spark, pages, monkeypatch, tmp_path):
    calls = []
    cc = components.connected_components

    def counting(*args, **kwargs):
        calls.append(kwargs.get("workdir"))
        return cc(*args, **kwargs)

    monkeypatch.setattr(components, "connected_components", counting)
    wd = str(tmp_path / "wd")
    out = run_pipeline(spark, pages, workdir=wd, n_parts=4)
    try:
        assert calls == []
        canon = out.canon
        assert out.canon is canon
        assert calls == [os.path.join(wd, "cc")]
        want = canonicalize(out.links.select("mention", "entity_id"))
        assert _rows(canon) == _rows(want) and _rows(want)
    finally:
        out.cleanup()
    df = want.limit(1)
    assert PipelineOutput(
        extracted=df, phrases=df, triples=df, links=df, canon=df,
        nodes=df, edges=df, aliases=df,
    ).canon is df


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


def test_write_outputs_writes_and_repoints_nodes_and_edges(
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
            # the output frame now reads the published dir
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

    # frames of a hand-built output were not staged: they are written,
    # and nodes/edges are re-pointed at the published dirs as for a run
    out = _hand_built(fresh)
    target = str(tmp_path / "kg")
    write_outputs(out, target)
    for name in ("nodes", "edges"):
        files = getattr(out, name).inputFiles()
        assert files and all(
            os.path.dirname(urlparse(f).path) == os.path.join(target, name)
            for f in files
        ), files
        assert _rows(getattr(out, name)) == _rows(fresh[name]), name
    for name in ("nodes", "edges", "links", "triples"):
        got = spark.read.parquet(os.path.join(target, name))
        assert got.count() == fresh_counts[name], name
