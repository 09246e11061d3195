"""Fused analyze stage: extract_phrases_and_triples emits phrases AND
triples in one Arrow batch pass. This file pins that the two row kinds
stay disjoint. Its phrase and triple rows are checked against the
pure-Python oracle in tests/test_pipeline_vs_oracle.py and against the
DuckDB replays by the kg_phrases and kg_triples parity rows."""

from __future__ import annotations

import pytest

from ner_app_spark.operators.extract import extract_phrases_and_triples
from ner_app_spark.sources.pages import synth_pages_df

N_PAGES = 40


@pytest.fixture(scope="module")
def fused(spark):
    pages = synth_pages_df(spark, N_PAGES, num_partitions=4)
    return extract_phrases_and_triples(pages, num_partitions=4).cache()


def test_fused_kinds_are_disjoint_and_typed(fused):
    rows = fused.collect()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"phrase", "triple"}
    for r in rows:
        if r["kind"] == "phrase":
            assert r["phrase"] is not None and r["subj"] is None
            assert r["node"] is not None and r["subj_type"] is None
        else:
            assert r["subj"] is not None and r["phrase"] is None
            assert r["node"] is None
