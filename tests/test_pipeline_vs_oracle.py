"""E2E golden tests: the distributed pipeline must reproduce the
pure-Python oracle exactly (P/R gate per BASELINE.json; target here is
P = R = 1.0, the >=0.95 threshold absorbs morphology-provider drift in
production)."""

from __future__ import annotations

import pytest

from ner_app_spark import oracle, synth
from ner_app_spark.operators.extract import (
    extract_phrases_and_triples,
    extracted_text,
    fused_phrases,
    fused_triples,
)
from ner_app_spark.sources.pages import synth_pages_df

N_PAGES = 60


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages_df(spark, N_PAGES, num_partitions=4).cache()


@pytest.fixture(scope="module")
def golden():
    """Oracle goldens for the same deterministic pages."""
    rows = synth.synth_pages(N_PAGES)
    phrases, triples = [], []
    for p in rows:
        if p["lang"] != "ru" or not p["text"]:
            continue
        ph = oracle.analyze(p["text"])
        phrases += [
            (p["url"], x.phrase, x.type, x.tfidf, x.length, x.head_noun) for x in ph
        ]
        triples += oracle.triples_for_doc(p["url"], ph)
    return {"phrases": set(phrases), "triples": set(triples)}


def test_distributed_synth_matches_local(spark, pages):
    got = {r["url"]: (bytes(r["html"]), r["text"], r["lang"]) for r in pages.collect()}
    want = {
        r["url"]: (r["html"], r["text"], r["lang"]) for r in synth.synth_pages(N_PAGES)
    }
    assert got == want


def test_extracted_text_byte_identical(spark, pages):
    joined = (
        extracted_text(pages)
        .join(pages.select("url", "text"), "url")
        .select("url", "extracted", "text")
        .collect()
    )
    assert len(joined) == N_PAGES
    for r in joined:
        assert r["extracted"] == r["text"], r["url"]


def test_phrases_match_oracle_exactly(spark, pages, golden):
    got = {
        (r["url"], r["phrase"], r["type"], r["tfidf"], r["length"], r["head_noun"])
        for r in fused_phrases(
            extract_phrases_and_triples(pages, num_partitions=4)
        ).collect()
    }
    assert got == golden["phrases"]


def test_triples_precision_recall(spark, pages, golden):
    fused = extract_phrases_and_triples(pages, num_partitions=4)
    got = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in fused_triples(fused).collect()
    }
    want = golden["triples"]
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.4f} R={recall:.4f} "
        f"sample_fp={sorted(got - want)[:5]} sample_fn={sorted(want - got)[:5]}"
    )
    # our own bar: exact match
    assert got == want
