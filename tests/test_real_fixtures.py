"""Real-Russian fixture goldens (round-2; VERDICT 'What's missing' #1).

The reference ships 4 real Russian texts (text_examples/) and its
analyzer handles arbitrary Russian via pymorphy3
(/root/reference/src/analysis/tfidf.py:26-34). With the frozen synthetic
dictionary alone, every real token was OOV -> POS None -> '?' -> zero
phrases. The OOV suffix predictor (morphology.predict_oov) closes that:
these tests pin that the pipeline extracts a NON-EMPTY, STABLE phrase +
triple set from the actual reference fixtures, end-to-end through the
distributed path.

The fixtures are read from the reference checkout when present (data, not
code); tests skip cleanly if the reference is absent so the repo stays
standalone.
"""

from __future__ import annotations

import os

import pytest

from ner_app_spark.oracle import analyze, triples_for_doc

FIXDIR = "/root/reference/text_examples"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXDIR), reason="reference fixtures not available"
)


def _read(name: str) -> str:
    with open(os.path.join(FIXDIR, name), encoding="utf-8") as f:
        return f.read()


# Goldens pinned from the deterministic OOV-augmented provider: counts and
# the head of the ranked phrase list. A morphology regression (e.g. the
# suffix table silently changing) flips these. Round-3 re-pin (VERDICT
# #5): predict_oov now RECONSTRUCTS declension-class nominatives instead
# of returning bare stems — the flagship fixture's top lemmas are real
# Russian nominatives (бабушка, шапочка, красный шапочка), and volk-class
# masculines survive unsplit (волка/волку/волк all -> волк). Remaining
# stems ("теб" for the pronoun тебя, zero-ending genitive plurals like
# "средств") need a real dictionary — pymorphy3 plugs into the same
# provider seam in production.
GOLDEN = {
    "redhead.txt": {
        "n_phrases": 422,
        "n_types": 7,
        "n_triples": 582,
        "top5": ["бабушка", "шапочка", "волк", "красный шапочка", "теб"],
    },
    "faq_buy_ticket_bus_vl.txt": {
        "n_phrases": 206,
        "n_types": 7,
        "n_triples": 262,
        "top5": ["билет", "для", "покупк", "или", "пассажир"],
    },
    # the traffic-rules fixture surfaces its actual domain terms; round-4
    # re-pin (ADVICE #4): the '-ей' soft-series rule now yields real
    # nominatives — 'предыдущей' is recognized as a participle-stem
    # adjective ('предыдущий', was the fabricated noun 'предыдущя')
    "pdd.txt": {
        "n_phrases": 1163,
        "n_types": 7,
        "n_triples": 1931,
        "top5": [
            "средств",
            "транспортный средств",
            "правительств",
            "текст предыдущий редакция",
            "предыдущий редакция",
        ],
    },
    # 143 KB wiki dump: real multi-word phrases rank at the top
    "war_and_peace_wiki_dump.txt": {
        "n_phrases": 4589,
        "n_types": 7,
        "n_triples": 6480,
        "top5": ["войн", "мир", "что", "роман", "войн мир"],
    },
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_oracle_extracts_stable_phrases_from_real_fixture(name):
    g = GOLDEN[name]
    phrases = analyze(_read(name))
    assert len(phrases) == g["n_phrases"]
    assert len({p.type for p in phrases}) == g["n_types"]
    assert [p.phrase for p in phrases[:5]] == g["top5"]
    assert all(p.tfidf > 0 for p in phrases)
    triples = triples_for_doc("url", phrases)
    assert len(triples) == g["n_triples"]


def test_pipeline_matches_oracle_on_real_fixture(spark):
    """The distributed path (mapInPandas extract) must produce the exact
    oracle phrase multiset on real Russian input — same gate as the
    synthetic corpus, now on reference data."""
    from ner_app_spark.operators.extract import (
        extract_phrases_and_triples,
        fused_phrases,
    )
    from ner_app_spark.session import local_df

    text = _read("redhead.txt")
    pages = local_df(
        spark,
        [("u://redhead", text, "ru")],
        "url string, text string, lang string",
    )
    got = {
        (r["phrase"], r["type"], round(r["tfidf"], 9))
        for r in fused_phrases(
            extract_phrases_and_triples(pages, num_partitions=2)
        ).collect()
    }
    want = {(p.phrase, p.type, round(p.tfidf, 9)) for p in analyze(text)}
    assert got == want


def test_oov_predictor_basics():
    from ner_app_spark import morphology as M

    # adjective ending -> П letter, noun fallback -> С, latin stays '?'
    assert M.pos_letter("красная") == "П"
    assert M.pos_letter("шапочка") == "С"
    assert M.pos_letter("spark") == "?"
    assert M.pos_letter("2024") == "?"
    # known frozen vocabulary is untouched by the OOV layer
    surface, (lemma, pos) = next(iter(sorted(M.build_morphology().items())))
    assert M.lemma_of(surface) == lemma and M.pos_of(surface) == pos
