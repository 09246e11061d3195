"""Entity linking (candidate gen + cosine scoring) and connected-components
canonicalization (SURVEY.md §7.5)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ner_app_spark import morphology as M
from ner_app_spark.operators.components import canonicalize, connected_components
from ner_app_spark.operators.linking import link_mentions
from ner_app_spark.sources.pages import alias_dict_df


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(0, 4000, 3))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(1500)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find_components(edges)
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }
    assert got == want  # min-id convention matches union-find-by-min


def test_connected_components_chain_and_empty(spark):
    # a long path graph stresses the O(log n) convergence
    chain = [(i, i + 1) for i in range(200)]
    got = connected_components(spark.createDataFrame(chain, "src long, dst long"))
    comps = {r["component"] for r in got.collect()}
    assert comps == {0}
    empty = connected_components(
        spark.createDataFrame([], "src long, dst long")
    )
    assert empty.count() == 0


def test_link_mentions_exact_and_fuzzy(spark):
    aliases = alias_dict_df(spark)
    nouns = M.noun_lemmas()
    exact_mention = nouns[7]
    fuzzy_mention = nouns[8][:-1] + "я"  # edit distance 1 from a real alias
    phrases = spark.createDataFrame(
        [("u1", exact_mention), ("u2", fuzzy_mention), ("u3", "zzzz-nomatch")],
        "url string, head_noun string",
    )
    links = {r["mention"]: r for r in link_mentions(phrases, aliases, min_score=0.5).collect()}
    assert exact_mention in links
    assert abs(links[exact_mention]["score"] - 1.0) < 1e-9
    # exact match resolves to the non-collision entity (lowest entity_id wins ties)
    alias_rows = aliases.filter(F.col("alias") == exact_mention).collect()
    assert links[exact_mention]["entity_id"] == min(r["entity_id"] for r in alias_rows)
    # fuzzy mention links to its near-miss source via LSH blocking
    assert fuzzy_mention in links
    assert links[fuzzy_mention]["score"] > 0.5
    assert links[fuzzy_mention]["canonical_name"].startswith(nouns[8][:4].upper())
    assert "zzzz-nomatch" not in links


def test_link_mentions_empty_input(spark):
    out = link_mentions(
        spark.createDataFrame([], "url string, head_noun string"),
        alias_dict_df(spark),
    )
    assert out.count() == 0
    assert out.columns == ["mention", "alias", "entity_id", "canonical_name", "score"]


def test_canonicalize_merges_colliding_aliases(spark):
    # two mentions linked to one entity + one mention linked to two entities
    links = spark.createDataFrame(
        [("a", 1), ("b", 1), ("b", 2), ("c", 9)],
        "mention string, entity_id long",
    )
    out = canonicalize(links).collect()
    canon = {(r["kind"], r["key"]): r["canon"] for r in out}
    # a, b, entity 1, entity 2 all share a component
    merged = {canon[("mention", "a")], canon[("mention", "b")],
              canon[("entity", "1")], canon[("entity", "2")]}
    assert len(merged) == 1
    assert canon[("mention", "c")] == canon[("entity", "9")]
    assert canon[("mention", "c")] != canon[("mention", "a")]


def _ctx_fixture(spark):
    pages = spark.createDataFrame(
        [
            ("u1", "ru", "aa bb cat dd ee ff gg"),
            ("u2", "ru", "xx . cat"),
            ("u3", "en", "cat cat cat"),  # non-ru: filtered out
        ],
        "url string, lang string, text string",
    )
    morph = spark.createDataFrame(
        [("cat", "cat", "NOUN"), ("cats", "cat", "NOUN")],
        "surface string, lemma string, pos string",
    )
    aliases = spark.createDataFrame(
        [("cat", 1, "CAT"), ("cat", 1001, "CAT_ALT")],
        "alias string, entity_id long, canonical_name string",
    )
    return pages, morph, aliases


def test_mention_contexts_windows_and_fanout(spark):
    from ner_app_spark.operators.linking import mention_contexts

    pages, morph, aliases = _ctx_fixture(spark)
    rows = mention_contexts(pages, aliases, morph, window=2).collect()
    # colliding alias: one row per candidate entity, per occurrence
    u1 = sorted(
        (r["entity_id"], r["left_ctx"], r["right_ctx"])
        for r in rows
        if r["url"] == "u1"
    )
    assert u1 == [
        (1, "aa bb", "dd ee"),
        (1001, "aa bb", "dd ee"),
    ]
    # punctuation is context (the model sees the page) and the window
    # clamps at the document edge
    u2 = sorted((r["pos"], r["left_ctx"], r["right_ctx"]) for r in rows if r["url"] == "u2")
    assert u2 == [(2, "xx .", ""), (2, "xx .", "")]
    assert not [r for r in rows if r["url"] == "u3"], "non-ru pages never scanned"


def test_mention_contexts_plan_is_shuffle_free(spark):
    from ner_app_spark.operators.linking import mention_contexts

    pages, morph, aliases = _ctx_fixture(spark)
    plan = (
        mention_contexts(pages, aliases, morph)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # dims ride BroadcastExchange; the corpus side must never shuffle
    assert "Exchange hashpartitioning" not in plan
