"""Extraction stage: pages -> extracted text -> per-doc phrases AND triples.

This is the Spark lifecycle equivalent of the reference's flagship
``POST /`` analyze path (/root/reference/src/routers/views.py:38-77 ->
src/analysis/phrase_extractor.py:45-71), SURVEY.md §3.1:

    read(pages)
      -> extracted_text pUDF                        [byte-identical invariant]
      -> filter(lang='ru', text non-empty)          [P6, lang gate]
      -> repartition(xxhash64(url) % N)             [explicit, resume-stable]
      -> sortWithinPartitions(url)                  [copies of a url adjacent]
      -> mapInPandas(extract_phrases_and_triples)   [F1-F5, A1, A2, A6, O1, §2.28]

There is one analyze stage: phrases, triples and the per-url graph's
node and edge marks come out of the same Arrow pass, split afterwards by
``fused_phrases`` / ``fused_triples`` / ``fused_nodes`` / ``fused_edges``.

Scale notes (100 TB):
  * Single-document TF-IDF (A2) is per-doc local math — computing it
    inside the same Arrow batch avoids shuffling the exploded n-gram
    table (~10x the text volume) entirely. The groupBy/window formulation
    exists in operators/tfidf.py for the SQL-checkable variant.
  * The morphology lookup is a bounded in-process dict (lru_cache per
    Python worker). A production-size dictionary would ship as a Spark
    broadcast or --archives sidecar; the provider interface is the same.
  * The reference constructs a fresh MorphAnalyzer per call
    (tfidf.py:14) and parses token-at-a-time — per-row Python cost this
    stage amortizes across Arrow batches (the mandatory mapInPandas
    batching of BASELINE.json).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .graph import node_id

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

#: union row type for the fused analyze pass: kind='phrase' rows carry the
#: phrase columns (triple columns null), kind='triple' rows the reverse.
#: ``node`` and ``subj_type``/``obj_type`` mint the url's graph in the same
#: pass (fused_nodes / fused_edges): ``node`` is true on the one phrase row
#: per (url, phrase) that mints its node; a triple row carries the type of
#: the url's phrase node for subj and for obj — NULL where that endpoint is
#: no phrase of the url (a dangling edge), and both NULL on a repeat of a
#: (subj, pred, obj) that already minted the url's edge. A triple row with
#: both types mints an edge.
FUSED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("kind", StringType(), False),  # phrase | triple
        StructField("phrase", StringType(), True),
        StructField("type", StringType(), True),
        StructField("tfidf", DoubleType(), True),
        StructField("length", IntegerType(), True),
        StructField("head_noun", StringType(), True),
        StructField("node", BooleanType(), True),
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj", StringType(), True),
        StructField("subj_type", StringType(), True),
        StructField("obj_type", StringType(), True),
    ]
)


def extracted_text(pages: DataFrame) -> DataFrame:
    """(url, extracted, lang): boilerplate-stripped text, byte-identical
    per url to the authored text (BASELINE.json invariant). A NULL
    ``html`` extracts to ``""``, so one bad page cannot fail the job."""

    def run(batches) -> Iterator:
        from ..functions.text import extract_text

        for pdf in batches:
            out = pdf[["url", "lang"]].copy()
            out["extracted"] = [
                "" if h is None else extract_text(bytes(h)) for h in pdf["html"]
            ]
            yield out[["url", "extracted", "lang"]]

    return pages.select("url", "html", "lang").mapInPandas(run, schema=EXTRACTED_SCHEMA)


def _graph_marks(copies: list) -> tuple[dict, list, list]:
    """Node and edge marks of ONE url, over the union of its copies
    ``[(phrases, triples), ...]`` (a url may occur more than once in the
    input). Returns ``types`` (phrase text -> type; the type is a
    function of the text, classify_pattern), per copy the phrase rows
    that mint a node — the max tfidf, first on ties, as mint_nodes'
    groupBy/max keeps — and per copy the triple rows that mint an edge —
    the first occurrence of each (subj, pred, obj), as mint_edges'
    distinct keeps."""
    best: dict = {}  # phrase -> (tfidf, copy, row)
    for c, (phrases, _) in enumerate(copies):
        for r, p in enumerate(phrases):
            b = best.get(p.phrase)
            if b is None or p.tfidf > b[0]:
                best[p.phrase] = (p.tfidf, c, r)
    types = {p.phrase: p.type for phrases, _ in copies for p in phrases}
    nodes = [
        [best[p.phrase][1:] == (c, r) for r, p in enumerate(phrases)]
        for c, (phrases, _) in enumerate(copies)
    ]
    seen: set = set()
    edges = []
    for _, triples in copies:
        first = []
        for (_u, s, pr, o) in triples:
            first.append((s, pr, o) not in seen)
            seen.add((s, pr, o))
        edges.append(first)
    return types, nodes, edges


def _analyze_fused_batches(batches) -> Iterator:
    """Arrow-batched analyze emitting BOTH phrases and triples per doc,
    and the url's graph marks (FUSED_SCHEMA).

    Triple emission is per-document local (both §2.28 rule families group
    within one url — the vendored oracle computes them in plain Python per
    doc, ner_app_spark/oracle.py triples_for_doc), so computing triples in
    the SAME Arrow batch as the phrases needs no shuffle at all: a
    declarative formulation would explode phrases to words and
    re-aggregate through windows keyed on (url, phrase) — a full shuffle
    of ~10x the phrase volume. The kg_triples registry row hash-checks
    this path against an independent DuckDB replay. Nodes and edges are
    keyed by url too, so they are marked here from the url's phrases
    instead of by mint_nodes' and mint_edges' shuffles.

    The input is sorted by url within its partition, so the copies of a
    url arrive together; the url last seen is carried across Arrow
    batches until the next url (or the end of the partition) closes it.
    Phrase and triple rows stay one set per copy."""
    import pandas as pd

    from ..oracle import analyze, triples_for_doc

    # columnar accumulation (phrase block then triple block, concatenated
    # per column): pd.DataFrame over a list of row tuples transposes
    # through a single object ndarray — at ~5x phrase + ~9x triple
    # amplification per doc that transpose dominated the batch wall
    p_url: list = []
    p_phrase: list = []
    p_type: list = []
    p_tfidf: list = []
    p_len: list = []
    p_head: list = []
    p_node: list = []
    t_url: list = []
    t_s: list = []
    t_p: list = []
    t_o: list = []
    t_st: list = []
    t_ot: list = []

    def close(url, copies) -> None:
        types, nodes, edges = _graph_marks(copies)
        for (phrases, triples), node, edge in zip(copies, nodes, edges):
            for p in phrases:
                p_url.append(url)
                p_phrase.append(p.phrase)
                p_type.append(p.type)
                p_tfidf.append(p.tfidf)
                p_len.append(p.length)
                p_head.append(p.head_noun)
            p_node.extend(node)
            for (_u, s, pr, o), first in zip(triples, edge):
                t_url.append(url)
                t_s.append(s)
                t_p.append(pr)
                t_o.append(o)
                t_st.append(types.get(s) if first else None)
                t_ot.append(types.get(o) if first else None)

    def frame() -> pd.DataFrame:
        n_p, n_t = len(p_url), len(t_url)
        out = pd.DataFrame(
            {
                "url": p_url + t_url,
                "kind": ["phrase"] * n_p + ["triple"] * n_t,
                "phrase": p_phrase + [None] * n_t,
                "type": p_type + [None] * n_t,
                "tfidf": p_tfidf + [None] * n_t,
                "length": p_len + [None] * n_t,
                "head_noun": p_head + [None] * n_t,
                "node": p_node + [None] * n_t,
                "subj": [None] * n_p + t_s,
                "pred": [None] * n_p + t_p,
                "obj": [None] * n_p + t_o,
                "subj_type": [None] * n_p + t_st,
                "obj_type": [None] * n_p + t_ot,
            }
        )
        for col in (p_url, p_phrase, p_type, p_tfidf, p_len, p_head, p_node,
                    t_url, t_s, t_p, t_o, t_st, t_ot):
            col.clear()
        return out

    url, copies = None, []
    for pdf in batches:
        for u, text in zip(pdf["url"], pdf["text"]):
            if u != url:
                if copies:
                    close(url, copies)
                url, copies = u, []
            phrases = analyze(text)
            copies.append((phrases, triples_for_doc(u, phrases)))
        if p_url or t_url:
            yield frame()
    if copies:
        close(url, copies)
        yield frame()


def extract_phrases_and_triples(
    pages: DataFrame,
    lang: str = "ru",
    num_partitions: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """pages -> fused (url, kind, phrase..., subj/pred/obj, graph marks)
    rows: the map-side-fused flagship stage. Split with fused_phrases /
    fused_triples / fused_nodes / fused_edges.

    Explicit repartition on xxhash64(url) (north_rule: partitioning
    handled explicitly) gives uniform Arrow batch sizes and stable
    resume partitions regardless of upstream file layout, and puts every
    copy of a url in one partition, where the graph marks merge them."""
    docs = pages.filter(F.col("lang") == lang).filter(F.length(F.col(text_col)) > 0)
    docs = docs.select("url", F.col(text_col).alias("text"))
    if num_partitions:
        docs = docs.repartition(num_partitions, F.xxhash64("url"))
    # the copies of a url must be adjacent for its graph marks (the
    # repartition puts them in one partition); the sort adds no exchange
    docs = docs.sortWithinPartitions("url")
    return docs.mapInPandas(_analyze_fused_batches, schema=FUSED_SCHEMA)


def fused_phrases(fused: DataFrame) -> DataFrame:
    """phrase rows of a fused frame: (url, phrase, type, tfidf, length,
    head_noun)."""
    return fused.filter(F.col("kind") == "phrase").select(
        "url", "phrase", "type",
        F.col("tfidf").cast("double").alias("tfidf"),
        F.col("length").cast("int").alias("length"),
        "head_noun",
    )


def fused_triples(fused: DataFrame) -> DataFrame:
    """triple rows of a fused frame: (url, subj, pred, obj)."""
    return fused.filter(F.col("kind") == "triple").select(
        "url", "subj", "pred", "obj"
    )


def fused_nodes(fused: DataFrame) -> DataFrame:
    """The per-url phrase nodes of a fused frame, a narrow projection
    equal to ``graph.mint_nodes(fused_phrases(fused))`` (same columns,
    same ids) when every copy of a url was in one partition — which the
    ``num_partitions`` repartition of extract_phrases_and_triples
    guarantees."""
    return fused.filter(F.col("node")).select(
        F.col("url").alias("graph_id"),
        node_id(F.col("url"), F.col("phrase"), F.col("type")).alias("node_id"),
        F.col("phrase").alias("text"),
        "type",
        F.lit("phrase").alias("phrase_type"),
        F.col("tfidf").cast("double").alias("tfidf"),
        F.lit(False).alias("hidden"),
    )


def fused_edges(fused: DataFrame) -> DataFrame:
    """The per-url edges of a fused frame, a narrow projection equal to
    ``graph.mint_edges(fused_triples(fused), fused_nodes(fused))`` under
    the same condition as fused_nodes."""
    return fused.filter(
        F.col("subj_type").isNotNull() & F.col("obj_type").isNotNull()
    ).select(
        F.col("url").alias("graph_id"),
        node_id(F.col("url"), F.col("subj"), F.col("subj_type")).alias("src"),
        node_id(F.col("url"), F.col("obj"), F.col("obj_type")).alias("dst"),
        "pred",
    )
