"""Extraction stage: pages -> extracted text -> per-doc phrases AND triples.

This is the Spark lifecycle equivalent of the reference's flagship
``POST /`` analyze path (/root/reference/src/routers/views.py:38-77 ->
src/analysis/phrase_extractor.py:45-71), SURVEY.md §3.1:

    read(pages)
      -> extracted_text pUDF                        [byte-identical invariant]
      -> filter(lang='ru', text non-empty)          [P6, lang gate]
      -> repartition(xxhash64(url) % N)             [explicit, resume-stable]
      -> mapInPandas(extract_phrases_and_triples)   [F1-F5, A1, A2, A6, O1, §2.28]

There is one analyze stage: phrases and triples come out of the same
Arrow pass, split afterwards by ``fused_phrases`` / ``fused_triples``.

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
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

#: union row type for the fused analyze pass: kind='phrase' rows carry the
#: phrase columns (triple columns null), kind='triple' rows the reverse.
FUSED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("kind", StringType(), False),  # phrase | triple
        StructField("phrase", StringType(), True),
        StructField("type", StringType(), True),
        StructField("tfidf", DoubleType(), True),
        StructField("length", IntegerType(), True),
        StructField("head_noun", StringType(), True),
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj", StringType(), True),
    ]
)


def extracted_text(pages: DataFrame) -> DataFrame:
    """(url, extracted, lang): boilerplate-stripped text, byte-identical
    per url to the authored text (BASELINE.json invariant)."""

    def run(batches) -> Iterator:
        from ..functions.text import extract_text

        for pdf in batches:
            out = pdf[["url", "lang"]].copy()
            out["extracted"] = [extract_text(bytes(h)) for h in pdf["html"]]
            yield out[["url", "extracted", "lang"]]

    return pages.select("url", "html", "lang").mapInPandas(run, schema=EXTRACTED_SCHEMA)


def _analyze_fused_batches(batches) -> Iterator:
    """Arrow-batched analyze emitting BOTH phrases and triples per doc.

    Triple emission is per-document local (both §2.28 rule families group
    within one url — the vendored oracle computes them in plain Python per
    doc, ner_app_spark/oracle.py triples_for_doc), so computing triples in
    the SAME Arrow batch as the phrases needs no shuffle at all: a
    declarative formulation would explode phrases to words and
    re-aggregate through windows keyed on (url, phrase) — a full shuffle
    of ~10x the phrase volume. The kg_triples registry row hash-checks
    this path against an independent DuckDB replay."""
    import pandas as pd

    from ..oracle import analyze, triples_for_doc

    for pdf in batches:
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
        t_url: list = []
        t_s: list = []
        t_p: list = []
        t_o: list = []
        for url, text in zip(pdf["url"], pdf["text"]):
            phrases = analyze(text)
            for p in phrases:
                p_url.append(url)
                p_phrase.append(p.phrase)
                p_type.append(p.type)
                p_tfidf.append(p.tfidf)
                p_len.append(p.length)
                p_head.append(p.head_noun)
            for (_u, s, pr, o) in triples_for_doc(url, phrases):
                t_url.append(url)
                t_s.append(s)
                t_p.append(pr)
                t_o.append(o)
        n_p, n_t = len(p_url), len(t_url)
        yield pd.DataFrame(
            {
                "url": p_url + t_url,
                "kind": ["phrase"] * n_p + ["triple"] * n_t,
                "phrase": p_phrase + [None] * n_t,
                "type": p_type + [None] * n_t,
                "tfidf": p_tfidf + [None] * n_t,
                "length": p_len + [None] * n_t,
                "head_noun": p_head + [None] * n_t,
                "subj": [None] * n_p + t_s,
                "pred": [None] * n_p + t_p,
                "obj": [None] * n_p + t_o,
            }
        )


def extract_phrases_and_triples(
    pages: DataFrame,
    lang: str = "ru",
    num_partitions: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """pages -> fused (url, kind, phrase..., subj/pred/obj) rows: the
    map-side-fused flagship stage. Split with fused_phrases/fused_triples.

    Explicit repartition on xxhash64(url) (north_rule: partitioning
    handled explicitly) gives uniform Arrow batch sizes and stable
    resume partitions regardless of upstream file layout."""
    docs = pages.filter(F.col("lang") == lang).filter(F.length(F.col(text_col)) > 0)
    docs = docs.select("url", F.col(text_col).alias("text"))
    if num_partitions:
        docs = docs.repartition(num_partitions, F.xxhash64("url"))
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

