"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in the ``ner_app_spark`` package; this module is the
thin contract adapter. Operator coverage: SURVEY.md §2 (KG pipeline ops)
plus the training-data family (dedup / similarity / text quality /
multimodal plumbing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ner_app_spark.oracles import oracle_sql_map
from ner_app_spark.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's POST / analyze path at small scale —
    pages -> byte-identical extract -> mapInPandas phrase extraction ->
    triple emission (SURVEY.md §3.1), on the deterministic synthetic pages
    table pinned to sf0.001."""
    from ner_app_spark.operators.extract import (
        extract_phrases_and_triples,
        fused_triples,
    )
    from ner_app_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 60)
    # production shape: ONE fused Arrow-batch stage emits phrases AND
    # triples (per-doc local); no shuffle between the two
    return fused_triples(extract_phrases_and_triples(pages, num_partitions=8))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family (SURVEY.md §2)."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB SQL for ALL 85 queries() entries — including the kg_* SQL
    replays of the analyze/linking/canonicalization/extract paths, the
    three Structured Streaming rows (micro-batch-order-independent by
    construction, so a batch SQL oracle is exact), the graph-analytics
    rows (integer fixed-point PageRank / triangles / BFS / dup
    clustering / 2-hop motif census / entity degrees), and the round-5
    curation rows now inside the driver window (dup_clusters,
    hash_split, kmeans_clusters, decontaminate, pii_scan — see the
    rotation note at ner_app_spark/queries.py QUERIES). The in-query
    raise_error self-checks (byte-identity, exact-probe/threshold, CC
    invariants, payload-recompute) are all KEPT on top of the hash
    rows."""
    return oracle_sql_map()
