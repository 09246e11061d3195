"""Pages source: the production reader is an Iceberg scan of the
Common-Crawl-style table (BASELINE.json input_hint); in the sandbox the
table is synthesized *distributed* — ``spark.range`` fans out row ids and
each executor materializes its rows from the pure per-id generator, so
the source scales like a scan instead of a driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_GEN_SCHEMA = StructType([StructField("id", LongType(), False)] + PAGE_SCHEMA.fields)


def synth_pages_df(
    spark: SparkSession, n_pages: int, seed: int = 42, num_partitions: int | None = None
) -> DataFrame:
    """Deterministic distributed pages table."""
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        import pandas as pd

        from ..synth import synth_page

        for pdf in batches:
            rows = [{"id": int(i), **synth_page(int(i), seed)} for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["id", "url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(0, n_pages, numPartitions=num_partitions)
        .mapInPandas(gen, schema=_GEN_SCHEMA)
        .drop("id")
    )


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Production path: read a materialized pages table. An icelite table
    root (has `metadata/`) reads through the snapshot layer (manifest
    stats pruning, current snapshot); a plain directory reads as parquet
    (`spark.read.format("iceberg")` on a real catalog — same downstream
    plan either way)."""
    import os

    if os.path.isdir(os.path.join(path, "metadata")):
        from ..tables.icelite import IceTable

        df, _ = IceTable(path).scan(spark)
        return df
    return spark.read.parquet(path)


def alias_dict_df(spark: SparkSession, seed: int = 42) -> DataFrame:
    """Entity-linking alias dimension (small: broadcast-joined downstream).
    Arrow-local (session.local_df): no Python tasks on re-execution."""
    from ..session import local_df
    from ..synth import synth_alias_dict

    return local_df(
        spark,
        [(r["alias"], r["entity_id"], r["canonical_name"]) for r in synth_alias_dict(seed)],
        schema="alias string, entity_id long, canonical_name string",
    )


def morphology_df(spark: SparkSession) -> DataFrame:
    """Frozen morphology dimension (surface, lemma, pos) — bounded
    vocabulary, broadcast wherever joined (SURVEY.md §4 item 3).
    Arrow-local (session.local_df): no Python tasks on re-execution."""
    from ..morphology import morphology_rows
    from ..session import local_df

    return local_df(
        spark, morphology_rows(), schema="surface string, lemma string, pos string"
    )

