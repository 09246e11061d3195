"""Skew-aware aggregation (north rule: "salted aggregation for
head-entity skew — popular entities like countries/celebrities").

Where salting matters: Spark's hash aggregation already computes map-side
partials, so plain ``count``/``sum`` never bottleneck on a hot key. The
reducer-side explosion happens for aggregations whose per-key STATE is
proportional to the group (distinct counts, collect_set): every
(hot_entity, *) row funnels to one reducer task. The classic head-entity
case is document-frequency per entity — 'Россия' appears in a large
fraction of all pages, so ``groupBy(entity).agg(countDistinct(url))``
sends that entity's whole url set to one task.

Two-phase salted form: phase 1 groups by (key, salt) where
``salt = pmod(xxhash64(value), n_salts)`` — derived from the DATA, not
from partition ids or randomness, so the same value always lands in the
same salt bucket (resume-safe, SURVEY.md §7.6c) and distinct-ness within
a bucket is globally correct; phase 2 sums the per-bucket distinct
counts. A hot key's state is now spread over ``n_salts`` reducer tasks.

AQE's skew-join splitting (enabled in session defaults) covers the JOIN
side of skew; this module covers the aggregation side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_distinct_count(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
    out: str = "n_distinct",
    count_out: str | None = None,
) -> DataFrame:
    """groupBy(key_cols).agg(countDistinct(value_col)) with two-phase
    salting. Exact: salt is a function of the value, so each distinct
    value is counted in exactly one bucket. With ``count_out`` the same
    two-phase pass also carries the plain row count (summed per-bucket
    counts) — one salted shuffle serves both aggregates instead of a
    second full-key exchange."""
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts)).alias("__salt")
    partial_aggs = [F.countDistinct(value_col).alias("__partial")]
    if count_out is not None:
        partial_aggs.append(F.count("*").alias("__cnt"))
    partial = (
        df.select(*key_cols, value_col)
        .withColumn("__salt", salt)
        .groupBy(*key_cols, "__salt")
        .agg(*partial_aggs)
    )
    final_aggs = [F.sum("__partial").alias(out)]
    if count_out is not None:
        final_aggs.append(F.sum("__cnt").alias(count_out))
    return partial.groupBy(*key_cols).agg(*final_aggs)
