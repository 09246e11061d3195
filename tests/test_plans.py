"""Physical-plan audits: the properties that make the 100 TB plan right.

Each assertion pins a plan shape we rely on at scale; a regression here
means a silent extra shuffle / lost pushdown / lost broadcast, which
small-scale correctness tests would never catch.
"""

from __future__ import annotations

import pytest

from ner_app_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _physical(QUERIES["filter_project"](spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "IsNotNull(event_type)" in plan or "EqualTo(event_type,click)" in plan
    # column pruning: scan must not read the full events schema (`props`
    # IS read since round 3 — the prop_k JSON-path extraction — but the
    # unused `ts` column must still be pruned)
    assert "ts:timestamp" not in plan.split("ReadSchema")[1][:400]


def test_projection_prunes_scan_schema(spark):
    plan = _physical(QUERIES["fingerprint"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_dim_join_is_broadcast(spark):
    plan = _physical(QUERIES["join_natural_key"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_linking_is_single_arrow_stage(spark):
    """Production linking = distinct mention vocabulary -> ONE mapInPandas
    stage with the alias index broadcast. No join tree, no window: the
    dimension-sized exchanges of a join tree are a parallelism-independent
    scheduling floor."""
    from ner_app_spark.operators.linking import link_mentions
    from ner_app_spark.sources.pages import alias_dict_df, synth_pages_df
    from ner_app_spark.operators.extract import (
        extract_phrases_and_triples,
        fused_phrases,
    )

    df = link_mentions(
        fused_phrases(
            extract_phrases_and_triples(synth_pages_df(spark, 8), num_partitions=4)
        ),
        alias_dict_df(spark),
    )
    plan = _physical(df)
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" not in plan


def test_join_natural_key_has_partial_aggregation(spark):
    plan = _physical(QUERIES["join_natural_key"](spark, SF_DIR))
    # map-side partial + final: two HashAggregate levels around one shuffle
    # (WholeStageCodegen spans only appear in the post-execution adaptive
    # plan, so codegen presence is asserted via the partial-agg markers)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial_count" in plan


def test_extract_phrases_single_explicit_shuffle(spark):
    """The fused phrase+triple stage (the shipped phrase and triple
    path) plans exactly one exchange: the explicit url-hash repartition.
    mapInPandas and the phrase and triple splits add none."""
    from ner_app_spark.operators.extract import (
        extract_phrases_and_triples,
        fused_phrases,
        fused_triples,
    )
    from ner_app_spark.sources.pages import synth_pages_df

    fused = extract_phrases_and_triples(synth_pages_df(spark, 8), num_partitions=4)
    for df in (fused_phrases(fused), fused_triples(fused)):
        plan = _physical(df)
        assert plan.count("Exchange") == 1
        assert "xxhash64" in plan
        assert "MapInPandas" in plan


def test_search_query_side_is_broadcast(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from ner_app_spark.operators.search import similar_docs_topk

    plan = _physical(similar_docs_topk(docs, k=3))
    assert "BroadcastHashJoin" in plan


@pytest.fixture(scope="module")
def registry_plans(spark):
    """Physical plan of every registry row, planned once for the
    all-registry audits below."""
    return {name: _physical(fn(spark, SF_DIR)) for name, fn in QUERIES.items()}


def test_no_partitionless_window_in_any_query(registry_plans):
    """A Window with no partitionBy funnels ALL rows into one task (Spark
    warns 'Moving all data to a single partition') — fatal at 100 TB.
    Global top-k must be orderBy().limit() (TakeOrderedAndProject) and any
    residual rank window must run post-limit with an explicit partition.
    Scans every registry entry's physical plan."""
    def window_groups(line: str, start: int) -> list[str]:
        # WindowExec prints top-level bracket groups:
        #   Window [exprs], [partitionSpec], [orderSpec]   (part. + ordered)
        #   Window [exprs], [partitionSpec]                (part., unordered)
        #   Window [exprs], [orderSpec]                    (PARTITION-LESS)
        depth = 0
        groups: list[str] = []
        buf: list[str] = []
        for ch in line[start:]:
            if ch == "[":
                depth += 1
                if depth == 1:
                    buf = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            elif depth == 0:
                if ch not in ", ":
                    break
                continue
            buf.append(ch)
        return groups

    offenders = []
    for name, plan in registry_plans.items():
        for line in plan.splitlines():
            idx = line.find("Window [")
            if idx < 0:
                continue
            groups = window_groups(line, idx + len("Window "))
            # partition-less iff the group right after the exprs is an
            # ORDER spec (ASC/DESC markers) instead of partition columns
            if len(groups) < 2 or " ASC" in groups[1] or " DESC" in groups[1]:
                offenders.append((name, line.strip()[:100]))
    assert not offenders, offenders


def test_no_interpreted_hof_in_any_query(registry_plans):
    """Higher-order array expressions (transform/aggregate/zip_with/
    filter(lambda)) run on Spark's interpreted expression path — measured
    ~2.3x slower than codegen explode+agg on this host (BENCH.md probes),
    catastrophic in per-pair inner loops. Round-3 VERDICT #4: zero
    lambdafunction() in ALL registry plans ('lambdafunction' is the
    unambiguous physical-plan marker for every HOF)."""
    offenders = []
    for name, plan in registry_plans.items():
        if "lambdafunction" in plan:
            line = next(l for l in plan.splitlines() if "lambdafunction" in l)
            offenders.append((name, line.strip()[:120]))
    assert not offenders, offenders


def test_global_topk_plans_as_take_ordered(spark):
    """similar_docs_topk / sentence_search global top-k must be a partial
    top-k reduction (TakeOrderedAndProject), not a global sort."""
    for name in ("similar_docs_topk", "sentence_search"):
        plan = _physical(QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name


def test_topk_per_group_uses_window_group_limit(spark):
    plan = _optimized(QUERIES["topk_per_group"](spark, SF_DIR))
    # Spark 4 pushes row_number() <= k as WindowGroupLimit before the sort
    assert "WindowGroupLimit" in plan or "Window" in plan
