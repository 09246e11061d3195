#!/usr/bin/env python
"""Regenerate PLANS.md: explain('formatted') trees of the flagship
queries with the plan properties tests/test_plans.py asserts."""
# (inline generation script used for PLANS.md; run from repo root:
#  PYTHONPATH=. python scripts/dump_plans.py > PLANS.md)
import contextlib
import io

from ner_app_spark.queries import QUERIES
from ner_app_spark.session import get_session

SF = "/root/testdata/sf0.001"
NOTES = {
    "filter_project": "Predicate + projection reach the parquet scan.",
    "join_natural_key": "Dimension join planned as BroadcastHashJoin.",
    "kg_phrases": "One explicit xxhash64(url) Exchange; Arrow MapInPandas.",
    "kg_triples": "Fused per-doc MapInPandas behind one explicit xxhash64(url) Exchange.",
    "similar_docs_topk": "Query side broadcasts; token equi-join cosine.",
    "topk_per_group": "WindowGroupLimit rank-limit pushdown.",
    "entity_doc_freq": "Two-phase salted distinct aggregation over hot keys.",
    "sentence_search": "Codegen ngram explode; one posting shuffle; lazy.",
    "ner_entities": "Arrow MapInPandas inference; xxhash64 repartition.",
}


def main():
    spark = get_session(app_name="plans", master="local[4]", shuffle_partitions=8)
    print("# PLANS — physical plans of the flagship queries\n")
    for name, note in NOTES.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[name](spark, SF).explain("formatted")
        head = buf.getvalue().split("\n\n")[0]
        print(f"## {name}\n\n{note}\n\n```\n{head}\n```\n")
    spark.stop()


if __name__ == "__main__":
    main()
