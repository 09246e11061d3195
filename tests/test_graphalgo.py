"""Graph analytics (operators/graphalgo.py): pinned small-graph goldens
plus the structural invariants that the sf0.01 DuckDB parity rows
(tests/test_oracle_parity.py: dup_clusters / entity_pagerank /
triangle_count / bfs_hops) cannot express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner_app_spark.operators import graphalgo

SF_DIR = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


# bowtie: two triangles sharing node c, plus a pendant path c-f-g
BOWTIE = [
    ("a", "b"), ("a", "c"), ("b", "c"),
    ("c", "d"), ("c", "e"), ("d", "e"),
    ("c", "f"), ("f", "g"),
]


def test_triangle_counts_bowtie(spark):
    got = {
        r["node"]: r["n_triangles"]
        for r in graphalgo.triangle_counts(_edges(spark, BOWTIE)).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 2, "d": 1, "e": 1, "f": 0, "g": 0}


def test_triangle_counts_orientation_dedup(spark):
    # duplicate + reversed + self-loop inputs must not change the count
    noisy = BOWTIE + [("b", "a"), ("a", "b"), ("c", "c")]
    got = {
        r["node"]: r["n_triangles"]
        for r in graphalgo.triangle_counts(_edges(spark, noisy)).collect()
    }
    assert got["a"] == 1 and got["c"] == 2


def test_bfs_hops_path_graph(spark):
    # path a-b-c-d-e plus isolated pair x-y: min node 'a' seeds; the
    # x-y component is unreachable -> NULL hops
    path = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")]
    got = {r["node"]: r["hops"] for r in graphalgo.bfs_hops(_edges(spark, path)).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4, "x": None, "y": None}


def test_bfs_max_hops_cutoff(spark):
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    got = {
        r["node"]: r["hops"]
        for r in graphalgo.bfs_hops(_edges(spark, chain), max_hops=5).collect()
    }
    assert got["n05"] == 5 and got["n06"] is None and got["n12"] is None


def test_pagerank_mass_and_symmetry(spark):
    # 4-cycle: regular graph -> all ranks equal; total mass conserved up
    # to the deterministic floor losses (< 1 unit per node per term)
    cyc = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    rows = graphalgo.pagerank(_edges(spark, cyc), iters=4).collect()
    ranks = {r["entity"]: r["rank_scaled"] for r in rows}
    assert len(set(ranks.values())) == 1
    total = sum(ranks.values())
    assert graphalgo.PR_SCALE * 0.999 < total <= graphalgo.PR_SCALE


def test_pagerank_star_orders_hub_first(spark):
    # star: hub h linked to 5 leaves -> hub rank strictly dominates
    star = [("h", f"l{i}") for i in range(5)]
    rows = graphalgo.pagerank(_edges(spark, star), iters=6).collect()
    ranks = {r["entity"]: r["rank_scaled"] for r in rows}
    assert ranks["h"] > max(v for k, v in ranks.items() if k != "h") * 2
    # leaves are symmetric
    assert len({v for k, v in ranks.items() if k != "h"}) == 1


def test_pagerank_rank_double_is_exact_quotient(spark):
    cyc = [("a", "b"), ("b", "a")]
    for r in graphalgo.pagerank(_edges(spark, cyc), iters=2).collect():
        assert r["rank"] == r["rank_scaled"] / graphalgo.PR_SCALE


def test_cooccurrence_edges_windowed_and_thresholded(spark):
    # 'alpha beta gamma' repeated 3x -> adjacent/skip pairs dominate;
    # a one-off 'delta' tail pair falls under the 3/4-of-max cut
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma " * 3 + "delta")], "doc_id long, text string"
    )
    got = {
        (r["src"], r["dst"])
        for r in graphalgo.cooccurrence_edges(docs).collect()
    }
    assert ("alpha", "beta") in got and ("beta", "gamma") in got
    assert not any("delta" in e for e in got)
    # canonical orientation: src < dst always
    assert all(s < d for s, d in got)


def _triples(spark, rows):
    return spark.createDataFrame(
        rows, "url string, subj string, pred string, obj string"
    )


def test_motif_census_2hop_pinned(spark):
    # u1: a-p->b-q->c (one path), plus the back-edge b-q->a which must be
    # EXCLUDED as a 2-cycle (a -> b -> a has subj == obj). u2: same
    # (p, q) shape with a different pivot -> n_paths 2, n_mids 2.
    rows = [
        ("u1", "a", "p", "b"), ("u1", "b", "q", "c"), ("u1", "b", "q", "a"),
        ("u2", "x", "p", "y"), ("u2", "y", "q", "z"),
    ]
    got = {
        (r["p1"], r["p2"]): (r["n_paths"], r["n_mids"])
        for r in graphalgo.motif_census_2hop(_triples(spark, rows)).collect()
    }
    assert got == {("p", "q"): (2, 2)}


def test_motif_census_is_per_document(spark):
    # the chain only closes within one url: obj 'b' on u1 never joins
    # subj 'b' on u2
    rows = [("u1", "a", "p", "b"), ("u2", "b", "q", "c")]
    assert graphalgo.motif_census_2hop(_triples(spark, rows)).count() == 0


def test_entity_degrees_pinned(spark):
    # duplicate triples (different urls/preds) collapse: degrees are over
    # the DISTINCT (subj, obj) edge set
    rows = [
        ("u1", "a", "p", "b"), ("u2", "a", "q", "b"),
        ("u1", "a", "p", "c"), ("u1", "c", "p", "a"),
    ]
    got = {
        r["node"]: (r["out_degree"], r["in_degree"])
        for r in graphalgo.entity_degrees(_triples(spark, rows)).collect()
    }
    assert got == {"a": (2, 1), "b": (0, 1), "c": (1, 1)}


def test_dup_clusters_invariants(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = graphalgo.dup_clusters(docs, min_jaccard=0.3)
    rows = out.collect()
    # total coverage: every document appears exactly once
    assert len(rows) == docs.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        # keeper is exactly the min-doc_id member == cluster_id
        keepers = [m for m in members if m["is_keeper"]]
        assert len(keepers) == 1 and keepers[0]["doc_id"] == cid
        assert cid == min(m["doc_id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def test_dup_clusters_keepers_are_near_dup_free(spark):
    # filter(is_keeper) is the deduplicated corpus: no verified near-dup
    # pair may survive with BOTH endpoints kept
    from ner_app_spark.operators.dedup import near_dup_verified

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kept = graphalgo.dup_clusters(docs, min_jaccard=0.3).filter("is_keeper")
    pairs = near_dup_verified(docs, min_jaccard=0.3)
    survivors = (
        pairs.join(kept.select(F.col("doc_id").alias("doc_a")), "doc_a")
        .join(kept.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .count()
    )
    assert survivors == 0


def test_new_rows_plan_invariants(spark):
    """The repo-wide plan rules (no partition-less Window, no interpreted
    HOF) are asserted for all QUERIES by test_plans; here pin the two
    scale properties specific to these rows: the co-occurrence threshold
    is a broadcast (1-row max), and triangle counting never plans a
    cartesian product."""
    from ner_app_spark.queries import QUERIES

    plan = (
        QUERIES["triangle_count"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pagerank_empty_graph_returns_empty(spark):
    out = graphalgo.pagerank(_edges(spark, []))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["entity", "rank_scaled", "rank"]


def test_derive_pr_scale_bounds():
    # default scale up to 10^6 nodes, then one extra digit per decade,
    # capped where 85*scale would leave int64
    assert graphalgo._derive_pr_scale(1) == graphalgo.PR_SCALE
    assert graphalgo._derive_pr_scale(10**6) == graphalgo.PR_SCALE
    assert graphalgo._derive_pr_scale(10**7) == 10**13
    assert graphalgo._derive_pr_scale(10**9) == 10**15
    assert graphalgo._derive_pr_scale(10**12) == 10**17  # the brief's scale
    assert graphalgo._derive_pr_scale(10**15) == 10**17  # capped, never wraps
    for n in (1, 10**7, 10**12, 10**15):
        assert 85 * graphalgo._derive_pr_scale(n) < (1 << 63)


def test_pagerank_explicit_overflowing_scale_raises(spark):
    with pytest.raises(ValueError, match="overflow"):
        graphalgo.pagerank(_edges(spark, [("a", "b")]), iters=1, scale=10**18)


def test_pagerank_mid_size_graph_long_arithmetic(spark):
    """500-node ring: the initial rank scale // n = 2 * 10^9 fits an
    int32 literal, and 85 * rank_scaled must still run in long
    arithmetic (an int column overflows under ANSI). Every node of a
    regular graph gets the same rank, replayed here in plain Python."""
    n = 500
    ring = [(f"n{i:03d}", f"n{(i + 1) % n:03d}") for i in range(n)]
    iters = 3
    rows = graphalgo.pagerank(_edges(spark, ring), iters=iters).collect()
    scale = graphalgo.PR_SCALE
    rank = scale // n
    for _ in range(iters):
        rank = (15 * scale) // (100 * n) + 2 * ((85 * rank) // (100 * 2))
    assert len(rows) == n
    assert {r["rank_scaled"] for r in rows} == {rank}


def test_pagerank_derived_scale_preserves_mass(spark):
    # explicit larger scale: mass ~ scale (the invariant the int64-safety
    # argument rests on), and the (node-count-derived) default matches the
    # explicit PR_SCALE run ranking exactly on a small graph
    cyc = [("a", "b"), ("b", "c"), ("c", "a")]
    rows = graphalgo.pagerank(_edges(spark, cyc), iters=3, scale=10**15).collect()
    total = sum(r["rank_scaled"] for r in rows)
    assert 10**15 * 0.999 < total <= 10**15


def test_label_propagation_separates_cliques_cc_merges(spark):
    """Two 4-cliques joined by ONE bridge edge: connected components
    collapses them into one blob; LPA keeps two communities — the
    structural reason the registry carries both."""
    k1 = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    k2 = [(a, b) for i, a in enumerate("wxyz") for b in "wxyz"[i + 1:]]
    edges = _edges(spark, k1 + k2 + [("d", "w")])
    got = {r["entity"]: r for r in graphalgo.label_propagation(edges, iters=4).collect()}
    assert len(got) == 8
    left = {got[n]["community"] for n in "abcd"}
    right = {got[n]["community"] for n in "wxyz"}
    assert len(left) == 1 and len(right) == 1 and left != right
    assert got["a"]["community_size"] == 4
    assert got["w"]["community_size"] == 4


def test_label_propagation_deterministic_under_repartition(spark):
    edges = _edges(spark, BOWTIE)
    a = sorted(map(tuple, graphalgo.label_propagation(edges, iters=3).collect()))
    b = sorted(
        map(
            tuple,
            graphalgo.label_propagation(edges.repartition(7), iters=3).collect(),
        )
    )
    assert a == b


def test_label_propagation_workdir_checkpoint(tmp_path, spark):
    edges = _edges(spark, BOWTIE)
    plain = sorted(map(tuple, graphalgo.label_propagation(edges, iters=4).collect()))
    metrics: list = []
    ck = sorted(
        map(
            tuple,
            graphalgo.label_propagation(
                edges, iters=4, workdir=str(tmp_path), metrics_out=metrics
            ).collect(),
        )
    )
    assert plain == ck
    assert metrics, "workdir mode must route rounds through the manifest"
