"""Pure-pandas references for the graph algorithms the traced kg_build
op runs over its triples (``operators.graphalgo``).

Each function replays the engine's documented contract on the distinct
(subj, obj) entity edges, so the Spark result can be checked row for
row: integer fixed-point PageRank, deterministic synchronous label
propagation (ties go to the smallest label), and in/out degrees.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: graphalgo's fixed-point scale below 10^6 nodes (rank 1.0 == 10^12)
PR_SCALE = 10**12


def entity_edges(triples: pd.DataFrame) -> pd.DataFrame:
    """Distinct directed (src, dst) entity edges of a triples frame."""
    return (
        triples[["subj", "obj"]]
        .drop_duplicates()
        .rename(columns={"subj": "src", "obj": "dst"})
        .reset_index(drop=True)
    )


def _bidir(edges: pd.DataFrame) -> pd.DataFrame:
    both = pd.concat([edges, edges.rename(columns={"src": "dst", "dst": "src"})])
    return both[both.src != both.dst].drop_duplicates().reset_index(drop=True)


def degrees(edges: pd.DataFrame) -> pd.DataFrame:
    """(node, out_degree, in_degree) over the directed edges, self-loops
    included."""
    out = edges.groupby("src").size().rename("out_degree")
    inn = edges.groupby("dst").size().rename("in_degree")
    both = pd.concat([out, inn], axis=1).fillna(0).astype("int64")
    return both.rename_axis("node").reset_index()


def pagerank(edges: pd.DataFrame, iters: int = 6) -> pd.DataFrame:
    """(entity, rank_scaled) of undirected integer PageRank, damping
    0.85: every step is exact int64 floor division."""
    bid = _bidir(edges)
    nodes = pd.Index(bid.src.unique())
    n = len(nodes)
    src = nodes.get_indexer(bid.src)
    dst = nodes.get_indexer(bid.dst)
    outdeg = np.bincount(src, minlength=n).astype(np.int64)
    base = (15 * PR_SCALE) // (100 * n)
    rank = np.full(n, PR_SCALE // n, dtype=np.int64)
    for _ in range(iters):
        contrib = (85 * rank[src]) // (100 * outdeg[src])
        c = np.zeros(n, dtype=np.int64)
        np.add.at(c, dst, contrib)
        rank = base + c
    return pd.DataFrame({"entity": nodes, "rank_scaled": rank})


def label_propagation(edges: pd.DataFrame, iters: int = 4) -> pd.DataFrame:
    """(entity, community, community_size): each round every node takes
    the most frequent label among its neighbours, ties to the smallest."""
    bid = _bidir(edges)
    labels = pd.DataFrame({"node": bid.src.unique()})
    labels["lbl"] = labels.node
    for _ in range(iters):
        msgs = bid.merge(labels.rename(columns={"node": "src"}), on="src")
        cnt = msgs.groupby(["dst", "lbl"]).size().rename("c").reset_index()
        cnt = cnt.sort_values(["dst", "c", "lbl"], ascending=[True, False, True])
        labels = cnt.drop_duplicates("dst")[["dst", "lbl"]].rename(columns={"dst": "node"})
    sizes = labels.groupby("lbl").size().rename("community_size").reset_index()
    out = labels.merge(sizes, on="lbl")
    return out.rename(columns={"node": "entity", "lbl": "community"})[
        ["entity", "community", "community_size"]
    ]
