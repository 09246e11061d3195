"""Connected-components entity resolution — pure DataFrame implementation
of alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond"), converging in O(log n) rounds.

Replaces the reference's transitive merge-by-natural-key
(/root/reference/src/services/dictionary_service.py:158-241): phrases /
aliases linked to the same entity collapse into one canonical id.

No GraphFrames jar needed: each round is two groupBy+join stages, and
plans/checkpoint.persister truncates the lineage so plans stay flat
across iterations. Node ids are int64 (callers hash string
keys with xxhash64; at 10^12 nodes expect ~a handful of 64-bit
collisions — acceptable for canonicalization, or swap in a minted-id
dimension if not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import persister


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every larger neighbor to min(Γ(u) ∪ {u})."""
    bidir = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = bidir.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", F.col("src")).alias("mn"))
    return (
        bidir.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u over smaller neighbors N(u): connect N(u) ∪ {u}
    to min(N(u))."""
    d = (
        e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = d.groupBy("src").agg(F.min("dst").alias("mn"))
    nbr_edges = d.join(mins, "src").select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    self_edges = mins.select(F.col("src"), F.col("mn").alias("dst"))
    return (
        nbr_edges.union(self_edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free under ANSI mode
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    workdir: str | None = None,
    n_parts: int = 16,
    metrics_out: list | None = None,
) -> DataFrame:
    """edges(src long, dst long) -> (id long, component long) where
    component is the minimum node id of the component. Nodes that appear
    in no edge are the caller's concern (left-join + coalesce).

    Lineage is truncated every round (plans otherwise double in depth and
    the optimizer wall explodes) through plans/checkpoint.persister:
    ``localCheckpoint`` by default, or with ``workdir`` the
    manifest-backed per-partition checkpoint, resumable from the last
    published round (trade-off documented in PLANS.md
    §failure-tolerance).
    """
    persist = persister(workdir, n_parts, metrics_out)
    e = persist(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct(),
        "cc_init",
        "src",
    )
    prev = _fingerprint(e)
    for i in range(max_iter):
        e = persist(_small_star(_large_star(e)), f"cc_round_{i:02d}", "src")
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur
    # converged star forest: every src points at its root; roots map to themselves
    assign = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("id"), F.col("dst").alias("component")).distinct()
    return assign.union(roots).groupBy("id").agg(F.min("component").alias("component"))


def canonicalize(links: DataFrame, workdir: str | None = None) -> DataFrame:
    """Canonical entity ids from same-entity evidence.

    ``links`` rows (mention string, entity_id long) are same-entity
    assertions: mention-node <-> entity-node. Returns
    (key string, kind 'mention'|'entity', canon long): every mention and
    entity id mapped to its component's canonical id.

    Mention node ids are hash-derived but OFFSET ABOVE 2^62 — strictly
    greater than any real entity id (entity ids are catalog keys, not
    hashes). Every mention node is incident to an entity edge, so the
    component minimum — the canonical id — is always the component's
    smallest ENTITY id: an engine-independent value a SQL oracle can
    recompute without replaying the hash (oracles._kg_canonical_sql),
    and a stable id that survives re-hashing the mention vocabulary.
    """
    mention_id = F.xxhash64(F.concat(F.lit("m:"), F.col("mention"))).bitwiseAND(
        F.lit((1 << 62) - 1)
    ) + F.lit(1 << 62)
    m = links.select(
        mention_id.alias("src"),
        F.col("entity_id").cast("long").alias("dst"),
    )
    # workdir: CC rounds run through the manifest-backed reliable
    # checkpoint (resume-safe under executor/driver loss) — run_pipeline
    # passes its own workdir through so a checkpointed job is reliable
    # END-TO-END, not just between stages
    cc = connected_components(m, workdir=workdir)
    mention_map = (
        links.select("mention").distinct()
        .withColumn("id", mention_id)
        .join(cc, "id", "left")
        .select(
            F.col("mention").alias("key"),
            F.lit("mention").alias("kind"),
            F.coalesce("component", "id").alias("canon"),
        )
    )
    entity_map = (
        links.select(F.col("entity_id").cast("long").alias("id")).distinct()
        .join(cc, "id", "left")
        .select(
            F.col("id").cast("string").alias("key"),
            F.lit("entity").alias("kind"),
            F.coalesce("component", "id").alias("canon"),
        )
    )
    return mention_map.unionByName(entity_map)
