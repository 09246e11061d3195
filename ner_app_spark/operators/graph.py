"""Graph tables: node/edge minting, FK validation, threshold-hide, merge
and diff — the reference's dictionary CRUD semantics re-expressed as set
operations over DataFrames.

Reference parity:
  * node identity = (text, type)      dictionary_service.py:186-217 (J1)
  * id remap on merge                 dictionary_service.py:198-230  (J2)
  * FK existence check per endpoint   dictionary_service.py:277-279  (J3)
  * edge set-diff upsert              dictionary_service.py:296-365  (J4/U2)
  * unhide-all on merge               dictionary_service.py:190-193  (U3)
  * undirected duplicate-edge drop    public/js/dictionary.js:167-175 (U4)
  * tfidf threshold -> hidden flag    public/js/dictionary.js:388-399 (P2)

Ids are minted content-addressed (xxhash64 of the natural key) instead of
Postgres sequences: deterministic, resume-safe, no driver round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def node_id(graph_col, text_col, type_col):
    return F.xxhash64(graph_col, text_col, type_col)


def mint_nodes(phrases: DataFrame, graph_col: str = "url") -> DataFrame:
    """phrases -> nodes(graph_id, node_id, text, type, phrase_type, tfidf,
    hidden). One node per (graph, text, type); tfidf = max over duplicates.

    The general join form, for phrases from any source. run_pipeline does
    not call it: its phrases are keyed by url, so the analysis pass marks
    the same nodes per url and extract.fused_nodes projects them. This
    stays the reference the pipeline tests compare against, and
    perfbench's traced op calls it."""
    return (
        phrases.groupBy(
            F.col(graph_col).alias("graph_id"),
            F.col("phrase").alias("text"),
            F.col("type").alias("type"),
        )
        .agg(F.max("tfidf").alias("tfidf"))
        .select(
            "graph_id",
            node_id(F.col("graph_id"), F.col("text"), F.col("type")).alias("node_id"),
            "text",
            "type",
            F.lit("phrase").alias("phrase_type"),
            "tfidf",
            F.lit(False).alias("hidden"),
        )
    )


def mint_edges(triples: DataFrame, nodes: DataFrame, graph_col: str = "url") -> DataFrame:
    """triples(url, subj, pred, obj) -> edges(graph_id, src, dst, pred),
    endpoints resolved against node text within the same graph; dangling
    endpoints dropped (FK-validated insert).

    The general join form, kept as mint_nodes is: run_pipeline projects
    the same edges from the analysis pass (extract.fused_edges)."""
    n = nodes.select(
        F.col("graph_id"), F.col("text"), F.col("node_id")
    )
    t = triples.select(
        F.col(graph_col).alias("graph_id"), "subj", "pred", "obj"
    )
    return (
        t.join(n.withColumnRenamed("text", "subj").withColumnRenamed("node_id", "src"),
               ["graph_id", "subj"], "inner")
        .join(n.withColumnRenamed("text", "obj").withColumnRenamed("node_id", "dst"),
              ["graph_id", "obj"], "inner")
        .select("graph_id", "src", "dst", "pred")
        .distinct()
    )


def apply_threshold(nodes: DataFrame, threshold: float) -> DataFrame:
    """tfidf below threshold -> hidden (P2; threshold clamped to [0,1]
    like the UI does, public/js/dictionary.js:380-386)."""
    thr = max(0.0, min(1.0, threshold))
    return nodes.withColumn("hidden", F.col("tfidf") < F.lit(thr))


def fk_violations(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Edges with a dangling endpoint (anti-join on either side) — the
    reference raises per row (J3); at scale we surface them as a table."""
    ids = nodes.select("graph_id", "node_id")
    bad_src = edges.join(
        ids.withColumnRenamed("node_id", "src"), ["graph_id", "src"], "left_anti"
    )
    bad_dst = edges.join(
        ids.withColumnRenamed("node_id", "dst"), ["graph_id", "dst"], "left_anti"
    )
    return bad_src.unionByName(bad_dst).distinct()


def dedupe_edges_undirected(edges: DataFrame) -> DataFrame:
    """Drop duplicate connections regardless of direction (U4): keep the
    first row per unordered endpoint pair, deterministically (src asc)."""
    return (
        edges.withColumn("__lo", F.least("src", "dst"))
        .withColumn("__hi", F.greatest("src", "dst"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("graph_id", "__lo", "__hi").orderBy("src", "pred")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__lo", "__hi", "__rn")
    )


def node_id_md5(graph_col, text_col, type_col):
    """Engine-portable mint variant (md5 string ids): DuckDB has no
    xxhash64, so the oracle-checked merge query mints with md5 — the merge
    logic itself is hash-agnostic."""
    return F.md5(F.concat_ws("|", graph_col, text_col, type_col))


def merge_graphs(
    target_nodes: DataFrame,
    target_edges: DataFrame,
    source_nodes: DataFrame,
    source_edges: DataFrame,
    target_graph_id,
    mint=node_id,
) -> tuple[DataFrame, DataFrame]:
    """Merge source graph(s) into the target graph (dictionary merge,
    dictionary_service.py:158-241):

      1. unhide every target node (U3)
      2. source nodes dedupe against target by (text, type): hit -> reuse
         target node id, miss -> insert under the target graph (J1/U1)
      3. source edges remap endpoints old->new (two inner joins, J2);
         edges with unmappable endpoints drop out (the reference raises)
    """
    tgt = target_nodes.withColumn("hidden", F.lit(False))

    probe = tgt.select(
        "text", "type", F.col("node_id").alias("__existing_id")
    )
    src_resolved = source_nodes.join(F.broadcast(probe), ["text", "type"], "left")
    new_nodes = (
        src_resolved.filter(F.col("__existing_id").isNull())
        .dropDuplicates(["text", "type"])
        .select(
            F.lit(target_graph_id).alias("graph_id"),
            mint(F.lit(target_graph_id), F.col("text"), F.col("type")).alias("node_id"),
            "text",
            "type",
            "phrase_type",
            "tfidf",
            F.lit(False).alias("hidden"),
        )
    )
    merged_nodes = tgt.unionByName(new_nodes)

    # old source id -> merged id
    id_map = source_nodes.join(
        merged_nodes.select("text", "type", F.col("node_id").alias("new_id")),
        ["text", "type"],
        "inner",
    ).select(F.col("node_id").alias("old_id"), "new_id")

    remapped = (
        source_edges.join(
            id_map.withColumnRenamed("old_id", "src").withColumnRenamed("new_id", "new_src"),
            "src",
            "inner",
        )
        .join(
            id_map.withColumnRenamed("old_id", "dst").withColumnRenamed("new_id", "new_dst"),
            "dst",
            "inner",
        )
        .select(
            F.lit(target_graph_id).alias("graph_id"),
            F.col("new_src").alias("src"),
            F.col("new_dst").alias("dst"),
            "pred",
        )
    )
    merged_edges = target_edges.unionByName(remapped).dropDuplicates(
        ["graph_id", "src", "dst"]
    )
    return merged_nodes, merged_edges


def diff_edges(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Set-diff upsert plan (J4): full-outer on (graph_id, src, dst) ->
    action 'insert' | 'delete' | 'keep' per edge."""
    key = ["graph_id", "src", "dst"]
    e = existing.select(*key).withColumn("__e", F.lit(1))
    i = incoming.select(*key).withColumn("__i", F.lit(1))
    return (
        e.join(i, key, "full_outer")
        .withColumn(
            "action",
            F.when(F.col("__e").isNull(), F.lit("insert"))
            .when(F.col("__i").isNull(), F.lit("delete"))
            .otherwise(F.lit("keep")),
        )
        .select(*key, "action")
    )
