"""Deterministic dataset splitting/sampling for training pipelines.

The op every training-data pipeline runs last: assign each document to
train/val/test by a HASH of its stable key, never by position or RNG —
the assignment must be reproducible across runs, stable under
repartitioning, and consistent when the corpus grows (a doc never
migrates between splits as new docs arrive, unlike randomSplit or
row_number-based slicing).

The bucket is the little-endian uint32 of the first 4 bytes of
md5(key) — md5 (not xxhash64) so a DuckDB oracle replays it exactly —
taken mod 100: bucket < 80 -> train, < 90 -> val, else test.
Entirely JVM-side expression work (md5/substring/conv inside
whole-stage codegen): no shuffle, no UDF, embarrassingly parallel at
any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: split boundaries on the 0-99 bucket: [0,80) train, [80,90) val, rest test
TRAIN_UPPER = 80
VAL_UPPER = 90


def _md5_u32_le(key: Column) -> Column:
    """Little-endian uint32 of the first 4 bytes of md5(key) — the same
    value struct.unpack('<I', md5(s).digest()[:4]) yields, and the same
    formula oracles._md5_u32_le replays digit-by-digit in SQL."""
    h = F.md5(key.cast("string"))
    byte = lambda j: F.conv(F.substring(h, 2 * j + 1, 2), 16, 10).cast("long")
    return sum(byte(j) * (256**j) for j in range(4))


def hash_split(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """(doc_id, bucket, split): stable train/val/test assignment by
    md5-hash bucket of ``key``. 80/10/10 by construction of the bucket
    boundaries (exact over the hash distribution, not a sample)."""
    bucket = (_md5_u32_le(F.col(key)) % 100).alias("bucket")
    return docs.select(F.col(key), bucket).select(
        key,
        "bucket",
        F.when(F.col("bucket") < TRAIN_UPPER, F.lit("train"))
        .when(F.col("bucket") < VAL_UPPER, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def hash_sample(docs: DataFrame, fraction: float, key: str = "doc_id") -> DataFrame:
    """Deterministic ~fraction sample: keep rows whose md5-u32 falls
    under fraction * 2^32 (exact integer threshold, so the kept set is
    stable across runs and partitionings). Filter-only: pushes to the
    scan where the key is a stored column."""
    threshold = int(fraction * (1 << 32))
    return docs.filter(_md5_u32_le(F.col(key)) < threshold)


def negative_samples(triples: DataFrame, n_buckets: int = 64) -> DataFrame:
    """(subj, pred, obj, neg_obj): one deterministic corrupted negative
    per distinct positive triple — the TransE-style training pairs a
    KG-embedding job consumes downstream of the extraction pipeline.

    Negatives must be (a) reproducible across runs and partitionings
    (same rule as hash_split: a triple's negative never migrates), and
    (b) generated WITHOUT a global index — the classic implementation
    (row_number over the whole entity vocabulary + sampled join) needs a
    partition-less window, which is exactly the single-reducer sort this
    repo bans from every registry plan. The scalable shape used here:

    * candidate dim = distinct objects, hashed into ``n_buckets``
      bucket-local orderings (row_number PARTITIONED by bucket — each
      bucket sorts independently, no global barrier). O(vocabulary)
      rows total, shuffled once on bucket.
    * each triple hashes to a (bucket, rank) slot: ``h = md5-u32(subj,
      pred, obj)``, bucket = ``h % n_buckets``, rank = ``(h >> log2(B))
      % bucket_size`` — bucket sizes ride a broadcast of ``n_buckets``
      rows, and the slot lookup is ONE equi-join on (bucket, rank)
      against the dim (broadcastable while the vocabulary is small,
      plain hash join when it is not; never a theta-join).
    * self-collisions (the drawn candidate IS the true object) fall
      through to the next rank in the bucket (wrap-around): both slots
      are emitted per triple with a preference index, the collision is
      filtered, and ``min_by(cand, pref)`` keeps the preferred survivor
      — a triple whose bucket holds only its own object yields no
      negative and drops out (deterministically, in both engines).

    Everything is md5/conv expression work + equi-joins + partitioned
    windows: the DuckDB oracle (oracles._kg_negative_samples_sql)
    replays every step bit-exactly over the same inlined pages.
    """
    shift = n_buckets.bit_length() - 1
    if (1 << shift) != n_buckets:
        raise ValueError("n_buckets must be a power of two")
    from pyspark.sql.window import Window

    pos = triples.select("subj", "pred", "obj").distinct()
    ents = pos.select(F.col("obj").alias("cand")).distinct()
    dim = ents.withColumn("bucket", _md5_u32_le(F.col("cand")) % n_buckets)
    w = Window.partitionBy("bucket").orderBy("cand")
    dim = dim.select(
        "bucket", "cand", (F.row_number().over(w) - 1).alias("rk")
    )
    sizes = dim.groupBy("bucket").agg(F.count("*").alias("bsz"))
    h = _md5_u32_le(F.concat_ws("\x1f", "subj", "pred", "obj"))
    t = (
        pos.withColumn("tb", h % n_buckets)
        .withColumn("hr", F.shiftright(h, shift))
        .join(F.broadcast(sizes), F.col("tb") == F.col("bucket"))
        .withColumn("tr", F.col("hr") % F.col("bsz"))
    )
    slots = t.select(
        "subj",
        "pred",
        "obj",
        "tb",
        F.explode(
            F.array(
                F.struct(F.col("tr").alias("slot"), F.lit(0).alias("pref")),
                F.struct(
                    ((F.col("tr") + 1) % F.col("bsz")).alias("slot"),
                    F.lit(1).alias("pref"),
                ),
            )
        ).alias("s"),
    ).select("subj", "pred", "obj", "tb", "s.slot", "s.pref")
    cand = (
        slots.join(
            dim,
            (dim.bucket == slots.tb) & (dim.rk == slots.slot),
        )
        .filter(F.col("cand") != F.col("obj"))
        .select("subj", "pred", "obj", "cand", "pref")
    )
    return cand.groupBy("subj", "pred", "obj").agg(
        F.min_by("cand", "pref").alias("neg_obj")
    )


def edge_split(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, bucket, split): leak-free link-prediction split
    over the distinct positive triples — the train/val/test protocol a
    KG-embedding evaluation consumes downstream of the extraction
    pipeline (FB15k/WN18-style transductive setting: every entity AND
    predicate scored at eval time must have a training embedding).

    * provisional assignment: md5-u32 of the canonical triple key (the
      same chr(31) concat device ``negative_samples`` hashes) mod 100
      -> 80/10/10 via the hash_split boundaries. Stable across runs,
      partitionings, and corpus growth — a triple never migrates.
    * anchor repair: a provisional val/test triple whose subj, obj, or
      pred never appears in a provisional-TRAIN triple is reassigned to
      train (evaluating it would score an embedding that does not
      exist). ONE pass is exact: repair only moves rows INTO train, so
      the final train entity/predicate sets are supersets of the
      provisional sets every val/test row was checked against — no
      fixpoint iteration needed.

    Scale shape: entity anchoring is two equi-joins keyed on subj/obj
    against the distinct train-entity dim (plain shuffled hash joins —
    the dim is O(entity vocabulary) and deliberately NOT broadcast);
    the predicate dim is config-sized and broadcast. The provisional
    frame is localCheckpoint'ed so the three consumers (entity dim,
    predicate dim, final projection) share one materialization instead
    of re-running the upstream extraction lineage. No windows, no
    driver collect. The DuckDB oracle (oracles._kg_edge_split_sql)
    replays bucket arithmetic and repair rule bit-exactly.

    Rows with a NULL ``subj``, ``pred`` or ``obj`` are dropped at entry:
    they are not triples, and their key has no portable hash (Spark's
    ``concat_ws`` skips NULLs while the oracle's ``||`` propagates them).
    """
    pos = (
        triples.select("subj", "pred", "obj")
        .dropna(subset=["subj", "pred", "obj"])
        .distinct()
    )
    h = _md5_u32_le(F.concat_ws("\x1f", "subj", "pred", "obj"))
    prov = pos.select(
        "subj",
        "pred",
        "obj",
        (h % 100).cast("long").alias("bucket"),
    ).withColumn(
        "prov",
        F.when(F.col("bucket") < TRAIN_UPPER, F.lit("train"))
        .when(F.col("bucket") < VAL_UPPER, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    prov = prov.localCheckpoint(eager=True)
    tr = prov.filter(F.col("prov") == "train")
    ents = (
        tr.select(F.col("subj").alias("ent"))
        .union(tr.select(F.col("obj").alias("ent")))
        .distinct()
        .withColumn("anchored", F.lit(True))
    )
    preds = (
        tr.select("pred").distinct().withColumn("pred_anchored", F.lit(True))
    )
    out = (
        prov.join(
            ents.select(F.col("ent").alias("subj"), F.col("anchored").alias("s_ok")),
            "subj",
            "left",
        )
        .join(
            ents.select(F.col("ent").alias("obj"), F.col("anchored").alias("o_ok")),
            "obj",
            "left",
        )
        .join(F.broadcast(preds), "pred", "left")
    )
    anchored = (
        F.col("s_ok").isNotNull()
        & F.col("o_ok").isNotNull()
        & F.col("pred_anchored").isNotNull()
    )
    return out.select(
        "subj",
        "pred",
        "obj",
        "bucket",
        F.when((F.col("prov") == "train") | anchored, F.col("prov"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    key: str = "url",
    stratum: str = "lang",
) -> DataFrame:
    """Deterministic per-stratum hash sample: keep a row iff
    ``md5-u32(key) < rate(stratum) * 2^32`` — the training-mix
    rebalancer (downsample the head language, keep the long tail whole)
    with hash_sample's guarantees per stratum: reproducible across runs
    and partitionings, stable under corpus growth, and exact integer
    thresholds so a DuckDB oracle replays the kept set row for row.

    The per-stratum threshold is a literal CASE chain (strata are a
    config-sized dict, never a join) folded into the same codegen
    projection as the md5 — filter-only, no shuffle, embarrassingly
    parallel at any scale. Strata apply in sorted key order so the
    rendered plan is stable."""
    thr: Column = F.lit(int(default_rate * (1 << 32)))
    for s, r in sorted(rates.items()):
        thr = F.when(F.col(stratum) == s, F.lit(int(r * (1 << 32)))).otherwise(thr)
    return df.filter(_md5_u32_le(F.col(key)) < thr)


def pack_chunks(
    docs: DataFrame,
    chunk_tokens: int = 2048,
    n_buckets: int = 32,
    key: str = "doc_id",
) -> DataFrame:
    """(doc_id, bucket, n_tokens, start_offset, end_offset, first_chunk,
    last_chunk, n_chunks): GPT-style concat-and-chunk packing offsets —
    the map from each document to the fixed-size training sequences its
    tokens land in. Pretraining pipelines concatenate the corpus and
    cut every ``chunk_tokens`` tokens; this operator computes where
    every document falls in that stream WITHOUT materializing it, so a
    downstream tokenizer job can emit sequence shards directly.

    The global concatenation order would need a partition-less window
    (the single-reducer sort this repo bans from every plan), so the
    stream is sharded: each doc hashes to one of ``n_buckets``
    independent sub-streams (md5-u32 of ``key`` — the hash_split
    device, so the shard assignment is reproducible across runs and
    stable under corpus growth), and packing runs per shard with a
    bucket-PARTITIONED cumulative sum ordered by the unique key. This
    is exactly how a 1000-executor packing job shards: sub-streams are
    embarrassingly parallel, each executor seals its own sequences, and
    the only cross-partition motion is the one exchange on bucket.
    Zero-token docs contribute nothing to any chunk and are dropped.

    All outputs are exact integers (offsets, ``div`` chunk ids), so the
    DuckDB oracle replays the row bit-identically.

    Reference scope: the reference trains nothing (inference-only NER,
    /root/reference/src/services/ner_service.py); sequence packing is
    part of the training-data curation layer, like hash_split above.
    """
    from pyspark.sql.window import Window

    from .tfidf import TOKEN_SQL_RE

    n_tok = F.size(
        F.expr(f"regexp_extract_all(lower(text), '{TOKEN_SQL_RE}', 0)")
    ).cast("long")
    base = docs.select(
        F.col(key),
        (_md5_u32_le(F.col(key)) % n_buckets).cast("long").alias("bucket"),
        n_tok.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("bucket")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    out = base.select(
        key,
        "bucket",
        "n_tokens",
        (cum - F.col("n_tokens")).cast("long").alias("start_offset"),
        cum.cast("long").alias("end_offset"),
    )
    return out.select(
        key,
        "bucket",
        "n_tokens",
        "start_offset",
        "end_offset",
        F.expr(f"start_offset div {chunk_tokens}").cast("long").alias("first_chunk"),
        F.expr(f"(end_offset - 1) div {chunk_tokens}").cast("long").alias("last_chunk"),
        (
            F.expr(f"(end_offset - 1) div {chunk_tokens}")
            - F.expr(f"start_offset div {chunk_tokens}")
            + 1
        )
        .cast("long")
        .alias("n_chunks"),
    )
