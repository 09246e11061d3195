"""Corpus-level operators over the emitted triple table
(url, subj, pred, obj).

Emission itself (SURVEY.md §2.28) is per-document local and runs inside
the fused extract stage: ``extract.extract_phrases_and_triples`` calls
``oracle.triples_for_doc`` in the same Arrow batch that emits the
phrases, and ``extract.fused_triples`` splits the triple rows out. The
two rule families, both deterministic and pinned by the oracle goldens:
  1. Intra-phrase dependency-pattern relations: the rightmost-NOUN word is
     the head (the reference's src/analysis/phrase_extractor.py:73-83
     head-noun rule); every other word emits
     (head_noun, pattern_type, word).
  2. Synonym chains: distinct phrases sharing a head noun within a doc,
     sorted, consecutive pairs emit (a, 'synonym', b) — the reference's
     term<->term connection labeling (templates/search.html.jinja).

Plan shape: emission adds no exchange of its own — the fused stage's
one url-hash repartition is the only shuffle before these operators
(tests/test_plans.py). The emitted table holds exactly one row per
(url, subj, pred, obj): triples_for_doc de-duplicates within a doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triple_support(triples: DataFrame, n_salts: int = 16) -> DataFrame:
    """(subj, pred, obj, n_docs, n_hosts): evidence aggregation over the
    emitted triple table — in how many documents, and on how many
    distinct HOSTS, each distinct triple was observed. This is the
    confidence signal KG construction ranks and prunes assertions by: a
    triple seen on many independent hosts is knowledge; a triple seen
    10^6 times on one host is boilerplate.

    Shapes, at 10^12-document scale:

    * ``n_docs`` is a plain COUNT(*): the emitted table holds one row
      per (url, subj, pred, obj) by construction (oracle.triples_for_doc
      de-duplicates within a doc — see the module docstring), so the
      row count per triple IS the document count,
      with no second distinct pass. The oracle recomputes it over its
      own DISTINCT set, so any drift in that invariant hash-mismatches
      (red-capable).
    * ``n_hosts`` is the head-entity skew case the pipeline is built
      around: popular entities concentrate enormous evidence sets on
      few triple keys, so the distinct-host count runs through the
      two-phase salted distinct (operators/skew.py — salt is a function
      of the host, each distinct host counted exactly once), the same
      device the anchor miner and crawl frontier use.

    Reference scope: the reference ranks phrases per document
    (/root/reference/src/analysis/tfidf.py) and has no cross-document
    corpus; corpus-level triple confidence is part of the web-scale
    layer, like operators/webgraph.py.
    """
    from .skew import salted_distinct_count
    from .webgraph import HOST_RE

    ev = triples.select(
        "subj",
        "pred",
        "obj",
        F.regexp_extract("url", HOST_RE, 1).alias("host"),
    )
    agg = salted_distinct_count(
        ev,
        ["subj", "pred", "obj"],
        "host",
        n_salts=n_salts,
        out="n_hosts",
        count_out="n_docs",
    )
    return agg.select(
        "subj",
        "pred",
        "obj",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_hosts").cast("long").alias("n_hosts"),
    )


def predicate_stats(
    triples: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """(pred, n_triples, n_obs, n_subj, n_obj, functionality_micros,
    inv_functionality_micros): per-predicate schema statistics over the
    emitted triple table — the KG schema-induction signal that decides
    how a predicate behaves before canonicalization trusts it.
    ``functionality`` is the PARIS-style measure (#distinct subjects /
    #distinct (subj, obj) pairs): ~1.0 means the predicate is
    functional (one object per subject — safe to merge on), small
    values mean a hub predicate. Emitted in exact integer fixed-point
    (``(1_000_000 * n) div n_triples``) so the DuckDB oracle replays
    it bit-identically (Spark ``div`` == DuckDB ``//`` on nonnegative
    ints) — no float in the hash.

    Shapes, at 10^12-document scale: predicates are a tiny domain
    (the seven POS pattern types + 'synonym'), so a direct
    COUNT(DISTINCT subj) GROUP BY pred would concentrate the whole
    corpus on <10 reducer keys. Every statistic therefore goes through
    a high-cardinality pre-aggregation first: one shuffle keyed by
    (pred, subj, obj) builds the distinct-pair table with per-pair
    observation counts (partial map-side combine eats the duplicate
    mass), and the per-pred rollups are counts over that — plain
    COUNT(*) aggs whose partial aggregation makes the hot pred keys
    irrelevant. No distinct ever shuffles on the skewed key alone.

    Reference scope: the reference classifies phrases per document by
    POS pattern (/root/reference/src/analysis/phrase_extractor.py) and
    has no cross-document corpus; predicate-level schema statistics are
    part of the web-scale KG layer, like triple_support above.

    ``pairs`` lets a caller that already built the (pred, subj, obj)
    pre-aggregation share it (functional_violations below) so the wide
    corpus shuffle plans once.
    """
    if pairs is None:
        pairs = triples.groupBy("pred", "subj", "obj").agg(
            F.count("*").alias("n_obs")
        )
    base = pairs.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.sum("n_obs").alias("n_obs"),
    )
    n_subj = (
        pairs.select("pred", "subj")
        .distinct()
        .groupBy("pred")
        .agg(F.count("*").alias("n_subj"))
    )
    n_obj = (
        pairs.select("pred", "obj")
        .distinct()
        .groupBy("pred")
        .agg(F.count("*").alias("n_obj"))
    )
    return (
        base.join(n_subj, "pred")
        .join(n_obj, "pred")
        .select(
            "pred",
            F.col("n_triples").cast("long").alias("n_triples"),
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("n_subj").cast("long").alias("n_subj"),
            F.col("n_obj").cast("long").alias("n_obj"),
            F.expr("(1000000 * n_subj) div n_triples")
            .cast("long")
            .alias("functionality_micros"),
            F.expr("(1000000 * n_obj) div n_triples")
            .cast("long")
            .alias("inv_functionality_micros"),
        )
    )


def triple_intervals(
    triples: DataFrame, pages: DataFrame, origin: str | None = None
) -> DataFrame:
    """(subj, pred, obj, first_seen_sec, last_seen_sec, span_sec,
    n_obs): the temporal-KG layer — per distinct assertion, when the
    crawl first and last observed it. A triple whose evidence spans
    years of crawl timestamps is durable knowledge; one whose
    observations cluster in a single hour is an event (or a mirror
    burst). KG versioning and decay-weighted confidence both key off
    exactly this interval.

    ``origin`` (a ``yyyy-MM-dd HH:mm:ss`` string) anchors the output:
    first/last are emitted as integer second-offsets from it, computed
    as cast-to-long differences — a timestamp SPAN, so the arithmetic
    is timezone-free and the DuckDB oracle replays it exactly with
    ``date_diff('second', TIMESTAMP origin, ts)`` (the same device as
    the fetch-log span; see driver-contract notes in BENCH.md). With
    ``origin=None`` the raw min/max timestamps are returned instead
    (the programmatic API; offsets exist for the hash gate).

    Shapes, at 10^12-document scale: the (url -> warc_ts) side joins on
    url, the SAME key the extract stage already hash-partitioned on —
    co-located, no extra full shuffle — and the groupBy keys on the
    high-cardinality (subj, pred, obj), not on any skewed singleton.
    min/max/count all partial-aggregate map-side, so head-entity triples
    cost their reducer only the merged partials.

    Reference scope: the reference has no crawl-time axis at all
    (single upload, /root/reference/src/routes/documents.py); the
    temporal layer belongs to the Common-Crawl-style corpus this engine
    targets.
    """
    ts = pages.select("url", "warc_ts")
    j = triples.join(ts, "url")
    agg = j.groupBy("subj", "pred", "obj").agg(
        F.min("warc_ts").alias("__first"),
        F.max("warc_ts").alias("__last"),
        F.count("*").alias("n_obs"),
    )
    span = (F.col("__last").cast("long") - F.col("__first").cast("long")).alias(
        "span_sec"
    )
    if origin is None:
        return agg.select(
            "subj",
            "pred",
            "obj",
            F.col("__first").alias("first_seen"),
            F.col("__last").alias("last_seen"),
            span,
            F.col("n_obs").cast("long").alias("n_obs"),
        )
    t0 = F.to_timestamp(F.lit(origin)).cast("long")
    return agg.select(
        "subj",
        "pred",
        "obj",
        (F.col("__first").cast("long") - t0).alias("first_seen_sec"),
        (F.col("__last").cast("long") - t0).alias("last_seen_sec"),
        span,
        F.col("n_obs").cast("long").alias("n_obs"),
    )

def functional_violations(
    triples: DataFrame, min_functionality_micros: int = 500_000
) -> DataFrame:
    """(pred, subj, n_objs, first_obj, last_obj, functionality_micros):
    KG quality audit — assertions that VIOLATE an induced functional
    predicate. A predicate whose PARIS functionality (predicate_stats
    above) clears ``min_functionality_micros`` mostly maps each subject
    to one object; the subjects where it maps to several are exactly
    where extraction noise, alias collisions, or genuine ambiguity live,
    so canonicalization reviews these rows before trusting the predicate
    as a merge key. Emitted per violating (pred, subj) group with the
    distinct-object count and the lexicographic first/last objects (a
    bounded witness pair — never an unbounded collect_list).

    Shapes, at 10^12-triple scale: the functionality filter runs on the
    per-predicate rollup (a handful of rows — broadcast), and the
    violation scan is ONE distinct keyed by the high-cardinality
    (pred, subj, obj) followed by a (pred, subj) count rollup — the same
    two-phase device predicate_stats uses, so the tiny skewed predicate
    domain never keys a shuffle alone. Exact integer fixed-point
    end-to-end: the DuckDB oracle replays every value bit-identically.

    Reference scope: the reference has no cross-document triple corpus
    (per-request phrase extraction only, /root/reference/src/analysis/
    phrase_extractor.py); constraint auditing is part of the web-scale
    KG-quality layer, like predicate_stats above.
    """
    # ONE distinct-pair frame feeds both the stats rollup and the
    # violation scan, materialized once (localCheckpoint): column
    # pruning makes the two consumers' aggregates differ, so exchange
    # reuse cannot deduplicate them — without the materialization the
    # full-corpus (pred, subj, obj) shuffle would run twice.
    pairs = triples.groupBy("pred", "subj", "obj").agg(
        F.count("*").alias("n_obs")
    ).localCheckpoint(eager=True)
    ps = predicate_stats(triples, pairs=pairs).filter(
        F.col("functionality_micros") >= min_functionality_micros
    )
    cand = pairs.select("pred", "subj", "obj").join(
        F.broadcast(ps.select("pred", "functionality_micros")), "pred"
    )
    grp = cand.groupBy("pred", "subj", "functionality_micros").agg(
        F.count("*").alias("n_objs"),
        F.min("obj").alias("first_obj"),
        F.max("obj").alias("last_obj"),
    )
    return grp.filter(F.col("n_objs") >= 2).select(
        "pred",
        "subj",
        F.col("n_objs").cast("long").alias("n_objs"),
        "first_obj",
        "last_obj",
        F.col("functionality_micros").cast("long").alias("functionality_micros"),
    )

#: id-minting shard count: ids pack as bucket << 40 | rank, so capacity
#: is 2^40 ids per bucket x 1024 buckets = 2^50 « int64; row_number
#: stays bucket-PARTITIONED (never a global window).
ID_BUCKETS = 1024


def mint_ids(
    values: DataFrame, col: str = "entity", n_buckets: int = ID_BUCKETS
) -> DataFrame:
    """(value_col, id): deterministic int64 surrogate ids for a string
    key domain WITHOUT a global index — the prerequisite graphalgo.py's
    header names for 10^12-edge analytics (string shuffle keys cost ~3x;
    mint ids first, shuffle on longs).

    The classic dense-id mint (row_number over the whole dimension) is
    a partition-less window — the single-reducer sort banned from every
    plan in this repo. Sharded mint instead (the pack_chunks device):
    md5-u32 of the value mod ``n_buckets`` picks an independent
    sub-stream, ranks are bucket-PARTITIONED row_numbers ordered by the
    value, and the id packs exactly as ``bucket << 40 | (rank-1)`` —
    collision-free by construction (buckets disjoint, ranks unique
    within a bucket), int64-safe to 2^40 ids per bucket, and a pure
    function of the value SET (reproducible across runs and
    partitionings). Ids are dense within buckets, not globally — the
    consumers (joins, array indexing per shard) only need uniqueness
    and compactness, not contiguity.

    Corpus growth: a NEW value can shift ranks after it within its
    bucket, so production mints once per snapshot and persists the dim
    (tables/icelite.py), minting later snapshots' novel values by
    continuing each bucket's max rank — same discipline as any
    surrogate-key dimension. The DuckDB oracle replays bucket + rank
    bit-identically.
    """
    from pyspark.sql import Window

    from .sampling import _md5_u32_le

    vals = values.select(F.col(col)).distinct()
    b = vals.withColumn(
        "bucket", (_md5_u32_le(F.col(col)) % n_buckets).cast("long")
    )
    w = Window.partitionBy("bucket").orderBy(col)
    return b.select(
        col,
        (
            F.col("bucket") * F.lit(1 << 40)
            + (F.row_number().over(w) - 1)
        ).cast("long").alias("id"),
    )


def encode_triples(triples: DataFrame, n_buckets: int = ID_BUCKETS) -> DataFrame:
    """(subj_id, pred_id, obj_id): the KG edge list re-keyed onto minted
    int64 ids — the shape a KG-embedding trainer or graph engine
    consumes. Entity ids come from ONE shared mint over subj ∪ obj (so
    a string names the same id in either role); predicates mint
    separately (their domain is config-sized — most buckets empty, the
    window still partitioned). Two shuffled equi-joins on the entity
    dim (co-partitioned probe keys) + one broadcast for the predicate
    dim."""
    ents = mint_ids(
        triples.select(F.col("subj").alias("entity")).union(
            triples.select(F.col("obj").alias("entity"))
        ),
        "entity",
        n_buckets,
    )
    preds = mint_ids(triples.select(F.col("pred").alias("p")), "p", n_buckets)
    return (
        triples.select("subj", "pred", "obj")
        .join(ents.select(F.col("entity").alias("subj"), F.col("id").alias("subj_id")), "subj")
        .join(ents.select(F.col("entity").alias("obj"), F.col("id").alias("obj_id")), "obj")
        .join(F.broadcast(preds.select(F.col("p").alias("pred"), F.col("id").alias("pred_id"))), "pred")
        .select("subj_id", "pred_id", "obj_id")
    )

def extend_ids(
    existing: DataFrame, values: DataFrame, col: str = "entity",
    n_buckets: int = ID_BUCKETS,
) -> DataFrame:
    """(value_col, id): the snapshot-growth half of the mint discipline
    mint_ids documents — keep EVERY existing id verbatim and mint novel
    values by continuing each bucket's rank sequence. With this, the id
    dimension persists across crawl snapshots (tables/icelite.py) and a
    re-extracted entity keeps its id forever, while a fresh mint would
    shift ranks (pinned by the unit test).

    Plan: novel values = one left_anti join against the dim; each
    bucket's next rank comes from the EXISTING ids themselves
    (bucket = id >> 40, offset = max(id & (2^40-1)) + 1 — no re-hash of
    the existing domain), aggregated to <= ``n_buckets`` rows and
    broadcast; novel ranks are bucket-PARTITIONED row_numbers on top of
    the offset. Union back with the untouched dim. Same uniqueness
    argument as mint_ids: buckets are disjoint and within a bucket the
    old ids occupy [0, offset) while new ids start at offset.
    """
    from pyspark.sql import Window

    from .sampling import _md5_u32_le

    mask = (1 << 40) - 1
    starts = (
        existing.select(
            F.shiftright("id", 40).alias("bucket"),
            F.col("id").bitwiseAND(F.lit(mask)).alias("rank"),
        )
        .groupBy("bucket")
        .agg((F.max("rank") + 1).alias("start"))
    )
    novel = (
        values.select(F.col(col))
        .distinct()
        .join(existing.select(F.col(col)), col, "left_anti")
        .withColumn("bucket", (_md5_u32_le(F.col(col)) % n_buckets).cast("long"))
        .join(F.broadcast(starts), "bucket", "left")
    )
    w = Window.partitionBy("bucket").orderBy(col)
    minted = novel.select(
        col,
        (
            F.col("bucket") * F.lit(1 << 40)
            + F.coalesce("start", F.lit(0))
            + (F.row_number().over(w) - 1)
        ).cast("long").alias("id"),
    )
    return existing.select(col, "id").unionByName(minted)
