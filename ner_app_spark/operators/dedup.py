"""Deduplication family for training-data pipelines over
``documents(doc_id, text)``: exact, MinHash+LSH, n-gram Jaccard, SimHash.

All variants are expressed with engine-portable SQL primitives (explicit
regex character classes, md5-based hashing, integer arithmetic) so every
one of them is verifiable against a DuckDB oracle running textually
different but semantically identical SQL.

Scale notes (100 TB):
  * exact dedup = hash groupBy on md5(text): map-side partial agg, one
    shuffle of (hash, doc_id) — never the full text.
  * MinHash+LSH: per-doc signatures (narrow), bucket join on
    (band, signature) — candidates only, no all-pairs cross join; verify
    step computes true Jaccard only on candidates.
  * SimHash: one pass token explode + two-level agg; fingerprints are 2
    ints per doc, near-dup search is a bucket join on fingerprint bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tfidf import TOKEN_SQL_RE

N_MINHASH_BANDS = 6

#: Hot-bucket guard for the LSH band join: a (band, signature) bucket of
#: size b yields O(b^2) candidate pairs, so one degenerate bucket (every
#: near-identical boilerplate page hashes to it) dominates the whole job
#: — this was 53 s of round 1's 106 s headline. Buckets above the cap are
#: DROPPED, declared, not silent: members this common are stop-shingle
#: noise, not near-duplicate evidence (a real near-dup pair still meets
#: in its rarer bands). The DuckDB oracle applies the identical rule.
MAX_LSH_BUCKET = 64


def _tokens_arr(text_col: str = "text") -> str:
    return f"regexp_extract_all(lower({text_col}), '{TOKEN_SQL_RE}', 0)"


def explode_shingles(docs: DataFrame, n: int = 2, text_col: str = "text") -> DataFrame:
    """(doc_id, sh): one row per word n-gram shingle — posexplode +
    positional access + concat_ws, fully whole-stage-codegen'd (the
    ``transform(sequence(...))`` array form runs on the interpreted
    expression path, ~2.3x slower; see BENCH.md platform probes)."""
    pos = docs.select(
        "doc_id", F.expr(_tokens_arr(text_col)).alias("__t")
    ).select("doc_id", "__t", F.posexplode("__t").alias("__i", "__w"))
    gram = F.when(
        F.col("__i") + n <= F.size("__t"),
        F.concat_ws(" ", *[F.get("__t", F.col("__i") + j) for j in range(n)]),
    )
    return pos.select("doc_id", gram.alias("sh")).filter(F.col("sh").isNotNull())


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, text_hash, is_duplicate): duplicate = not the minimum
    doc_id within its content-hash group (content-addressed identity,
    reference S2 semantics: /root/reference/src/services/text_service.py:8-15)."""
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .withColumn("is_duplicate", F.col("doc_id") != F.min("doc_id").over(w))
        .select("doc_id", "text_hash", "is_duplicate")
    )


def minhash_signatures(docs: DataFrame, n_shingle: int = 2, n_bands: int = N_MINHASH_BANDS) -> DataFrame:
    """(doc_id, band, sig): per-band MinHash = lexicographic min of
    md5(band || '|' || shingle) — md5 is identical across engines, so the
    signature is portable (unlike xxhash64, which DuckDB lacks).

    Formulated as explode + groupBy-min rather than
    ``array_min(transform(...))``: higher-order array functions run on
    Spark's interpreted expression path (measured 2.3x slower), while the
    exploded aggregate is whole-stage-codegen'd and the map-side partial
    min means the shuffle carries ~n_bands rows per doc, not the shingle
    set."""
    sh = explode_shingles(docs, n_shingle)
    return (
        sh.withColumn(
            "band", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1)))
        )
        .groupBy("doc_id", "band")
        .agg(
            F.min(
                F.md5(F.concat(F.col("band").cast("string"), F.lit("|"), F.col("sh")))
            ).alias("sig")
        )
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    n_shingle: int = 2,
    n_bands: int = N_MINHASH_BANDS,
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: same signature in any band,
    buckets larger than ``max_bucket`` dropped (hot-bucket guard — the
    O(b^2) blowup cap that makes the band join survive skewed corpora)."""
    sigs = minhash_signatures(docs, n_shingle, n_bands)
    bw = Window.partitionBy("band", "sig")
    sigs = (
        sigs.withColumn("__bsz", F.count("*").over(bw))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def near_dup_verified(
    docs: DataFrame, n_shingle: int = 2, min_jaccard: float = 0.3
) -> DataFrame:
    """(doc_a, doc_b, jaccard): the production near-dup path — MinHash-LSH
    candidate generation, then exact Jaccard computed ONLY on candidate
    pairs (the shingle joins hang off the candidate list, so verify cost
    is O(candidates x shingles), never the all-pairs inverted index).
    At 100 TB this is the difference between O(candidates) and
    O(N^2 / vocabulary) verify cost."""
    cands = minhash_lsh_candidates(docs, n_shingle)
    sh = explode_shingles(docs, n_shingle).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        cands.join(
            sh.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a"
        )
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def _simhash_bit_exprs() -> tuple[str, str]:
    """Portable 64-bit SimHash from md5 hex digits: digit d at hex position
    p contributes bits (d>>k)&1 for k in 0..3. Returns (hi, lo) sum
    expressions over a (token, tf, digit position) exploded frame —
    generated once, used verbatim by both Spark and DuckDB."""
    # weight of bit i (= 4*p + k), split into two 32-bit halves
    hi_terms, lo_terms = [], []
    for p in range(16):
        for k in range(4):
            i = 4 * p + k
            bit = f"(CAST(floor(d{p} / {1 << k}) AS BIGINT) % 2)"
            signed = f"SUM(tf * (2 * {bit} - 1))"
            target = hi_terms if i >= 32 else lo_terms
            shift = i - 32 if i >= 32 else i
            term = f"(CASE WHEN {signed} > 0 THEN CAST({1 << shift} AS BIGINT) ELSE 0 END)"
            target.append(term)
    return " + ".join(hi_terms), " + ".join(lo_terms)


def _hex_digit_col_list() -> list[str]:
    """d0..d15: integer value of each md5 hex digit of the token —
    instr-based, available identically in Spark and DuckDB."""
    return [
        f"(instr('0123456789abcdef', substr(md5(token), {p + 1}, 1)) - 1) AS d{p}"
        for p in range(16)
    ]


def _hex_digit_cols() -> str:
    return ", ".join(_hex_digit_col_list())


def simhash_sql(table: str = "documents") -> str:
    """Engine-portable SQL computing (doc_id, simhash_hi, simhash_lo)."""
    hi, lo = _simhash_bit_exprs()
    return f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_SQL_RE}')) AS token
    FROM {table}
  ) t
  GROUP BY doc_id, token
),
digits AS (
  SELECT doc_id, tf, {_hex_digit_cols()}
  FROM tf
)
SELECT doc_id, {hi} AS simhash_hi, {lo} AS simhash_lo
FROM digits
GROUP BY doc_id
"""


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash_hi, simhash_lo): 64-bit SimHash fingerprint in two
    exact 32-bit halves (ANSI-safe, engine-portable)."""
    hi, lo = _simhash_bit_exprs()
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.expr(_tokens_arr())).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    digits = tf.selectExpr("doc_id", "tf", *_hex_digit_col_list())
    return digits.groupBy("doc_id").agg(
        F.expr(hi).alias("simhash_hi"), F.expr(lo).alias("simhash_lo")
    )


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance. Banded: pairs must share
    one of 4 16-bit bands (pigeonhole: any pair within hamming<=3 shares a
    band; wider distances are best-effort) — avoids the all-pairs cross."""
    fp = simhash(docs)
    banded = fp.select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(
                (F.col("simhash_hi") / (1 << 16)).cast("long"),
                (F.col("simhash_hi") % (1 << 16) + (1 << 33)).cast("long"),
                (F.col("simhash_lo") / (1 << 16) + (2 << 33)).cast("long"),
                (F.col("simhash_lo") % (1 << 16) + (3 << 33)).cast("long"),
            )
        ).alias("band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash_hi").alias("hi_a"),
        F.col("simhash_lo").alias("lo_a"),
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash_hi").alias("hi_b"),
        F.col("simhash_lo").alias("lo_b"),
        "band_val",
    )
    return (
        a.join(b, "band_val")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.bit_count(F.expr("hi_a ^ hi_b")) + F.bit_count(F.expr("lo_a ^ lo_b"))
            ).cast("bigint").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dup_span_fraction(docs: DataFrame, n: int = 4) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_frac_micros): the
    substring-level dedup signal (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") — per document, the fraction of
    its n-token window starts whose exact n-gram also occurs in at
    least one OTHER document. Document-level near-dup (MinHash/SimHash
    above) misses partially-copied text — a page that quotes half of
    another scores low Jaccard overall while still feeding the model a
    verbatim span; this operator measures exactly that mass so a
    curation gate can drop or trim high-fraction docs. Emitted in
    integer fixed-point (``(1_000_000 * dup) div total``, 0 when the
    doc is shorter than n tokens) so the DuckDB oracle replays it
    bit-identically — no float in the hash.

    Shapes, at 10^12-document scale: the occurrence stream is
    O(tokens); it is first pre-aggregated to one row per (doc_id,
    n-gram) with an occurrence count — a shuffle keyed by (doc_id, sh),
    which no boilerplate n-gram can skew because the key includes the
    document. The hot-shingle set ("appears in >= 2 distinct docs") is
    a COUNT(*) over that distinct-pair table, where map-side partial
    aggregation absorbs the head keys. The final semi-join back is on
    the pre-aggregated pair table (one row per key, no row
    multiplication); residual skew in docs-per-boilerplate-shingle is
    AQE skew-join territory, declared here.

    Reference scope: the reference dedups whole documents by content
    hash (/root/reference/src/services/text_service.py:8-15); span-level
    dedup is part of the training-data curation layer, like the MinHash
    and SimHash families above.
    """
    occ = explode_shingles(docs, n)
    per = occ.groupBy("doc_id", "sh").agg(F.count("*").alias("n_occ"))
    hot = (
        per.groupBy("sh")
        .agg(F.count("*").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("sh")
    )
    dup = (
        per.join(hot, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.sum("n_occ").alias("__nd"))
    )
    tot = occ.groupBy("doc_id").agg(F.count("*").alias("__nw"))
    return (
        docs.select("doc_id")
        .join(tot, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__nw", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("__nd", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.expr(
                "CASE WHEN coalesce(__nw, 0) = 0 THEN 0 "
                "ELSE (1000000 * coalesce(__nd, 0)) div __nw END"
            )
            .cast("long")
            .alias("dup_frac_micros"),
        )
    )
