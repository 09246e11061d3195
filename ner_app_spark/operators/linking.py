"""Entity linking: mention -> alias-dictionary candidates -> vectorized
cosine scoring -> top-1 link.

Re-expresses the reference's two similarity-search paths as one
distributed retrieval query:
  * candidate probe by natural key = the dict-lookup "hash join"
    (/root/reference/src/services/dictionary_service.py:186-217, J1)
  * TF-IDF cosine ranking (/root/reference/src/analysis/tfidf.py:58-90,
    A3 + J6) — here over character 3-grams of the mention/alias strings
    (single-lemma strings have no word n-grams; char n-grams are the
    standard blocking/scoring featurization, cf. SparkER EDBT'19).

Scale design (100 TB):
  * Mentions are DISTINCT strings, not occurrences — the mention
    vocabulary is orders of magnitude smaller than the corpus; scoring
    runs once per string, then a cheap hash join fans results back out.
  * The alias dictionary is a dimension table -> indexed once on the
    driver and broadcast (no shuffle of the big side).
  * Fuzzy candidate generation uses MinHash-LSH banding on char 3-grams:
    probe (band, signature) buckets instead of an all-pairs cross.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BANDS = 4


def _py_shingles(s: str) -> list[str]:
    """One entry per char-3gram OCCURRENCE of lower(s); strings shorter
    than 3 yield themselves (the substring clamping the DuckDB oracle's
    SQL form, oracles._kg_links_cte, replays)."""
    lc = s.lower()
    return [lc[i : i + 3] for i in range(max(len(lc) - 2, 1))]


def _py_band_sigs(sh_set: set[str], n_bands: int = N_BANDS) -> list[str]:
    """MinHash band signatures: per band, the lexicographic min of
    md5(band || '|' || shingle) hex digests over the shingle set —
    hashlib.md5 over UTF-8 bytes is the same function DuckDB's ``md5``
    computes, which keeps the linker and its oracle candidate-identical
    (md5, unlike xxhash64, exists in both engines)."""
    return [
        min(hashlib.md5(f"{b}|{sh}".encode()).hexdigest() for sh in sh_set)
        for b in range(n_bands)
    ]


def _alias_index(dim_rows) -> tuple[dict, dict, dict, dict]:
    """Driver-side dimension prep for the Arrow linker: per-alias entity
    list, shingle Counter, norm, and the (band, sig) -> aliases LSH
    bucket index. Dictionary-sized, built once and shipped via
    sc.broadcast."""
    by_alias: dict[str, list] = {}
    acnt: dict[str, Counter] = {}
    anorm: dict[str, float] = {}
    band_ix: dict[tuple[int, str], set] = {}
    for r in dim_rows:
        by_alias.setdefault(r["alias"], []).append(
            (r["entity_id"], r["canonical_name"])
        )
        if r["alias"] not in acnt:
            c = Counter(_py_shingles(r["alias"]))
            acnt[r["alias"]] = c
            anorm[r["alias"]] = math.sqrt(sum(v * v for v in c.values()))
            for b, sig in enumerate(_py_band_sigs(set(c))):
                band_ix.setdefault((b, sig), set()).add(r["alias"])
    return by_alias, acnt, anorm, band_ix


def link_mentions(
    phrases: DataFrame,
    aliases: DataFrame,
    min_score: float = 0.5,
    mention_col: str = "head_noun",
) -> DataFrame:
    """phrases -> (mention, alias, entity_id, canonical_name, score):
    top-1 link per distinct mention above threshold, deterministic
    tie-break (score desc, entity_id asc, alias asc).

    Production shape: ONE Arrow stage over the distinct-mention
    vocabulary with the alias-dictionary index broadcast — the literal
    "alias dictionary broadcast join + char-ngram MinHash blocking with
    vectorized link-scoring" (BASELINE north star), executed as
    mapInPandas. Every mention links independently, so the stage is
    embarrassingly parallel and shuffle-free: the only exchange in the
    whole linking plan is the mention ``distinct``. A join-tree
    formulation of the same retrieval spends ~10 exchanges on
    DIMENSION-sized frames (distinct mentions, candidate pairs) — pure
    scheduling latency that does not shrink with added cores. At cluster
    scale the mention vocabulary streams through Arrow batches
    partition-by-partition, and the alias index rides one broadcast.

    Bit-exactness vs the DuckDB oracle (oracles._kg_links_cte, the
    kg_links registry row) holds because shingle counts are small
    integers (exact in double under any accumulation order), norms are
    sqrt of exact integer sums, and the final divide is one IEEE op both
    engines perform identically.
    """
    import pandas as pd

    spark = phrases.sparkSession
    mentions = (
        phrases.filter(F.col(mention_col) != "")
        .select(F.col(mention_col).alias("mention"))
        .distinct()
    )
    dim = aliases.select("alias", "entity_id", "canonical_name").distinct().collect()
    bc = spark.sparkContext.broadcast(_alias_index(dim))
    schema = (
        "mention string, alias string, entity_id long, "
        "canonical_name string, score double"
    )
    empty = {
        "mention": pd.Series(dtype="object"),
        "alias": pd.Series(dtype="object"),
        "entity_id": pd.Series(dtype="int64"),
        "canonical_name": pd.Series(dtype="object"),
        "score": pd.Series(dtype="float64"),
    }

    def link_batches(batches):
        by_alias, acnt, anorm, band_ix = bc.value
        for pdf in batches:
            rows = []
            for m in pdf["mention"]:
                mc = Counter(_py_shingles(m))
                nm = math.sqrt(sum(v * v for v in mc.values()))
                cand = set()
                if m in by_alias:  # exact natural-key probe
                    cand.add(m)
                for b, sig in enumerate(_py_band_sigs(set(mc))):
                    cand |= band_ix.get((b, sig), set())
                best = None
                for al in cand:
                    ac = acnt[al]
                    dot = 0
                    for sh, cm in mc.items():
                        ca = ac.get(sh)
                        if ca:
                            dot += cm * ca
                    score = float(dot) / (nm * anorm[al])
                    if score < min_score:
                        continue
                    for eid, cname in by_alias[al]:
                        key = (-score, eid, al)
                        if best is None or key < best[0]:
                            best = (key, (m, al, eid, cname, score))
                if best is not None:
                    rows.append(best[1])
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "mention", "alias", "entity_id",
                        "canonical_name", "score",
                    ],
                )
            else:
                yield pd.DataFrame(empty)

    return mentions.mapInPandas(link_batches, schema)


def link_occurrences(phrases: DataFrame, links: DataFrame) -> DataFrame:
    """Fan the per-string links back out to per-doc occurrences."""
    return phrases.join(
        links.withColumnRenamed("mention", "head_noun"), "head_noun", "inner"
    ).select("url", "phrase", "head_noun", "entity_id", "canonical_name", "score")


def alias_ambiguity(
    phrases: DataFrame, aliases: DataFrame, mention_col: str = "head_noun"
) -> DataFrame:
    """(alias, n_entities, is_ambiguous, n_docs, n_occurrences): the
    entity-linking ambiguity prior — for every dictionary alias, how
    many distinct entities it can denote, and how much corpus exposure
    the ambiguity actually gets (documents / mention occurrences whose
    mention string equals the alias). Linking QA ranks disambiguation
    effort by exactly this product: an alias pointing at five entities
    but never mentioned is harmless; a two-entity alias mentioned in
    10^8 documents is where link errors live.

    Shapes, at 10^12-document scale:

    * ``n_entities`` aggregates the DIMENSION side only — dictionary-
      sized, never touches the corpus.
    * per-mention corpus stats run through the two-phase salted
      distinct (operators/skew.py): head mentions concentrate document
      sets exactly like head entities, so the distinct-url count never
      keys a shuffle on the bare mention.
    * the final join semi-filters the corpus-side stats down to the
      dictionary's alias set FIRST (broadcast of the dim keys), making
      the surviving stats dimension-sized — so the left join that keeps
      unseen aliases broadcasts the small side instead of shuffling the
      corpus aggregate.

    Reference scope: the reference's dictionary lookup is a per-request
    exact probe (/root/reference/src/services/dictionary_service.py:
    186-217) with no ambiguity accounting; the corpus-exposure prior is
    part of the web-scale linking layer, like link_mentions above.
    """
    from .skew import salted_distinct_count

    ents = aliases.groupBy("alias").agg(
        F.countDistinct("entity_id").alias("n_entities")
    )
    occ = phrases.filter(F.col(mention_col) != "").select(
        F.col(mention_col).alias("mention"), "url"
    )
    mstats = salted_distinct_count(
        occ, ["mention"], "url", out="n_docs", count_out="n_occurrences"
    )
    seen = mstats.join(
        F.broadcast(ents.select(F.col("alias").alias("mention"))),
        "mention",
        "left_semi",
    ).withColumnRenamed("mention", "alias")
    return (
        ents.join(F.broadcast(seen), "alias", "left")
        .select(
            "alias",
            F.col("n_entities").cast("long").alias("n_entities"),
            (F.col("n_entities") >= 2).alias("is_ambiguous"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_occurrences", F.lit(0))
            .cast("long")
            .alias("n_occurrences"),
        )
    )


#: corpus-narrowed Java/RE2-portable token regex (same narrowing the
#: DuckDB oracle documents at oracles.py _KG_TOKRE: explicit character
#: classes instead of unicode \w, punctuation branch = the synthesizer
#: charset [,.!?]); functions/text.TOKEN_RE is the full Python-side rule
#: the Arrow extraction stages apply.
MENTION_TOKEN_RE = "[A-Za-zА-Яа-яёЁ0-9]{2,}(-[A-Za-zА-Яа-яёЁ0-9]{2,})*|[,.!?]"
MENTION_WORDLIKE_RE = "^[A-Za-zА-Яа-яёЁ0-9-]+$"


def mention_contexts(
    pages: DataFrame,
    aliases: DataFrame,
    morph: DataFrame,
    window: int = 5,
    lang: str = "ru",
    text_col: str = "text",
) -> DataFrame:
    """(url, pos, mention, lemma, entity_id, canonical_name, left_ctx,
    right_ctx): the entity-disambiguation training shape — one row per
    (mention occurrence, candidate entity) with the ±``window``-token
    surface context around the occurrence. A disambiguation model
    trains on exactly these rows (context -> which candidate); colliding
    aliases deliberately fan out to one row PER candidate entity.

    An occurrence is a wordlike token whose lemma (via the broadcast
    morphology dim — the frozen provider both engines read) is an alias
    in the dictionary. Context is surface tokens, not lemmas: the model
    sees what the page said.

    Scale shape: tokenize + posexplode are per-page local (the token
    array rides along so the context slice is an array op, not a self-
    join on positions); the morphology and alias dims are broadcast.
    ZERO shuffles end to end — embarrassingly parallel at any corpus
    size, and the context window never crosses a row boundary so there
    is no range-join anywhere.

    ``text_col``/``lang`` select the surface: the pipeline job mines the
    boilerplate-stripped ``extracted`` frame (text_col="extracted") with
    the job's --lang, so contexts cover exactly the text the extraction
    and linking stages saw — never the raw html authored text.

    Reference scope: the reference links mentions without context
    (exact dictionary probe, /root/reference/src/services/
    dictionary_service.py:186-217); context harvesting is the
    web-scale disambiguation-training layer on top, like
    alias_ambiguity above.
    """
    ru = pages.filter((F.col("lang") == lang) & (F.length(text_col) > 0))
    arrs = ru.select(
        "url",
        F.expr(
            f"regexp_extract_all({text_col}, '{MENTION_TOKEN_RE}', 0)"
        ).alias("arr"),
    )
    toks = arrs.select(
        "url", "arr", F.posexplode("arr").alias("p", "tok")
    ).filter(F.col("tok").rlike(MENTION_WORDLIKE_RE))
    # the morphology dim is keyed by surface (build_morphology is a
    # dict), so no dedup pass is needed before the broadcast — the plan
    # stays free of Exchange hashpartitioning on BOTH sides
    lem = toks.join(
        F.broadcast(morph.select(F.col("surface"), F.col("lemma"))),
        F.lower(F.col("tok")) == F.col("surface"),
    )
    hits = lem.join(
        F.broadcast(aliases.select("alias", "entity_id", "canonical_name")),
        F.col("lemma") == F.col("alias"),
    )
    i = F.col("p") + 1  # 1-based position in the token array
    left_start = F.greatest(i - window, F.lit(1))
    return hits.select(
        "url",
        F.col("p").cast("long").alias("pos"),
        F.col("tok").alias("mention"),
        "lemma",
        "entity_id",
        "canonical_name",
        F.concat_ws(" ", F.slice("arr", left_start, i - left_start)).alias(
            "left_ctx"
        ),
        F.concat_ws(" ", F.slice("arr", i + 1, F.lit(window))).alias("right_ctx"),
    )
