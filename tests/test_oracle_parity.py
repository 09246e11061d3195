"""Replicates the driver's correctness gate: every queries() entry with an
oracle_sql() runs on Spark AND DuckDB at sf0.01; row counts, column
names/kinds, and order-insensitive values must match."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from ner_app_spark.oracles import oracle_sql_map
from ner_app_spark.queries import QUERIES

# rendered at collection time (the IVF entry inlines the trained codebook
# replayed from SF_DIR — call-time I/O by design, see oracles.oracle_sql_map)
ORACLES = oracle_sql_map()

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "nation", "customer", "part", "orders", "lineitem", "events",
    "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # doubles are engineered to be bit-identical; round(12) only
        # guards against float64<->object round-trips in pandas
        return round(v, 12)
    if isinstance(v, int):
        return int(v)
    return str(v)


def _canon_frame(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        tuple(_canon_value(v) for v in row) for row in pdf.itertuples(index=False)
    )
    kinds = {c: pdf[c].dtype.kind for c in cols}
    return cols, kinds, rows


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_duckdb_oracle(spark, duck, name):
    assert name in QUERIES, f"oracle without query: {name}"
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.execute(ORACLES[name]).df()
    gc, gk, gr = _canon_frame(got)
    wc, wk, wr = _canon_frame(want)
    assert gc == wc, f"columns differ: spark={gc} duck={wc}"
    assert len(gr) == len(wr), f"row counts differ: spark={len(gr)} duck={len(wr)}"
    mism = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
    assert not mism, (
        f"{len(mism)} mismatched rows; first: spark={gr[mism[0]]} duck={wr[mism[0]]}"
    )


def test_kg_sql_builders_track_python_oracle():
    """DuckDB-only (no Spark): the SQL replay of the analyze pipeline
    matches the vendored Python oracle bit-exactly — including float
    equality on tfidf — at a page count OTHER than the driver's n=200,
    proving the builders are general, not fitted to one corpus."""
    from ner_app_spark import oracle, synth
    from ner_app_spark.oracles import _kg_phrases_sql, _kg_triples_sql

    n = 60
    con = duckdb.connect()
    got_p = set(map(tuple, con.execute(_kg_phrases_sql(n)).fetchall()))
    got_t = set(map(tuple, con.execute(_kg_triples_sql(n)).fetchall()))
    exp_p, exp_t = set(), set()
    for p in synth.synth_pages(n):
        if p["lang"] != "ru" or not p["text"]:
            continue
        ph = oracle.analyze(p["text"])
        exp_p |= {
            (p["url"], x.phrase, x.type, x.tfidf, x.length, x.head_noun)
            for x in ph
        }
        exp_t |= set(oracle.triples_for_doc(p["url"], ph))
    assert got_p == exp_p
    assert got_t == exp_t


def test_kg_links_and_canonical_sql_builders_track_python_replay():
    """DuckDB-only (no Spark): the linking + canonicalization SQL replays
    match a THIRD, independent pure-Python implementation (Counter
    shingle multisets, hashlib md5 bands, union-find components) — at a
    page count OTHER than the driver's n=200, proving the builders are
    general, not fitted to one corpus. Float equality is exact: shingle
    counts are small integers, so both engines' sums are exact and the
    sqrt/divide are single IEEE ops."""
    import hashlib
    import math
    from collections import Counter

    from ner_app_spark import oracle, synth
    from ner_app_spark.oracles import _kg_canonical_sql, _kg_links_sql

    n = 60

    def shingles(s: str) -> list[str]:
        s = s.lower()
        return [s[i : i + 3] for i in range(max(len(s) - 2, 1))]

    def band_sigs(s: str) -> set[tuple[int, str]]:
        sh = shingles(s)
        return {
            (b, min(hashlib.md5(f"{b}|{g}".encode()).hexdigest() for g in sh))
            for b in range(4)
        }

    mentions = set()
    for p in synth.synth_pages(n):
        if p["lang"] != "ru" or not p["text"]:
            continue
        mentions |= {ph.head_noun for ph in oracle.analyze(p["text"]) if ph.head_noun}

    aliases = synth.synth_alias_dict()
    a_sigs = {a: band_sigs(a) for a in {r["alias"] for r in aliases}}
    links = {}
    for m in mentions:
        m_sig = band_sigs(m)
        best = None
        msh = Counter(shingles(m))
        nm = math.sqrt(sum(c * c for c in msh.values()))
        for r in aliases:
            a = r["alias"]
            if m != a and not (m_sig & a_sigs[a]):
                continue
            ash = Counter(shingles(a))
            na = math.sqrt(sum(c * c for c in ash.values()))
            num = sum(msh[g] * ash[g] for g in msh.keys() & ash.keys())
            score = num / (nm * na)
            if score >= 0.5:
                cand = (-score, r["entity_id"], a, r["canonical_name"])
                if best is None or cand < best:
                    best = cand
        if best is not None:
            links[m] = (best[2], best[1], best[3], -best[0])

    got = con_rows = duckdb.connect().execute(_kg_links_sql(n)).fetchall()
    got_links = {r[0]: (r[1], r[2], r[3], r[4]) for r in con_rows}
    assert got_links == links
    assert all(r[5] == 0 and r[6] == 1 for r in got)

    # union-find canonicalization over the replayed links
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for m, (_a, eid, _cn, _s) in links.items():
        parent[find(("m", m))] = find(("e", eid))
    comp: dict = {}
    for m, (_a, eid, _cn, _s) in links.items():
        root = find(("e", eid))
        comp[root] = min(comp.get(root, eid), eid)
    exp_canon = {}
    for m, (_a, eid, _cn, _s) in links.items():
        exp_canon[("mention", m)] = comp[find(("m", m))]
        exp_canon[("entity", str(eid))] = comp[find(("e", eid))]

    got_canon = {
        (r[1], r[0]): r[2]
        for r in duckdb.connect().execute(_kg_canonical_sql(n)).fetchall()
    }
    assert got_canon == exp_canon


def test_multimodal_sql_builder_tracks_python_decoders():
    """DuckDB-only (no Spark): the hex-string header arithmetic in the
    multimodal oracle matches the Python header-walking decoders at a
    fixture count OTHER than the driver's n=64 — the SQL replay is
    general over the synth layout space (PNG/BMP/GIF/WAV/opaque all
    present at n=32), not fitted to one payload set."""
    import numpy as np

    from ner_app_spark.operators.multimodal import (
        FEATURE_DIM,
        _decode_stub,
        synth_media_rows,
    )
    from ner_app_spark.oracles import _multimodal_sql

    n = 32
    got = {
        r[0]: r
        for r in duckdb.connect().execute(_multimodal_sql(n)).fetchall()
    }
    assert len(got) == n
    for mid, kind, payload, _mime in synth_media_rows(n):
        d = _decode_stub(bytes(payload), kind)
        row = got[mid]
        assert row[1] == kind
        assert row[2] == d["width"] and row[3] == d["height"], (mid, kind)
        assert row[4] == d["n_frames"], (mid, kind)
        exp_sampled = (d["n_frames"] - 1) // 8 + 1 if kind == "video" else 0
        assert row[5] == exp_sampled, (mid, kind)
        for i in range(FEATURE_DIM):
            assert row[6 + i] == float(np.float32(d["feature"][i])), (mid, i)


def test_every_query_has_an_oracle():
    """Full coverage invariant (reached in round 4): EVERY registry entry
    carries a DuckDB hash oracle — a new query without one, or a renamed
    oracle key, fails here before the driver ever sees a no_oracle row."""
    assert set(QUERIES) == set(ORACLES), (
        f"queries without oracle: {sorted(set(QUERIES) - set(ORACLES))}; "
        f"oracles without query: {sorted(set(ORACLES) - set(QUERIES))}"
    )


def test_driver_window_is_pinned():
    """The parity driver evaluates the FIRST 50 registry entries, in dict
    order: deleting, inserting or reordering a row anywhere before
    position 51 changes which rows it checks."""
    assert list(QUERIES)[:50] == [
        "tf_counts", "tfidf_single_doc", "doc_freq_idf", "topk_terms",
        "doc_stats", "ner_entities", "date_format_tz", "number_clamp",
        "filter_project", "join_natural_key", "join_remap", "semi_anti_fk",
        "edge_diff", "union_dedup", "summary_counts", "dup_clusters",
        "hash_split", "kmeans_clusters", "sort_limit3", "term_sort",
        "dict_sort", "topk_per_group", "similar_docs_topk",
        "sentence_search", "highlight_terms", "undirected_dedup", "brat_bio",
        "subtoken_align", "dedup_exact", "minhash_lsh_pairs",
        "decontaminate", "checkpoint_resume", "entity_doc_freq",
        "near_dup_verified", "graph_merge", "pii_scan", "simhash_near_dup",
        "ann_cosine_topk", "embedding_near_dup", "lsh_bucket_topk",
        "ivf_topk", "lang_id", "quality_score", "fingerprint",
        "kg_extracted_text", "kg_phrases", "kg_triples", "kg_links",
        "kg_canonical", "multimodal_features",
    ]
