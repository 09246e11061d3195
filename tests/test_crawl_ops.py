"""Crawl-side operators: fetch-log latest-version dedup
(operators/fetchlog.py), crawl-frontier scheduling
(webgraph.crawl_frontier), politeness wave scheduling
(webgraph.frontier_waves), deterministic KG negative sampling
(sampling.negative_samples), the per-stratum training-mix sampler
(sampling.stratified_sample), and corpus-level triple evidence
(triples.triple_support) — the structural invariants the sf0.01
DuckDB parity rows cannot express."""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import functions as F

from ner_app_spark.operators import fetchlog, webgraph
from ner_app_spark.operators.sampling import edge_split, negative_samples
from ner_app_spark.sources.pages import synth_pages_df

T0 = dt.datetime(2025, 1, 1)


def _log(spark):
    rows = [
        ("https://a.example/x", T0, "first draft"),
        ("https://a.example/x", T0 + dt.timedelta(days=2), "final text"),
        ("https://a.example/x", T0 + dt.timedelta(days=1), "middle rev"),
        ("https://b.example/y", T0, "only fetch"),
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")


def test_latest_fetches_picks_latest_revision(spark):
    got = {r["url"]: r for r in fetchlog.latest_fetches(_log(spark)).collect()}
    a = got["https://a.example/x"]
    assert a["n_fetches"] == 3
    assert a["span_sec"] == 2 * 86400
    assert a["latest_text_md5"] == hashlib.md5(b"final text").hexdigest()
    b = got["https://b.example/y"]
    assert (b["n_fetches"], b["span_sec"]) == (1, 0)
    assert b["latest_text_md5"] == hashlib.md5(b"only fetch").hexdigest()


def test_dedup_fetches_keeps_whole_winning_row(spark):
    got = {r["url"]: r for r in fetchlog.dedup_fetches(_log(spark)).collect()}
    assert got["https://a.example/x"]["text"] == "final text"
    assert got["https://a.example/x"]["warc_ts"] == T0 + dt.timedelta(days=2)
    assert got["https://b.example/y"]["text"] == "only fetch"
    # one row per url, all original columns preserved
    assert len(got) == 2
    assert set(fetchlog.dedup_fetches(_log(spark)).columns) == {
        "url", "warc_ts", "text",
    }


def test_crawl_frontier_excludes_crawled_targets(spark):
    pages = synth_pages_df(spark, 60)
    frontier = webgraph.crawl_frontier(pages, iters=2)
    rows = frontier.collect()
    assert rows, "synth outlinks point past the crawled page range"
    crawled = {r["url"] for r in pages.select("url").collect()}
    links = {
        r["href"] for r in webgraph.page_links(pages).select("href").collect()
    }
    for r in rows:
        # synth urls are already canonical, so set algebra holds verbatim
        assert r["url_canon"] not in crawled
        assert r["url_canon"] in links
        assert 1 <= r["n_ref_hosts"] <= r["n_ref_pages"]
        assert r["url_canon"].startswith(f"https://{r['host']}/")


def test_crawl_frontier_priority_formula(spark):
    pages = synth_pages_df(spark, 60)
    frontier = webgraph.crawl_frontier(pages, iters=2)
    prior = {
        r["host"]: r["rank_scaled"]
        for r in webgraph.host_pagerank(pages, iters=2).collect()
    }
    for r in frontier.collect():
        expect = r["n_ref_hosts"] * prior.get(r["host"], 0) + r["n_ref_pages"]
        assert r["priority_scaled"] == expect


def _triples(spark):
    rows = [
        ("картина", "AN", "большой"),
        ("картина", "AN", "новый"),
        ("система", "NN", "картина"),
        ("модель", "AN", "быстрый"),
        ("модель", "AN", "быстрый"),  # duplicate positive collapses
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_negative_samples_never_returns_true_object(spark):
    got = negative_samples(_triples(spark), n_buckets=4).collect()
    objs = {"большой", "новый", "картина", "быстрый"}
    assert got, "small vocab still yields negatives"
    seen = set()
    for r in got:
        assert r["neg_obj"] != r["obj"]
        assert r["neg_obj"] in objs, "negatives are drawn from the object vocab"
        key = (r["subj"], r["pred"], r["obj"])
        assert key not in seen, "at most one negative per distinct positive"
        seen.add(key)


def test_negative_samples_stable_under_repartitioning(spark):
    base = _triples(spark)
    a = sorted(map(tuple, negative_samples(base, n_buckets=4).collect()))
    b = sorted(
        map(tuple, negative_samples(base.repartition(7), n_buckets=4).collect())
    )
    assert a == b, "assignment must be a pure function of the triple"


def test_negative_samples_requires_power_of_two_buckets(spark):
    import pytest

    with pytest.raises(ValueError):
        negative_samples(_triples(spark), n_buckets=48)


def _many_triples(spark, n: int = 300):
    """A vocabulary-rich synthetic triple set: enough rows that the
    provisional val/test buckets are populated AND some of them carry
    entities/predicates unseen in train (exercising the repair path)."""
    rows = [
        (f"ent{i % 40}", f"P{i % 7}", f"ent{(i * 13 + 5) % 57}") for i in range(n)
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_edge_split_partitions_distinct_positives(spark):
    base = _many_triples(spark)
    got = edge_split(base).collect()
    assert len(got) == base.distinct().count()
    assert {r["split"] for r in got} == {"train", "val", "test"}
    for r in got:
        assert 0 <= r["bucket"] < 100
        # repair only ever moves rows INTO train
        if r["split"] == "val":
            assert 80 <= r["bucket"] < 90
        if r["split"] == "test":
            assert r["bucket"] >= 90


def test_edge_split_is_leak_free(spark):
    rows = edge_split(_many_triples(spark)).collect()
    train_ents = {r["subj"] for r in rows if r["split"] == "train"} | {
        r["obj"] for r in rows if r["split"] == "train"
    }
    train_preds = {r["pred"] for r in rows if r["split"] == "train"}
    for r in rows:
        if r["split"] != "train":
            assert r["subj"] in train_ents and r["obj"] in train_ents
            assert r["pred"] in train_preds


def _bucket(subj: str, pred: str, obj: str) -> int:
    import struct

    key = f"{subj}\x1f{pred}\x1f{obj}".encode()
    return struct.unpack("<I", hashlib.md5(key).digest()[:4])[0] % 100


def test_edge_split_drops_null_key_rows(spark):
    """A row with a NULL subj/pred/obj is not a triple: edge_split drops
    it at entry and splits the rest exactly as without it."""
    base = _many_triples(spark)
    dirty = base.union(
        spark.createDataFrame(
            [("ent1", None, "ent2")], "subj string, pred string, obj string"
        )
    )
    got = {tuple(r) for r in edge_split(dirty).collect()}
    assert got == {tuple(r) for r in edge_split(base).collect()}


def test_edge_split_repair_is_real_and_stable(spark):
    """A triple whose entities appear NOWHERE else and whose provisional
    bucket is val/test MUST flip to train (the repair path runs), and
    the assignment is a pure function of the triple — identical under
    repartitioning."""
    lone = next(
        (f"lone{i}", "Pq", f"only{i}")
        for i in range(1000)
        if _bucket(f"lone{i}", "Pq", f"only{i}") >= 80
    )
    base = _many_triples(spark).union(
        spark.createDataFrame([lone], "subj string, pred string, obj string")
    )
    rows = edge_split(base).collect()
    got = {(r["subj"], r["pred"], r["obj"]): r for r in rows}
    r = got[lone]
    assert r["bucket"] >= 80 and r["split"] == "train", "repair must flip it"
    again = sorted(map(tuple, edge_split(base.repartition(7)).collect()))
    assert sorted(map(tuple, rows)) == again


def test_frontier_waves_politeness_bound(spark):
    pages = synth_pages_df(spark, 60)
    frontier = webgraph.crawl_frontier(pages, iters=2)
    waves = webgraph.frontier_waves(frontier, per_wave=2).collect()
    assert waves
    per = {}
    for r in waves:
        per.setdefault((r["host"], r["wave"]), []).append(r)
    # politeness: never more than per_wave urls of one host in a wave
    assert all(len(v) <= 2 for v in per.values())
    # waves are dense per host (0..k with no gaps) and ordered by priority
    by_host = {}
    for r in waves:
        by_host.setdefault(r["host"], []).append(r)
    for host, rs in by_host.items():
        ws = sorted(r["wave"] for r in rs)
        assert ws[0] == 0 and ws[-1] == (len(rs) - 1) // 2
        rs.sort(key=lambda r: (-r["priority_scaled"], r["url_canon"]))
        for i, r in enumerate(rs):
            assert r["wave"] == i // 2


def test_stratified_sample_downsamples_head_language_only(spark):
    from ner_app_spark.operators.sampling import stratified_sample

    pages = synth_pages_df(spark, 200).select("url", "lang")
    kept = stratified_sample(pages, {"ru": 0.25}).collect()
    total = {r["lang"]: 0 for r in pages.collect()}
    for r in pages.collect():
        total[r["lang"]] += 1
    got = {lang: 0 for lang in total}
    for r in kept:
        got[r["lang"]] += 1
    # the long tail is untouched; the head language thins to ~25%
    for lang in total:
        if lang == "ru":
            assert 0 < got[lang] < total[lang]
            assert abs(got[lang] / total[lang] - 0.25) < 0.15
        else:
            assert got[lang] == total[lang]
    # stable under repartitioning (pure function of md5(url))
    again = sorted(
        map(tuple, stratified_sample(pages.repartition(7), {"ru": 0.25}).collect())
    )
    assert again == sorted(map(tuple, kept))


def test_triple_support_counts(spark):
    from ner_app_spark.operators.triples import triple_support

    rows = [
        ("https://a.example/1", "x", "p", "y"),
        ("https://a.example/2", "x", "p", "y"),
        ("https://b.example/1", "x", "p", "y"),
        ("https://b.example/2", "z", "q", "w"),
    ]
    trips = spark.createDataFrame(
        rows, "url string, subj string, pred string, obj string"
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): (r["n_docs"], r["n_hosts"])
        for r in triple_support(trips).collect()
    }
    assert got == {("x", "p", "y"): (3, 2), ("z", "q", "w"): (1, 1)}


def test_functional_violations_flags_only_functional_preds(spark):
    from ner_app_spark.operators.triples import functional_violations

    rows = (
        # "capital": functional (4 subjects, 1 object each) except one
        # subject asserting two capitals -> the violation to flag
        [("s1", "capital", "x"), ("s2", "capital", "y"),
         ("s3", "capital", "z"), ("s4", "capital", "w"),
         ("s4", "capital", "w2"),
         ("s4", "capital", "w2")]  # duplicate assertion collapses
        # "mentions": hub predicate (1 subject fanning to 4 objects,
        # functionality 1/4) -> below threshold, never audited
        + [("h", "mentions", o) for o in ("a", "b", "c", "d")]
    )
    tr = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = functional_violations(tr, min_functionality_micros=500_000).collect()
    assert len(got) == 1
    v = got[0]
    assert (v["pred"], v["subj"], v["n_objs"]) == ("capital", "s4", 2)
    assert (v["first_obj"], v["last_obj"]) == ("w", "w2")
    # functionality of "capital": 4 subjects / 5 distinct pairs
    assert v["functionality_micros"] == (1_000_000 * 4) // 5


def test_mint_ids_unique_packed_and_stable(spark):
    import struct

    from ner_app_spark.operators.triples import mint_ids

    vals = spark.createDataFrame(
        [(f"ent{i}",) for i in range(200)] + [("ent0",)], "entity string"
    )
    rows = mint_ids(vals).collect()
    assert len(rows) == 200, "mint dedups its input domain"
    ids = [r["id"] for r in rows]
    assert len(set(ids)) == 200, "ids are collision-free"
    by_bucket: dict[int, list] = {}
    for r in rows:
        b, rank = r["id"] >> 40, r["id"] & ((1 << 40) - 1)
        expect_b = (
            struct.unpack("<I", hashlib.md5(r["entity"].encode()).digest()[:4])[0]
            % 1024
        )
        assert b == expect_b, "high bits are the md5 bucket"
        by_bucket.setdefault(b, []).append((rank, r["entity"]))
    for b, pairs in by_bucket.items():
        pairs.sort()
        # ranks are dense 0..n-1 within the bucket, ordered by value
        assert [p[0] for p in pairs] == list(range(len(pairs)))
        assert [p[1] for p in pairs] == sorted(p[1] for p in pairs)
    again = sorted(map(tuple, mint_ids(vals.repartition(7)).collect()))
    assert sorted(map(tuple, rows)) == again


def test_encode_triples_roundtrip(spark):
    from ner_app_spark.operators.triples import encode_triples, mint_ids

    tr = _many_triples(spark, 120)
    enc = encode_triples(tr)
    assert enc.count() == tr.count(), "one encoded row per input triple"
    ents = mint_ids(
        tr.select(F.col("subj").alias("entity")).union(
            tr.select(F.col("obj").alias("entity"))
        )
    )
    id2ent = {r["id"]: r["entity"] for r in ents.collect()}
    orig = sorted((r["subj"], r["obj"]) for r in tr.collect())
    dec = sorted(
        (id2ent[r["subj_id"]], id2ent[r["obj_id"]]) for r in enc.collect()
    )
    assert orig == dec, "entity ids decode back to the exact edge list"


def test_extend_ids_bucket_of_id_above_2_53(spark):
    """An existing id past 2^53 keeps its bucket: float division would
    round (10000 << 40) | (2^40 - 1) up to bucket 10001 and start that
    bucket's novel ids after a rank it does not hold."""
    import struct

    from ner_app_spark.operators.triples import extend_ids

    n_buckets = 1 << 14

    def bucket(v: str) -> int:
        return struct.unpack("<I", hashlib.md5(v.encode()).digest()[:4])[0] % n_buckets

    top = (10000 << 40) | ((1 << 40) - 1)
    novel = next(f"v{i}" for i in range(10**6) if bucket(f"v{i}") == 10001)
    existing = spark.createDataFrame([("old", top)], "entity string, id long")
    values = spark.createDataFrame([("old",), (novel,)], "entity string")
    got = {
        r["entity"]: r["id"]
        for r in extend_ids(existing, values, n_buckets=n_buckets).collect()
    }
    assert got == {"old": top, novel: 10001 << 40}


def test_extend_ids_preserves_and_continues(spark):
    from ner_app_spark.operators.triples import extend_ids, mint_ids

    a = spark.createDataFrame([(f"a{i}",) for i in range(80)], "entity string")
    # novel values named to sort BEFORE the existing ones ("A" < "a"):
    # a fresh mint would push every existing value's in-bucket rank up
    b = spark.createDataFrame(
        [(f"a{i}",) for i in range(40, 80)] + [(f"A{i}",) for i in range(60)],
        "entity string",
    )
    dim1 = mint_ids(a, n_buckets=4)
    dim2 = extend_ids(dim1, b, n_buckets=4)
    m1 = {r["entity"]: r["id"] for r in dim1.collect()}
    m2 = {r["entity"]: r["id"] for r in dim2.collect()}
    # every snapshot-1 id survives verbatim (a fresh mint would shift)
    for e, i in m1.items():
        assert m2[e] == i
    assert len(m2) == len(set(m2.values())) == 140, "no collisions"
    fresh = {
        r["entity"]: r["id"] for r in mint_ids(a.union(b), n_buckets=4).collect()
    }
    assert fresh != m2, "fresh mint shifts ranks — extend_ids is the point"
    # novel ids continue each bucket's rank range past the existing max
    by_bucket: dict[int, int] = {}
    for i in m1.values():
        by_bucket[i >> 40] = max(by_bucket.get(i >> 40, -1), i & ((1 << 40) - 1))
    for e, i in m2.items():
        if e not in m1:
            assert (i & ((1 << 40) - 1)) > by_bucket.get(i >> 40, -1)
