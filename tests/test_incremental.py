"""Incremental KG ingestion (plans/incremental.py): consume only the
pages appended to a snapshot table since the last run, append the
phrases/triples increments exactly once."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ner_app_spark import session
from ner_app_spark.operators.extract import (
    extract_phrases_and_triples,
    extracted_text,
    fused_phrases,
    fused_triples,
)
from ner_app_spark.operators.linking import link_mentions, link_occurrences
from ner_app_spark.plans.incremental import (
    MARKER,
    last_consumed_snapshot,
    run_incremental,
)
from ner_app_spark.sources.pages import alias_dict_df, synth_pages_df
from ner_app_spark.tables.icelite import IceTable


def _batch(spark, lo, hi):
    return synth_pages_df(spark, hi).filter(F.col("id") >= lo)


def _full_recompute(spark, n_pages, kind):
    fused = extract_phrases_and_triples(
        extracted_text(synth_pages_df(spark, n_pages)),
        num_partitions=8, text_col="extracted",
    )
    if kind == "phrases":
        df = fused_phrases(fused)
    elif kind == "triples":
        df = fused_triples(fused)
    else:
        phrases = fused_phrases(fused)
        df = link_occurrences(
            phrases, link_mentions(phrases, alias_dict_df(spark))
        )
    return sorted(map(tuple, df.collect()))


def _table_rows(spark, path):
    df, _ = IceTable(path).scan(spark)
    return sorted(map(tuple, df.collect()))


def test_incremental_runs_equal_full_recompute(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    out = str(tmp_path / "kg")
    IceTable.create(spark, pages_path, _batch(spark, 0, 40), target_files=2)

    c1 = run_incremental(spark, pages_path, out, n_parts=8)
    assert c1["pages"] == 40
    assert set(c1["tables_caught_up"]) == {"phrases", "triples", "links"}

    IceTable(pages_path).append(spark, _batch(spark, 40, 70), target_files=2)
    c2 = run_incremental(spark, pages_path, out, n_parts=8)
    assert c2["pages"] == 30  # ONLY the appended pages were processed

    for kind in ("phrases", "triples", "links"):
        assert _table_rows(spark, f"{out}/{kind}") == _full_recompute(
            spark, 70, kind
        )


def test_counters_are_the_committed_increments(spark, tmp_path):
    """Each table counter is the row count its append committed, equal
    to an incremental scan of that snapshot; an empty pages append, and
    one with no page in the analyzed language, flow through as zero-row
    increments that still advance every watermark and count their
    pages."""
    pages_path = str(tmp_path / "pages")
    out = str(tmp_path / "kg")
    names = ("phrases", "triples", "links")
    pages = IceTable.create(
        spark, pages_path, _batch(spark, 0, 20), target_files=1
    )
    c = run_incremental(spark, pages_path, out, n_parts=4)
    assert c["pages"] == 20
    for n in names:
        assert c[n] == IceTable(f"{out}/{n}").scan(spark)[0].count() > 0, n
    assert [m["stage"] for m in c["stages"]] == [
        "extracted", "analysis", "links"
    ]

    # lang: None keeps the synthetic mix, "en" relabels every page
    for lo, hi, lang in ((20, 32, None), (32, 32, None), (32, 40, "en")):
        batch = _batch(spark, lo, hi)
        if lang:
            batch = batch.withColumn("lang", F.lit(lang))
        pages.append(spark, batch, target_files=1)
        before = {n: IceTable(f"{out}/{n}").current_snapshot_id() for n in names}
        c = run_incremental(spark, pages_path, out, n_parts=4)
        assert c["pages"] == hi - lo
        assert [m["stage"] for m in c["stages"]] == [
            "extracted", "analysis", "links"
        ]
        assert sum(
            m["rows_computed"] for m in c["stages"] if m["stage"] == "extracted"
        ) == c["pages"]
        assert sorted(c["tables_caught_up"]) == sorted(names)
        for n in names:
            t = IceTable(f"{out}/{n}")
            assert len({s["id"] for s in t.snapshots()}) == len(t.snapshots())
            assert last_consumed_snapshot(t) == pages.current_snapshot_id()
            inc, _ = t.incremental_scan(spark, from_snapshot=before[n])
            assert c[n] == inc.count(), (n, hi)
        assert (c["phrases"] > 0) == (hi > lo and lang is None)


def test_noop_when_no_new_pages(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    out = str(tmp_path / "kg")
    IceTable.create(spark, pages_path, _batch(spark, 0, 25), target_files=1)
    run_incremental(spark, pages_path, out, n_parts=4)
    snaps_before = {
        n: len(IceTable(f"{out}/{n}").snapshots())
        for n in ("phrases", "triples", "links")
    }
    c = run_incremental(spark, pages_path, out, n_parts=4)
    assert c["pages"] == 0 and c["tables_caught_up"] == []
    assert c["stages"] == []
    # no-op run commits nothing
    for n in ("phrases", "triples", "links"):
        assert len(IceTable(f"{out}/{n}").snapshots()) == snaps_before[n]


def test_crash_between_appends_catches_up_per_table(
    spark, tmp_path, monkeypatch
):
    """Each output table holds its own consumed-snapshot marker: a crash
    after the phrases append but before the triples append leaves the
    tables at different positions, and the re-run catches each up
    independently with no duplicates."""
    pages_path = str(tmp_path / "pages")
    out = str(tmp_path / "kg")
    IceTable.create(spark, pages_path, _batch(spark, 0, 30), target_files=1)
    run_incremental(spark, pages_path, out, n_parts=4)
    IceTable(pages_path).append(spark, _batch(spark, 30, 50), target_files=1)

    real_append = IceTable.append

    def crashing_append(self, *a, **kw):
        if self.path.endswith("triples"):
            raise RuntimeError("injected crash before the triples append")
        return real_append(self, *a, **kw)

    # run_pipeline's scratch dir is the caller's to remove: a crashed
    # append must not leave it behind
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(session, "scratch_base", lambda: str(scratch))
    monkeypatch.setattr(IceTable, "append", crashing_append)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(spark, pages_path, out, n_parts=4)
    monkeypatch.undo()
    assert [d for d in os.listdir(scratch) if d.startswith("ner_kg_")] == []

    # phrases advanced, triples/links did not
    marks = {
        n: last_consumed_snapshot(IceTable(f"{out}/{n}"))
        for n in ("phrases", "triples", "links")
    }
    assert marks["phrases"] != marks["triples"]
    assert marks["triples"] == marks["links"]

    monkeypatch.setattr(session, "scratch_base", lambda: str(scratch))
    c = run_incremental(spark, pages_path, out, n_parts=4)
    monkeypatch.undo()
    assert [d for d in os.listdir(scratch) if d.startswith("ner_kg_")] == []
    # phrases already done; the lagging tables catch up, no duplicates
    assert sorted(c["tables_caught_up"]) == ["links", "triples"]
    for kind in ("phrases", "triples", "links"):
        assert _table_rows(spark, f"{out}/{kind}") == _full_recompute(
            spark, 50, kind
        )


def test_marker_survives_compaction_and_expiry(spark, tmp_path):
    """History expiration must not lose the consumed-snapshot marker:
    with every marked snapshot expired and an unmarked compaction
    snapshot current, the carried marker still proves the table is up to
    date — a re-run ingests nothing."""
    pages_path = str(tmp_path / "pages")
    out = str(tmp_path / "kg")
    IceTable.create(spark, pages_path, _batch(spark, 0, 20), target_files=2)
    run_incremental(spark, pages_path, out, n_parts=4, target_files=2)
    IceTable(pages_path).append(spark, _batch(spark, 20, 35), target_files=2)
    run_incremental(spark, pages_path, out, n_parts=4, target_files=2)

    t = IceTable(f"{out}/phrases")
    assert t.compact(spark, small_file_bytes=64 << 20) is not None
    assert "incremental_source" not in t.snapshots()[-1]["summary"]
    mark_before = last_consumed_snapshot(t)
    t.expire_snapshots(keep_last=1)
    assert all(
        MARKER not in s["summary"] for s in t.snapshots()
    )  # only the carried stamp remains
    assert last_consumed_snapshot(t) == mark_before

    before = len(t.snapshots())
    c = run_incremental(spark, pages_path, out, n_parts=4)
    assert "phrases" not in c["tables_caught_up"]
    assert len(IceTable(f"{out}/phrases").snapshots()) == before
