"""E2E launch-mode test (round-3 VERDICT #3): the BASELINE.json gate is
`spark-submit --py-files` — exercise BOTH job scripts through a real
spark-submit subprocess against the zipped package, not through pytest's
in-process session, and pin the counts."""

from __future__ import annotations

import json
import os
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 60-page golden counts (same corpus as tests/test_pipeline_vs_oracle.py
# and the driver's sf0.001 entry() smoke)
N_PAGES, N_PHRASES, N_TRIPLES = 60, 5629, 9823


@pytest.fixture(scope="module")
def pyfiles_zip(tmp_path_factory):
    zpath = str(tmp_path_factory.mktemp("submit") / "ner_app_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "ner_app_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                full = os.path.join(dirpath, f)
                zf.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(pyfiles_zip: str, job: str, *args: str) -> dict:
    env = dict(os.environ)
    # jobs call get_session(); pin a small master for the smoke (the
    # session builder wins over spark-submit's --master)
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    out = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", pyfiles_zip,
         os.path.join(REPO, "jobs", job), *args],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    json_lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert json_lines, f"no JSON line in stdout: {out.stdout[-2000:]}"
    return json.loads(json_lines[-1])

def test_run_pipeline_via_spark_submit(pyfiles_zip, tmp_path, spark):
    outdir = str(tmp_path / "kg_out")
    pubdir = str(tmp_path / "kg_pub")
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--pages", str(N_PAGES), "--parts", "8", "--output", outdir,
        "--publish", pubdir,
    )
    assert got["documents"] == N_PAGES
    assert got["phrases"] == N_PHRASES
    assert got["triples"] == N_TRIPLES
    assert got["links"] > 0 and got["nodes"] > 0 and got["edges"] > 0
    # the sink materialized all four output tables
    for t in ("nodes", "edges", "triples", "links"):
        assert os.path.isdir(os.path.join(outdir, t)), t
    # --publish landed snapshot (icelite) tables: one committed snapshot
    # each, readable back through the snapshot layer with the job's counts
    assert set(got["snapshots"]) == {"nodes", "edges", "triples"}
    from ner_app_spark.tables.icelite import IceTable

    t = IceTable(os.path.join(pubdir, "triples"))
    assert t.current_snapshot_id() == got["snapshots"]["triples"]
    df, rep = t.scan(spark)
    assert rep.records_total == N_TRIPLES
    assert df.count() == N_TRIPLES


def test_run_pipeline_from_warc_via_spark_submit(pyfiles_zip, tmp_path):
    """--input-warc: the SAME 60-page corpus serialized as Common-Crawl-
    shaped WARC segments must reproduce the golden counts exactly — the
    WARC read path feeds the identical (url, html, lang) rows the synth
    source does (text is re-extracted from html in-pipeline)."""
    from ner_app_spark.sources.warc import write_warc
    from ner_app_spark.synth import synth_pages

    warc_dir = tmp_path / "warc_in"
    warc_dir.mkdir()
    rows = synth_pages(N_PAGES)
    for k in range(3):
        write_warc(str(warc_dir / f"seg{k}.warc.gz"), rows[k::3])
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--input-warc", str(warc_dir), "--parts", "8",
    )
    assert got["documents"] == N_PAGES
    assert got["phrases"] == N_PHRASES
    assert got["triples"] == N_TRIPLES
    assert got["links"] > 0


def test_run_webgraph_via_spark_submit(pyfiles_zip, tmp_path, spark):
    outdir = str(tmp_path / "webgraph")
    got = _submit(
        pyfiles_zip, "run_webgraph.py",
        "--pages", str(N_PAGES), "--parts", "8", "--output", outdir,
    )
    assert got["n_hosts"] == 50 and got["n_edges"] > 0
    # the persisted ranks agree with an in-process recompute (bit-exact
    # fixed-point math at any parallelism)
    from ner_app_spark.operators.webgraph import host_pagerank
    from ner_app_spark.sources.pages import synth_pages_df

    expect = sorted(
        map(tuple, host_pagerank(synth_pages_df(spark, N_PAGES), iters=6)
            .select("host", "rank_scaled").collect())
    )
    stored = sorted(
        map(tuple, spark.read.parquet(f"{outdir}/ranks")
            .select("host", "rank_scaled").collect())
    )
    assert stored == expect


def test_run_ner_via_spark_submit_with_artifact_store(pyfiles_zip, tmp_path):
    from ner_app_spark.plans.artifacts import save_artifact

    root = str(tmp_path / "store")
    aid = save_artifact(
        root,
        {"model.json": json.dumps({"label_bias": {"PER": 4.0}}).encode()},
        meta={"name": "stub-ner", "v": 1},
    )
    outdir = str(tmp_path / "ner_out")
    got = _submit(
        pyfiles_zip, "run_ner.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", outdir, "--parts", "4",
        "--artifact-root", root, "--artifact-id", aid,
    )
    assert got["entities"] > 0
    assert got["model_artifact"] == aid
    assert os.path.isdir(outdir)


def test_run_maintenance_via_spark_submit(pyfiles_zip, tmp_path, spark):
    """The maintenance launch surface: publish the graph twice (two
    overwrite snapshots per table), then run the compaction+expiration
    job and verify history is pruned to one snapshot whose content is
    intact and whose storage dropped to the retained manifest."""
    pubdir = str(tmp_path / "pub")
    for _ in range(2):
        _submit(
            pyfiles_zip, "run_pipeline.py",
            "--pages", str(N_PAGES), "--parts", "8", "--publish", pubdir,
        )
    from ner_app_spark.tables.icelite import IceTable

    t = IceTable(os.path.join(pubdir, "triples"))
    assert len(t.snapshots()) == 2
    got = _submit(
        pyfiles_zip, "run_maintenance.py",
        "--root", pubdir, "--small-file-mb", "32",
        "--keep-last", "1", "--clean-orphans", "--orphan-grace-sec", "0",
    )
    for name in ("nodes", "edges", "triples"):
        assert got["tables"][name]["snapshots_retained"] == 1, name
        assert got["tables"][name]["expire"]["expired_snapshots"] >= 1
    df, rep = t.scan(spark)
    assert df.count() == N_TRIPLES
    # storage is bounded: every file on disk is referenced by the one
    # retained snapshot
    data_dir = os.path.join(pubdir, "triples", "data")
    on_disk = {
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir) if f.endswith(".parquet")
    }
    referenced = {
        e["path"] for e in t._read_manifest(t.current_snapshot_id())
    }
    assert on_disk == referenced


def test_run_pipeline_from_snapshot_table_input(pyfiles_zip, tmp_path, spark):
    """The north-rule input shape end-to-end: pages live IN a snapshot
    (icelite) table — bucketed by url like a real landing table — and
    the pipeline job reads them through the snapshot layer (--input
    detects the metadata/ root). Counts must match the parquet-input
    goldens exactly: the table layer is transparent to the plan."""
    from ner_app_spark.sources.pages import synth_pages_df
    from ner_app_spark.tables.icelite import IceTable, bucket

    pages_root = str(tmp_path / "pages_table")
    IceTable.create(
        spark, pages_root, synth_pages_df(spark, N_PAGES),
        partition_spec=[bucket("url", 8)], target_files=4,
    )
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--input", pages_root, "--parts", "8",
    )
    assert got["documents"] == N_PAGES
    assert got["phrases"] == N_PHRASES
    assert got["triples"] == N_TRIPLES


def test_run_takedown_via_spark_submit(pyfiles_zip, tmp_path, spark):
    """The takedown launch surface: publish the graph, remove two urls'
    triples via an equality-delete commit with immediate history expiry,
    and verify the removal both in the job report and by scanning."""
    pubdir = str(tmp_path / "pub")
    _submit(
        pyfiles_zip, "run_pipeline.py",
        "--pages", str(N_PAGES), "--parts", "8", "--publish", pubdir,
    )
    from ner_app_spark.tables.icelite import IceTable

    table = os.path.join(pubdir, "triples")
    t = IceTable(table)
    df, _ = t.scan(spark)
    victims = df.select("url").distinct().limit(2)
    n_victim_rows = df.join(victims, "url", "semi").count()
    keys_path = str(tmp_path / "keys.parquet")
    victims.write.parquet(keys_path)
    got = _submit(
        pyfiles_zip, "run_takedown.py",
        "--table", table, "--keys", keys_path, "--expire-history", "1",
        "--report-rows",
    )
    assert got["key_cols"] == ["url"]
    assert got["keys_deleted"] == 2
    assert got["rows_before"] == N_TRIPLES
    assert got["rows_removed"] == n_victim_rows > 0
    assert got["dropped_tags"] == []
    assert got["expire"]["expired_snapshots"] >= 1
    after, _ = t.scan(spark)
    assert after.count() == N_TRIPLES - n_victim_rows
    assert after.join(victims, "url", "semi").count() == 0


def test_run_curation_via_spark_submit(pyfiles_zip, tmp_path, spark):
    """The curation launch surface: quality gate -> near-dup keepers ->
    stable split -> per-split parquet, through a real spark-submit. The
    job is deterministic end-to-end: a second run writes the identical
    doc_id->split assignment."""
    outdir = str(tmp_path / "curated")
    got = _submit(
        pyfiles_zip, "run_curation.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", outdir,
    )
    assert got["written"] == sum(got["by_split"].values())
    assert 0 < got["written"] <= got["quality_kept"] <= got["input_docs"]
    assert set(got["by_split"]) <= {"train", "val", "test"}
    assert got["by_split"]["train"] > got["by_split"].get("val", 0)
    first = {
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(outdir).select("doc_id", "split").collect()
    }
    # kept docs are near-dup-free among themselves at the job threshold
    from ner_app_spark.operators.dedup import near_dup_verified

    kept_docs = spark.read.parquet(outdir)
    assert near_dup_verified(kept_docs, min_jaccard=0.3).count() == 0
    got2 = _submit(
        pyfiles_zip, "run_curation.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", outdir,
    )
    assert got2["by_split"] == got["by_split"]
    second = {
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(outdir).select("doc_id", "split").collect()
    }
    assert second == first


def test_run_curation_decontam_and_pii_flags(pyfiles_zip, tmp_path, spark):
    """Round-5 flags: --decontam drops every training doc sharing a
    verbatim 13-gram with the eval parquet (including corpus docs that
    ARE eval docs — the strictest correct behavior), --strip-pii runs
    the redaction lanes over the kept text (a no-op on this PII-free
    corpus, asserted byte-for-byte)."""
    src = "/root/testdata/sf0.001/documents.parquet"
    evdir = str(tmp_path / "evalset")
    docs = spark.read.parquet(src)
    from pyspark.sql import functions as F

    docs.filter(F.col("doc_id") < 10).write.parquet(evdir)

    outdir = str(tmp_path / "curated_decontam")
    got = _submit(
        pyfiles_zip, "run_curation.py",
        "--input", src, "--output", outdir,
        "--decontam", evdir, "--strip-pii",
    )
    assert got["decontam_dropped"] is not None and got["decontam_dropped"] >= 1
    kept = spark.read.parquet(outdir)
    # no kept doc shares a 13-gram with the eval set
    from ner_app_spark.operators.decontam import decontaminate, eval_shingle_dim

    flags = decontaminate(kept, eval_shingle_dim(spark.read.parquet(evdir)))
    assert flags.filter("contaminated").count() == 0
    # --strip-pii preserved the (PII-free) text byte-for-byte
    joined = kept.select("doc_id", F.col("text").alias("t2")).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    assert joined.filter(F.col("t2") != F.col("text")).count() == 0


def test_run_curation_dup_span_gate(pyfiles_zip, tmp_path, spark):
    """--max-dup-span-frac drops docs whose cross-document verbatim-span
    mass exceeds the threshold BEFORE keeper selection (the testdata
    corpus carries near-identical doc pairs whose 8-gram dup fraction is
    1.0), and every kept doc re-verifies under the gate."""
    from pyspark.sql import functions as F

    from ner_app_spark.operators.dedup import dup_span_fraction

    src = "/root/testdata/sf0.001/documents.parquet"
    outdir = str(tmp_path / "curated_span")
    got = _submit(
        pyfiles_zip, "run_curation.py",
        "--input", src, "--output", outdir,
        "--max-dup-span-frac", "0.8", "--dup-span-ngram", "8",
    )
    assert got["dup_span_dropped"] is not None and got["dup_span_dropped"] >= 1
    # recomputing the fraction on the kept subset only removes evidence
    # (monotone down), so kept docs must all sit at or under the gate
    kept = spark.read.parquet(outdir)
    frac = dup_span_fraction(kept, n=8)
    assert frac.filter(F.col("dup_frac_micros") > 800_000).count() == 0


def test_run_pipeline_host_quality_gate(pyfiles_zip, spark):
    """--min-host-quality block-lists low-quality domains before
    extraction: the JSON carries the gate counters, and the documents
    count drops to exactly the pages of allowed hosts."""
    from pyspark.sql import functions as F

    from ner_app_spark.operators import webgraph
    from ner_app_spark.sources.pages import synth_pages_df

    hq = {
        r["host"]: r["mean_quality_micros"]
        for r in webgraph.host_quality(synth_pages_df(spark, N_PAGES)).collect()
    }
    thr = sorted(hq.values())[len(hq) // 2]  # median: blocks some, keeps some
    allowed = {h for h, m in hq.items() if m >= thr}
    assert 0 < len(allowed) < len(hq)
    expected_docs = sum(
        1
        for r in synth_pages_df(spark, N_PAGES)
        .select(F.regexp_extract("url", webgraph.HOST_RE, 1).alias("h"))
        .collect()
        if r["h"] in allowed
    )
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--pages", str(N_PAGES), "--parts", "8",
        "--min-host-quality", str(thr),
    )
    assert got["host_gate"] == {
        "hosts_total": len(hq),
        "hosts_allowed": len(allowed),
    }
    assert got["documents"] == expected_docs
    assert 0 < got["documents"] < N_PAGES


def test_run_pipeline_honor_robots(pyfiles_zip, spark):
    """--honor-robots drops exactly the noindex pages before extraction."""
    from ner_app_spark.synth import synth_pages

    expected_docs = sum(
        1
        for i, p in enumerate(synth_pages(N_PAGES))
        if not (bytes(p["html"]).startswith(b"<html") and i % 13 == 0)
    )
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--pages", str(N_PAGES), "--parts", "8", "--honor-robots",
    )
    assert got["documents"] == expected_docs
    assert 0 < got["documents"] < N_PAGES


def test_operational_jobs_via_spark_submit(pyfiles_zip, tmp_path, spark):
    """The five remaining operational entrypoints launch through a real
    spark-submit: incremental ingestion over an icelite pages table,
    table maintenance over its outputs, an equality-delete takedown on
    the triples table, the web-graph job (with --honor-robots), and the
    streaming job. Counts pin the 100-page corpus."""
    from ner_app_spark.sources.pages import synth_pages_df
    from ner_app_spark.tables.icelite import IceTable

    root = str(tmp_path)
    IceTable.create(
        spark, f"{root}/pages_ice", synth_pages_df(spark, 100), target_files=2
    )

    inc = _submit(
        pyfiles_zip, "run_incremental.py",
        "--pages-table", f"{root}/pages_ice", "--output", f"{root}/inc",
        "--parts", "8",
    )
    assert inc["pages"] == 100 and inc["triples"] > 0
    assert set(inc["tables_caught_up"]) == {"phrases", "triples", "links"}

    maint = _submit(
        pyfiles_zip, "run_maintenance.py",
        "--root", f"{root}/inc", "--clean-orphans",
    )
    assert set(maint["tables"]) == {"phrases", "triples", "links"}

    t = IceTable(f"{root}/inc/triples")
    df, _ = t.scan(spark)
    df.select("url").distinct().limit(3).write.parquet(f"{root}/keys")
    take = _submit(
        pyfiles_zip, "run_takedown.py",
        "--table", f"{root}/inc/triples", "--keys", f"{root}/keys",
        "--report-rows",
    )
    assert take["keys_deleted"] == 3
    assert take["rows_removed"] > 0
    assert take["rows_after"] == take["rows_before"] - take["rows_removed"]

    wg = _submit(
        pyfiles_zip, "run_webgraph.py",
        "--pages", "100", "--output", f"{root}/wg", "--honor-robots",
        "--parts", "8",
    )
    assert wg["n_hosts"] == 50 and wg["n_edges"] > 0

    # the same 60-page corpus as entry(), drained as 3 micro-batches into
    # a snapshot table: the batch pipeline's triples, one snapshot each
    st = _submit(
        pyfiles_zip, "run_stream.py",
        "--synth", str(N_PAGES), "--chunks", "3",
        "--table", f"{root}/stream_triples",
        "--checkpoint", f"{root}/stream_ckpt", "--parts", "4",
    )
    assert st["triples"] == N_TRIPLES
    assert st["snapshots"] == 3


def test_run_webgraph_frontier_flag(pyfiles_zip, tmp_path, spark):
    """--frontier writes the crawl-scheduling table, reusing the job's
    materialized ranks as the prior — stored rows are bit-identical to
    an in-process recompute (exact integer priority arithmetic)."""
    outdir = str(tmp_path / "webgraph_f")
    got = _submit(
        pyfiles_zip, "run_webgraph.py",
        "--pages", str(N_PAGES), "--parts", "8", "--output", outdir,
        "--frontier",
    )
    assert got["n_frontier"] > 0
    from ner_app_spark.operators.webgraph import crawl_frontier
    from ner_app_spark.sources.pages import synth_pages_df

    expect = sorted(
        map(tuple, crawl_frontier(synth_pages_df(spark, N_PAGES), iters=6)
            .collect())
    )
    stored = sorted(
        map(tuple, spark.read.parquet(f"{outdir}/frontier").collect())
    )
    assert stored == expect
    assert len(stored) == got["n_frontier"]


def test_run_pipeline_dedup_fetch_log(pyfiles_zip, tmp_path, spark):
    """--dedup-fetch-log collapses a multi-snapshot fetch log to one
    (latest) row per url before extraction: documents return to the
    crawled-url count and, because the re-fetches carry identical
    content, every downstream golden count is reproduced exactly."""
    from pyspark.sql import functions as F

    from ner_app_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, N_PAGES)
    pn = F.regexp_extract("url", "page/([0-9]+)", 1).cast("int")
    refetch = pages.filter(pn % 7 == 0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    log = pages.unionByName(refetch)
    inpath = str(tmp_path / "fetch_log")
    log.write.parquet(inpath)
    n_log = log.count()
    assert n_log > N_PAGES

    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--input", inpath, "--parts", "8", "--dedup-fetch-log",
    )
    assert got["documents"] == N_PAGES
    assert got["phrases"] == N_PHRASES
    assert got["triples"] == N_TRIPLES


def test_run_pipeline_edge_split_flag(pyfiles_zip, tmp_path, spark):
    """--edge-split emits the leak-free link-prediction split next to the
    graph tables and reports per-split counts that sum to the DISTINCT
    triple count (edge_split assigns each distinct positive once)."""
    outdir = str(tmp_path / "kg_out")
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--pages", str(N_PAGES), "--parts", "8", "--output", outdir,
        "--edge-split",
    )
    assert got["triples"] == N_TRIPLES
    counts = got["edge_split"]
    assert counts["train"] > 0
    split = spark.read.parquet(os.path.join(outdir, "edge_split"))
    n_distinct = (
        spark.read.parquet(os.path.join(outdir, "triples"))
        .select("subj", "pred", "obj").distinct().count()
    )
    assert sum(counts.values()) == split.count() == n_distinct
    # leak-free invariant holds on the materialized table
    rows = split.collect()
    train_ents = {r["subj"] for r in rows if r["split"] == "train"} | {
        r["obj"] for r in rows if r["split"] == "train"
    }
    for r in rows:
        if r["split"] != "train":
            assert r["subj"] in train_ents and r["obj"] in train_ents


def test_run_pipeline_contexts_flag(pyfiles_zip, tmp_path, spark):
    """--contexts materializes the disambiguation context table; every
    row's lemma must be a dictionary alias and the context strings are
    bounded by the ±5-token window."""
    outdir = str(tmp_path / "kg_out")
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--pages", str(N_PAGES), "--parts", "8", "--output", outdir,
        "--contexts",
    )
    assert got["contexts"] > 0
    ctx = spark.read.parquet(os.path.join(outdir, "contexts"))
    assert ctx.count() == got["contexts"]
    from ner_app_spark.synth import synth_alias_dict

    aliases = {r["alias"] for r in synth_alias_dict()}
    for r in ctx.limit(200).collect():
        assert r["lemma"] in aliases
        assert len(r["left_ctx"].split(" ")) <= 5 or r["left_ctx"] == ""
        assert len(r["right_ctx"].split(" ")) <= 5 or r["right_ctx"] == ""


def test_run_pipeline_warc_contexts_combination(pyfiles_zip, tmp_path, spark):
    """--input-warc + --contexts: WARC pages carry no `text` column, so
    contexts MUST mine the pipeline's extracted surface — and because
    extraction is byte-identical to the authored text, the context count
    matches the synth-source run exactly."""
    from ner_app_spark.sources.warc import write_warc
    from ner_app_spark.synth import synth_pages

    warc_dir = tmp_path / "warc_in"
    warc_dir.mkdir()
    write_warc(str(warc_dir / "seg0.warc.gz"), synth_pages(N_PAGES))
    outdir = str(tmp_path / "kg_out")
    got = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--input-warc", str(warc_dir), "--parts", "8",
        "--output", outdir, "--contexts",
    )
    synth = _submit(
        pyfiles_zip, "run_pipeline.py",
        "--pages", str(N_PAGES), "--parts", "8", "--contexts",
    )
    assert got["contexts"] == synth["contexts"] > 0
