"""Resume test (SURVEY.md §5.5): a killed job resumes with zero
recomputation of completed partitions; output identical to a clean run."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_app_spark.plans.checkpoint import CheckpointManager
from ner_app_spark.plans.pipeline import pipeline_counters, run_pipeline
from ner_app_spark.sources.pages import synth_pages_df

N_PARTS = 8


def _rows(df):
    return {tuple(r) for r in df.drop("part_id").collect()}


def test_stage_resume_skips_completed_parts(spark, tmp_path):
    ckpt = CheckpointManager(str(tmp_path / "ck"), n_parts=N_PARTS)
    df = spark.range(0, 1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("url"), (F.col("id") * 2).alias("v")
    )

    # simulate a killed job: first run saw only part of the input
    partial = df.filter(
        F.pmod(F.xxhash64("url"), F.lit(N_PARTS)) < 3
    )
    out1, m1 = ckpt.run_stage(spark, "s1", partial, key="url")
    assert m1.parts_computed == N_PARTS and m1.parts_skipped == 0

    # wipe manifest rows for parts >= 3 to mark them incomplete
    mdir = str(tmp_path / "ck" / "s1" / "manifest")
    manifest = spark.read.parquet(mdir).filter(F.col("part_id") < 3)
    keep = manifest.collect()
    import shutil

    shutil.rmtree(mdir)
    spark.createDataFrame(keep, manifest.schema).write.mode("overwrite").parquet(mdir)

    # restart with the FULL input: parts 0-2 must be skipped (zero recompute)
    out2, m2 = ckpt.run_stage(spark, "s1", df, key="url")
    assert m2.parts_skipped == 3
    assert m2.parts_computed == N_PARTS - 3
    assert _rows(out2) == {tuple(r) for r in df.collect()}

    # a third run skips everything
    out3, m3 = ckpt.run_stage(spark, "s1", df, key="url")
    assert m3.parts_skipped == N_PARTS and m3.parts_computed == 0
    assert m3.rows_computed == 0
    assert _rows(out3) == _rows(out2)


def test_stage_schema_change_recomputes_every_part(spark, tmp_path):
    """A part committed under another schema is not resumed: read with
    the new schema it would hold NULLs in the new column."""
    ckpt = CheckpointManager(str(tmp_path / "ck"), n_parts=4)
    df = spark.range(0, 100).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    _, m1 = ckpt.run_stage(spark, "s", df, key="url")
    assert m1.parts_computed == 4

    wider = df.withColumn("extra", F.length("url"))
    out, m2 = ckpt.run_stage(spark, "s", wider, key="url")
    assert m2.parts_skipped == 0 and m2.parts_computed == 4
    assert m2.rows_computed == 100
    assert out.filter(F.col("extra").isNull()).count() == 0
    assert _rows(out) == {tuple(r) for r in wider.collect()}

    # the new schema's parts now resume
    _, m3 = ckpt.run_stage(spark, "s", wider, key="url")
    assert m3.parts_skipped == 4 and m3.parts_computed == 0


def test_manifest_counters(spark, tmp_path):
    ckpt = CheckpointManager(str(tmp_path / "ck2"), n_parts=4)
    df = spark.range(0, 100).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    _, m = ckpt.run_stage(spark, "s", df, key="url")
    manifest = spark.read.parquet(str(tmp_path / "ck2" / "s" / "manifest"))
    rows = manifest.collect()
    assert {int(r["part_id"]) for r in rows} == {0, 1, 2, 3}
    assert sum(int(r["row_count"]) for r in rows) == 100
    assert all(r["status"] == "ok" for r in rows)
    assert m.rows_computed == 100


def test_cc_reliable_checkpoint_kill_mid_iteration(spark, tmp_path):
    """Connected components through the manifest-backed checkpoint
    (round-3 VERDICT #6): a kill between a round's data write and its
    manifest publish (the exact write-audit-publish hole run_stage
    documents) must resume by recomputing ONLY that round — earlier
    rounds replay with zero recompute — and the result must equal both
    the clean checkpointed run and the localCheckpoint default."""
    import os
    import shutil

    from pyspark.sql import Row

    from ner_app_spark.operators.components import connected_components

    # two chains + an isolated pair; several rounds to converge
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in
         [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (20, 21)]]
    )
    want = sorted(map(tuple, connected_components(edges).collect()))

    wd = str(tmp_path / "cc_wd")
    m1: list = []
    got1 = sorted(map(tuple, connected_components(
        edges, workdir=wd, n_parts=4, metrics_out=m1
    ).collect()))
    assert got1 == want
    assert all(m.parts_computed == 4 for m in m1)
    rounds = [m.stage for m in m1 if m.stage.startswith("cc_round")]
    assert rounds, "expected at least one CC round"

    # simulate the kill: last round's data committed, manifest never
    # published
    shutil.rmtree(os.path.join(wd, rounds[-1], "manifest"))

    m2: list = []
    got2 = sorted(map(tuple, connected_components(
        edges, workdir=wd, n_parts=4, metrics_out=m2
    ).collect()))
    assert got2 == want
    by_stage = {m.stage: m for m in m2}
    # every published stage resumed with zero recompute...
    for stage in ["cc_init"] + rounds[:-1]:
        assert by_stage[stage].parts_computed == 0, stage
        assert by_stage[stage].rows_computed == 0, stage
    # ...and exactly the killed round was recomputed (idempotently)
    assert by_stage[rounds[-1]].parts_computed == 4


def test_pipeline_checkpointed_equals_direct(spark, tmp_path):
    pages = synth_pages_df(spark, 30, num_partitions=4)
    direct = run_pipeline(spark, pages, workdir=None)
    ck = run_pipeline(spark, pages, workdir=str(tmp_path / "wd"), n_parts=4)
    assert _rows(ck.phrases) == _rows(direct.phrases)
    assert _rows(ck.triples) == _rows(direct.triples)
    assert [m.stage for m in ck.metrics] == ["extracted", "analysis", "links"]

    # resume: nothing recomputed, outputs identical
    ck2 = run_pipeline(spark, pages, workdir=str(tmp_path / "wd"), n_parts=4)
    assert all(m.parts_computed == 0 for m in ck2.metrics)
    assert _rows(ck2.triples) == _rows(direct.triples)
    counters = pipeline_counters(ck2)
    assert counters["documents"] == 30 and counters["triples"] > 0
    for out in (direct, ck, ck2):
        out.cleanup()
    assert direct.scratch is None


def test_pagerank_reliable_checkpoint_kill_mid_iteration(spark, tmp_path):
    """pagerank(workdir=...) — round-4 VERDICT #5: same kill-resume
    contract as connected_components. Kill between a checkpointed
    round's data write and its manifest publish; the resumed run must
    replay the edge build and every published round at zero recompute,
    recompute exactly the killed round, and match both the clean
    workdir run and the localCheckpoint default."""
    import os
    import shutil

    from ner_app_spark.operators.graphalgo import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"), ("e", "f")],
        "src string, dst string",
    )
    want = sorted(map(tuple, pagerank(edges, iters=6).collect()))

    wd = str(tmp_path / "pr_wd")
    m1: list = []
    got1 = sorted(map(tuple, pagerank(
        edges, iters=6, workdir=wd, n_parts=4, metrics_out=m1
    ).collect()))
    assert got1 == want
    rounds = [m.stage for m in m1 if m.stage.startswith("pr_round")]
    assert len(rounds) == 2  # checkpoint_every=3 over 6 iterations

    # kill: last checkpointed round's data committed, manifest never published
    shutil.rmtree(os.path.join(wd, rounds[-1], "manifest"))

    m2: list = []
    got2 = sorted(map(tuple, pagerank(
        edges, iters=6, workdir=wd, n_parts=4, metrics_out=m2
    ).collect()))
    assert got2 == want
    by_stage = {m.stage: m for m in m2}
    for stage in ["pr_bidir", "pr_edges", rounds[0]]:
        assert by_stage[stage].parts_computed == 0, stage
        assert by_stage[stage].rows_computed == 0, stage
    assert by_stage[rounds[-1]].parts_computed == 4


def test_bfs_reliable_checkpoint_resume(spark, tmp_path):
    import os
    import shutil

    from ner_app_spark.operators.graphalgo import bfs_hops

    chain = [(f"n{i}", f"n{i + 1}") for i in range(6)] + [("z0", "z1")]
    edges = spark.createDataFrame(chain, "src string, dst string")
    want = sorted(map(tuple, bfs_hops(edges, max_hops=10).collect()))

    wd = str(tmp_path / "bfs_wd")
    m1: list = []
    got1 = sorted(map(tuple, bfs_hops(
        edges, max_hops=10, workdir=wd, n_parts=4, metrics_out=m1
    ).collect()))
    assert got1 == want
    fronts = [m.stage for m in m1 if m.stage.startswith("bfs_front")]
    assert len(fronts) >= 3

    shutil.rmtree(os.path.join(wd, fronts[-1], "manifest"))

    m2: list = []
    got2 = sorted(map(tuple, bfs_hops(
        edges, max_hops=10, workdir=wd, n_parts=4, metrics_out=m2
    ).collect()))
    assert got2 == want
    by_stage = {m.stage: m for m in m2}
    for stage in ["bfs_bidir", "bfs_seed"] + fronts[:-1]:
        assert by_stage[stage].parts_computed == 0, stage
    assert by_stage[fronts[-1]].parts_computed == 4
