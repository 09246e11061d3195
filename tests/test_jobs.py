"""Launch-surface behaviour checked in-process: resource defaults read
from the host, and job cleanup when a run fails."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from ner_app_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_defaults_come_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.cpu_count() == len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert session.driver_memory() == f"{min(phys_mb // 2, 24 << 10)}m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.cpu_count() == 3
    assert session.driver_memory() == "2g"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.cpu_count()


def test_run_stream_removes_synth_landing_dir_when_the_stream_fails(
    spark, tmp_path, monkeypatch
):
    """run_stream.py --synth stages pages into a scratch landing dir; a
    failing stream must not leave it behind."""
    import ner_app_spark.streaming as streaming

    def failing_stream(*args, **kwargs):
        raise RuntimeError("injected stream failure")

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(session, "get_session", lambda **kw: spark)
    monkeypatch.setattr(session, "scratch_base", lambda: str(scratch))
    monkeypatch.setattr(
        streaming, "stream_kg_triples_to_table", failing_stream
    )
    monkeypatch.setattr(sys, "argv", [
        "run_stream.py", "--synth", "8", "--chunks", "2",
        "--table", str(tmp_path / "table"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    spec = importlib.util.spec_from_file_location(
        "run_stream", os.path.join(REPO, "jobs", "run_stream.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    with pytest.raises(RuntimeError, match="injected stream failure"):
        job.main()
    assert [
        d for d in os.listdir(scratch) if d.startswith("kg_stream_landing_")
    ] == []


def test_run_pipeline_removes_scratch_dir_when_the_output_write_fails(
    spark, tmp_path, monkeypatch
):
    """run_pipeline.py stages every output in a scratch dir; a failing
    --output write must not leave it behind."""
    from ner_app_spark.plans import pipeline

    def failing_write(*args, **kwargs):
        raise RuntimeError("injected write failure")

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(session, "get_session", lambda **kw: spark)
    monkeypatch.setattr(session, "scratch_base", lambda: str(scratch))
    monkeypatch.setattr(pipeline, "write_outputs", failing_write)
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--pages", "8", "--parts", "4",
        "--output", str(tmp_path / "out"),
    ])
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(REPO, "jobs", "run_pipeline.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    with pytest.raises(RuntimeError, match="injected write failure"):
        job.main()
    assert [d for d in os.listdir(scratch) if d.startswith("ner_kg_")] == []
