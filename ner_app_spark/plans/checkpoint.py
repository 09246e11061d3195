"""Per-partition checkpoint/resume with lineage + counters.

Generalizes the reference's content-addressed write-iff-absent memoization
(/root/reference/src/services/text_service.py:21-23: canonical JSON -> MD5
-> write only if the file does not exist) to distributed per-partition
lineage:

  * every stage output is parquet partitioned by
    ``part_id = pmod(xxhash64(key), n_parts)`` — derived from the DATA,
    not from Spark partition indexes, so the same row always lands in the
    same part across runs, cluster sizes, and AQE decisions
    (resume-stable, SURVEY.md §7.6c);
  * a manifest parquet records (part_id, row_count, content_hash,
    wall_ms, status, schema_fp) per completed part — the reference's
    stats dict (phrase_extractor.py:67-71) elevated to per-partition
    counters;
  * a resumed run anti-joins completed part_ids out of the input and
    recomputes only the rest; data writes use dynamic partition overwrite
    (write-audit-publish: a part is replaced atomically, the manifest row
    is appended only after the data write commits, so a kill between the
    two re-runs that part idempotently). A part counts as completed only
    when its manifest row carries the fingerprint of the schema being
    staged: a part written under another schema would read back with
    NULLs in the new columns, so it is recomputed.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_MANIFEST_SCHEMA = (
    "part_id int, row_count long, content_hash long, wall_ms long, "
    "status string, schema_fp string"
)


def _schema_fingerprint(schema) -> str:
    """Column names and types of a stage, hashed: parts written under a
    different fingerprint are not reused."""
    return hashlib.md5(schema.simpleString().encode()).hexdigest()


@dataclass
class StageMetrics:
    stage: str
    parts_total: int
    parts_skipped: int
    parts_computed: int
    rows_computed: int
    wall_ms: int
    counters: dict = field(default_factory=dict)


class CheckpointManager:
    def __init__(self, root: str, n_parts: int = 32):
        self.root = root
        self.n_parts = n_parts

    def _data_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage, "data")

    def _manifest_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage, "manifest")

    def completed_parts(
        self, spark: SparkSession, stage: str, schema_fp: str
    ) -> list[int]:
        """Parts of ``stage`` committed under the schema ``schema_fp``; a
        manifest row without a fingerprint (an older manifest) does not
        count."""
        mdir = self._manifest_dir(stage)
        try:
            m = spark.read.schema(_MANIFEST_SCHEMA).parquet(mdir)
        except Exception:
            return []
        done = m.filter((F.col("status") == "ok") & (F.col("schema_fp") == schema_fp))
        return [int(r["part_id"]) for r in done.select("part_id").distinct().collect()]

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        df: DataFrame,
        key: str,
    ) -> tuple[DataFrame, StageMetrics]:
        """Compute ``df`` (which must carry ``key``) with per-part resume;
        returns (full stage output read back from parquet, metrics)."""
        t0 = time.monotonic()
        staged = df.withColumn(
            "part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(self.n_parts))
        )
        schema_fp = _schema_fingerprint(staged.schema)
        done = set(self.completed_parts(spark, stage, schema_fp))
        todo_parts = [p for p in range(self.n_parts) if p not in done]
        rows_computed = 0
        if todo_parts:
            todo = (
                staged
                if not done
                else staged.filter(~F.col("part_id").isin(*sorted(done)))
            )
            (
                todo.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_id")
                .parquet(self._data_dir(stage))
            )
            # audit the committed data, then publish manifest rows
            # (explicit schema: an empty stage writes no part files)
            written = (
                spark.read.schema(staged.schema)
                .parquet(self._data_dir(stage))
                .filter(F.col("part_id").isin(*todo_parts))
            )
            stats = (
                written.groupBy("part_id")
                .agg(
                    F.count("*").alias("row_count"),
                    F.coalesce(
                        F.expr(f"bit_xor(xxhash64({key}))"), F.lit(0)
                    ).alias("content_hash"),
                )
                .collect()
            )
            wall_ms = int((time.monotonic() - t0) * 1000)
            by_part = {int(r["part_id"]): r for r in stats}
            manifest_rows = [
                (
                    int(p),
                    int(by_part[p]["row_count"]) if p in by_part else 0,
                    int(by_part[p]["content_hash"]) if p in by_part else 0,
                    wall_ms,
                    "ok",
                    schema_fp,
                )
                for p in todo_parts
            ]
            rows_computed = sum(r[1] for r in manifest_rows)
            spark.createDataFrame(manifest_rows, _MANIFEST_SCHEMA).write.mode(
                "append"
            ).parquet(self._manifest_dir(stage))
        out = spark.read.schema(staged.schema).parquet(self._data_dir(stage))
        metrics = StageMetrics(
            stage=stage,
            parts_total=self.n_parts,
            parts_skipped=len(done),
            parts_computed=len(todo_parts),
            rows_computed=rows_computed,
            wall_ms=int((time.monotonic() - t0) * 1000),
        )
        return out, metrics


def persister(
    workdir: str | None, n_parts: int = 16, metrics_out: list | None = None
):
    """Lineage truncation for the iterative graph algorithms (connected
    components, PageRank, BFS, label propagation) — plans otherwise grow
    with every round. Returns ``persist(df, name, key) -> DataFrame``
    with two modes:
      * default: ``localCheckpoint`` — blocks live on executors; fastest,
        but an executor loss mid-run kills the job;
      * ``workdir``: every round goes through the manifest-backed
        per-partition checkpoint above, so a killed job re-invoked with
        the same workdir resumes from the last published round,
        recomputing only rounds whose manifest never committed
        (tests/test_checkpoint_resume.py). Each round's StageMetrics is
        appended to ``metrics_out`` when given."""
    if not workdir:
        return lambda df, name, key: df.localCheckpoint()

    ckpt = CheckpointManager(workdir, n_parts=n_parts)

    def persist(df: DataFrame, name: str, key: str) -> DataFrame:
        out, m = ckpt.run_stage(df.sparkSession, name, df, key=key)
        if metrics_out is not None:
            metrics_out.append(m)
        return out.drop("part_id")

    return persist
