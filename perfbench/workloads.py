"""The benchmark's workloads: what one op runs, what it is checked
against, and how its traced variant splits it into layers.

An op is timed from its first engine call to its last. The correctness
gate and the removal of the op's output dirs run after the clock stops.
The traced op calls the same public layer functions in the order the
production code calls them and materializes at each layer boundary;
each layer runs under ``Tracer.layer`` so its wall, its Python-worker
CPU and its Spark jobs are attributed to it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import graphref
from inputs import PHRASE_COLS, TRIPLE_COLS, Digest, frame_hash, read_rows
from tracing import Tracer, dir_bytes

#: Spark job-description tags, one per layer family (module names)
SPARK_LAYERS = [
    "icelite", "incremental", "extract", "linking", "components", "pipeline", "graph", "graphalgo",
]
#: per-layer span and count metrics a traced op may fill (0 = the layer
#: does no work on this workload)
LAYER_METRICS = [
    "extract.wall_s", "extract.python_cpu_s", "extract.docs_in", "extract.rows_out",
    "pipeline.scratch_bytes", "pipeline.spill_wall_s", "pipeline.counters_s",
    "graph.wall_s",
    "linking.wall_s", "linking.mentions_in", "linking.links_out", "linking.link_ratio",
    "icelite.append_s", "icelite.commit_s", "icelite.files_per_append", "icelite.metadata_bytes",
    "incremental.scan_s", "incremental.sink_s", "incremental.counters_s",
    "components.wall_s", "components.rounds",
    "graphalgo.pagerank_s", "graphalgo.lpa_s", "graphalgo.degrees_s",
    "graphalgo.edges_in", "graphalgo.failed_layers",
]
#: traced-op spans that are not part of the untraced op (left out of
#: the layer sum the residual is taken against)
EXTRA_SPANS = ("graphalgo.",)


@dataclass
class OpResult:
    wall_s: float
    items: int
    bytes_written: int
    ok: bool
    why: str = ""
    layers: dict = field(default_factory=dict)
    #: layers outside the op that failed or returned wrong rows
    layer_errors: list = field(default_factory=list)


def _files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _dirs, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in _files(path))


def _written_triples(out_dir: str):
    return read_rows(_files(os.path.join(out_dir, "triples")), TRIPLE_COLS)


def _stage(spark, df, path: str):
    """Materialize ``df`` as parquet and read it back (the pipeline's
    no-workdir stage boundary)."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _respill_s(spark, src_dirs: list[str], scratch: str) -> float:
    """Wall to read the given scratch tables back and write them again.

    A proxy for the encode+write cost a stage boundary adds, on the same
    rows: the pipeline's own spill write cannot be timed apart from the
    lazy stage it materializes, so this re-encode runs outside the op."""
    t0 = time.perf_counter()
    for i, src in enumerate(src_dirs):
        spark.read.parquet(src).write.mode("overwrite").parquet(f"{scratch}/respill{i}")
    wall = time.perf_counter() - t0
    for i in range(len(src_dirs)):
        shutil.rmtree(f"{scratch}/respill{i}", ignore_errors=True)
    return wall


class _OpClock:
    """An op's wall with the benchmark's own bookkeeping paused out."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.paused = 0.0

    @contextmanager
    def pause(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.paused += time.perf_counter() - t

    def wall(self) -> float:
        return time.perf_counter() - self.t0 - self.paused


def _extract_counts(spark, scratch: str, stages: list[str]) -> dict:
    """Layer counts of a landed extract stage, plus the re-spill wall of
    its scratch tables."""
    return {
        "pipeline.scratch_bytes": dir_bytes(scratch),
        "extract.rows_out": _rows(f"{scratch}/{stages[-1]}"),
        "pipeline.spill_wall_s": _respill_s(spark, [f"{scratch}/{s}" for s in stages], scratch),
    }


def _link_counts(phrases, links_dir: str) -> dict:
    """Distinct mentions offered to the linker, and links it kept."""
    mentions = phrases.filter("head_noun != ''").select("head_noun").distinct().count()
    links = _rows(links_dir)
    return {
        "linking.mentions_in": mentions,
        "linking.links_out": links,
        "linking.link_ratio": links / max(1, mentions),
    }


class _Counting:
    """Wraps a module attribute for the duration of a traced op, adding
    the calls' count and wall. Absent attributes are left alone."""

    def __init__(self, owner, name: str):
        self.owner, self.name = owner, name
        self.calls, self.wall = 0, 0.0
        self.orig = getattr(owner, name, None)

    def __enter__(self):
        if self.orig is not None:
            orig = self.orig

            def wrapped(*a, **k):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **k)
                finally:
                    self.calls += 1
                    self.wall += time.perf_counter() - t0

            setattr(self.owner, self.name, wrapped)
        return self

    def __exit__(self, *exc):
        if self.orig is not None:
            setattr(self.owner, self.name, self.orig)


def _graphalgo(triples, ref_triples, tr: Tracer, layers: dict) -> list[str]:
    """After an op: the graph algorithms over the op's distinct
    (subj, obj) entity edges, each checked row for row against
    ``graphref`` on ``ref_triples`` (the same triples, already checked
    against the oracle). A layer that raises or returns other rows
    counts in ``graphalgo.failed_layers`` and is named in the returned
    list; the op's own check is unaffected."""
    from ner_app_spark.operators import graphalgo
    from pyspark.sql import functions as F

    edges = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).distinct()
    ref_edges = graphref.entity_edges(ref_triples)
    layers["graphalgo.edges_in"] = len(ref_edges)
    runs = [
        ("pagerank", lambda: graphalgo.pagerank(edges, iters=6).select("entity", "rank_scaled"),
         lambda: graphref.pagerank(ref_edges, iters=6)),
        ("lpa", lambda: graphalgo.label_propagation(edges, iters=4),
         lambda: graphref.label_propagation(ref_edges, iters=4)),
        ("degrees", lambda: graphalgo.entity_degrees(triples),
         lambda: graphref.degrees(ref_edges)),
    ]
    errors = []
    for name, run, ref in runs:
        try:
            with tr.layer(f"graphalgo.{name}_s", "graphalgo"):
                got = run().toPandas()
            want = ref()
            if len(got) != len(want) or frame_hash(got) != frame_hash(want[list(got.columns)]):
                errors.append(f"graphalgo.{name}: rows differ from graphref")
        except Exception as e:
            msg = str(e).strip().splitlines()
            errors.append(f"graphalgo.{name}: {type(e).__name__}: {msg[0] if msg else ''}")
    layers["graphalgo.failed_layers"] = len(errors)
    return errors


class Workload:
    name = ""
    #: ops a run can make from its pre-built inputs (None: unbounded)
    max_ops: int | None = None

    def __init__(self, spark, work: str, inputs_dir: str, digests: dict[str, Digest], n_parts: int):
        self.spark = spark
        self.work = work
        self.inputs_dir = inputs_dir
        self.digests = digests
        self.n_parts = n_parts


class KgBuild(Workload):
    """The production batch job: what jobs/run_pipeline.py runs after it
    has read its input."""

    name = "kg_build"
    #: the default of jobs/run_pipeline.py. An op costs ~11.6 s fixed
    #: plus ~2.9 ms per page; a run's wall is mostly session start and
    #: the cold warm-up op, so 2000 pages costs a run ~4 s more than
    #: 1500, and 4000 pages would cost ~11 s more than 2000
    PAGES = 2000
    #: counters no oracle pins; they must repeat on every op of a run
    pinned: dict | None = None

    @staticmethod
    def groups() -> dict[str, tuple[int, int]]:
        return {"pages": (0, KgBuild.PAGES)}

    def setup(self) -> OpResult | None:
        self.pages_dir = os.path.join(self.inputs_dir, "pages")
        return None

    def _check(self, counters: dict, phrases_pdf, triples) -> str:
        d = self.digests["pages"]
        want = {"documents": d.pages, "phrases": d.phrases, "triples": d.triples}
        got = {k: counters[k] for k in want}
        if got != want:
            return f"counters {got} != oracle {want}"
        if frame_hash(phrases_pdf) != d.phrase_hash:
            return "phrase content hash differs from the oracle"
        if len(triples) != d.triples or frame_hash(triples) != d.triple_hash:
            return "written triples differ from the oracle"
        if counters["links"] <= 0:
            return "no links"
        seen = {k: counters[k] for k in ("unique_phrase_types", "links", "nodes", "edges")}
        if self.pinned is None:
            self.pinned = seen
        return "" if seen == self.pinned else f"counters changed across ops: {seen} != {self.pinned}"

    def op(self, k: int) -> OpResult:
        from ner_app_spark.plans.pipeline import pipeline_counters, run_pipeline, write_outputs

        out_dir = os.path.join(self.work, f"out{k}")
        clock = _OpClock()
        out = run_pipeline(self.spark, self.spark.read.parquet(self.pages_dir), n_parts=self.n_parts)
        try:
            counters = pipeline_counters(out)
            write_outputs(out, out_dir)
            with clock.pause():
                written = (dir_bytes(out.scratch) if out.scratch else 0) + dir_bytes(out_dir)
                why = self._check(
                    counters, out.phrases.select(*PHRASE_COLS).toPandas(), _written_triples(out_dir)
                )
        finally:
            out.cleanup()
            wall = clock.wall()
            shutil.rmtree(out_dir, ignore_errors=True)
        return OpResult(wall, counters["documents"], written, not why, why)

    def traced_op(self, k: int, tr: Tracer) -> OpResult:
        from ner_app_spark.operators import components
        from ner_app_spark.operators.components import canonicalize
        from ner_app_spark.operators.extract import (
            extract_phrases_and_triples,
            extracted_text,
            fused_phrases,
            fused_triples,
        )
        from ner_app_spark.operators.graph import mint_edges, mint_nodes
        from ner_app_spark.operators.linking import link_mentions
        from ner_app_spark.plans.pipeline import PipelineOutput, pipeline_counters, write_outputs
        from ner_app_spark.sources.pages import alias_dict_df

        spark = self.spark
        out_dir = os.path.join(self.work, f"out{k}")
        scratch = tempfile.mkdtemp(prefix="traced_", dir=self.work)
        layers: dict = {}
        clock = _OpClock()
        try:
            with tr.layer("extract.wall_s", "extract"):
                pages = spark.read.parquet(self.pages_dir)
                extracted = _stage(spark, extracted_text(pages), f"{scratch}/extracted")
                fused = _stage(
                    spark,
                    extract_phrases_and_triples(
                        extracted, num_partitions=self.n_parts, text_col="extracted"
                    ),
                    f"{scratch}/analysis",
                )
            with clock.pause():
                layers.update(_extract_counts(spark, scratch, ["extracted", "analysis"]))
                layers["extract.docs_in"] = _rows(f"{scratch}/extracted")
            phrases, triples = fused_phrases(fused), fused_triples(fused)
            aliases = alias_dict_df(spark)
            with tr.layer("linking.wall_s", "linking"):
                links = _stage(spark, link_mentions(phrases, aliases), f"{scratch}/links")
            with clock.pause():
                layers.update(_link_counts(phrases, f"{scratch}/links"))
            with _Counting(components, "_fingerprint") as fp, tr.layer("components.wall_s", "components"):
                canon = canonicalize(links.select("mention", "entity_id"))
            layers["components.rounds"] = max(0, fp.calls - 1)
            nodes = mint_nodes(phrases)
            out = PipelineOutput(
                extracted=extracted, phrases=phrases, triples=triples, links=links,
                canon=canon, nodes=nodes, edges=mint_edges(triples, nodes),
                aliases=aliases, scratch=scratch,
            )
            with tr.layer("pipeline.counters_s", "pipeline"):
                counters = pipeline_counters(out)
            with tr.layer("graph.wall_s", "graph"):
                write_outputs(out, out_dir)
            wall = clock.wall()
            written = dir_bytes(scratch) + dir_bytes(out_dir)
            written_triples = _written_triples(out_dir)
            why = self._check(counters, phrases.select(*PHRASE_COLS).toPandas(), written_triples)
            errors = _graphalgo(triples, written_triples, tr, layers)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            shutil.rmtree(out_dir, ignore_errors=True)
        return OpResult(wall, counters["documents"], written, not why, why, layers, errors)


class IncrementalIngest(Workload):
    """Many small runs: append a batch of fresh pages to the icelite
    pages table, then run the incremental KG build over it."""

    name = "incremental_ingest"
    BATCH = 50
    #: the bootstrap run is full-size: the base is one batch of pages
    BASE = BATCH
    #: pre-built append batches; a run stops timing when they run out
    MAX_BATCHES = 16
    max_ops = MAX_BATCHES

    @staticmethod
    def groups() -> dict[str, tuple[int, int]]:
        b, n = IncrementalIngest.BASE, IncrementalIngest.BATCH
        g = {"base": (0, b)}
        for k in range(IncrementalIngest.MAX_BATCHES):
            g[f"batch{k:03d}"] = (b + k * n, b + (k + 1) * n)
        return g

    def _check(self, counters: dict, d: Digest) -> str:
        want = {"pages": d.pages, "phrases": d.phrases, "triples": d.triples}
        got = {k: counters[k] for k in want}
        if got != want:
            return f"counters {got} != oracle {want}"
        if sorted(counters["tables_caught_up"]) != ["links", "phrases", "triples"]:
            return f"tables caught up: {counters['tables_caught_up']}"
        if not 0 < counters["links"] <= counters["phrases"]:
            return f"links {counters['links']} outside (0, phrases]"
        return ""

    def setup(self) -> OpResult:
        """Reset the tables to the base snapshot and run the bootstrap
        build, so op k of every run sees the same snapshot depth. The
        bootstrap run is checked like an op."""
        from ner_app_spark.plans.incremental import run_incremental
        from ner_app_spark.tables.icelite import IceTable

        self.pages_path = os.path.join(self.work, "inc", "pages")
        self.out_root = os.path.join(self.work, "inc", "kg")
        shutil.rmtree(os.path.join(self.work, "inc"), ignore_errors=True)
        base = self.spark.read.parquet(os.path.join(self.inputs_dir, "base"))
        t0 = time.perf_counter()
        IceTable.create(self.spark, self.pages_path, base)
        counters = run_incremental(self.spark, self.pages_path, self.out_root, n_parts=self.n_parts)
        wall = time.perf_counter() - t0
        why = self._check(counters, self.digests["base"])
        return OpResult(wall, counters["pages"], self._tables_bytes(), not why, why)

    def _batch(self, k: int):
        name = f"batch{k:03d}"
        return self.spark.read.parquet(os.path.join(self.inputs_dir, name)), self.digests[name]

    def _tables_bytes(self) -> int:
        return dir_bytes(os.path.join(self.work, "inc"))

    def op(self, k: int) -> OpResult:
        from ner_app_spark.plans.incremental import run_incremental
        from ner_app_spark.tables.icelite import IceTable

        batch, d = self._batch(k)
        before = self._tables_bytes()
        t0 = time.perf_counter()
        IceTable(self.pages_path).append(self.spark, batch)
        counters = run_incremental(self.spark, self.pages_path, self.out_root, n_parts=self.n_parts)
        wall = time.perf_counter() - t0
        why = self._check(counters, d)
        return OpResult(wall, counters["pages"], self._tables_bytes() - before, not why, why)

    def traced_op(self, k: int, tr: Tracer) -> OpResult:
        from ner_app_spark.operators.extract import (
            extract_phrases_and_triples,
            extracted_text,
            fused_phrases,
            fused_triples,
        )
        from ner_app_spark.operators.linking import link_mentions, link_occurrences
        from ner_app_spark.plans.incremental import MARKER, last_consumed_snapshot
        from ner_app_spark.sources.pages import alias_dict_df
        from ner_app_spark.tables.icelite import IceTable

        spark = self.spark
        batch, d = self._batch(k)
        before = self._tables_bytes()
        scratch = tempfile.mkdtemp(prefix="traced_", dir=self.work)
        names = ("phrases", "triples", "links")
        out_paths = {n: os.path.join(self.out_root, n) for n in names}
        layers: dict = {}
        clock = _OpClock()
        try:
            with _Counting(IceTable, "_commit") as commits:
                with tr.layer("icelite.append_s", "icelite"):
                    IceTable(self.pages_path).append(spark, batch)
                pages_t = IceTable(self.pages_path)
                with clock.pause():
                    layers["icelite.files_per_append"] = pages_t.snapshots()[-1]["summary"]["added_files"]
                with tr.layer("incremental.scan_s", "incremental"):
                    to_sid = pages_t.current_snapshot_id()
                    froms = {last_consumed_snapshot(IceTable(p)) for p in out_paths.values()}
                    if len(froms) != 1:
                        raise RuntimeError(f"output tables disagree on their marker: {froms}")
                    inc, _ = pages_t.incremental_scan(spark, from_snapshot=froms.pop(), to_snapshot=to_sid)
                with tr.layer("extract.wall_s", "extract"):
                    fused = _stage(
                        spark,
                        extract_phrases_and_triples(
                            extracted_text(inc), num_partitions=self.n_parts, text_col="extracted"
                        ),
                        f"{scratch}/analysis",
                    )
                with clock.pause():
                    layers.update(_extract_counts(spark, scratch, ["analysis"]))
                    layers["extract.docs_in"] = d.pages
                phrases = fused_phrases(fused)
                with tr.layer("linking.wall_s", "linking"):
                    links = _stage(
                        spark, link_mentions(phrases, alias_dict_df(spark)), f"{scratch}/links"
                    )
                    frames = {
                        "phrases": phrases,
                        "triples": fused_triples(fused),
                        "links": link_occurrences(phrases, links),
                    }
                with clock.pause():
                    layers.update(_link_counts(phrases, f"{scratch}/links"))
                caught_up = []
                with tr.layer("incremental.sink_s", "incremental"):
                    for n in names:
                        IceTable(out_paths[n]).append(spark, frames[n], summary_extra={MARKER: to_sid})
                        caught_up.append(n)
                with tr.layer("incremental.counters_s", "incremental"):
                    counters = {"pages": inc.count(), "tables_caught_up": caught_up}
                    counters.update({n: frames[n].count() for n in names})
            wall = clock.wall()
            batch_triples = frames["triples"].select(*TRIPLE_COLS).toPandas()
            why = self._check(counters, d)
            if not why and frame_hash(batch_triples) != d.triple_hash:
                why = "batch triples differ from the oracle"
            errors = _graphalgo(frames["triples"], batch_triples, tr, layers)
            layers["icelite.commit_s"] = commits.wall
            layers["icelite.metadata_bytes"] = sum(
                dir_bytes(os.path.join(p, "metadata"))
                for p in [self.pages_path, *out_paths.values()]
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        return OpResult(
            wall, counters["pages"], self._tables_bytes() - before, not why, why, layers, errors
        )


WORKLOADS = {w.name: w for w in (KgBuild, IncrementalIngest)}
