"""Seeded inputs and their pure-Python oracle digests.

Every input a workload reads is generated here, once per run and before
anything is timed, from ``synth.synth_page`` over explicit page-id
ranges (``synth_pages_df(n)`` would regenerate ids 0..n for every
batch). Each id range is written as one parquet file by a worker of a
spawn-context pool; the worker also runs the engine's own oracle
(``oracle.analyze`` / ``oracle.triples_for_doc`` over
``functions.text.extract_text``) on the same pages and returns counts
and order-free content hashes, which the correctness gate compares
against what the Spark job wrote.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: parquet layout of the pages table (sources.pages.PAGE_SCHEMA)
PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), False),
        pa.field("lang", pa.string(), False),
    ]
)
PHRASE_COLS = ["url", "phrase", "type", "tfidf", "length", "head_noun"]
TRIPLE_COLS = ["url", "subj", "pred", "obj"]
#: pages per generated parquet file (one worker task each)
CHUNK = 100
_MASK = (1 << 64) - 1


def frame_hash(df: pd.DataFrame) -> int:
    """Order-free content hash: the wrapping uint64 sum of pandas'
    stable per-row hash. Columns are normalised to str / float64 /
    int64 so Spark's int32 and the oracle's Python ints hash alike."""
    if df.empty:
        return 0
    norm = pd.DataFrame(
        {
            c: (
                df[c].astype("int64")
                if c == "length"
                else df[c].astype("float64") if c == "tfidf" else df[c].astype(str)
            )
            for c in df.columns
        }
    )
    rows = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
    return int(rows.sum(dtype=np.uint64))


@dataclass
class Digest:
    """Oracle totals over a set of pages."""

    pages: int = 0
    phrases: int = 0
    triples: int = 0
    phrase_hash: int = 0
    triple_hash: int = 0

    def __add__(self, o: "Digest") -> "Digest":
        return Digest(
            self.pages + o.pages,
            self.phrases + o.phrases,
            self.triples + o.triples,
            (self.phrase_hash + o.phrase_hash) & _MASK,
            (self.triple_hash + o.triple_hash) & _MASK,
        )


def _write_range(task: tuple[int, int, int, str]) -> Digest:
    """Pool task: write pages [lo, hi) of ``seed`` to ``path`` and digest
    them with the oracle, under the pipeline's gates (lang 'ru',
    non-empty extracted text)."""
    from ner_app_spark import oracle
    from ner_app_spark.functions.text import extract_text
    from ner_app_spark.synth import synth_page

    seed, lo, hi, path = task
    rows = [synth_page(i, seed) for i in range(lo, hi)]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=PAGES_ARROW), path, compression="zstd"
    )
    phrases: list[tuple] = []
    triples: list[tuple] = []
    for r in rows:
        if r["lang"] != "ru":
            continue
        text = extract_text(r["html"])
        if not text:
            continue
        found = oracle.analyze(text)
        phrases.extend(
            (r["url"], p.phrase, p.type, p.tfidf, p.length, p.head_noun)
            for p in found
        )
        triples.extend(oracle.triples_for_doc(r["url"], found))
    return Digest(
        pages=len(rows),
        phrases=len(phrases),
        triples=len(triples),
        phrase_hash=frame_hash(pd.DataFrame(phrases, columns=PHRASE_COLS)),
        triple_hash=frame_hash(pd.DataFrame(triples, columns=TRIPLE_COLS)),
    )


def build(seed: int, groups: dict[str, tuple[int, int]], root: str, workers: int) -> dict[str, Digest]:
    """Write every group of page ids as a directory of parquet files
    under ``root`` (``root/<group>/part-<lo>.parquet``) and return each
    group's oracle digest. ``groups`` maps a name to an id range."""
    tasks, owner = [], []
    for name, (lo, hi) in groups.items():
        os.makedirs(os.path.join(root, name), exist_ok=True)
        for a in range(lo, hi, CHUNK):
            b = min(hi, a + CHUNK)
            tasks.append((seed, a, b, os.path.join(root, name, f"part-{a:08d}.parquet")))
            owner.append(name)
    ctx = mp.get_context("spawn")
    pool = ctx.Pool(workers)
    try:
        parts = pool.map(_write_range, tasks, chunksize=1)
    finally:
        pool.close()
        pool.join()
        # free the pool's semaphores while the resource tracker still
        # runs, then stop the tracker the spawn context started and
        # wait for it instead of leaving it to exit with this one
        del pool
        gc.collect()
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    out = {name: Digest() for name in groups}
    for name, d in zip(owner, parts):
        out[name] = out[name] + d
    return out


def read_rows(paths: list[str], columns: list[str]) -> pd.DataFrame:
    """The given columns of parquet files written by Spark."""
    if not paths:
        return pd.DataFrame(columns=columns)
    return pa.concat_tables([pq.read_table(p, columns=columns) for p in paths]).to_pandas()
