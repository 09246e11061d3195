"""Structured Streaming surface (ner_app_spark/streaming/).

What the oracle-parity suite already pins (test_oracle_parity:
streaming_dedup / streaming_window_counts / streaming_triples): each
streaming row's final answer hash-equals a batch DuckDB replay. This file
pins the properties a hash of one happy-path run cannot: micro-batch
ORDER-independence, state expiry (TTL), and restart-resume from the
streaming checkpoint with no reprocessing.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ner_app_spark.session import scratch_base
from ner_app_spark.streaming import (
    first_seen_result,
    stage_chunks,
    stream_kg_triples_to_table,
    streaming_first_seen,
    table_triples_result,
)
from ner_app_spark.tables.icelite import IceTable
from ner_app_spark.streaming.sources import add_chunk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def scratch(tmp_path_factory):
    # tmpfs-backed scratch: streaming checkpoints do many tiny renames,
    # painful on the virtio /tmp disk
    d = tempfile.mkdtemp(prefix="test_stream_", dir=scratch_base())
    yield d
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def _read_stream(spark, inp, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )


def test_first_seen_is_micro_batch_order_independent(spark, scratch):
    """Adversarial arrival order: chunks split round-robin by doc_id % 4,
    so LATER batches carry SMALLER doc_ids than earlier ones and the
    state must emit improving candidates. The final reduction still
    equals the batch first-seen answer, and the improving chain is
    visibly longer than the distinct-hash count (i.e. the cross-batch
    state path actually ran)."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("text_hash", F.md5("text"))
    )
    # every doc duplicated under a higher id; the +100001 offset (≡ 1
    # mod 4) puts each duplicate in the round-robin chunk AFTER its
    # original's, so for doc_id % 4 == 3 the worse duplicate arrives a
    # batch BEFORE the winner — forcing improving state updates
    dup = docs.select(
        (F.col("doc_id") + 100001).alias("doc_id"), "text", "text_hash"
    )
    allrows = docs.unionByName(dup)
    inp, sink, ckpt = f"{scratch}/in", f"{scratch}/sink", f"{scratch}/ckpt"
    # round-robin staging: chunk i holds doc_id % 4 == i — NOT contiguous,
    # so arrival order disagrees with doc_id order for most hashes
    parts = [allrows.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    for i, part in enumerate(parts):
        add_chunk(part, inp, i)
    q = streaming_first_seen(
        _read_stream(spark, inp, allrows.schema), sink, ckpt
    )
    q.awaitTermination()

    emitted = spark.read.parquet(sink)
    res = first_seen_result(spark, sink).select("text_hash", "doc_id")
    expected = allrows.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    assert res.exceptAll(expected).count() == 0
    assert expected.exceptAll(res).count() == 0
    n_hashes = expected.count()
    assert emitted.count() > n_hashes, (
        "no improving emissions — the staging no longer exercises "
        "cross-batch state updates"
    )


def test_first_seen_state_ttl_expires_and_readmits(spark, scratch):
    """With an event-time TTL, a hash not re-seen within the horizon is
    evicted (bounded state at 10^12 docs) and a later duplicate is
    re-admitted — the declared trade-off in streaming/dedup.py."""
    schema = "ts timestamp, doc_id long, text_hash string"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def chunk(rows):
        from ner_app_spark.session import local_df

        return local_df(spark, rows, schema)

    # c0 seeds h and x; c1 (2h later, unrelated) advances the watermark so
    # h and x time out (they get no data that batch); c2 re-sends h
    add_chunk(chunk([(t0, 1, "h"), (t0, 10, "x")]), f"{scratch}/in", 0)
    add_chunk(chunk([(t0 + dt.timedelta(hours=2), 11, "y")]), f"{scratch}/in", 1)
    add_chunk(chunk([(t0 + dt.timedelta(hours=3), 2, "h")]), f"{scratch}/in", 2)
    stream = _read_stream(spark, f"{scratch}/in", schema).withWatermark(
        "ts", "1 minute"
    )
    q = streaming_first_seen(
        stream,
        f"{scratch}/sink",
        f"{scratch}/ckpt",
        ttl_ms=60 * 60 * 1000,  # 1h horizon
    )
    q.awaitTermination()
    emitted = spark.read.parquet(f"{scratch}/sink")
    h_rows = sorted(
        r.doc_id for r in emitted.filter(F.col("text_hash") == "h").collect()
    )
    # doc_id 2 re-admitted AFTER expiry — without TTL the state (best=1)
    # would have suppressed it
    assert h_rows == [1, 2]
    assert emitted.filter(F.col("text_hash") == "x").count() == 1


def test_first_seen_state_survives_restart(spark, scratch):
    """Stateful resume: the dedup stream is stopped after draining two
    chunks, then restarted with the SAME checkpoint over two more. A
    duplicate whose first copy arrived before the restart must still be
    suppressed after it — i.e. the state store itself (not just source
    offsets) is restored. foreachBatch resume (test above) cannot pin
    this; applyInPandasWithState resume does."""
    schema = "doc_id long, text_hash string"

    def chunk(rows):
        from ner_app_spark.session import local_df

        return local_df(spark, rows, schema)

    inp, sink, ckpt = f"{scratch}/in", f"{scratch}/sink", f"{scratch}/ckpt"
    add_chunk(chunk([(1, "a"), (2, "b")]), inp, 0)
    add_chunk(chunk([(3, "c")]), inp, 1)
    streaming_first_seen(
        _read_stream(spark, inp, schema), sink, ckpt
    ).awaitTermination()
    assert spark.read.parquet(sink).count() == 3

    # post-restart: a worse duplicate of 'a' (must be suppressed by the
    # RESTORED state) and an improvement of 'c' (must be emitted)
    add_chunk(chunk([(9, "a"), (0, "c")]), inp, 2)
    add_chunk(chunk([(4, "d")]), inp, 3)
    streaming_first_seen(
        _read_stream(spark, inp, schema), sink, ckpt
    ).awaitTermination()
    emitted = spark.read.parquet(sink)
    assert emitted.filter(F.col("text_hash") == "a").count() == 1  # suppressed
    assert sorted(
        r.doc_id for r in emitted.filter(F.col("text_hash") == "c").collect()
    ) == [0, 3]  # improvement emitted
    res = {r.text_hash: r.doc_id for r in first_seen_result(spark, sink).collect()}
    assert res == {"a": 1, "b": 2, "c": 0, "d": 4}


def test_watermark_drops_genuinely_late_rows(spark, scratch):
    """The semantics the sentinel protocol is designed around: a row
    arriving AFTER the watermark passed its window is dropped from the
    aggregation (append mode). Two-watermark subtlety (SPARK-24634 /
    WatermarkPropagator): LATE-event filtering uses the watermark of the
    PREVIOUS micro-batch, while state eviction uses the updated one — so
    the advancing chunk needs one intervening micro-batch before the
    late row is actually filtered. With that spacing, a row landing back
    in the long-closed first window must NOT appear in its count."""
    import datetime as dt

    from ner_app_spark.streaming import streaming_window_counts

    schema = "ts timestamp_ntz, event_type string"
    t0 = dt.datetime(2024, 1, 1, 0, 30, 0)

    def chunk(rows):
        from ner_app_spark.session import local_df

        return local_df(spark, rows, schema)

    inp, sink, ckpt = f"{scratch}/in", f"{scratch}/sink", f"{scratch}/ckpt"
    add_chunk(chunk([(t0, "x"), (t0, "x")]), inp, 0)
    # jumps event time 2 days ahead: eviction watermark passes W1 at
    # batch 2, late-filter watermark at batch 3
    add_chunk(chunk([(t0 + dt.timedelta(days=2), "x")]), inp, 1)
    add_chunk(chunk([(t0 + dt.timedelta(days=2, minutes=1), "x")]), inp, 2)
    # genuinely late: lands in the already-closed first window, and the
    # late-filter watermark has caught up — must be dropped
    add_chunk(chunk([(t0 + dt.timedelta(minutes=1), "x")]), inp, 3)
    # flush: advances the watermark past the second chunk's window too
    add_chunk(chunk([(t0 + dt.timedelta(days=4), "__sentinel__")]), inp, 4)
    streaming_window_counts(
        _read_stream(spark, inp, schema),
        sink, ckpt, window="1 day", delay="1 minute",
        group_cols=("event_type",),
    ).awaitTermination()
    rows = {
        (r.win_start, r.event_type): r.cnt
        for r in spark.read.parquet(sink).collect()
    }
    # first window counts 2, NOT 3 — the late row was dropped
    assert rows[("2024-01-01 00:00:00", "x")] == 2
    assert rows[("2024-01-03 00:00:00", "x")] == 2
    assert all(t != "__sentinel__" for _, t in rows)


def test_first_seen_with_rocksdb_state_store(spark, scratch):
    """The 10^12-doc state-store path is a config swap, not a code
    change: the same dedup stream runs green on the bundled RocksDB
    provider (spills state off-heap/disk instead of the HDFS-backed
    in-memory map)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        docs = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text")
            .withColumn("text_hash", F.md5("text"))
        )
        inp, sink, ckpt = f"{scratch}/in", f"{scratch}/sink", f"{scratch}/ckpt"
        stage_chunks(docs, inp, "doc_id", 3)
        streaming_first_seen(
            _read_stream(spark, inp, docs.schema), sink, ckpt
        ).awaitTermination()
        res = first_seen_result(spark, sink).select("text_hash", "doc_id")
        expected = docs.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
        assert res.exceptAll(expected).count() == 0
        assert expected.exceptAll(res).count() == 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# ------------------------------------------------- snapshot-table sink


def test_icesink_exactly_once_and_resume(spark, scratch):
    """The icelite streaming sink: drain two chunks into a snapshot
    table, drip two more, restart with the SAME checkpoint — the table
    must hold each micro-batch exactly once (commit markers in the
    snapshot log), and its content must equal the batch answer."""
    from ner_app_spark.operators.extract import (
        extract_phrases_and_triples,
        fused_triples,
    )
    from ner_app_spark.sources.pages import synth_pages_df
    from ner_app_spark.streaming import (
        stream_kg_triples_to_table,
        table_triples_result,
    )
    from ner_app_spark.streaming.icesink import (
        checkpoint_key,
        committed_batch_ids,
    )
    from ner_app_spark.tables.icelite import IceTable

    pages = synth_pages_df(spark, 40)
    inp, table, ckpt = f"{scratch}/in", f"{scratch}/table", f"{scratch}/ckpt"
    quarters = [pages.filter(F.crc32(F.col("url")) % 4 == i) for i in range(4)]
    add_chunk(quarters[0], inp, 0)
    add_chunk(quarters[1], inp, 1)
    q = stream_kg_triples_to_table(
        spark, inp, table, ckpt, schema=pages.schema, num_partitions=4
    )
    q.awaitTermination()
    key = checkpoint_key(ckpt)
    assert committed_batch_ids(table, key) == {0, 1}

    add_chunk(quarters[2], inp, 2)
    add_chunk(quarters[3], inp, 3)
    q2 = stream_kg_triples_to_table(
        spark, inp, table, ckpt, schema=pages.schema, num_partitions=4
    )
    q2.awaitTermination()
    assert committed_batch_ids(table, key) == {0, 1, 2, 3}
    # one snapshot per micro-batch (+1 marker-only restamp of create)
    ops = [s["operation"] for s in IceTable(table).snapshots()]
    assert ops.count("append") == 3 and ops.count("create") == 1

    res = table_triples_result(spark, table)
    expected = fused_triples(
        extract_phrases_and_triples(synth_pages_df(spark, 40), num_partitions=4)
    )
    assert res.exceptAll(expected).count() == 0
    assert expected.exceptAll(res).count() == 0


def test_icesink_replayed_batch_is_skipped(spark, scratch):
    """Simulate the crash window (table committed, source offset not):
    re-invoking commit_batch with an already-committed batch id must be
    a no-op — no new snapshot, no duplicate rows."""
    from ner_app_spark.streaming.icesink import commit_batch
    from ner_app_spark.tables.icelite import IceTable

    table = f"{scratch}/t"
    df = spark.range(100).withColumnRenamed("id", "v")
    assert commit_batch(spark, table, df, "ck", 0) is not None
    assert commit_batch(spark, table, df.limit(7), "ck", 1) is not None
    n_snaps = len(IceTable(table).snapshots())
    n_rows = IceTable(table).scan(spark)[0].count()
    # replay both batches: skipped
    assert commit_batch(spark, table, df, "ck", 0) is None
    assert commit_batch(spark, table, df.limit(7), "ck", 1) is None
    assert len(IceTable(table).snapshots()) == n_snaps
    assert IceTable(table).scan(spark)[0].count() == n_rows == 107
    # a DIFFERENT checkpoint's batch 0 is new data, not a replay
    assert commit_batch(spark, table, df.limit(3), "other", 0) is not None
    assert IceTable(table).scan(spark)[0].count() == 110


def test_icesink_table_survives_maintenance(spark, scratch):
    """The per-trigger small files are exactly the compaction workload:
    after compact + expire the content is intact AND the exactly-once
    replay frontier survives — expire_snapshots folds expired commit
    markers into a carried {checkpoint: max_batch_id} dict, so a replayed
    batch is still skipped after its marker snapshot is long gone."""
    from ner_app_spark.streaming.icesink import (
        commit_batch,
        committed_batch_ids,
        last_committed_batch,
    )
    from ner_app_spark.tables.icelite import IceTable

    table = f"{scratch}/t"
    for i in range(4):
        commit_batch(
            spark, table, spark.range(i * 50, (i + 1) * 50), "ck", i,
            target_files=2,
        )
    t = IceTable(table)
    assert t.compact(spark, small_file_bytes=32 << 20) is not None
    t.expire_snapshots(keep_last=1)
    assert t.scan(spark)[0].count() == 200
    # the live markers are gone with the expired snapshots ...
    assert committed_batch_ids(table, "ck") == set()
    # ... but the carried frontier preserves exactly-once: replays of any
    # expired batch are still skipped, the next real batch commits
    assert last_committed_batch(table, "ck") == 3
    assert commit_batch(spark, table, spark.range(5), "ck", 2) is None
    assert commit_batch(spark, table, spark.range(5), "ck", 3) is None
    assert t.scan(spark)[0].count() == 200
    assert commit_batch(spark, table, spark.range(200, 210), "ck", 4) is not None
    assert t.scan(spark)[0].count() == 210
    assert last_committed_batch(table, "ck") == 4


def test_icesink_empty_batch_commits_marker_only(spark, scratch):
    """An empty micro-batch (e.g. a trigger that matched zero rows) must
    still advance the replay frontier — marker committed, no data files."""
    from ner_app_spark.streaming.icesink import commit_batch, last_committed_batch
    from ner_app_spark.tables.icelite import IceTable

    table = f"{scratch}/t"
    df = spark.range(10).withColumnRenamed("id", "v")
    commit_batch(spark, table, df, "ck", 0)
    empty = df.filter(F.col("v") < 0)
    assert commit_batch(spark, table, empty, "ck", 1) is not None
    t = IceTable(table)
    assert last_committed_batch(table, "ck") == 1
    assert t.scan(spark)[0].count() == 10
    assert t.snapshots()[-1]["summary"]["added_files"] == 0
    # replay of the empty batch is still skipped
    assert commit_batch(spark, table, empty, "ck", 1) is None


# ------------------------------------------- review-hardening pins (r4)


def test_first_seen_ttl_not_premature_for_batch0_keys(spark, scratch):
    """Review finding: the TTL used to be armed against the PRE-batch
    watermark (0 in batch 0), expiring every batch-0 key on the first
    watermark advance regardless of ttl_ms. Now it arms against the
    key's own event time: an advance SMALLER than the ttl must keep the
    state, so a later worse duplicate stays suppressed."""
    schema = "ts timestamp, doc_id long, text_hash string"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def chunk(rows):
        from ner_app_spark.session import local_df

        return local_df(spark, rows, schema)

    add_chunk(chunk([(t0, 1, "h")]), f"{scratch}/in", 0)
    # +2h advance, ttl 6h: h must NOT expire
    add_chunk(chunk([(t0 + dt.timedelta(hours=2), 11, "y")]), f"{scratch}/in", 1)
    add_chunk(chunk([(t0 + dt.timedelta(hours=3), 9, "h")]), f"{scratch}/in", 2)
    stream = _read_stream(spark, f"{scratch}/in", schema).withWatermark(
        "ts", "1 minute"
    )
    streaming_first_seen(
        stream, f"{scratch}/sink", f"{scratch}/ckpt",
        ttl_ms=6 * 60 * 60 * 1000,
    ).awaitTermination()
    emitted = spark.read.parquet(f"{scratch}/sink")
    h_rows = sorted(
        r.doc_id for r in emitted.filter(F.col("text_hash") == "h").collect()
    )
    assert h_rows == [1]  # doc 9 suppressed: state survived the 2h advance

    import pytest as _pytest

    with _pytest.raises(ValueError):
        streaming_first_seen(
            stream, f"{scratch}/sink2", f"{scratch}/ckpt2", ttl_ms=0
        )


def test_stage_chunks_second_wave_appends_after_first(spark, scratch):
    """Review finding: a second stage_chunks wave into the same landing
    dir used to REUSE chunk-0000 names (replaced files are never
    reprocessed by FileStreamSource) and could stamp earlier mtimes.
    Both waves must be fully processed."""
    from ner_app_spark.session import local_df

    schema = "doc_id long, text_hash string"
    inp = f"{scratch}/in"
    w1 = local_df(spark, [(1, "a"), (2, "b")], schema)
    w2 = local_df(spark, [(3, "c"), (4, "d")], schema)
    p1 = stage_chunks(w1, inp, "doc_id", 2)
    p2 = stage_chunks(w2, inp, "doc_id", 2)
    assert not set(p1) & set(p2)  # no name reuse
    assert min(os.path.getmtime(p) for p in p2) > max(
        os.path.getmtime(p) for p in p1
    )
    streaming_first_seen(
        _read_stream(spark, inp, schema), f"{scratch}/sink", f"{scratch}/ckpt"
    ).awaitTermination()
    got = sorted(
        r.text_hash for r in spark.read.parquet(f"{scratch}/sink").collect()
    )
    assert got == ["a", "b", "c", "d"]


def test_continuous_trigger_processes_late_arrivals(spark, scratch):
    """Review finding: the trigger was hardcoded availableNow, making the
    advertised continuous landing-zone watch unreachable. With
    available_now=False the query must pick up a file dropped AFTER
    start, then stop cleanly."""
    import time as _time

    from ner_app_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 8)
    inp, table, ckpt = f"{scratch}/in", f"{scratch}/table", f"{scratch}/ckpt"
    halves = [pages.filter(F.crc32(F.col("url")) % 2 == i) for i in range(2)]
    add_chunk(halves[0], inp, 0)

    def n_batches() -> int:
        if not IceTable.exists(table):
            return 0
        return len(IceTable(table).snapshots())

    q = stream_kg_triples_to_table(
        spark, inp, table, ckpt, schema=pages.schema, num_partitions=2,
        available_now=False, processing_interval="1 seconds",
    )
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline and n_batches() < 1:
            _time.sleep(1)
        add_chunk(halves[1], inp, 1)  # arrives AFTER the query started
        while _time.time() < deadline and n_batches() < 2:
            _time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()
    assert n_batches() >= 2  # the late file was picked up continuously
    assert table_triples_result(spark, table).count() > 0


def test_stream_analyzes_extracted_html_like_the_batch_job(spark, scratch):
    """The stream runs the batch job's text extraction: pages whose raw
    ``text`` column is empty or differs from their html must yield the
    same triples as run_pipeline, which analyzes extracted_text(html)."""
    from ner_app_spark.plans.pipeline import run_pipeline
    from ner_app_spark.sources.pages import synth_pages_df

    bucket = F.crc32(F.col("url")) % 3
    pages = synth_pages_df(spark, 24).withColumn(
        "text",
        F.when(bucket == 0, F.lit(""))
        .when(
            bucket == 1,
            F.concat("text", F.lit(" Красная шапочка пошла в густой лес.")),
        )
        .otherwise(F.col("text")),
    )
    blanked = {r.url for r in pages.filter(F.col("text") == "").collect()}
    out = run_pipeline(spark, pages, n_parts=4)
    try:
        want = sorted(map(tuple, out.triples.select(
            "url", "subj", "pred", "obj").collect()))
    finally:
        out.cleanup()
    assert blanked & {t[0] for t in want}  # the raw text would lose these

    inp, table, ckpt = f"{scratch}/in", f"{scratch}/table", f"{scratch}/ckpt"
    add_chunk(pages.filter(F.crc32(F.col("url")) % 2 == 0), inp, 0)
    add_chunk(pages.filter(F.crc32(F.col("url")) % 2 == 1), inp, 1)
    stream_kg_triples_to_table(
        spark, inp, table, ckpt, schema=pages.schema, num_partitions=2
    ).awaitTermination()
    got = sorted(map(tuple, table_triples_result(spark, table).collect()))
    assert got == want
