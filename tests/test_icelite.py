"""Iceberg-lite table layer (ner_app_spark/tables/icelite.py).

Covers the load-bearing subset of the Iceberg spec the 10^12-row story
rests on: snapshot isolation + time travel, O_EXCL optimistic commits,
footer-stats file pruning, hidden-partition transforms (identity / day /
bucket / truncate) with derived-filter pruning, add-column schema
evolution, and the KG publish pattern (nodes/edges/triples as
overwrite-per-run snapshot tables).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from ner_app_spark.tables.icelite import (
    CommitConflict,
    IceTable,
    _bucket_py,
    bucket,
    day,
    identity,
    truncate,
)


def _events(spark, n=600, days=6):
    """Deterministic event rows spanning `days` days, skewed keys."""
    rows = [
        Row(
            event_id=i,
            user_id=f"u{i % 37:03d}",
            kind=["view", "click", "buy"][i % 3],
            amount=float(i % 100),
            ts=dt.datetime(2024, 3, 1 + (i % days), (i * 7) % 24, i % 60),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def events(spark):
    return _events(spark)


# ------------------------------------------------------------- lifecycle


def test_create_scan_roundtrip(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=4)
    df, rep = t.scan(spark)
    assert df.count() == 600
    assert rep.files_total == rep.files_kept == 4
    assert rep.records_total == 600
    # hidden columns never leak into the read schema
    assert [c for c in df.columns if c.startswith("_p_")] == []
    assert sorted(df.columns) == sorted(events.columns)


def test_append_and_time_travel(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    s1 = t.current_snapshot_id()
    t.append(spark, _events(spark).withColumn("event_id", F.col("event_id") + 1000),
             target_files=2)
    s2 = t.current_snapshot_id()
    assert s1 != s2
    cur, _ = t.scan(spark)
    assert cur.count() == 1200
    old, rep = t.scan(spark, snapshot_id=s1)
    assert old.count() == 600 and rep.files_total == 2
    # snapshot log records lineage
    snaps = t.snapshots()
    assert [s["id"] for s in snaps] == [s1, s2]
    assert snaps[1]["parent"] == s1
    assert snaps[1]["summary"]["added_records"] == 600
    assert snaps[1]["summary"]["total_records"] == 1200


def test_overwrite_keeps_history(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events)
    s1 = t.current_snapshot_id()
    t.overwrite(spark, events.filter(F.col("kind") == "buy"))
    cur, _ = t.scan(spark)
    assert cur.count() == events.filter(F.col("kind") == "buy").count()
    old, _ = t.scan(spark, snapshot_id=s1)
    assert old.count() == 600  # old files retained for time travel


def test_unknown_snapshot_rejected(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events)
    with pytest.raises(KeyError):
        t.scan(spark, snapshot_id="deadbeefdeadbeef")


# ------------------------------------------------------ optimistic commits


def test_commit_conflict_detected_and_append_retries(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    # a rival writer claims v2 directly
    meta = t._read_meta()
    rival = dict(meta)
    t._commit(rival, expected_version=meta["_version"])
    # a commit still targeting v1 -> v2 must fail ...
    with pytest.raises(CommitConflict):
        t._commit(dict(meta), expected_version=meta["_version"])
    # ... but append() retries against the winner and lands as v3+
    t.append(spark, _events(spark, n=50), target_files=1)
    df, _ = t.scan(spark)
    assert df.count() == 650
    assert t.current_version() >= 3


def test_reader_survives_stale_hint(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    t.append(spark, _events(spark, n=10), target_files=1)
    # clobber the advisory hint back to v1: reader must roll forward
    with open(os.path.join(t._meta_dir, "version-hint.text"), "w") as f:
        f.write("1")
    df, _ = t.scan(spark)
    assert df.count() == 610


# --------------------------------------------------------- stats pruning


def test_stats_pruning_on_source_column(spark, events, tmp_path):
    # cluster by kind so each file's (min,max) of `kind` is tight
    # (explicit target_files: at this toy scale AQE would otherwise
    # coalesce the clustered write into a single file and leave nothing
    # to prune)
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[identity("kind")], target_files=8,
    )
    df, rep = t.scan(spark, filters=[("kind", "=", "buy")])
    assert rep.files_kept < rep.files_total  # pruning actually happened
    got = df.count()
    want = events.filter(F.col("kind") == "buy").count()
    assert got == want
    # records_kept_bound is an upper bound on the answer
    assert rep.records_kept_bound >= got


def test_pruning_is_only_an_optimization(spark, events, tmp_path):
    """Conservative keeps never change answers: compare every op against
    a plain-DataFrame evaluation on an UNCLUSTERED table (stats are wide,
    little pruning) and a clustered one (stats tight, heavy pruning)."""
    flat = IceTable.create(spark, str(tmp_path / "flat"), events, target_files=5)
    clus = IceTable.create(
        spark, str(tmp_path / "clus"), events,
        partition_spec=[identity("kind"), day("ts")],
    )
    cases = [
        [("amount", ">", 80.0)],
        [("amount", "<=", 3.0)],
        [("kind", "=", "click"), ("amount", ">=", 50.0)],
        [("kind", "in", ["buy", "view"])],
        [("ts", "<", "2024-03-02T00:00:00")],
        [("event_id", ">=", 590)],
    ]
    for filters in cases:
        expr = None
        for c, op, v in filters:
            col = F.col(c)
            if isinstance(v, str) and c == "ts":
                v = dt.datetime.fromisoformat(v)
            e = {"=": col == v, "<": col < v, "<=": col <= v,
                 ">": col > v, ">=": col >= v,
                 "in": col.isin(v) if isinstance(v, list) else None}[op]
            expr = e if expr is None else (expr & e)
        want = events.filter(expr).count()
        for t in (flat, clus):
            df, _ = t.scan(spark, filters=filters)
            assert df.count() == want, (filters, t.path)


def test_all_null_file_pruned(spark, tmp_path):
    withnull = spark.createDataFrame(
        [Row(k="a", v=None), Row(k="a", v=None)],
        "k string, v double",
    )
    withval = spark.createDataFrame([Row(k="b", v=5.0)], "k string, v double")
    t = IceTable.create(spark, str(tmp_path / "t"), withnull, target_files=1)
    t.append(spark, withval, target_files=1)
    df, rep = t.scan(spark, filters=[("v", ">", 0.0)])
    # the all-null file is dropped by its min=None stat
    assert rep.files_kept == 1 and rep.files_total == 2
    assert df.count() == 1


# --------------------------------------------- hidden partition transforms


def test_day_transform_prunes_time_range(spark, events, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[day("ts")], target_files=12,
    )
    cutoff = dt.datetime(2024, 3, 2, 0, 0)
    df, rep = t.scan(spark, filters=[("ts", "<", cutoff)])
    assert rep.files_kept < rep.files_total
    assert df.count() == events.filter(F.col("ts") < F.lit(cutoff)).count()


def test_bucket_transform_prunes_equality(spark, events, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[bucket("user_id", 8)], target_files=16,
    )
    df, rep = t.scan(spark, filters=[("user_id", "=", "u007")])
    assert rep.files_kept < rep.files_total
    assert df.count() == events.filter(F.col("user_id") == "u007").count()


def test_bucket_transform_portable_across_engines(spark, tmp_path):
    """Spark-side bucket expression == Python-side bucket of the same
    literal (the md5-portable device the repo standardizes on) — the
    prune-time translation relies on this identity."""
    vals = ["u007", "u012", "alpha", "тест", "42"]
    df = spark.createDataFrame([(v,) for v in vals], "user_id string")
    tr = bucket("user_id", 8)
    got = {
        r["user_id"]: r["b"]
        for r in df.select("user_id", tr.spark_expr().alias("b")).collect()
    }
    for v in vals:
        assert got[v] == _bucket_py(v, 8), v


def test_truncate_transform_prunes_prefix_range(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"{p}{i:04d}",) for p in ("aa", "bb", "zz") for i in range(50)],
        "url string",
    )
    t = IceTable.create(
        spark, str(tmp_path / "t"), df,
        partition_spec=[truncate("url", 2)], target_files=8,
    )
    out, rep = t.scan(spark, filters=[("url", ">=", "zz")])
    assert rep.files_kept < rep.files_total
    assert out.count() == 50


# --------------------------------------------------------- schema evolution


def test_add_column_evolution(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    evolved = _events(spark, n=20).withColumn("score", F.lit(0.5))
    t.append(spark, evolved, target_files=1)
    df, _ = t.scan(spark)
    assert "score" in df.columns
    assert df.count() == 620
    # old rows read the new column as null; new rows carry values
    assert df.filter(F.col("score").isNull()).count() == 600
    assert df.filter(F.col("score") == 0.5).count() == 20
    # an append missing a table column null-fills it
    t.append(
        spark,
        spark.createDataFrame(
            [Row(event_id=9999, user_id="u999", kind="view",
                 amount=1.0, ts=dt.datetime(2024, 3, 9))]
        ),
        target_files=1,
    )
    df2, _ = t.scan(spark)
    assert df2.filter(F.col("event_id") == 9999).select("score").first()[0] is None


def test_column_projection(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events)
    df, _ = t.scan(spark, columns=["user_id", "amount"])
    assert df.columns == ["user_id", "amount"]


# ------------------------------------------------------------ KG publish


def test_publish_pipeline_tables(spark, tmp_path):
    from types import SimpleNamespace

    from ner_app_spark.tables.icelite import publish_pipeline_tables

    def _out(tag):
        nodes = spark.createDataFrame(
            [(i, f"{tag}-n{i}") for i in range(40)], "node_id long, text string"
        )
        edges = spark.createDataFrame(
            [(i, (i + 1) % 40) for i in range(40)], "src long, dst long"
        )
        triples = spark.createDataFrame(
            [(f"{tag}-s{i}", "p", f"o{i}") for i in range(40)],
            "subj string, pred string, obj string",
        )
        return SimpleNamespace(nodes=nodes, edges=edges, triples=triples)

    root = str(tmp_path / "kg")
    t1 = publish_pipeline_tables(spark, _out("run1"), root, target_files=8)
    s1 = t1["nodes"].current_snapshot_id()
    t2 = publish_pipeline_tables(spark, _out("run2"), root, target_files=8)
    nodes, _ = t2["nodes"].scan(spark)
    assert nodes.filter(F.col("text").startswith("run2")).count() == 40
    assert nodes.count() == 40  # overwrite, not append
    # yesterday's graph stays queryable by snapshot id
    old, _ = t2["nodes"].scan(spark, snapshot_id=s1)
    assert old.filter(F.col("text").startswith("run1")).count() == 40
    # bucket spec prunes the hot entity-lookup path
    _, rep = t2["triples"].scan(spark, filters=[("subj", "=", "run2-s7")])
    assert rep.files_kept < rep.files_total


def test_publish_after_crashed_create(spark, tmp_path):
    """A create that crashed before committing v1 leaves a bare
    ``metadata/`` dir. That is not a table: the next publish must create
    it, not try to overwrite it."""
    from types import SimpleNamespace

    from ner_app_spark.tables.icelite import publish_pipeline_tables

    root = str(tmp_path / "kg")
    for name in ("nodes", "edges", "triples"):
        os.makedirs(os.path.join(root, name, "metadata"))
    out = SimpleNamespace(
        nodes=spark.createDataFrame([(1, "n1")], "node_id long, text string"),
        edges=spark.createDataFrame([(1, 1)], "src long, dst long"),
        triples=spark.createDataFrame(
            [("s", "p", "o")], "subj string, pred string, obj string"
        ),
    )
    tables = publish_pipeline_tables(spark, out, root)
    for name, t in tables.items():
        assert IceTable.exists(t.path), name
        assert t.scan(spark)[0].count() == 1
        assert [s["operation"] for s in t.snapshots()] == ["create"]


def test_metadata_is_plain_json(spark, events, tmp_path):
    """The format is inspectable: metadata + manifests are valid JSON with
    the documented shape (judge/debug surface, mirrors the spec)."""
    t = IceTable.create(
        spark, str(tmp_path / "t"), events, partition_spec=[day("ts")],
    )
    meta = json.load(open(t._meta_path(1)))
    assert meta["format"] == "icelite/1"
    assert meta["partition_spec"][0]["kind"] == "day"
    man = json.load(
        open(os.path.join(t._meta_dir, f"snap-{meta['current_snapshot_id']}.json"))
    )
    entry = man["files"][0]
    assert {"path", "record_count", "size_bytes", "stats"} <= set(entry)
    # footer stats carry per-column min/max/null counts
    assert "event_id" in entry["stats"]
    assert set(entry["stats"]["event_id"]) == {"min", "max", "nulls"}


def test_append_launches_only_its_data_write_job(spark, events, tmp_path):
    """The manifest is built on the driver from the written files'
    footers: an append of an unpartitioned, unsorted frame runs the
    parquet write and no other Spark job."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    sc = spark.sparkContext
    group = "icelite-append-probe"
    try:
        sc.setJobGroup(group, "icelite append")
        t.append(spark, _events(spark, n=60))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(jobs) == 1
    assert t.scan(spark)[0].count() == 660


def _enc(v):
    """A min/max value in the manifest's tagged encoding."""
    if v is None:
        return None
    if isinstance(v, dt.date):  # datetime is a date subclass
        tag = "dt" if isinstance(v, dt.datetime) else "date"
        return {"t": tag, "v": v.isoformat()}
    tag = {bool: "bool", int: "int", float: "float", str: "str"}[type(v)]
    return {"t": tag, "v": v}


def _stats_from_data(path: str) -> dict:
    """Manifest stats recomputed from a data file's rows, not its
    footer: min/max/null count of every flat non-binary column."""
    tbl = pq.read_table(path)
    want = {}
    for field in tbl.schema:
        if pa.types.is_binary(field.type) or pa.types.is_nested(field.type):
            continue
        vals = tbl.column(field.name).to_pylist()
        live = [v for v in vals if v is not None]
        want[field.name] = {
            "min": _enc(min(live, default=None)),
            "max": _enc(max(live, default=None)),
            "nulls": len(vals) - len(live),
        }
    return want


def test_manifest_stats_equal_the_data(spark, tmp_path):
    """Every manifest entry's record count, size and per-column stats
    match the file's own rows; binary and nested columns carry no stats
    and an all-null column has None min/max with its null count."""
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("raw", T.BinaryType()),
        T.StructField("nothing", T.StringType()),
        T.StructField("pair", T.StructType([
            T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        ])),
    ])
    rows = [
        (
            f"s{i % 17}" if i % 5 else None,
            i * 3 - 50,
            i / 7 if i % 3 else None,
            i % 2 == 0,
            dt.date(2024, 1, 1 + i % 20),
            dt.datetime(2024, 3, 1 + i % 6, i % 24, i % 60),
            bytes([i % 256, 7]),
            None,
            (i, f"x{i}"),
        )
        for i in range(300)
    ]
    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    # INT96 (Spark's default) carries no footer statistics; micros do
    spark.conf.set(conf, "TIMESTAMP_MICROS")
    try:
        t = IceTable.create(
            spark, str(tmp_path / "t"), spark.createDataFrame(rows, schema),
            target_files=3,
        )
    finally:
        spark.conf.set(conf, prev)
    entries = t._read_manifest(t.current_snapshot_id())
    assert len(entries) == 3
    assert sum(e["record_count"] for e in entries) == 300
    for e in entries:
        assert e["record_count"] == pq.read_metadata(e["path"]).num_rows
        assert e["size_bytes"] == os.path.getsize(e["path"])
        assert e["stats"] == _stats_from_data(e["path"])
        assert set(e["stats"]) == {"s", "n", "x", "flag", "d", "ts", "nothing"}
        assert e["stats"]["nothing"] == {
            "min": None, "max": None, "nulls": e["record_count"],
        }
        assert e["stats"]["ts"]["min"]["t"] == "dt"


# ----------------------------------------------------- table maintenance


def _tiny_appends(spark, t, n_appends=4, files_per=2):
    """Simulate a streaming sink: one small file set per micro-batch."""
    for i in range(n_appends):
        t.append(
            spark,
            _events(spark, n=60).withColumn(
                "event_id", F.col("event_id") + 10_000 * (i + 1)
            ),
            target_files=files_per,
        )


def _disk_data_files(t):
    return {
        os.path.join(t._data_dir, f)
        for f in os.listdir(t._data_dir)
        if f.endswith(".parquet")
    }


def test_compact_rewrites_small_files(spark, events, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[day("ts")], target_files=2,
    )
    _tiny_appends(spark, t)
    pre_sid = t.current_snapshot_id()
    pre, rep_pre = t.scan(spark)
    pre_rows = sorted(r.event_id for r in pre.select("event_id").collect())
    assert rep_pre.files_total == 10
    sid = t.compact(
        spark, small_file_bytes=32 << 20, target_file_bytes=16_384
    )
    assert sid is not None
    cur, rep = t.scan(spark)
    # identical content, far fewer files
    assert sorted(r.event_id for r in cur.select("event_id").collect()) == pre_rows
    assert rep.files_total < rep_pre.files_total
    # the replace snapshot is recorded with lineage + rewrite summary
    last = t.snapshots()[-1]
    assert last["operation"] == "replace"
    assert last["parent"] == pre_sid
    assert last["summary"]["rewritten_files"] == 10
    assert last["summary"]["total_records"] == len(pre_rows)
    # time travel to the pre-compaction snapshot still reads all 10 files
    old, rep_old = t.scan(spark, snapshot_id=pre_sid)
    assert old.count() == len(pre_rows) and rep_old.files_total == 10
    # compaction re-derives the hidden day(ts) clustering: pruning works
    _, prep = t.scan(
        spark, filters=[("ts", ">=", dt.datetime(2024, 3, 6))]
    )
    assert prep.files_kept < prep.files_total or prep.files_total == 1


def test_compact_noop_below_thresholds(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    v = t.current_version()
    # every file is "large" under a 1-byte threshold -> no-op, no commit
    assert t.compact(spark, small_file_bytes=1) is None
    assert t.current_version() == v


def test_compact_merges_with_concurrent_append(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    _tiny_appends(spark, t, n_appends=2)

    def race():
        t.append(
            spark,
            _events(spark, n=50).withColumn(
                "event_id", F.col("event_id") + 90_000
            ),
            target_files=1,
        )

    sid = t.compact(spark, small_file_bytes=32 << 20, _pre_commit=race)
    assert sid is not None
    cur, _ = t.scan(spark)
    # both the concurrent append's rows and every pre-existing row survive
    assert cur.count() == 600 + 2 * 60 + 50
    assert cur.filter(F.col("event_id") >= 90_000).count() == 50


def test_compact_aborts_on_concurrent_overwrite(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    _tiny_appends(spark, t, n_appends=2)

    def race():
        t.overwrite(spark, _events(spark, n=30), target_files=1)

    assert t.compact(spark, small_file_bytes=32 << 20, _pre_commit=race) is None
    cur, _ = t.scan(spark)
    assert cur.count() == 30  # the overwrite won, untouched
    # the aborted rewrite left no orphan data files behind
    referenced = set()
    for s in t.snapshots():
        referenced |= {e["path"] for e in t._read_manifest(s["id"])}
    assert _disk_data_files(t) == referenced


def test_expire_snapshots_bounds_storage(spark, events, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[day("ts")], target_files=2,
    )
    _tiny_appends(spark, t)
    t.compact(spark, small_file_bytes=32 << 20)
    expired_sid = t.snapshots()[0]["id"]
    n_files_before = len(_disk_data_files(t))
    report = t.expire_snapshots(keep_last=1)
    assert report["expired_snapshots"] == 5
    assert report["deleted_data_files"] > 0
    # current snapshot reads everything it always did
    cur, _ = t.scan(spark)
    assert cur.count() == 600 + 4 * 60
    # expired snapshots are gone: unknown to scan, manifests removed
    with pytest.raises(KeyError):
        t.scan(spark, snapshot_id=expired_sid)
    assert not os.path.exists(
        os.path.join(t._meta_dir, f"snap-{expired_sid}.json")
    )
    # only retained-referenced files remain on disk
    assert len(_disk_data_files(t)) < n_files_before
    referenced = {
        e["path"] for e in t._read_manifest(t.current_snapshot_id())
    }
    assert _disk_data_files(t) == referenced


def test_expire_orphan_cleanup_respects_grace(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    fresh = os.path.join(t._data_dir, "zz-inflight-write.parquet")
    stale = os.path.join(t._data_dir, "zz-aborted-write.parquet")
    for p in (fresh, stale):
        with open(p, "wb") as f:
            f.write(b"PAR1junkPAR1")
    os.utime(stale, (0, 0))  # long-dead orphan
    report = t.expire_snapshots(
        keep_last=1, clean_orphans=True, orphan_grace_sec=3600
    )
    assert report["orphans_deleted"] == 1
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # an in-flight writer's files survive


def test_metadata_tables_queryable(spark, events, tmp_path):
    """snapshots/files/history as DataFrames (Iceberg's inspection
    tables): operational queries — e.g. the small-file count that would
    trigger compaction — are plain Spark SQL over table metadata."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=3)
    t.append(spark, _events(spark, n=60), target_files=2)

    snaps = t.metadata_df(spark, "snapshots")
    assert [r.operation for r in snaps.orderBy("total_records").collect()] == [
        "create", "append",
    ]
    assert snaps.filter(F.col("total_records") == 660).count() == 1

    hist = t.metadata_df(spark, "history").collect()
    assert sum(r.is_current for r in hist) == 1
    cur = next(r for r in hist if r.is_current)
    assert cur.parent_id == hist[0].snapshot_id

    files = t.metadata_df(spark, "files")
    assert files.count() == 5
    small = files.filter(F.col("size_bytes") < 32 << 20).count()
    assert small == 5  # everything is tiny at this sf -> compactable
    assert files.filter(F.col("record_count") <= 0).count() == 0

    with pytest.raises(ValueError):
        t.metadata_df(spark, "partitions")


# ------------------------------------------------------ equality deletes


def test_delete_removes_keys_and_keeps_history(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=3)
    pre = t.current_snapshot_id()
    keys = spark.createDataFrame([(i,) for i in range(0, 600, 3)], "event_id long")
    t.delete(spark, keys)
    cur, _ = t.scan(spark)
    assert cur.count() == 400
    assert cur.filter(F.col("event_id") % 3 == 0).count() == 0
    # metadata-only commit: no data file rewritten, delete recorded
    last = t.snapshots()[-1]
    assert last["operation"] == "delete"
    assert last["summary"]["deleted_key_records"] == 200
    # time travel to the pre-delete snapshot still sees every row
    old, _ = t.scan(spark, snapshot_id=pre)
    assert old.count() == 600
    # the deletes metadata table is queryable
    d = t.metadata_df(spark, "deletes").collect()
    assert len(d) >= 1 and json.loads(d[0].key_cols) == ["event_id"]


def test_delete_then_append_is_an_upsert(spark, events, tmp_path):
    """Sequence-number semantics: a key re-added AFTER the delete
    survives; the old row stays dead."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    t.delete(spark, spark.createDataFrame([(7,)], "event_id long"))
    assert t.scan(spark)[0].filter(F.col("event_id") == 7).count() == 0
    fresh = _events(spark, n=8).filter(F.col("event_id") == 7).withColumn(
        "amount", F.lit(999.0)
    )
    t.append(spark, fresh, target_files=1)
    rows = t.scan(spark)[0].filter(F.col("event_id") == 7).collect()
    assert len(rows) == 1 and rows[0].amount == 999.0
    # a SECOND delete kills the re-added row too (higher seq)
    t.delete(spark, spark.createDataFrame([(7,)], "event_id long"))
    assert t.scan(spark)[0].filter(F.col("event_id") == 7).count() == 0


def test_delete_multi_column_key(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    keys = spark.createDataFrame(
        [("u001", "view"), ("u002", "buy")], "user_id string, kind string"
    )
    t.delete(spark, keys)
    cur, _ = t.scan(spark)
    want = events.filter(
        ~(
            ((F.col("user_id") == "u001") & (F.col("kind") == "view"))
            | ((F.col("user_id") == "u002") & (F.col("kind") == "buy"))
        )
    ).count()
    assert cur.count() == want
    with pytest.raises(ValueError):
        t.delete(spark, spark.createDataFrame([(1,)], "nope long"))


def test_compact_purges_deleted_rows(spark, events, tmp_path):
    """Compaction physically applies equality deletes: rewritten files
    hold only survivors, stale delete files are pruned from the new
    manifest, and the scan answer is unchanged."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=3)
    t.append(spark, _events(spark, n=60).withColumn(
        "event_id", F.col("event_id") + 10_000), target_files=2)
    t.delete(
        spark,
        spark.createDataFrame([(i,) for i in range(0, 600, 2)], "event_id long"),
    )
    before = sorted(
        r.event_id for r in t.scan(spark)[0].select("event_id").collect()
    )
    assert len(before) == 300 + 60
    sid = t.compact(spark, small_file_bytes=32 << 20)
    assert sid is not None
    after = sorted(
        r.event_id for r in t.scan(spark)[0].select("event_id").collect()
    )
    assert after == before
    # survivors only, physically: manifest record counts == scan count
    files = t.metadata_df(spark, "files").collect()
    assert sum(r.record_count for r in files) == len(before)
    # every input was rewritten -> the delete no longer applies anywhere
    assert t.metadata_df(spark, "deletes").count() == 0


def test_delete_with_filters_and_pruning(spark, events, tmp_path):
    """Deletes compose with stats pruning and residual filters: the
    pruned scan answer equals the plain-DataFrame evaluation."""
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[identity("kind")], target_files=8,
    )
    t.delete(
        spark,
        events.filter(F.col("amount") > 90.0).select("event_id"),
    )
    df, rep = t.scan(spark, filters=[("kind", "=", "buy")])
    want = events.filter(
        (F.col("kind") == "buy") & ~(F.col("amount") > 90.0)
    ).count()
    assert df.count() == want
    assert rep.files_kept < rep.files_total


def test_delete_on_evolved_column_spares_null_keys(spark, events, tmp_path):
    """Deleting by a column added AFTER some files were written: rows
    from old files read that key as NULL, and NULL never equals a delete
    key — pre-evolution rows survive (SQL comparison semantics, same
    rule stats pruning uses)."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    evolved = _events(spark, n=40).withColumn(
        "event_id", F.col("event_id") + 5000
    ).withColumn("tenant", F.concat(F.lit("t"), (F.col("event_id") % 2).cast("string")))
    t.append(spark, evolved, target_files=1)
    t.delete(spark, spark.createDataFrame([("t0",)], "tenant string"))
    cur, _ = t.scan(spark)
    # all 600 pre-evolution rows survive; only tenant=t0 rows die
    assert cur.filter(F.col("tenant").isNull()).count() == 600
    assert cur.filter(F.col("tenant") == "t0").count() == 0
    assert cur.count() == 600 + 20


# ------------------------------------------------------- write sort order


def test_sort_order_makes_pruning_near_exact(spark, events, tmp_path):
    """A write sort order range-sorts each write, so per-file min/max of
    the sort column are tight AND disjoint: a point/range filter keeps
    ~one file without any partition transform. An unsorted table with
    the same file count keeps everything (overlapping ranges)."""
    sorted_t = IceTable.create(
        spark, str(tmp_path / "s"), events,
        target_files=6, sort_order=["event_id"],
    )
    flat_t = IceTable.create(spark, str(tmp_path / "f"), events, target_files=6)
    filt = [("event_id", ">=", 590)]
    df_s, rep_s = sorted_t.scan(spark, filters=filt)
    df_f, rep_f = flat_t.scan(spark, filters=filt)
    assert df_s.count() == df_f.count() == 10
    assert rep_s.files_kept == 1 and rep_s.files_total == 6
    # unsorted files have overlapping ranges -> far weaker pruning
    assert rep_f.files_kept > rep_s.files_kept
    # appends and compaction preserve the order property
    sorted_t.append(spark, _events(spark, n=60).withColumn(
        "event_id", F.col("event_id") + 10_000), target_files=2)
    sorted_t.compact(
        spark, small_file_bytes=32 << 20, target_file_bytes=16_384
    )
    df2, rep2 = sorted_t.scan(spark, filters=[("event_id", ">=", 10_050)])
    assert df2.count() == 10
    assert rep2.files_kept < rep2.files_total
    # the order is table metadata, visible in plain JSON
    assert sorted_t._read_meta()["sort_order"] == ["event_id"]


# ------------------------------------------------- model-based random walk


def test_random_op_walk_matches_model(spark, tmp_path):
    """Seeded random sequence of append / delete / compact / expire /
    overwrite against an in-memory model: after every step the scan
    answer must equal the model exactly (ids as sorted multiset). This
    is the cross-feature interaction net — e.g. delete-after-compact,
    append-after-expire, upsert chains — that single-feature tests
    cannot weave."""
    import random

    rng = random.Random(20260818)
    t = None
    model: list[int] = []  # multiset of v values currently visible
    path = str(tmp_path / "walk")
    next_v = 0

    def mk(vals):
        return spark.createDataFrame([(v,) for v in vals], "v long")

    for step in range(14):
        ops = ["append", "delete", "compact", "expire", "overwrite"]
        op = ops[rng.randrange(len(ops))] if t is not None else "append"
        if op == "append":
            vals = list(range(next_v, next_v + rng.randrange(5, 40)))
            # occasionally re-add previously deleted values (upsert path)
            if model or next_v:
                vals += [rng.randrange(max(next_v, 1)) for _ in range(3)]
            next_v = max(vals) + 1
            if t is None:
                t = IceTable.create(spark, path, mk(vals), target_files=2)
            else:
                t.append(spark, mk(vals), target_files=2)
            model.extend(vals)
        elif op == "overwrite":
            vals = list(range(next_v, next_v + 10))
            next_v = max(vals) + 1
            t.overwrite(spark, mk(vals), target_files=2)
            model = list(vals)
        elif op == "delete":
            if not model:
                continue
            keys = sorted({rng.choice(model) for _ in range(4)})
            t.delete(spark, mk(keys))
            model = [v for v in model if v not in set(keys)]
        elif op == "compact":
            t.compact(spark, small_file_bytes=32 << 20)
        elif op == "expire":
            t.expire_snapshots(keep_last=1, clean_orphans=True,
                               orphan_grace_sec=0)
        got = sorted(r.v for r in t.scan(spark)[0].collect())
        assert got == sorted(model), f"step {step} op {op}"


# ------------------------------------------------------------ tags (refs)


def test_tags_pin_snapshots_through_expiry(spark, events, tmp_path):
    """A tag names a snapshot (the release mechanism) and exempts it from
    keep-last expiration until dropped."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    release = t.current_snapshot_id()
    t.tag("graph-2026-08-18")
    for i in range(3):
        t.append(spark, _events(spark, n=30).withColumn(
            "event_id", F.col("event_id") + 1000 * (i + 1)), target_files=1)
    # scan by ref resolves the pinned snapshot
    by_ref, _ = t.scan(spark, ref="graph-2026-08-18")
    assert by_ref.count() == 600
    with pytest.raises(KeyError):
        t.scan(spark, ref="nope")
    # keep_last=1 would normally drop the release snapshot — the tag pins it
    rep = t.expire_snapshots(keep_last=1)
    assert rep["expired_snapshots"] == 2  # the two middle appends only
    assert t.scan(spark, ref="graph-2026-08-18")[0].count() == 600
    assert t.scan(spark)[0].count() == 690
    # snapshot log stays in chronological order: last entry is current
    assert t.snapshots()[-1]["id"] == t.current_snapshot_id()
    assert t.snapshots()[0]["id"] == release
    # dropping the tag releases the pin: next expire reclaims it
    t.drop_tag("graph-2026-08-18")
    rep2 = t.expire_snapshots(keep_last=1)
    assert rep2["expired_snapshots"] == 1
    # its data files live on — the current snapshot still references them
    # (appends accumulate); only the manifest is reclaimed
    assert rep2["deleted_manifests"] == 1
    with pytest.raises(KeyError):
        t.scan(spark, snapshot_id=release)
    assert t.refs() == {}


def test_watermark_carry_keeps_newest_value_across_expiries(
    spark, tmp_path
):
    """One carry rule for every watermark key: when a key's newest holder
    expires, its value moves onto the current snapshot. An older stamp
    on a tag-pinned snapshot must not win back, and a key whose newest
    holder is retained is not carried at all."""
    def rows(lo):
        return spark.range(lo, lo + 10)

    # S1..S3 stamp K; S2 (tagged) holds an older K plus J; S4 is current
    t = IceTable.create(spark, str(tmp_path / "t"), rows(0), target_files=1,
                        summary_extra={"K": 1})
    t.append(spark, rows(10), target_files=1,
             summary_extra={"K": 0, "J": "j2"})
    t.tag("pin")
    s2 = t.current_snapshot_id()
    t.append(spark, rows(20), target_files=1, summary_extra={"K": 3})
    assert t.compact(spark) is not None
    assert t.watermark("K") == 3 and t.watermark("J") == "j2"
    assert t.watermark("absent") is None

    assert t.expire_snapshots(keep_last=1)["expired_snapshots"] == 2
    snaps = t.snapshots()
    assert [s["id"] for s in snaps] == [s2, t.current_snapshot_id()]
    assert snaps[-1]["summary"]["carried"] == {"K": 3}  # J not carried
    assert t.watermark("K") == 3 and t.watermark("J") == "j2"

    t.append(spark, rows(30), target_files=1)
    t.expire_snapshots(keep_last=1)
    assert len(t.snapshots()) == 2
    assert t.snapshots()[-1]["summary"]["carried"] == {"K": 3}
    assert t.watermark("K") == 3 and t.watermark("J") == "j2"
    assert t.scan(spark)[0].count() == 40


def test_refs_metadata_table(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    assert t.metadata_df(spark, "refs").count() == 0
    t.tag("r1")
    rows = t.metadata_df(spark, "refs").collect()
    assert [(r.ref_name, r.snapshot_id) for r in rows] == [
        ("r1", t.current_snapshot_id())
    ]


# ------------------------------------------------ review-hardening pins


def test_bucket_pruning_correct_for_bool_and_float_literals(spark, tmp_path):
    """Spark's cast-to-string differs from Python str() for booleans
    ('true' vs 'True') and floats ('1.0E-7'): bool literals are
    normalized, float literals are not translated at all — either way
    the scan answer must be exact (pruning stays conservative)."""
    df = spark.createDataFrame(
        [(i, i % 2 == 0, float(i) / 1e7) for i in range(100)],
        "id long, flag boolean, score double",
    )
    t = IceTable.create(
        spark, str(tmp_path / "b"), df,
        partition_spec=[bucket("flag", 4)], target_files=4,
    )
    got, _ = t.scan(spark, filters=[("flag", "=", True)])
    assert got.count() == 50
    t2 = IceTable.create(
        spark, str(tmp_path / "f"), df,
        partition_spec=[bucket("score", 4)], target_files=4,
    )
    got2, rep2 = t2.scan(spark, filters=[("score", "=", 1e-07)])
    # id 1 only: the float literal is excluded from BUCKET translation
    # (Spark's '1.0E-7' string vs Python's '1e-07' would mis-bucket);
    # any pruning here comes from the source column's own min/max, which
    # compares numerically and stays exact
    assert got2.count() == 1
    assert rep2.records_kept_bound >= 1


def test_append_casts_drifted_dtypes_to_table_schema(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    drifted = _events(spark, n=5).withColumn(
        "event_id", (F.col("event_id") + 900).cast("string")
    )
    t.append(spark, drifted, target_files=1)
    cur, _ = t.scan(spark)  # would throw on mergeSchema without the cast
    assert cur.count() == 605
    assert dict(cur.dtypes)["event_id"] == "bigint"
    assert cur.filter(F.col("event_id") == 904).count() == 1


def test_scan_columns_validated_and_ordered(spark, events, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[identity("kind")], target_files=4,
    )
    got, _ = t.scan(spark, columns=["amount", "event_id"])
    assert got.columns == ["amount", "event_id"]  # requested order
    with pytest.raises(KeyError):
        t.scan(spark, columns=["event_id", "nope"])
    # same error on the zero-files-kept path
    with pytest.raises(KeyError):
        t.scan(spark, columns=["nope"], filters=[("kind", "=", "zzz")])


def test_overwrite_retries_commit_race(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    meta = t._read_meta()
    t._commit(dict(meta), expected_version=meta["_version"])  # rival claims
    t.overwrite(spark, _events(spark, n=7), target_files=1)  # must not raise
    assert t.scan(spark)[0].count() == 7


def test_expire_sweeps_stranded_commit_temps_and_race_manifests(
    spark, events, tmp_path
):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    # a crashed commit's temp and a lost race's manifest
    stranded = os.path.join(t._meta_dir, ".commit-deadbeef")
    open(stranded, "w").write("{}")
    orphan_manifest = t._write_manifest(
        [], []
    )  # content-addressed snap file never referenced by any commit
    os.utime(stranded, (0, 0))
    os.utime(
        os.path.join(t._meta_dir, f"snap-{orphan_manifest}.json"), (0, 0)
    )
    rep = t.expire_snapshots(keep_last=5, clean_orphans=True,
                             orphan_grace_sec=3600)
    assert rep["orphans_deleted"] == 2
    assert not os.path.exists(stranded)
    assert not os.path.exists(
        os.path.join(t._meta_dir, f"snap-{orphan_manifest}.json")
    )
    # no-op expire reports a consistent shape
    rep2 = t.expire_snapshots(keep_last=5)
    assert rep2 == {"expired_snapshots": 0, "deleted_data_files": 0,
                    "deleted_manifests": 0, "orphans_deleted": 0}
    # the table itself is untouched
    assert t.scan(spark)[0].count() == 600


def test_reader_never_sees_partial_commit(spark, events, tmp_path):
    """The commit claim is a hard link of a fully-written temp: a reader
    polling current_version/_read_meta between any two steps sees either
    the old version or complete JSON — simulate the old failure by
    checking the claimed file is valid JSON the instant it exists."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    t.append(spark, _events(spark, n=5), target_files=1)
    for v in range(1, t.current_version() + 1):
        json.load(open(t._meta_path(v)))  # every version parses complete


# ------------------------------------------------------ incremental scan


def test_incremental_scan_reads_only_appended_rows(spark, events, tmp_path):
    """Iceberg incremental append scan: (from, to] appends only."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    s0 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=40).withColumn(
        "event_id", F.col("event_id") + 10_000), target_files=2)
    s1 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=7).withColumn(
        "event_id", F.col("event_id") + 20_000), target_files=1)
    s2 = t.current_snapshot_id()

    df, rep = t.incremental_scan(spark, from_snapshot=s0)
    assert df.count() == 47
    assert rep.appends == 2 and rep.replaces_skipped == 0
    assert rep.records_total == 47
    # the base 600 rows are never touched
    assert df.filter(F.col("event_id") < 10_000).count() == 0

    df, rep = t.incremental_scan(spark, from_snapshot=s1, to_snapshot=s2)
    assert df.count() == 7
    assert {r.event_id for r in df.select("event_id").collect()} == {
        20_000 + i for i in range(7)
    }

    # from == to: empty, schema intact
    df, rep = t.incremental_scan(spark, from_snapshot=s2, to_snapshot=s2)
    assert df.count() == 0 and rep.appends == 0
    assert sorted(df.columns) == sorted(events.columns)


def test_incremental_scan_skips_compaction_replace(spark, events, tmp_path):
    """A replace snapshot in range is data-neutral: the appended files
    are read from the pre-compaction manifests (still on disk until
    expire), so the row set is exactly the in-range appends."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    s0 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=31).withColumn(
        "event_id", F.col("event_id") + 10_000), target_files=3)
    assert t.compact(spark, small_file_bytes=64 << 20) is not None
    t.append(spark, _events(spark, n=5).withColumn(
        "event_id", F.col("event_id") + 20_000), target_files=1)

    df, rep = t.incremental_scan(spark, from_snapshot=s0)
    assert rep.replaces_skipped == 1 and rep.appends == 2
    assert df.count() == 36
    ids = {r.event_id for r in df.select("event_id").collect()}
    assert ids == ({10_000 + i for i in range(31)}
                   | {20_000 + i for i in range(5)})


def test_incremental_scan_rejects_overwrite_and_delete_in_range(
    spark, events, tmp_path
):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    s0 = t.current_snapshot_id()
    t.overwrite(spark, _events(spark, n=10))
    with pytest.raises(ValueError, match="non-append"):
        t.incremental_scan(spark, from_snapshot=s0)

    t2 = IceTable.create(spark, str(tmp_path / "t2"), events, target_files=1)
    s0 = t2.current_snapshot_id()
    t2.delete(spark, spark.createDataFrame([Row(kind="buy")]))
    with pytest.raises(ValueError, match="non-append"):
        t2.incremental_scan(spark, from_snapshot=s0)


def test_incremental_scan_validates_endpoints(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    s0 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=3), target_files=1)
    s1 = t.current_snapshot_id()
    with pytest.raises(KeyError, match="unknown snapshot"):
        t.incremental_scan(spark, from_snapshot="deadbeefdeadbeef")
    # from must be an ancestor of to, not a descendant
    with pytest.raises(ValueError, match="not an ancestor"):
        t.incremental_scan(spark, from_snapshot=s1, to_snapshot=s0)


def test_empty_append_gets_its_own_snapshot(spark, tmp_path):
    """An append that adds no files repeats its parent's file list; its
    snapshot id must still be its own, or the parent chain loops and
    incremental_scan never returns."""
    t = IceTable.create(spark, str(tmp_path / "t"), _events(spark, n=10))
    created = t.current_snapshot_id()
    t.append(spark, _events(spark, n=10))
    t.append(spark, _events(spark, n=10).limit(0))
    snaps = t.snapshots()
    # checked before any chain walk, so a regression fails instead of hanging
    assert len({s["id"] for s in snaps}) == 3
    assert all(s["id"] != s["parent"] for s in snaps)
    df, _ = t.incremental_scan(spark, from_snapshot=created)
    assert df.count() == 10


def test_snapshot_chain_raises_on_a_loop(tmp_path):
    walks = []

    class Entry(dict):
        """A log entry whose parent link stops the test once the walk
        has followed more links than the log has entries."""

        def __getitem__(self, key):
            if key == "parent":
                walks.append(self["id"])
                assert len(walks) <= 3, "the parent walk does not stop"
            return super().__getitem__(key)

    t = IceTable(str(tmp_path / "t"))
    meta = {"snapshots": [
        Entry(id="a", parent=None),
        Entry(id="b", parent="c"),
        Entry(id="c", parent="b"),
    ]}
    with pytest.raises(ValueError, match="own ancestor"):
        t._snapshot_chain(meta, "a", "c")


def test_incremental_scan_prunes_and_filters(spark, events, tmp_path):
    """Stats pruning and residual filters apply to the incremental file
    set exactly as in scan()."""
    t = IceTable.create(
        spark, str(tmp_path / "t"), events,
        partition_spec=[identity("kind")], target_files=1,
    )
    s0 = t.current_snapshot_id()
    t.append(
        spark,
        _events(spark, n=90).withColumn(
            "event_id", F.col("event_id") + 10_000),
        target_files=3,
    )
    df, rep = t.incremental_scan(
        spark, from_snapshot=s0, filters=[("kind", "=", "buy")],
        columns=["event_id", "kind"],
    )
    assert rep.files_pruned > 0  # identity(kind) partitioning prunes
    rows = df.collect()
    assert all(r.kind == "buy" for r in rows)
    assert len(rows) == 30
    assert df.columns == ["event_id", "kind"]


def test_incremental_scan_unaffected_by_prior_delete(spark, events, tmp_path):
    """A delete committed at-or-before `from` never applies to rows
    appended after it (sequence-number rule) — the incremental read of
    the later append returns every appended row, even key-colliding
    ones."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    t.delete(spark, spark.createDataFrame([Row(user_id="u001")]))
    s_del = t.current_snapshot_id()
    t.append(
        spark,
        spark.createDataFrame([Row(
            event_id=99_999, user_id="u001", kind="view",
            amount=1.0, ts=dt.datetime(2024, 3, 9),
        )]),
        target_files=1,
    )
    df, _ = t.incremental_scan(spark, from_snapshot=s_del)
    assert [r.user_id for r in df.collect()] == ["u001"]


# -------------------------------------------------------- changelog scan


def test_changelog_emits_inserts_and_deleted_rows(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    s0 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=9).withColumn(
        "event_id", F.col("event_id") + 10_000), target_files=1)
    t.delete(spark, spark.createDataFrame([Row(kind="buy")]))
    s_del = t.current_snapshot_id()

    log = t.changelog_scan(spark, from_snapshot=s0)
    by_type = {
        r["_change_type"]: r["n"]
        for r in log.groupBy("_change_type").agg(
            F.count("*").alias("n")).collect()
    }
    assert by_type["insert"] == 9
    # deleted rows = every 'buy' visible before the delete: 200 of the
    # base 600 plus 3 of the 9 appended
    assert by_type["delete"] == 203
    # ordinals follow commit order; the delete stamps its snapshot id
    dels = log.filter(F.col("_change_type") == "delete")
    assert dels.select("_commit_snapshot_id").distinct().collect()[0][0] == s_del
    assert (
        log.filter(F.col("_change_type") == "insert")
        .select(F.max("_change_ordinal")).collect()[0][0]
        < dels.select(F.min("_change_ordinal")).collect()[0][0]
    )


def test_changelog_replay_reconstructs_state(spark, events, tmp_path):
    """Applying the changelog in ordinal order to scan(from) reproduces
    scan(to) as a multiset — the CDC soundness invariant."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    s0 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=50).withColumn(
        "event_id", F.col("event_id") + 10_000), target_files=2)
    t.delete(spark, spark.createDataFrame([Row(user_id="u003")]))
    t.append(spark, _events(spark, n=4).withColumn(
        "event_id", F.col("event_id") + 20_000), target_files=1)
    t.compact(spark, small_file_bytes=64 << 20)
    # a second delete including a key with rows appended AFTER the first
    # delete and a key already scrubbed
    t.delete(spark, spark.createDataFrame(
        [Row(user_id="u003"), Row(user_id="u007")]))
    s1 = t.current_snapshot_id()

    cols = sorted(c for c in events.columns)
    log = t.changelog_scan(spark, from_snapshot=s0, to_snapshot=s1)
    state = t.scan(spark, snapshot_id=s0)[0].select(*cols)
    ordinals = sorted(
        r[0] for r in log.select("_change_ordinal").distinct().collect()
    )
    for o in ordinals:
        step = log.filter(F.col("_change_ordinal") == o)
        ins = step.filter(F.col("_change_type") == "insert").select(*cols)
        dels = step.filter(F.col("_change_type") == "delete").select(*cols)
        state = state.unionByName(ins).exceptAll(dels)
    expect = t.scan(spark, snapshot_id=s1)[0].select(*cols)
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_changelog_rejects_overwrite_and_skips_replace(
    spark, events, tmp_path
):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    s0 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=20), target_files=3)
    assert t.compact(spark, small_file_bytes=64 << 20) is not None
    log = t.changelog_scan(spark, from_snapshot=s0)
    assert log.count() == 20  # replace contributed nothing
    assert log.filter(F.col("_change_type") != "insert").count() == 0

    t.overwrite(spark, _events(spark, n=5))
    with pytest.raises(ValueError, match="overwrite"):
        t.changelog_scan(spark, from_snapshot=s0)


def test_changelog_empty_range_keeps_schema(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    s0 = t.current_snapshot_id()
    log = t.changelog_scan(spark, from_snapshot=s0, to_snapshot=s0)
    assert log.count() == 0
    assert set(log.columns) == set(events.columns) | {
        "_change_type", "_change_ordinal", "_commit_snapshot_id"
    }


# ---------------------------------------------------------- upsert (MERGE)


def test_upsert_replaces_matching_keys_in_one_commit(spark, events, tmp_path):
    """The re-crawl shape: re-fetched rows replace their prior versions
    and new keys insert, atomically — one snapshot, no window where a
    key is missing."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    s0 = t.current_snapshot_id()
    n_before = len(t.snapshots())
    fresh = spark.createDataFrame([
        Row(event_id=1, user_id="u900", kind="buy", amount=777.0,
            ts=dt.datetime(2024, 4, 1)),
        Row(event_id=2, user_id="u901", kind="buy", amount=888.0,
            ts=dt.datetime(2024, 4, 1)),
        Row(event_id=9_999, user_id="u902", kind="view", amount=1.0,
            ts=dt.datetime(2024, 4, 1)),
    ])
    t.upsert(spark, fresh, key_cols=["event_id"])
    assert len(t.snapshots()) == n_before + 1  # ONE commit
    assert t.snapshots()[-1]["operation"] == "merge"
    df, _ = t.scan(spark)
    assert df.count() == 600 + 1  # 2 replaced in place, 1 new
    got = {r.event_id: r.amount for r in df.filter(
        F.col("event_id").isin([1, 2, 9_999])).collect()}
    assert got == {1: 777.0, 2: 888.0, 9_999: 1.0}
    # time travel still sees the pre-merge rows
    old, _ = t.scan(spark, snapshot_id=s0)
    assert old.filter(F.col("event_id") == 1).collect()[0].user_id != "u900"


def test_upsert_then_upsert_last_writer_wins(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    for amount in (10.0, 20.0):
        t.upsert(spark, spark.createDataFrame([
            Row(event_id=5, user_id="u905", kind="buy", amount=amount,
                ts=dt.datetime(2024, 4, 2))]), key_cols=["event_id"])
    df, _ = t.scan(spark)
    rows = df.filter(F.col("event_id") == 5).collect()
    assert len(rows) == 1 and rows[0].amount == 20.0


def test_changelog_replay_across_merge(spark, events, tmp_path):
    """CDC soundness holds through an upsert: the merge emits its
    scrubbed rows as deletes and its new rows as inserts at one
    ordinal."""
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    s0 = t.current_snapshot_id()
    t.append(spark, _events(spark, n=10).withColumn(
        "event_id", F.col("event_id") + 10_000), target_files=1)
    t.upsert(spark, spark.createDataFrame([
        Row(event_id=10_001, user_id="uX", kind="buy", amount=3.5,
            ts=dt.datetime(2024, 4, 3)),
        Row(event_id=77_777, user_id="uY", kind="view", amount=4.5,
            ts=dt.datetime(2024, 4, 3)),
    ]), key_cols=["event_id"])
    s1 = t.current_snapshot_id()

    cols = sorted(events.columns)
    log = t.changelog_scan(spark, from_snapshot=s0, to_snapshot=s1)
    merge_step = log.filter(F.col("_commit_snapshot_id") == s1)
    assert merge_step.filter(
        F.col("_change_type") == "delete").count() == 1  # only 10_001 existed
    assert merge_step.filter(
        F.col("_change_type") == "insert").count() == 2
    state = t.scan(spark, snapshot_id=s0)[0].select(*cols)
    for o in sorted(
        r[0] for r in log.select("_change_ordinal").distinct().collect()
    ):
        step = log.filter(F.col("_change_ordinal") == o)
        state = state.unionByName(
            step.filter(F.col("_change_type") == "insert").select(*cols)
        ).exceptAll(
            step.filter(F.col("_change_type") == "delete").select(*cols)
        )
    expect = t.scan(spark, snapshot_id=s1)[0].select(*cols)
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_incremental_scan_rejects_merge_in_range(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=1)
    s0 = t.current_snapshot_id()
    t.upsert(spark, spark.createDataFrame([
        Row(event_id=1, user_id="u900", kind="buy", amount=1.0,
            ts=dt.datetime(2024, 4, 1))]), key_cols=["event_id"])
    with pytest.raises(ValueError, match="non-append"):
        t.incremental_scan(spark, from_snapshot=s0)


def test_compact_purges_upserted_away_rows(spark, events, tmp_path):
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=3)
    t.upsert(spark, spark.createDataFrame([
        Row(event_id=0, user_id="uZ", kind="buy", amount=9.0,
            ts=dt.datetime(2024, 4, 4))]), key_cols=["event_id"])
    before = t.scan(spark)[0]
    assert before.filter(F.col("event_id") == 0).collect()[0].user_id == "uZ"
    assert t.compact(spark, small_file_bytes=64 << 20) is not None
    after, _ = t.scan(spark)
    assert after.count() == 600
    assert after.filter(F.col("event_id") == 0).collect()[0].user_id == "uZ"


# --------------------------------------------- the shared commit-retry loop


def _shifted(spark, n, offset):
    return _events(spark, n=n).withColumn(
        "event_id", F.col("event_id") + offset
    )


#: op -> (setup, run, check) for each of the eight writers. ``setup``
#: runs before the race is armed, ``run`` is the racing write, and
#: ``check`` sees the table after a rival append of 5 rows (event_id
#: 50_000+, a new ``note`` column) won the writer's first commit.
_WRITERS = {
    "append": (
        None,
        lambda spark, t: t.append(
            spark, _shifted(spark, 7, 10_000).withColumn("extra", F.lit(1))
        ),
        lambda spark, t: (
            t.scan(spark)[0].count() == 612
            # the winner's column is kept and the append's own is added
            and {"note", "extra"} <= set(t.scan(spark)[0].columns)
        ),
    ),
    "overwrite": (
        None,
        lambda spark, t: t.overwrite(spark, _shifted(spark, 7, 10_000)),
        lambda spark, t: t.scan(spark)[0].count() == 7,
    ),
    "delete": (
        None,
        lambda spark, t: t.delete(
            spark, _events(spark).filter(F.col("event_id") < 100)
            .select("event_id")
        ),
        lambda spark, t: t.scan(spark)[0].count() == 600 - 100 + 5,
    ),
    "upsert": (
        None,
        lambda spark, t: t.upsert(
            spark,
            _events(spark, n=10).withColumn("amount", F.lit(-1.0)),
            key_cols=["event_id"],
        ),
        lambda spark, t: (
            t.scan(spark)[0].count() == 605
            and t.scan(spark, filters=[("amount", "=", -1.0)])[0].count() == 10
        ),
    ),
    "compact": (
        None,
        lambda spark, t: t.compact(spark),
        lambda spark, t: (
            t.scan(spark)[0].count() == 605
            and t.snapshots()[-1]["operation"] == "replace"
        ),
    ),
    "expire_snapshots": (
        lambda spark, t: t.append(spark, _shifted(spark, 10, 20_000)),
        lambda spark, t: t.expire_snapshots(keep_last=1),
        lambda spark, t: (
            len(t.snapshots()) == 1 and t.scan(spark)[0].count() == 615
        ),
    ),
    "tag": (
        None,
        lambda spark, t: t.tag("v1"),
        lambda spark, t: t.refs() == {"v1": t.current_snapshot_id()},
    ),
    "drop_tag": (
        lambda spark, t: t.tag("v1"),
        lambda spark, t: t.drop_tag("v1"),
        lambda spark, t: t.refs() == {},
    ),
}


@pytest.mark.parametrize("op", sorted(_WRITERS))
def test_writer_retries_after_losing_first_commit(
    spark, events, tmp_path, monkeypatch, op
):
    """Each writer's first claim loses to a rival append that commits in
    between; the writer must land on its second attempt, rebuilt against
    the winner."""
    setup, run, check = _WRITERS[op]
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    if setup:
        setup(spark, t)
    orig = IceTable._commit
    rival = _shifted(spark, 5, 50_000).withColumn("note", F.lit("rival"))
    state = {"armed": True, "in_rival": False}
    attempts: list[str] = []

    def racing(self, meta, expected_version):
        if state["in_rival"]:
            return orig(self, meta, expected_version)
        if state["armed"]:
            state.update(armed=False, in_rival=True)
            try:
                IceTable(self.path).append(spark, rival)
            finally:
                state["in_rival"] = False
        try:
            v = orig(self, meta, expected_version)
        except CommitConflict:
            attempts.append("lost")
            raise
        attempts.append("won")
        return v

    monkeypatch.setattr(IceTable, "_commit", racing)
    run(spark, t)
    monkeypatch.undo()
    assert attempts == ["lost", "won"]
    assert check(spark, t)


@pytest.mark.parametrize("op", sorted(_WRITERS))
def test_writer_losing_every_race_names_its_op(
    spark, events, tmp_path, monkeypatch, op
):
    setup, run, _ = _WRITERS[op]
    t = IceTable.create(spark, str(tmp_path / "t"), events, target_files=2)
    if setup:
        setup(spark, t)
    orig = IceTable._commit

    def always_beaten(self, meta, expected_version):
        # a rival re-commits the current metadata into the claimed slot
        orig(self, self._read_meta(), expected_version)
        return orig(self, meta, expected_version)

    monkeypatch.setattr(IceTable, "_commit", always_beaten)
    with pytest.raises(CommitConflict, match=f"^{op} lost 5 commit races"):
        run(spark, t)
