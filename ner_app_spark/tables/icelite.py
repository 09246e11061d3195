"""Iceberg-shaped table format over plain parquet (dependency-free).

The north-star pipeline materializes its nodes/edges tables "to Iceberg"
and reads its page corpus from an Iceberg table. No table-format runtime
ships in this environment, so this module implements the load-bearing
SUBSET of the Iceberg spec the 10^12-row story actually rests on, over
parquet files + JSON metadata:

  * **snapshot isolation + time travel** — every write is a new immutable
    snapshot listed in a metadata log; readers pin a snapshot and never
    see a half-committed write; any historical snapshot stays readable;
  * **optimistic-concurrency commits** — a writer claims the next
    metadata version by hard-linking a fully-written temp file into
    place (the spec's atomic swap; readers can never observe a partial
    commit). Every writer runs the same loop, ``_commit_retrying``: read
    the current metadata, build the next version from it, claim it; a
    losing writer gets :class:`CommitConflict` and rebuilds against the
    winner — data files are immutable and uniquely named, so retry is
    metadata-only — and gives up, raising CommitConflict, after
    ``_COMMIT_RETRIES`` lost races;
  * **manifest file stats + scan pruning** — the manifest records per
    data file: record count, byte size, and per-column min/max/null
    counts read from the parquet FOOTERS by the driver as it moves each
    written file into place (footer-only reads, no data I/O, no Spark
    job — Iceberg's writers likewise hand per-file metrics to the
    driver that writes the manifest). ``scan(filters=...)`` drops every
    file whose stats cannot satisfy the filter before Spark ever plans
    the read. At 10^12 rows this is THE mechanism that turns a
    full-table scan into a handful of files — partition pruning as data
    layout, not directory layout;
  * **hidden partitioning (Iceberg transforms)** — a partition spec of
    ``identity`` / ``day(ts)`` / ``bucket[N](col)`` / ``truncate[W]``
    transforms is applied at write time as extra ``_p_*`` columns the
    writer clusters by (repartition + sortWithinPartitions), then strips
    on read. Their footer stats make partition pruning a special case of
    stats pruning: scan translates a filter on the SOURCE column into a
    derived filter on the transform column (monotone transforms carry
    ranges, bucket carries equalities). The bucket transform is the
    md5-portable hash the rest of the repo standardizes on (dedup.py
    band signatures), so Python, Spark, and DuckDB all compute the same
    bucket for a literal;
  * **schema evolution (add-column)** — appends may carry new columns;
    the snapshot schema is the union, old files read as null via
    mergeSchema, missing columns in an append are null-filled.

  * **equality deletes (v2 delete files) + sequence numbers** — row-level
    deletes land as immutable key files applied at scan time by the
    spec's sequence rule (a delete removes rows only from data files
    with sequence <= its own, so delete-then-append is an upsert);
    compaction physically purges and prunes spent delete files. See
    :meth:`IceTable.delete`.
  * **write sort orders (Iceberg SortOrder)** — a table-level sort order
    range-sorts every write (and compaction rewrite) on the sort
    columns, making their per-file min/max tight and disjoint, so stats
    pruning on a sorted column is near-exact with no partition
    transform at all.

Deliberate simplifications vs the real spec, each declared: one JSON
manifest per snapshot instead of a manifest-list tree (sharding the file
list across manifest files is a pure fan-out of the same entries);
equality deletes only (no positional deletes — those need a writer that
tracks row offsets); tags (named immutable refs, expiry-exempt — see
:meth:`IceTable.tag`) but no writable branches. Metadata stays O(files)
JSON, built on the driver from O(files) footer reads — at a real
deployment's file counts each write task would return its files'
metrics with its commit message instead, which is exactly what
Iceberg does.

Reference behavior reproduced: the reference app persists analysis
results content-addressed and write-once (src/services/text_service.py:
21-23); snapshots here are hashed the same way (snapshot id = md5 of the
canonical manifest JSON together with the parent id, operation, log
sequence number and summary, so every commit gets its own id).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import suppress as contextlib_suppress
from dataclasses import dataclass
from hashlib import md5

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_FMT = "icelite/1"

#: commit attempts a writer makes before a lost race raises CommitConflict
_COMMIT_RETRIES = 5


class CommitConflict(Exception):
    """Another writer claimed the metadata version this commit targeted."""


# --------------------------------------------------------------- transforms
#
# Each transform has a Spark expression (write path + derived-filter read
# path) and a Python evaluation (driver-side literal translation at prune
# time). Monotone transforms (identity, day, truncate) translate range
# filters; bucket translates equalities only.


def _bucket_py(v, n: int) -> int:
    """Python replica of the write-path bucket hash. The stringification
    must match Spark's ``cast(col as string)`` EXACTLY or derived-filter
    pruning drops files that hold matching rows: booleans cast to
    'true'/'false' (not Python's 'True'), so they are normalized here;
    floats/timestamps use Spark-specific formats ('1.0E-7', space
    separator) and are therefore NOT translated at all — see
    _bucket_translatable."""
    if isinstance(v, bool):
        v = "true" if v else "false"
    return int(md5(str(v).encode("utf-8")).hexdigest()[:8], 16) % n


def _bucket_translatable(v) -> bool:
    """Literal types whose str() provably matches Spark's cast-to-string
    (pruning on any other type is skipped — conservative keep)."""
    return isinstance(v, (str, bool)) or type(v) is int


def _bucket_col(c: str, n: int):
    # same md5-portable integer-from-hex device as dedup.py's band
    # signatures: first 8 md5 hex digits -> long -> mod n (non-negative)
    return (
        F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 8), 16, 10)
        .cast("long") % n
    )


@dataclass(frozen=True)
class Transform:
    name: str  # manifest/_p_ column name
    kind: str  # identity | day | bucket | truncate
    col: str
    arg: int | None = None

    def spark_expr(self):
        if self.kind == "identity":
            return F.col(self.col)
        if self.kind == "day":
            return F.date_format(F.col(self.col), "yyyy-MM-dd")
        if self.kind == "bucket":
            return _bucket_col(self.col, self.arg)
        if self.kind == "truncate":
            return F.substring(F.col(self.col), 1, self.arg)
        raise ValueError(f"unknown transform kind: {self.kind}")

    def py(self, v):
        if self.kind == "identity":
            return v
        if self.kind == "day":
            import datetime as dt

            if isinstance(v, str):
                v = dt.datetime.fromisoformat(v)
            return v.strftime("%Y-%m-%d")
        if self.kind == "bucket":
            return _bucket_py(v, self.arg)
        if self.kind == "truncate":
            return str(v)[: self.arg]
        raise ValueError(self.kind)

    @property
    def monotone(self) -> bool:
        return self.kind in ("identity", "day", "truncate")

    def to_json(self) -> dict:
        return {"name": self.name, "kind": self.kind,
                "col": self.col, "arg": self.arg}

    @staticmethod
    def from_json(d: dict) -> "Transform":
        return Transform(d["name"], d["kind"], d["col"], d.get("arg"))


def identity(col: str) -> Transform:
    return Transform(f"_p_{col}", "identity", col)


def day(col: str) -> Transform:
    return Transform(f"_p_{col}_day", "day", col)


def bucket(col: str, n: int) -> Transform:
    return Transform(f"_p_{col}_bucket_{n}", "bucket", col, n)


def truncate(col: str, w: int) -> Transform:
    return Transform(f"_p_{col}_trunc_{w}", "truncate", col, w)


# ------------------------------------------------------------ footer stats


def _enc_stat(v):
    """JSON-encode one min/max value with a type tag so prune-time
    comparisons coerce the filter literal to the same Python type."""
    import datetime as dt

    if isinstance(v, bool):
        return {"t": "bool", "v": v}
    if isinstance(v, dt.datetime):
        return {"t": "dt", "v": v.isoformat()}
    if isinstance(v, dt.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, bytes):
        return None  # binary stats are not pruneable here
    if isinstance(v, (int, float, str)):
        return {"t": type(v).__name__, "v": v}
    return None


def _dec_stat(d):
    import datetime as dt

    if d is None:
        return None
    t, v = d["t"], d["v"]
    if t == "dt":
        return dt.datetime.fromisoformat(v)
    if t == "date":
        return dt.date.fromisoformat(v)
    return v


def _coerce_literal(v, stat):
    """Coerce a filter literal to the decoded stat's type (ISO strings ->
    datetime/date; ints compare fine with floats natively)."""
    import datetime as dt

    if isinstance(stat, dt.datetime) and isinstance(v, str):
        return dt.datetime.fromisoformat(v)
    if isinstance(stat, dt.date) and not isinstance(stat, dt.datetime) and isinstance(v, str):
        return dt.date.fromisoformat(v)
    return v


def _footer_entry(path: str) -> dict:
    """The manifest entry of one data file, read from its parquet footer
    on the driver: {path, record_count, size_bytes, stats:{col:{min,max,
    nulls}}}. Iceberg's write tasks hand per-file metrics to the driver,
    which writes the manifest; here the driver already lists and moves
    every file it commits (``_write_data``), so one footer read (~kB,
    no data I/O) per file is the same O(files) work with no Spark job.
    Nested and binary columns carry no stats (not pruneable); a column
    with a row group lacking min/max gets none either, unless that row
    group is all-null."""
    meta = pq.ParquetFile(path).metadata
    agg: dict[str, dict] = {}
    usable: dict[str, bool] = {}
    for g in range(meta.num_row_groups):
        rg = meta.row_group(g)
        for i in range(meta.num_columns):
            col = rg.column(i)
            name = col.path_in_schema
            if "." in name:  # nested fields: not pruneable
                usable[name] = False
                continue
            st = col.statistics
            a = agg.setdefault(name, {"min": None, "max": None, "nulls": 0})
            if st is None or not st.has_min_max:
                # a row group without stats poisons min/max
                # (but null counts may still be complete)
                if st is None or st.null_count is None:
                    usable[name] = False
                else:
                    a["nulls"] += st.null_count
                    if st.num_values > 0:
                        usable[name] = False
                    else:
                        # all-null row group: min/max stay None, which
                        # IS the stat ("no non-null values") — keep usable
                        usable.setdefault(name, True)
                continue
            usable.setdefault(name, True)
            a["nulls"] += st.null_count or 0
            if st.num_values > 0:
                if a["min"] is None or st.min < a["min"]:
                    a["min"] = st.min
                if a["max"] is None or st.max > a["max"]:
                    a["max"] = st.max
    stats = {}
    for name, a in agg.items():
        if not usable.get(name, False):
            continue
        emin, emax = _enc_stat(a["min"]), _enc_stat(a["max"])
        if (emin is None) != (a["min"] is None):
            continue  # unencodable type (binary etc.)
        stats[name] = {"min": emin, "max": emax, "nulls": a["nulls"]}
    return {
        "path": path,
        "record_count": meta.num_rows,
        "size_bytes": os.path.getsize(path),
        "stats": stats,
    }


# ---------------------------------------------------------------- pruning


def _file_may_match(entry: dict, col: str, op: str, val) -> bool:
    """May rows in this file satisfy (col op val)? Conservative: True
    whenever stats are absent. SQL comparison semantics: an all-null
    column never matches any comparison."""
    st = entry["stats"].get(col)
    if st is None:
        return True
    if st["min"] is None:  # no non-null values in the file
        return False
    lo, hi = _dec_stat(st["min"]), _dec_stat(st["max"])
    if op == "in":
        return any(_file_may_match(entry, col, "=", v) for v in val)
    v = _coerce_literal(val, lo)
    try:
        if op == "=":
            return lo <= v <= hi
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
    except TypeError:
        return True  # incomparable literal: cannot prune
    return True  # unknown op: cannot prune


_MONOTONE_OP = {"=": "=", "<": "<=", "<=": "<=", ">": ">=", ">=": ">="}


def _derived_filters(filters, spec: list[Transform]):
    """Translate filters on source columns into filters on the hidden
    transform columns (partition pruning as stats pruning). Monotone
    transforms carry ranges with relaxed bounds (ts < v implies
    day(ts) <= day(v)); bucket carries equalities only."""
    out = []
    for col, op, val in filters:
        for tr in spec:
            if tr.col != col or tr.kind == "identity":
                continue
            try:
                if tr.kind == "truncate" and not isinstance(val, str):
                    continue  # str(v)[:w] != Spark substring semantics
                if tr.monotone and op in _MONOTONE_OP:
                    out.append((tr.name, _MONOTONE_OP[op], tr.py(val)))
                elif tr.kind == "bucket" and op == "=":
                    if _bucket_translatable(val):
                        out.append((tr.name, "=", tr.py(val)))
                elif tr.kind == "bucket" and op == "in":
                    if all(_bucket_translatable(v) for v in val):
                        out.append(
                            (tr.name, "in", [tr.py(v) for v in val])
                        )
            except (TypeError, ValueError, AttributeError):
                continue  # untranslatable literal: keep, never prune
    return out


def _residual_expr(filters):
    expr = F.lit(True)
    for col, op, val in filters:
        c = F.col(col)
        if op == "=":
            e = c == F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == "in":
            e = c.isin(*val)
        else:
            raise ValueError(f"unsupported filter op: {op}")
        expr = expr & e
    return expr


@dataclass
class ScanReport:
    snapshot_id: str
    files_total: int
    files_kept: int
    records_total: int
    records_kept_bound: int  # sum of kept files' record counts (pre-filter)

    @property
    def files_pruned(self) -> int:
        return self.files_total - self.files_kept


# ------------------------------------------------------------------ table


class IceTable:
    """One table rooted at ``path`` (``data/`` + ``metadata/``)."""

    def __init__(self, path: str):
        self.path = path

    # ---------------- metadata plumbing

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.path, "metadata")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version}.metadata.json")

    @staticmethod
    def exists(path: str) -> bool:
        """True iff a COMMITTED table lives at ``path`` (v1 metadata
        present). A bare ``metadata/`` directory left by a crashed
        create is not a table — callers that branched on the directory
        would wedge forever on FileNotFoundError."""
        return os.path.exists(
            os.path.join(path, "metadata", "v1.metadata.json")
        )

    def current_version(self) -> int:
        """The committed version: the advisory hint, verified and then
        rolled forward past any newer committed metadata files (the hint
        update is not part of the atomic commit, exactly as in the
        spec's version-hint.text)."""
        hint = 0
        hp = os.path.join(self._meta_dir, "version-hint.text")
        try:
            with open(hp) as f:
                hint = int(f.read().strip())
        except (OSError, ValueError):
            pass
        v = max(hint, 1)
        if not os.path.exists(self._meta_path(v)):
            raise FileNotFoundError(f"no icelite table at {self.path}")
        while os.path.exists(self._meta_path(v + 1)):
            v += 1
        return v

    def _read_meta(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(self._meta_path(v)) as f:
            meta = json.load(f)
        meta["_version"] = v
        return meta

    def _read_snap(self, snapshot_id: str) -> tuple[list[dict], list[dict]]:
        """(data file entries, delete file entries) — one parse of the
        snapshot manifest for callers that need both."""
        p = os.path.join(self._meta_dir, f"snap-{snapshot_id}.json")
        with open(p) as f:
            body = json.load(f)
        return body["files"], body.get("deletes", [])

    def _read_manifest(self, snapshot_id: str) -> list[dict]:
        return self._read_snap(snapshot_id)[0]

    @staticmethod
    def _next_seq(files: list[dict], deletes: list[dict]) -> int:
        return max(
            (e.get("seq", 0) for e in files + deletes), default=-1
        ) + 1

    def _commit(self, meta: dict, expected_version: int) -> int:
        """Claim v{expected_version+1} atomically. The payload is written
        COMPLETE to a temp file first and the version is claimed with a
        hard link (atomic, fails if the name exists) — a reader can never
        observe an empty/partial metadata file, and a crash at any point
        leaves either no claim or a fully-written one (a stranded
        ``.commit-*`` temp is swept by expire's orphan cleanup). Raises
        CommitConflict if another writer got there first."""
        new_v = expected_version + 1
        os.makedirs(self._meta_dir, exist_ok=True)
        payload = json.dumps(
            {k: v for k, v in meta.items() if not k.startswith("_")},
            sort_keys=True, indent=1,
        )
        tmp = os.path.join(self._meta_dir, f".commit-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._meta_path(new_v))
        except FileExistsError:
            with contextlib_suppress(OSError):
                os.unlink(tmp)
            raise CommitConflict(
                f"version {new_v} already committed at {self.path}"
            ) from None
        with contextlib_suppress(OSError):
            os.unlink(tmp)
        # advisory hint, atomic replace (readers survive a stale hint)
        tmp = os.path.join(self._meta_dir, f".hint-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(new_v))
        os.replace(tmp, os.path.join(self._meta_dir, "version-hint.text"))
        return new_v

    def _write_manifest(
        self,
        files: list[dict],
        deletes: list[dict] | None = None,
        parent: str | None = None,
        op: str = "create",
        seq: int = 0,
        summary: dict | None = None,
    ) -> str:
        """Write one snapshot's manifest; returns the snapshot id, the
        md5 of the canonical file list together with the parent id, the
        operation, the snapshot's sequence number in the log and its
        summary. The manifest alone is not enough: an append that adds
        no files repeats its parent's file list, and an id equal to its
        parent's would make the parent chain a loop (the Iceberg spec
        gives every snapshot a unique id)."""
        body = json.dumps(
            {"files": files, "deletes": deletes or []}, sort_keys=True
        )
        ident = json.dumps(
            [parent, op, seq, summary or {}], sort_keys=True, default=str
        )
        sid = md5((ident + body).encode()).hexdigest()[:16]
        p = os.path.join(self._meta_dir, f"snap-{sid}.json")
        if not os.path.exists(p):
            tmp = p + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(body)
            os.replace(tmp, p)
        return sid

    def _commit_retrying(self, op: str, build) -> dict | None:
        """The one optimistic-commit loop every writer runs: read the
        current metadata, ``build(meta)`` the next metadata from it and
        claim the next version through ``_commit``. A lost race re-reads
        the winner and rebuilds; data files are immutable and already
        written, so a retry is metadata-only. ``build`` returning None
        means there is nothing to commit, and so does the loop. Returns
        the committed metadata; raises CommitConflict naming ``op`` after
        _COMMIT_RETRIES lost races."""
        for _ in range(_COMMIT_RETRIES):
            meta = self._read_meta()
            new_meta = build(meta)
            if new_meta is None:
                return None
            try:
                self._commit(new_meta, expected_version=meta["_version"])
                return new_meta
            except CommitConflict:
                continue
        raise CommitConflict(
            f"{op} lost {_COMMIT_RETRIES} commit races at {self.path}"
        )

    def _snapshot_meta(
        self,
        meta: dict,
        op: str,
        files: list[dict],
        deletes: list[dict],
        added: list[dict],
        schema: StructType | None = None,
        summary: dict | None = None,
    ) -> dict:
        """``meta`` advanced by one ``op`` snapshot over (``files``,
        ``deletes``): writes its manifest and appends its log entry;
        ``summary`` merges into the entry's summary and ``schema``, when
        given, replaces the table schema."""
        parent = meta["current_snapshot_id"]
        entry = self._snap_entry(parent, op, added, files)
        entry["summary"].update(summary or {})
        sid = entry["id"] = self._write_manifest(
            files, deletes, parent, op, len(meta["snapshots"]),
            entry["summary"],
        )
        new_meta = {
            **meta,
            "current_snapshot_id": sid,
            "snapshots": meta["snapshots"] + [entry],
        }
        if schema is not None:
            new_meta["schema_json"] = json.loads(schema.json())
        return new_meta

    # ---------------- write path

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        df: DataFrame,
        partition_spec: list[Transform] | None = None,
        target_files: int | None = None,
        sort_order: list[str] | None = None,
        summary_extra: dict | None = None,
    ) -> "IceTable":
        t = IceTable(path)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        spec = partition_spec or []
        entries = t._write_data(df, spec, target_files, sort_cols=sort_order)
        for e in entries:
            e["seq"] = 0
        entry = t._snap_entry(None, "create", entries, entries)
        if summary_extra:  # watermark stamps ride the ONE commit
            entry["summary"].update(summary_extra)
        sid = entry["id"] = t._write_manifest(
            entries, summary=entry["summary"]
        )
        meta = {
            "format": _FMT,
            "schema_json": json.loads(df.schema.json()),
            "partition_spec": [tr.to_json() for tr in spec],
            "sort_order": list(sort_order or []),
            "current_snapshot_id": sid,
            "snapshots": [entry],
        }
        t._commit(meta, expected_version=0)
        return t

    @staticmethod
    def _snap_entry(parent, op, added, total) -> dict:
        """A log entry without its id, which hashes this summary."""
        return {
            "parent": parent,
            "operation": op,
            "summary": {
                "added_files": len(added),
                "added_records": sum(e["record_count"] for e in added),
                "total_files": len(total),
                "total_records": sum(e["record_count"] for e in total),
            },
        }

    def _write_data(
        self,
        df: DataFrame,
        spec: list[Transform],
        target_files: int | None,
        sort_cols: list[str] | None = None,
    ) -> list[dict]:
        """Write immutable, uniquely-named data files clustered by the
        partition transforms, then read each file's footer stats on the
        driver as it moves into the data dir. The
        hidden ``_p_*`` columns are stored IN the files — their per-file
        min/max are the manifest's partition tuple. ``sort_cols`` is the
        table's write sort order (Iceberg SortOrder): within a partition
        spec it locally sorts each file; without one it performs a
        global range sort (repartitionByRange + local sort), which makes
        the per-file min/max of the sort columns tight and DISJOINT —
        turning stats pruning on those columns from heuristic to
        near-exact without any partition transform."""
        staged = df.select(
            *df.columns, *[tr.spark_expr().alias(tr.name) for tr in spec]
        )
        pcols = [tr.name for tr in spec]
        sort_cols = sort_cols or []
        if pcols:
            staged = (
                staged.repartition(target_files, *pcols)
                if target_files
                else staged.repartition(*pcols)
            ).sortWithinPartitions(*pcols, *sort_cols)
        elif sort_cols:
            staged = (
                staged.repartitionByRange(target_files, *sort_cols)
                if target_files
                else staged.repartitionByRange(*sort_cols)
            ).sortWithinPartitions(*sort_cols)
        elif target_files:
            staged = staged.repartition(target_files)
        token = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.path, f"_tmp-{token}")
        entries = []
        try:
            staged.write.mode("overwrite").parquet(tmp)
            for i, name in enumerate(
                sorted(
                    f for f in os.listdir(tmp)
                    if f.startswith("part-") and f.endswith(".parquet")
                )
            ):
                dst = os.path.join(
                    self._data_dir, f"{token}-{i:05d}.parquet"
                )
                shutil.move(os.path.join(tmp, name), dst)
                e = _footer_entry(dst)
                if e["record_count"]:
                    entries.append(e)
                else:
                    # drop zero-record part files (an empty input
                    # partition still writes one): they carry nothing,
                    # and a streaming sink's empty triggers would
                    # otherwise grow the manifest forever
                    os.remove(dst)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return entries

    def append(
        self,
        spark: SparkSession,
        df: DataFrame,
        target_files: int | None = None,
        summary_extra: dict | None = None,
    ) -> str:
        """Commit ``df`` as a new snapshot on top of current. New columns
        widen the snapshot schema (add-column evolution); columns the
        table has but ``df`` lacks are null-filled. On CommitConflict the
        manifest merge retries against the winner, whose schema is widened
        with this append's new columns — the data files were written once
        and are reused verbatim. ``summary_extra`` merges into the
        snapshot's summary: each key is a watermark stamp, recording in
        the same atomic commit what the writer has consumed (Iceberg
        stores the same thing in snapshot summary properties); read it
        back with :meth:`watermark`."""
        meta = self._read_meta()
        spec = [Transform.from_json(d) for d in meta["partition_spec"]]
        schema = StructType.fromJson(meta["schema_json"])
        aligned, new_schema = _align_for_append(df, schema)
        added = self._write_data(
            aligned, spec, target_files,
            sort_cols=meta.get("sort_order", []),
        )

        def build(meta: dict) -> dict:
            base, base_deletes = self._read_snap(meta["current_snapshot_id"])
            seq = self._next_seq(base, base_deletes)
            for e in added:
                e["seq"] = seq
            return self._snapshot_meta(
                meta, "append", base + added, base_deletes, added,
                schema=_widened(
                    StructType.fromJson(meta["schema_json"]), new_schema
                ),
                summary=summary_extra,
            )

        return self._commit_retrying("append", build)["current_snapshot_id"]

    def overwrite(
        self,
        spark: SparkSession,
        df: DataFrame,
        target_files: int | None = None,
    ) -> str:
        """Replace the table contents in one snapshot (the KG publish
        pattern: each pipeline run republishes nodes/edges; history
        stays time-travelable). Old data files are retained for time
        travel — expiring them is a vacuum job, not a commit. Like every
        other writer, a lost commit race retries metadata-only against
        the winner (the data files were written once)."""
        meta = self._read_meta()
        spec = [Transform.from_json(d) for d in meta["partition_spec"]]
        added = self._write_data(
            df, spec, target_files,
            sort_cols=meta.get("sort_order", []),
        )

        def build(meta: dict) -> dict:
            cur, cur_dels = self._read_snap(meta["current_snapshot_id"])
            seq = self._next_seq(cur, cur_dels)
            for e in added:
                e["seq"] = seq
            # table contents replaced wholesale: prior equality deletes
            # have nothing left to apply to, so the new manifest carries
            # none
            return self._snapshot_meta(
                meta, "overwrite", added, [], added, schema=df.schema
            )

        return self._commit_retrying("overwrite", build)["current_snapshot_id"]

    def delete(self, spark: SparkSession, keys_df: DataFrame) -> str:
        """Equality delete (Iceberg v2 delete files): remove every row
        whose key tuple appears in ``keys_df`` — the columns of
        ``keys_df`` ARE the key columns. The keys are written ONCE as
        immutable delete files (a distributed write; a GDPR takedown of
        a billion urls is a normal DataFrame, never driver state) and the
        commit is metadata-only: no data file is rewritten. Scans apply
        the delete by sequence number — rows APPENDED after the delete
        with the same key survive (upsert pattern: ``delete`` then
        ``append``). Compaction physically purges deleted rows and drops
        delete files that no longer apply to any remaining data file;
        history stays time-travelable until expire_snapshots."""
        meta = self._read_meta()
        schema_cols = set(StructType.fromJson(meta["schema_json"]).fieldNames())
        key_cols = list(keys_df.columns)
        missing = [c for c in key_cols if c not in schema_cols]
        if missing:
            raise ValueError(f"delete key columns not in table: {missing}")
        written = self._write_data(
            keys_df.dropDuplicates(key_cols), spec=[], target_files=None
        )

        def build(meta: dict) -> dict:
            base, base_deletes = self._read_snap(meta["current_snapshot_id"])
            seq = self._next_seq(base, base_deletes)
            dentries = [
                {**e, "key_cols": key_cols, "seq": seq} for e in written
            ]
            return self._snapshot_meta(
                meta, "delete", base, base_deletes + dentries, [],
                summary={
                    "delete_files": len(dentries),
                    "deleted_key_records": sum(
                        e["record_count"] for e in dentries
                    ),
                },
            )

        return self._commit_retrying("delete", build)["current_snapshot_id"]

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        key_cols: list[str],
        target_files: int | None = None,
    ) -> str:
        """MERGE: atomically replace every row whose key tuple matches
        ``df`` and insert ``df``'s rows — ONE ``merge`` snapshot commit
        carrying both the equality-delete files (over ``df``'s distinct
        keys) and the new data files. This is the re-crawl shape: a page
        re-fetched upserts by url without a window where the url is
        missing (delete-then-append is two commits; a reader between
        them sees neither version). Keys with no existing rows simply
        insert.

        The delete files take the next sequence number and the data
        files the one after, so the scan-time rule (delete removes rows
        with file seq <= delete seq) scrubs every prior version and
        spares the rows committed here. Metadata-only retry on commit
        races, widening the winner's schema like ``append``."""
        meta = self._read_meta()
        schema = StructType.fromJson(meta["schema_json"])
        missing = [c for c in key_cols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(f"upsert key columns not in table: {missing}")
        spec = [Transform.from_json(d) for d in meta["partition_spec"]]
        aligned, new_schema = _align_for_append(df, schema)
        added = self._write_data(
            aligned, spec, target_files,
            sort_cols=meta.get("sort_order", []),
        )
        keys_written = self._write_data(
            df.select(*key_cols).dropDuplicates(list(key_cols)),
            spec=[], target_files=None,
        )

        def build(meta: dict) -> dict:
            base, base_deletes = self._read_snap(meta["current_snapshot_id"])
            dseq = self._next_seq(base, base_deletes)
            dentries = [
                {**e, "key_cols": list(key_cols), "seq": dseq}
                for e in keys_written
            ]
            for e in added:
                e["seq"] = dseq + 1
            return self._snapshot_meta(
                meta, "merge", base + added, base_deletes + dentries, added,
                schema=_widened(
                    StructType.fromJson(meta["schema_json"]), new_schema
                ),
                summary={
                    "delete_files": len(dentries),
                    "upsert_keys": sum(e["record_count"] for e in dentries),
                },
            )

        return self._commit_retrying("upsert", build)["current_snapshot_id"]

    # ---------------- table maintenance

    def compact(
        self,
        spark: SparkSession,
        small_file_bytes: int = 32 << 20,
        target_file_bytes: int = 128 << 20,
        min_input_files: int = 2,
        _pre_commit=None,
    ) -> str | None:
        """Rewrite small data files into target-size files (Iceberg's
        ``rewrite_data_files`` action). This is THE maintenance job a
        streaming sink needs: foreachBatch appends one small file set per
        trigger, and at 10^12 rows an uncompacted table degenerates into
        millions of footer reads per scan. Semantics:

          * picks every current data file under ``small_file_bytes``;
            no-op (returns None) below ``min_input_files``;
          * rewrites them with a DISTRIBUTED read+write through the
            table's own partition spec (the hidden ``_p_*`` clustering is
            re-derived, so compaction also restores clustering that
            interleaved appends degraded);
          * commits a ``replace`` snapshot: untouched files carried over
            verbatim, inputs swapped for the rewritten set. Record count
            is asserted conserved before the commit;
          * a concurrent APPEND is not a conflict — on CommitConflict the
            replace re-merges against the winner (inputs dropped,
            rewritten files added, the winner's new files kept). A
            concurrent OVERWRITE that removed an input aborts cleanly:
            the rewritten files are deleted and None is returned (the
            table was rewritten wholesale anyway);
          * time travel is preserved: prior snapshots still reference the
            small files, which stay on disk until expire_snapshots.

        ``_pre_commit`` is a test seam invoked once after the rewrite and
        before the first commit attempt (to stage commit races).
        """
        meta = self._read_meta()
        base, base_deletes = self._read_snap(meta["current_snapshot_id"])
        inputs = [e for e in base if e["size_bytes"] < small_file_bytes]
        if len(inputs) < min_input_files:
            return None
        in_paths = {e["path"] for e in inputs}
        in_records = sum(e["record_count"] for e in inputs)
        rewrite_seq = max(e.get("seq", 0) for e in inputs)
        # read through the scan path: equality-deleted rows are purged
        # physically (the rewritten files keep the max input seq, so a
        # delete committed concurrently — which necessarily gets a higher
        # seq — still applies to them at scan time; already-applied
        # deletes re-apply as no-ops until pruned), hidden _p_* columns
        # drop (the rewrite re-derives them), evolved-in columns null-fill
        df, _ = self._read_files(
            spark, meta, sorted(inputs, key=lambda e: e["path"]), base_deletes
        )
        # with live deletes the conserved quantity is the SURVIVOR count
        expect_records = df.count() if base_deletes else in_records
        n_out = max(
            1, -(-sum(e["size_bytes"] for e in inputs) // target_file_bytes)
        )
        rewritten = self._write_data(
            df,
            [Transform.from_json(d) for d in meta["partition_spec"]],
            target_files=n_out,
            sort_cols=meta.get("sort_order", []),
        )
        for e in rewritten:
            e["seq"] = rewrite_seq

        def drop_rewrite() -> None:
            for e in rewritten:
                with contextlib_suppress(OSError):
                    os.remove(e["path"])

        if sum(e["record_count"] for e in rewritten) != expect_records:
            drop_rewrite()
            raise RuntimeError(
                f"compaction dropped rows at {self.path}: "
                f"{expect_records} expected, "
                f"{sum(e['record_count'] for e in rewritten)} out"
            )
        if _pre_commit is not None:
            _pre_commit()

        def build(meta: dict) -> dict | None:
            cur, cur_deletes = self._read_snap(meta["current_snapshot_id"])
            if not in_paths <= {e["path"] for e in cur}:
                return None  # an overwrite replaced (some of) our inputs
            untouched = [e for e in cur if e["path"] not in in_paths]
            # prune delete files whose every target was just purged: a
            # delete we APPLIED during the rewrite (it was in
            # base_deletes) survives only if some UNTOUCHED data file
            # still has seq <= its seq; a delete committed concurrently
            # (not applied to the rewrite) is always kept — its keys are
            # still present in the rewritten files and the seq rule
            # still removes them at scan time
            applied_paths = {d["path"] for d in base_deletes}
            untouched_seqs = [e.get("seq", 0) for e in untouched]
            live_deletes = [
                d for d in cur_deletes
                if d["path"] not in applied_paths
                or any(s <= d.get("seq", 0) for s in untouched_seqs)
            ]
            return self._snapshot_meta(
                meta, "replace", untouched + rewritten, live_deletes,
                rewritten, summary={"rewritten_files": len(inputs)},
            )

        committed = self._commit_retrying("compact", build)
        if committed is None:
            # aborted: metadata untouched, rewrite output removed
            drop_rewrite()
            return None
        return committed["current_snapshot_id"]

    def expire_snapshots(
        self,
        keep_last: int = 2,
        clean_orphans: bool = False,
        orphan_grace_sec: float = 3600.0,
    ) -> dict:
        """Expire history: retain the last ``keep_last`` snapshots (always
        including current), delete data files and manifests referenced
        ONLY by expired snapshots. Without expiration, overwrite-per-run
        publishing and compaction retain every byte ever written — at
        10^12 rows this job is what bounds storage.

        Ordering: the pruned metadata commits FIRST, then files are
        deleted — a reader of the new metadata never sees a missing
        file; readers pinned to an expired snapshot fail afterwards,
        which is the defined semantics of expiration. A lost commit race
        (a writer appended mid-expire) recomputes the plan.

        ``clean_orphans`` additionally removes data files referenced by
        NO retained snapshot at all (aborted writes, lost commit races)
        — but only files older than ``orphan_grace_sec``, because an
        IN-FLIGHT append has already written its data files before its
        commit (exactly why real Iceberg's remove_orphan_files takes an
        age threshold).

        A watermark stamp whose newest holder expires moves into the
        current snapshot's ``carried`` summary field, so
        :meth:`watermark` reads the same value afterwards.
        """
        plan: dict = {}

        def build(meta: dict) -> dict | None:
            snaps = meta["snapshots"]
            retained = snaps[-max(keep_last, 1):]
            # the current snapshot and every TAGGED snapshot are exempt
            # from keep-last expiry (tags are the release mechanism)
            pinned = set(meta.get("refs", {}).values())
            pinned.add(meta["current_snapshot_id"])
            keep_ids = {s["id"] for s in retained} | pinned
            retained = [s for s in snaps if s["id"] in keep_ids]  # log order
            expired = [s for s in snaps if s["id"] not in keep_ids]
            if not expired and not clean_orphans:
                return None
            keep_files: set[str] = set()
            for s in retained:
                fs, ds = self._read_snap(s["id"])
                keep_files |= {e["path"] for e in fs + ds}
            drop_files: set[str] = set()
            for s in expired:
                fs, ds = self._read_snap(s["id"])
                drop_files |= {e["path"] for e in fs + ds}
            drop_files -= keep_files
            # a watermark key whose newest holder expires moves into the
            # current snapshot's ``carried`` field: current is last in the
            # log and always retained, so "newest wins" reads the same
            newest: dict = {}
            for s in snaps:
                for k, v in _stamps(s["summary"]).items():
                    newest[k] = (s["id"], v)
            carry = {
                k: v for k, (sid, v) in newest.items() if sid not in keep_ids
            }
            if carry:
                cur = retained[-1]
                carried = {**cur["summary"].get("carried", {}), **carry}
                retained[-1] = {
                    **cur, "summary": {**cur["summary"], "carried": carried}
                }
            plan.update(
                snaps=snaps, expired=expired,
                keep_files=keep_files, drop_files=drop_files,
            )
            return {**meta, "snapshots": retained}

        if self._commit_retrying("expire_snapshots", build) is None:
            return {
                "expired_snapshots": 0,
                "deleted_data_files": 0,
                "deleted_manifests": 0,
                "orphans_deleted": 0,
            }
        expired, keep_files = plan["expired"], plan["keep_files"]
        for p in sorted(plan["drop_files"]):
            with contextlib_suppress(OSError):
                os.remove(p)
        dropped_manifests = 0
        for s in expired:
            # (expired ids are disjoint from keep_ids by construction,
            # so every expired manifest is removable)
            with contextlib_suppress(OSError):
                os.remove(
                    os.path.join(self._meta_dir, f"snap-{s['id']}.json")
                )
                dropped_manifests += 1
        orphans = 0
        if clean_orphans:
            now = time.time()

            def _old(path: str) -> bool:
                try:
                    return now - os.path.getmtime(path) >= orphan_grace_sec
                except OSError:
                    return False

            for name in sorted(os.listdir(self._data_dir)):
                p = os.path.join(self._data_dir, name)
                if p in keep_files or not name.endswith(".parquet"):
                    continue
                if _old(p):
                    with contextlib_suppress(OSError):
                        os.remove(p)
                        orphans += 1
            # manifests of commit attempts that lost their race, and
            # stranded .commit-* temps from crashed commits, are
            # referenced by nothing in the snapshot log — sweep them
            # past the same grace window (an IN-FLIGHT writer has
            # written its manifest before its commit)
            live_manifests = {f"snap-{s['id']}.json" for s in plan["snaps"]}
            for name in sorted(os.listdir(self._meta_dir)):
                stale_snap = (
                    name.startswith("snap-")
                    and name.endswith(".json")
                    and name not in live_manifests
                )
                if not (stale_snap or name.startswith(".commit-")):
                    continue
                mp = os.path.join(self._meta_dir, name)
                if _old(mp):
                    with contextlib_suppress(OSError):
                        os.remove(mp)
                        orphans += 1
        return {
            "expired_snapshots": len(expired),
            "deleted_data_files": len(plan["drop_files"]),
            "deleted_manifests": dropped_manifests,
            "orphans_deleted": orphans,
        }

    # ---------------- read path

    def snapshots(self) -> list[dict]:
        return self._read_meta()["snapshots"]

    def snapshot(self, snapshot_id: str) -> dict:
        """The snapshot log entry with id ``snapshot_id``."""
        for s in self.snapshots():
            if s["id"] == snapshot_id:
                return s
        raise KeyError(f"unknown snapshot {snapshot_id} at {self.path}")

    def watermark(self, key: str):
        """The newest value stamped under ``key`` (``summary_extra`` of
        create/append) in snapshot-log order, whether the snapshot's own
        stamp or one expire_snapshots carried onto it; None if no
        snapshot holds one or the table does not exist yet."""
        if not IceTable.exists(self.path):
            return None
        for s in reversed(self.snapshots()):
            stamps = _stamps(s["summary"])
            if key in stamps:
                return stamps[key]
        return None

    def metadata_df(self, spark: SparkSession, kind: str) -> DataFrame:
        """Queryable metadata tables, like Iceberg's ``table.snapshots``
        / ``table.files`` / ``table.history``: the table's own metadata
        as a DataFrame, so operational queries (snapshot audit, file-size
        skew, small-file counts feeding a compaction trigger) are plain
        Spark SQL. Metadata is O(files) JSON, so a local parallelize is
        the right scale here — the data files are never touched."""
        meta = self._read_meta()
        if kind == "snapshots":
            rows = [
                (
                    s["id"],
                    s["parent"],
                    s["operation"],
                    int(s["summary"]["added_files"]),
                    int(s["summary"]["added_records"]),
                    int(s["summary"]["total_files"]),
                    int(s["summary"]["total_records"]),
                    json.dumps(s["summary"], sort_keys=True),
                )
                for s in meta["snapshots"]
            ]
            return spark.createDataFrame(
                rows,
                "snapshot_id string, parent_id string, operation string, "
                "added_files long, added_records long, total_files long, "
                "total_records long, summary string",
            )
        if kind == "history":
            cur = meta["current_snapshot_id"]
            rows = [
                (s["id"], s["parent"], s["id"] == cur)
                for s in meta["snapshots"]
            ]
            return spark.createDataFrame(
                rows, "snapshot_id string, parent_id string, is_current boolean"
            )
        if kind == "files":
            entries = self._read_manifest(meta["current_snapshot_id"])
            rows = [
                (
                    e["path"],
                    int(e["record_count"]),
                    int(e["size_bytes"]),
                    int(e.get("seq", 0)),
                    json.dumps(e["stats"], sort_keys=True),
                )
                for e in entries
            ]
            return spark.createDataFrame(
                rows,
                "file_path string, record_count long, size_bytes long, "
                "seq long, column_stats string",
            )
        if kind == "refs":
            rows = sorted(meta.get("refs", {}).items())
            return spark.createDataFrame(
                rows, "ref_name string, snapshot_id string"
            )
        if kind == "deletes":
            entries = self._read_snap(meta["current_snapshot_id"])[1]
            rows = [
                (
                    e["path"],
                    json.dumps(e["key_cols"]),
                    int(e["record_count"]),
                    int(e.get("seq", 0)),
                )
                for e in entries
            ]
            return spark.createDataFrame(
                rows,
                "file_path string, key_cols string, record_count long, "
                "seq long",
            )
        raise ValueError(f"unknown metadata table {kind!r}")

    def current_snapshot_id(self) -> str:
        return self._read_meta()["current_snapshot_id"]

    # ---------------- tags (named refs)

    def tag(self, name: str, snapshot_id: str | None = None) -> str:
        """Pin a snapshot under a stable name (Iceberg's tag refs — the
        release mechanism: ``graph-2026-08-18`` stays readable by name
        and is EXEMPT from keep-last history expiration until the tag is
        dropped). Defaults to the current snapshot."""

        def build(meta: dict) -> dict:
            sid = snapshot_id or meta["current_snapshot_id"]
            if not any(s["id"] == sid for s in meta["snapshots"]):
                raise KeyError(f"unknown snapshot {sid} at {self.path}")
            return {**meta, "refs": {**meta.get("refs", {}), name: sid}}

        return self._commit_retrying("tag", build)["refs"][name]

    def drop_tag(self, name: str) -> None:
        def build(meta: dict) -> dict:
            refs = {k: v for k, v in meta.get("refs", {}).items() if k != name}
            return {**meta, "refs": refs}

        self._commit_retrying("drop_tag", build)

    def refs(self) -> dict[str, str]:
        return dict(self._read_meta().get("refs", {}))

    def _read_files(
        self,
        spark: SparkSession,
        meta: dict,
        entries: list[dict],
        deletes: list[dict] | None = None,
        filters: list[tuple] | None = None,
        columns: list[str] | None = None,
    ) -> tuple[DataFrame, list[dict]]:
        """The one file reader behind every scan: prune ``entries`` by
        their footer stats (plus filters derived through the partition
        transforms), read the kept files with mergeSchema, apply the
        equality ``deletes``, project to ``columns`` of the table schema
        (default all) and re-apply ``filters`` to the rows. Returns
        (DataFrame, kept entries)."""
        filters = list(filters or [])
        spec = [Transform.from_json(d) for d in meta["partition_spec"]]
        prune_filters = filters + _derived_filters(filters, spec)
        kept = [
            e for e in entries
            if all(
                _file_may_match(e, c, op, v) for c, op, v in prune_filters
            )
        ]
        schema = StructType.fromJson(meta["schema_json"])
        out_cols = columns or schema.fieldNames()
        unknown = [c for c in out_cols if c not in schema.fieldNames()]
        if unknown:  # same error whether pruning kept files or not
            raise KeyError(f"unknown columns {unknown} at {self.path}")
        if not kept:
            return spark.createDataFrame([], schema).select(*out_cols), kept
        df = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[e["path"] for e in kept])
        )
        df = _apply_equality_deletes(
            spark, df, {e["path"]: e.get("seq", 0) for e in kept}, deletes
        )
        df = _project(df, schema, out_cols)
        if filters:
            df = df.filter(_residual_expr(filters))
        return df, kept

    def scan(
        self,
        spark: SparkSession,
        filters: list[tuple] | None = None,
        snapshot_id: str | None = None,
        columns: list[str] | None = None,
        ref: str | None = None,
    ) -> tuple[DataFrame, ScanReport]:
        """Read a snapshot with manifest-level file pruning. ``filters``
        is a list of (col, op, literal) AND-ed together, op in
        {'=','<','<=','>','>=','in'}. Pruning is an optimization only:
        the same filters are re-applied to the rows, so a conservative
        keep is always correct. ``ref`` resolves a tag name to its
        pinned snapshot. Columns come out in the REQUESTED order; evolved-in
        columns missing from old files read as null. Returns (DataFrame,
        ScanReport)."""
        meta = self._read_meta()
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or ref, not both")
            try:
                snapshot_id = meta.get("refs", {})[ref]
            except KeyError:
                raise KeyError(f"unknown ref {ref!r} at {self.path}") from None
        sid = snapshot_id or meta["current_snapshot_id"]
        if not any(s["id"] == sid for s in meta["snapshots"]):
            raise KeyError(f"unknown snapshot {sid} at {self.path}")
        entries, snap_deletes = self._read_snap(sid)
        df, kept = self._read_files(
            spark, meta, entries, snap_deletes, filters, columns
        )
        return df, ScanReport(sid, **_file_counts(entries, kept))

    def _added(self, snap: dict) -> tuple[list[dict], list[dict]]:
        """(data files, delete files) that snapshot ``snap`` added to its
        parent's manifest."""
        files, deletes = self._read_snap(snap["id"])
        parent_files, parent_deletes = self._read_snap(snap["parent"])
        seen = {e["path"] for e in parent_files + parent_deletes}
        return (
            [e for e in files if e["path"] not in seen],
            [d for d in deletes if d["path"] not in seen],
        )

    def _snapshot_chain(
        self, meta: dict, from_snapshot: str, to_sid: str
    ) -> list[dict]:
        """Snapshot entries strictly after ``from_snapshot`` up to and
        including ``to_sid``, oldest first. Raises on unknown endpoints
        or a non-ancestor ``from_snapshot``."""
        by_id = {s["id"]: s for s in meta["snapshots"]}
        for endpoint in (from_snapshot, to_sid):
            if endpoint not in by_id:
                raise KeyError(
                    f"unknown snapshot {endpoint} at {self.path}"
                )
        chain: list[dict] = []
        visited: set[str] = set()
        sid = to_sid
        while sid != from_snapshot:
            if sid is None or sid not in by_id:
                raise ValueError(
                    f"{from_snapshot} is not an ancestor of {to_sid} "
                    f"at {self.path}"
                )
            if sid in visited:
                raise ValueError(
                    f"snapshot {sid} is its own ancestor at {self.path}"
                )
            visited.add(sid)
            chain.append(by_id[sid])
            sid = by_id[sid]["parent"]
        chain.reverse()  # oldest -> newest
        return chain

    def incremental_scan(
        self,
        spark: SparkSession,
        from_snapshot: str,
        to_snapshot: str | None = None,
        filters: list[tuple] | None = None,
        columns: list[str] | None = None,
    ) -> tuple[DataFrame, "IncrementalReport"]:
        """Read ONLY the rows appended after ``from_snapshot``, up to and
        including ``to_snapshot`` (default: current) — Iceberg's
        incremental append scan, the primitive behind
        ``spark.read.option("start-snapshot-id", ...)``. This is how a
        recurring KG build consumes a growing pages table: each run
        processes the pages landed since the snapshot it last saw,
        instead of rescanning 10^12 rows.

        Semantics (matching Iceberg's ``IncrementalAppendScan``):

          * ``from_snapshot`` is EXCLUSIVE, ``to_snapshot`` inclusive;
            both must be live snapshots with ``from`` an ancestor of
            ``to`` (an expired endpoint fails loudly rather than
            silently under-reading);
          * each ``append`` snapshot in range contributes exactly the
            data files it ADDED (manifest path-diff vs its parent).
            Those files are immutable and stay on disk until
            ``expire_snapshots``, so a later compaction does not
            invalidate the diff;
          * ``replace`` (compaction) snapshots are data-neutral and are
            skipped, counted in the report;
          * an ``overwrite``, ``delete``, or ``merge`` in range raises
            ValueError — row-level removals have no incremental-append
            representation (Iceberg errors identically; use
            ``changelog_scan`` for delete/merge ranges);
          * no equality deletes apply: files appended in range carry a
            sequence number strictly above every delete committed at or
            before ``from_snapshot``, and later deletes are out of
            range by the rule above.

        File pruning and residual ``filters`` behave exactly as in
        ``scan``. Columns project against the CURRENT table schema
        (older files null-fill evolved-in columns, as in ``scan``).
        """
        meta = self._read_meta()
        to_sid = to_snapshot or meta["current_snapshot_id"]
        chain = self._snapshot_chain(meta, from_snapshot, to_sid)
        bad = [
            s for s in chain
            if s["operation"] in ("overwrite", "delete", "merge")
        ]
        if bad:
            raise ValueError(
                f"incremental scan crosses non-append snapshots "
                f"{[s['id'] for s in bad]} "
                f"({sorted({s['operation'] for s in bad})}) at {self.path}"
            )
        added: list[dict] = []
        replaces_skipped = 0
        for s in chain:
            if s["operation"] == "replace":
                replaces_skipped += 1
                continue
            added.extend(self._added(s)[0])
        df, kept = self._read_files(
            spark, meta, added, filters=filters, columns=columns
        )
        report = IncrementalReport(
            from_snapshot=from_snapshot,
            to_snapshot=to_sid,
            appends=sum(1 for s in chain if s["operation"] == "append"),
            replaces_skipped=replaces_skipped,
            **_file_counts(added, kept),
        )
        return df, report

    def changelog_scan(
        self,
        spark: SparkSession,
        from_snapshot: str,
        to_snapshot: str | None = None,
    ) -> DataFrame:
        """Row-level change stream between two snapshots (Iceberg's
        ``create_changelog_view``): every table column plus

          * ``_change_type``      — 'insert' | 'delete'
          * ``_change_ordinal``   — position of the commit in the range
            (apply changes in ordinal order to replay history)
          * ``_commit_snapshot_id``

        Semantics per snapshot in ``(from, to]``:

          * ``append``  — its added files emit as 'insert' rows;
          * ``delete``  — emits the rows the equality delete actually
            removed: rows VISIBLE at the parent snapshot whose key tuple
            matches the delete's keys (a key deleted twice emits
            nothing the second time; a key with no matching rows emits
            nothing). Computing this requires a scan pinned at the
            parent snapshot — the inherent cost of equality-delete CDC;
          * ``merge`` (upsert) — emits both: the rows its equality
            delete scrubbed AND its new rows, at the same ordinal;
          * ``replace`` (compaction) — data-neutral, emits nothing;
          * ``overwrite`` — raises ValueError: a wholesale replacement
            has no row-level diff short of comparing both sides
            (Iceberg's changelog errors identically).

        Invariant (pinned by tests): applying the changes in ordinal
        order to ``scan(from)`` — union the inserts, multiset-subtract
        the deletes — reproduces ``scan(to)`` exactly.
        """
        meta = self._read_meta()
        to_sid = to_snapshot or meta["current_snapshot_id"]
        chain = self._snapshot_chain(meta, from_snapshot, to_sid)
        bad = [s for s in chain if s["operation"] == "overwrite"]
        if bad:
            raise ValueError(
                f"changelog cannot represent overwrite snapshots "
                f"{[s['id'] for s in bad]} at {self.path}"
            )
        schema = StructType.fromJson(meta["schema_json"])

        def _stamp(df: DataFrame, change: str, ordinal: int, sid: str):
            # every input is already projected to the table schema
            return df.select(
                *schema.fieldNames(),
                F.lit(change).alias("_change_type"),
                F.lit(ordinal).alias("_change_ordinal"),
                F.lit(sid).alias("_commit_snapshot_id"),
            )

        parts: list[DataFrame] = []
        for ordinal, s in enumerate(chain):
            op, sid = s["operation"], s["id"]
            if op == "replace":
                continue
            added, new_dels = self._added(s)
            # a `merge` (upsert) emits BOTH: the rows its equality delete
            # scrubbed and the rows its data files added, same ordinal
            if op in ("delete", "merge") and new_dels:
                key_cols = new_dels[0]["key_cols"]
                keys = (
                    spark.read.parquet(*[d["path"] for d in new_dels])
                    .select(*key_cols).dropDuplicates(key_cols)
                )
                visible, _ = self.scan(spark, snapshot_id=s["parent"])
                removed = visible.join(keys, on=key_cols, how="left_semi")
                parts.append(_stamp(removed, "delete", ordinal, sid))
            if op in ("append", "merge") and added:
                df, _ = self._read_files(spark, meta, added)
                parts.append(_stamp(df, "insert", ordinal, sid))
        if not parts:
            empty = spark.createDataFrame([], schema)
            return _stamp(empty, "insert", 0, to_sid).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


@dataclass
class IncrementalReport:
    from_snapshot: str
    to_snapshot: str
    appends: int
    replaces_skipped: int
    files_total: int
    files_kept: int
    records_total: int
    records_kept_bound: int

    @property
    def files_pruned(self) -> int:
        return self.files_total - self.files_kept


def _align_for_append(df: DataFrame, schema: StructType):
    """Null-fill table columns the append lacks; keep genuinely new
    columns (schema widens). Existing columns are CAST to the table's
    type — without the cast, an append with a drifted dtype (e.g. string
    ids into a long column) would commit fine and then poison every
    subsequent mergeSchema read of the table. Returns (aligned_df,
    new_schema)."""
    new_schema = _widened(schema, df.schema)
    return _project(df, new_schema, new_schema.fieldNames()), new_schema


#: summary keys icelite writes itself; any other key is a watermark stamp
_OWN_SUMMARY_KEYS = {
    "added_files", "added_records", "total_files", "total_records",
    "delete_files", "deleted_key_records", "upsert_keys", "rewritten_files",
}


def _stamps(summary: dict) -> dict:
    """A snapshot's watermark stamps, carried ones included."""
    own = {k: v for k, v in summary.items() if k not in _OWN_SUMMARY_KEYS}
    return {**own.pop("carried", {}), **own}


def _file_counts(entries: list[dict], kept: list[dict]) -> dict:
    """A scan report's file and record counts over ``entries``, of which
    pruning ``kept`` some."""
    return {
        "files_total": len(entries),
        "files_kept": len(kept),
        "records_total": sum(e["record_count"] for e in entries),
        "records_kept_bound": sum(e["record_count"] for e in kept),
    }


def _project(df: DataFrame, schema: StructType, cols: list[str]) -> DataFrame:
    """``cols`` of the table ``schema``, in that order, read from ``df``:
    each cast to the table's type, a column ``df`` lacks (evolved in
    after its files were written) as null; anything else in ``df`` —
    the hidden ``_p_*`` columns — drops out."""
    types = {f.name: f.dataType for f in schema.fields}
    return df.select(
        *[
            F.col(c).cast(types[c])
            if c in df.columns
            else F.lit(None).cast(types[c]).alias(c)
            for c in cols
        ]
    )


def _widened(schema: StructType, extra: StructType) -> StructType:
    """``schema`` plus the columns of ``extra`` it lacks, in order: how
    an append widens the table, and how a retried append or upsert keeps
    the winner's columns and adds its own."""
    names = set(schema.fieldNames())
    return StructType(
        schema.fields + [f for f in extra.fields if f.name not in names]
    )


def _apply_equality_deletes(
    spark: SparkSession,
    df: DataFrame,
    path_seq: dict[str, int],
    deletes: list[dict],
) -> DataFrame:
    """Apply equality-delete files to rows read from the data files in
    ``path_seq`` (path -> data sequence number). Iceberg's rule: a delete
    with sequence number D removes a row from a data file with sequence
    number S iff S <= D — so a key re-added AFTER a delete survives
    (upsert semantics). Because sequence numbers are monotone, the rule
    collapses to a per-key MAX delete seq: row deleted iff
    max_dseq(key) >= row's file seq. One broadcast of the O(files)
    path->seq dim plus one join per distinct key-column set — no
    per-file work, no driver loops; the delete side is a normal
    DataFrame, so AQE broadcasts it when it is small and shuffles when a
    regulator hands you a billion urls."""
    if not deletes:
        return df
    from collections import defaultdict

    # join on the data file's BASENAME: names are globally unique within
    # a table ({uuid-token}-{i}.parquet), and basenames sidestep
    # input_file_name()'s URI form (scheme prefix, percent-encoding of
    # special characters in ancestor directories). A row whose file is
    # somehow absent from the manifest map must FAIL the scan, never
    # default to a seq — defaulting low would over-apply deletes and
    # silently break the documented upsert semantics.
    pmap = spark.createDataFrame(
        [(os.path.basename(p), s) for p, s in path_seq.items()],
        "__fname string, __fseq long",
    )
    df = (
        df.withColumn(
            "__fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        .join(F.broadcast(pmap), "__fname", "left")
        # the raise_error lives INSIDE the column the filter consumes, so
        # column pruning cannot elide the check
        .withColumn(
            "__fseq",
            F.when(
                F.col("__fseq").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("icelite: data file not in manifest map: "),
                        F.col("__fname"),
                    )
                ).cast("long"),
            ).otherwise(F.col("__fseq")),
        )
    )
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for d in deletes:
        groups[tuple(d["key_cols"])].append(d)
    for key_cols, group in groups.items():
        dels = None
        for d in group:
            part = (
                spark.read.parquet(d["path"])
                .select(*key_cols)
                .withColumn("__dseq", F.lit(d.get("seq", 0)).cast("long"))
            )
            dels = part if dels is None else dels.unionByName(part)
        dels = dels.groupBy(*key_cols).agg(F.max("__dseq").alias("__dseq"))
        df = (
            df.join(dels, list(key_cols), "left")
            .where(F.col("__dseq").isNull() | (F.col("__dseq") < F.col("__fseq")))
            .drop("__dseq")
        )
    return df.drop("__fname", "__fseq")


# ------------------------------------------------- KG pipeline publishing


def publish_pipeline_tables(
    spark: SparkSession, output, root: str,
    target_files: int | None = None,
) -> dict[str, IceTable]:
    """Materialize a pipeline run's graph tables as icelite tables (the
    north-star "materialize nodes/edges tables to Iceberg"). First run
    creates; later runs OVERWRITE — each run is a snapshot, so yesterday's
    graph stays queryable by snapshot id. Nodes are bucketed by entity
    key and edges by subject so the hot read path (entity lookup,
    out-edge scan) prunes to one bucket's files; the write sort order on
    the same key keeps per-file key ranges tight WITHIN each bucket, so
    a point lookup prunes past the bucket to ~one file."""
    tables = {}
    for name, df, spec, order in (
        ("nodes", output.nodes, [bucket("node_id", 16)], ["node_id"]),
        ("edges", output.edges, [bucket("src", 16)], ["src"]),
        ("triples", output.triples, [bucket("subj", 16)], ["subj"]),
    ):
        path = os.path.join(root, name)
        if IceTable.exists(path):
            t = IceTable(path)
            t.overwrite(spark, df, target_files=target_files)
        else:
            t = IceTable.create(
                spark, path, df,
                partition_spec=spec, target_files=target_files,
                sort_order=order,
            )
        tables[name] = t
    return tables
