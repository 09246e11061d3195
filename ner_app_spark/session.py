"""SparkSession factory with scale-oriented defaults.

Defaults target the sandbox (local[N], single JVM) but every knob is the
one you would set on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (all Python
boundaries are vectorized batches), UTC session timezone (the reference
stores UTC, /root/reference/src/database/models.py:10-11; display-tz
conversion is a presentation concern, config.py:17).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Arrow batch size governs mapInPandas batch shape: big enough to
    # amortize per-batch Python overhead, small enough to bound memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.ui.enabled": "false",
    # Task-memory page size: the default scales with heap (~28 MB pages
    # at 24g/32 cores) and every hash-agg/sort task zeroes whole pages —
    # measured 6-8x slowdown from allocation churn with many concurrent
    # tasks on small-to-mid partitions. 4 MB keeps allocation
    # proportional to actual data.
    "spark.buffer.pageSize": "4m",
    # Parquet sink codec: zstd writes ~41% fewer bytes than snappy for
    # the fused KG table at equal-or-better wall (interleaved min-of-3 at
    # local[32], 20k pages: snappy 13.7s/72.7MB, zstd 11.8s/42.8MB, lz4
    # 10.3s/71.0MB, uncompressed 11.3s/338.7MB). Bytes are the scaling
    # currency: the local sink is DRAM-backed tmpfs and a real warehouse
    # is NIC+object-store bound, so the smallest stream that doesn't cost
    # wall wins; zstd is also the common Iceberg table default.
    "spark.sql.parquet.compression.codec": "zstd",
}


def cpu_count() -> int:
    """Local-mode task slots: ``SPARK_GRAFT_CPUS`` if set, else the CPUs
    this process may run on."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    n = int(raw) if raw else len(os.sched_getaffinity(0))
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be >= 1, got {raw!r}")
    return n


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    half of physical RAM, capped at 24g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 24 << 30) >> 20}m"


def local_df(spark: SparkSession, rows: list, schema: str):
    """Small driver-local dimension table -> DataFrame as a VALUES
    LocalRelation (``LocalTableScan`` in the physical plan).

    ``createDataFrame(list_of_rows)`` plans a Python-RDD scan: every
    action re-runs ``defaultParallelism`` Python worker tasks just to
    re-serialize a few hundred rows — measured ~1-6 s per broadcast
    rebuild at local[32], the dominant cost of small-dim joins. The
    pandas/Arrow route used in rounds 1-4 materializes JVM-side but
    still executes through an RDD scan: measured 0.35 s per action
    (1.07 s with the coalesce(1) it needed to avoid 32-task
    scheduling). Rendering the literals into ``SELECT CAST(..) FROM
    VALUES`` instead gives Catalyst a LocalTableScan — no RDD, no
    Python workers, ~0.05 s per re-execution, and the dim inlines into
    broadcast plans the way a literal dimension should. Falls back to
    the Arrow path for empty inputs and non-scalar field types."""
    rows = list(rows)
    fields = _schema_fields(schema)
    if rows and all(_VALUES_TYPES.get(t.lower()) for _, t in fields):
        try:
            return _local_values_df(spark, rows, fields)
        except _UnrenderableLiteral:
            pass
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=[n for n, _ in fields])
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


class _UnrenderableLiteral(Exception):
    """A value the SQL-literal renderer can't express (falls back to Arrow)."""


#: DDL scalar type (lowered) -> SQL cast target for the VALUES renderer.
_VALUES_TYPES = {
    "string": "STRING",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INT",
    "integer": "INT",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "binary": "BINARY",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP_NTZ",
    "date": "DATE",
}


def _sql_literal(v, ddl_type: str) -> str:
    """Render one Python value as a Spark SQL literal of ``ddl_type``.
    Strings escape backslash and quote (Spark's default string parser
    processes C-style escapes, unlike DuckDB's — same portability note
    as operators/pii.py); bytes render as X'hex'; datetimes as their
    ISO text form (cast applies the type)."""
    if v is None:
        return "NULL"
    t = ddl_type.lower()
    if t == "string":
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    if t in ("long", "bigint", "int", "integer", "smallint"):
        return str(int(v))
    if t in ("double", "float"):
        import math

        f = float(v)
        if not math.isfinite(f):
            raise _UnrenderableLiteral(repr(v))
        return repr(f)
    if t == "boolean":
        return "true" if v else "false"
    if t == "binary":
        return "X'" + bytes(v).hex() + "'"
    if t in ("timestamp", "timestamp_ntz"):
        return "'" + v.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    if t == "date":
        return "'" + v.isoformat() + "'"
    raise _UnrenderableLiteral(t)


def _local_values_df(spark: SparkSession, rows: list, fields: list):
    names = [n for n, _ in fields]
    types = [t for _, t in fields]
    seqs = (
        [r[n] for n in names] if isinstance(r, dict) else r for r in rows
    )
    body = ",".join(
        "(" + ",".join(_sql_literal(v, t) for v, t in zip(r, types)) + ")"
        for r in seqs
    )
    cols = ",".join(
        f"CAST(c{i} AS {_VALUES_TYPES[t.lower()]}) AS `{name}`"
        for i, (name, t) in enumerate(fields)
    )
    anon = ",".join(f"c{i}" for i in range(len(fields)))
    return spark.sql(f"SELECT {cols} FROM VALUES {body} AS t({anon})")


def _schema_fields(schema: str) -> list[tuple[str, str]]:
    """(name, type) pairs from a DDL schema string, splitting on
    TOP-LEVEL commas only — ``decimal(18,4)`` / ``map<k,v>`` / struct
    types contain commas that a naive split would break on."""
    fields: list[tuple[str, str]] = []
    depth = 0
    field: list[str] = []
    for ch in schema + ",":
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts = "".join(field).strip().split(None, 1)
            fields.append((parts[0], parts[1] if len(parts) > 1 else ""))
            field = []
            continue
        field.append(ch)
    return fields


def _free_gib(path: str) -> float:
    try:
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize / 2**30
    except OSError:
        return 0.0


def scratch_base() -> str:
    """Base dir for scratch parquet spills: tmpfs when it has >= 8 GiB
    free (same gate as the shuffle-dir rule below — /tmp is a slow virtio
    disk on this host), else /tmp. Shared by plans.pipeline and bench
    (round-3 ADVICE #3: one helper, not three copies). The 8 GiB gate is
    a point-in-time check, not a reservation — callers spilling unbounded
    data should prefer an explicit workdir."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    if _free_gib(base) < 8.0:
        base = "/tmp"
    return base


def get_session(
    app_name: str = "ner-app-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpu_count()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.driver.memory"] = driver_memory()
    # local-mode shuffle files on tmpfs: /tmp sits on a slow virtio disk
    # here, and shuffle-block mmap/write syscalls serialize under many
    # task threads (measured: anti-scaling local[8] -> local[32]). On a
    # real cluster this is the executors' fast local SSD, not a conf.
    # Gated on free space (>= 8 GiB) so a large spill never competes with
    # executor heap for host RAM (round-1 ADVICE) — falls back to the
    # default local dir otherwise; SPARK_GRAFT_LOCAL_DIR overrides.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    parent = os.path.dirname(shm) or "/"
    if os.path.isdir(parent) and _free_gib(parent) >= 8.0:
        os.makedirs(shm, exist_ok=True)
        conf.setdefault("spark.local.dir", shm)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf["spark.default.parallelism"] = str(cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
