"""Host-side probes for the traced run: process CPU and memory from
``/proc``, layer spans, and the Spark event log.

JVM executor CPU time excludes the CPU of the Python workers that run
the Arrow UDFs, so Python-worker CPU is sampled from ``/proc`` around
each layer. Spark task metrics come from the event log: every layer
call runs under ``sc.setJobDescription(<layer>)`` and the log's
``SparkListenerTaskEnd`` records are grouped by that description.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (the JVM's Python daemon and
    workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU of ``pids`` including their reaped children."""
    ticks = 0
    for p in pids:
        st = _stat(p)
        if st:
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) over ``pids``, in MiB."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


class Tracer:
    """Records one wall span and the Python-worker CPU per layer call,
    and tags the Spark jobs the call runs with the layer name."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: dict[str, float] = {}
        self.py_cpu: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str, tag: str):
        """Span ``name`` (a metric name); Spark jobs are tagged ``tag``."""
        self.sc.setJobDescription(tag)
        cpu0 = tree_cpu_s(descendants(self.jvm_pid))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(descendants(self.jvm_pid)) - cpu0
            self.sc.setJobDescription(None)
            self.spans[name] = self.spans.get(name, 0.0) + wall
            self.py_cpu[name] = self.py_cpu.get(name, 0.0) + cpu


def _metric(m: dict, *path, default=0):
    for k in path:
        if not isinstance(m, dict) or k not in m:
            return default
        m = m[k]
    return m


def spark_layers(event_dir: str, layers: list[str], n_ops: int) -> dict[str, float]:
    """Per-layer task metrics, per traced op, from the event log(s) in
    ``event_dir``: task run time, executor CPU, GC, shuffle read/write
    bytes, spill bytes, task count, failed tasks, and task skew (the
    largest max/median task run time over the layer's stages)."""
    stage_tag: dict[int, str] = {}
    tasks: dict[str, list[tuple]] = {name: [] for name in layers}
    paths = sorted(
        p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line or '"SparkListenerStageSubmitted"' in line:
                    ev = json.loads(line)
                    tag = (ev.get("Properties") or {}).get("spark.job.description")
                    if tag not in tasks:
                        continue
                    ids = ev.get("Stage IDs") or [_metric(ev, "Stage Info", "Stage ID", default=-1)]
                    for sid in ids:
                        stage_tag.setdefault(sid, tag)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    tag = stage_tag.get(ev.get("Stage ID"))
                    if tag is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    failed = bool(_metric(ev, "Task Info", "Failed", default=False))
                    tasks[tag].append(
                        (
                            ev["Stage ID"],
                            _metric(m, "Executor Run Time") / 1e3,
                            _metric(m, "Executor CPU Time") / 1e9,
                            _metric(m, "JVM GC Time") / 1e3,
                            _metric(m, "Shuffle Read Metrics", "Remote Bytes Read")
                            + _metric(m, "Shuffle Read Metrics", "Local Bytes Read"),
                            _metric(m, "Shuffle Write Metrics", "Shuffle Bytes Written"),
                            _metric(m, "Memory Bytes Spilled") + _metric(m, "Disk Bytes Spilled"),
                            failed,
                        )
                    )
    out: dict[str, float] = {}
    n = max(1, n_ops)
    for name in layers:
        rows = tasks[name]
        by_stage: dict[int, list[float]] = {}
        for r in rows:
            by_stage.setdefault(r[0], []).append(r[1])
        skew = max(
            (
                max(v) / statistics.median(v)
                for v in by_stage.values()
                if len(v) > 1 and statistics.median(v) > 0
            ),
            default=1.0,
        )
        out.update(
            {
                f"spark.{name}.task_s": sum(r[1] for r in rows) / n,
                f"spark.{name}.cpu_s": sum(r[2] for r in rows) / n,
                f"spark.{name}.gc_s": sum(r[3] for r in rows) / n,
                f"spark.{name}.shuffle_read_bytes": sum(r[4] for r in rows) / n,
                f"spark.{name}.shuffle_write_bytes": sum(r[5] for r in rows) / n,
                f"spark.{name}.spill_bytes": sum(r[6] for r in rows) / n,
                f"spark.{name}.task_skew": skew,
                f"spark.{name}.tasks": len(rows) / n,
                f"spark.{name}.failed_tasks": sum(1 for r in rows if r[7]) / n,
            }
        )
    return out
