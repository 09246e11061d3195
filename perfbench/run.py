"""Benchmark runner for the spark-kg engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. One client drives the engine's
public functions in-process on ``local[<nproc>]`` with one op in flight
at a time (closed loop). A run:

1. generates every input from ``--seed`` with a process pool and digests
   it with the pure-Python oracle (untimed, not part of ``setup_s``);
2. starts the Spark session and runs the workload's set-up plus a fixed
   number of full-size warm-up ops (``setup_s``);
3. with ``--trace 0``, times ops until ``--seconds`` have passed and
   reports the end-to-end metrics; with ``--trace 1``, alternates an
   untimed-path op and a traced op, with the Spark event log on, and
   reports the per-layer metrics.

Every op is checked against the oracle, the untimed ones (bootstrap
build, warm-up) too; an op that raises or fails its check counts as
failed and the run reports ``correct: false``. The last line of stdout
is the JSON result; the line before it describes the host and the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import EXTRA_SPANS, LAYER_METRICS, SPARK_LAYERS, WORKLOADS  # noqa: E402

#: full-size untimed ops after set-up (kept fixed so setup_s compares)
WARMUP_OPS = 1
#: driver heap (local mode: driver and executors share it). G1 fills a
#: heap this small on every run, so the JVM's peak RSS and the op walls
#: repeat; with 2g the heap grew by different amounts per run (JVM peak
#: RSS 0.85-1.37 GB, kg_build op walls split into two groups).
DRIVER_MEM = "1g"
#: a run stops starting ops this long after it began (exit within 180 s)
RUN_DEADLINE_S = 140.0

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "bytes_per_item": "B",
    "peak_rss_mb": "MiB",
    "ok_ops_frac": "frac",
}
KERNEL_DOCS = 100


def host_facts() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "loadavg": os.getloadavg(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def pin_environment(root: str, work: str, nproc: int) -> None:
    """Session settings from this host, through the variables
    ``ner_app_spark.session`` reads; every file Spark writes stays under
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # glibc's per-thread malloc arenas made the JVM's native footprint
    # differ by up to 0.35 GB between identical runs; two arenas keep
    # peak RSS repeatable
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def kernel_metrics(seed: int) -> dict:
    """Driver-side, single-thread cost of the per-doc kernels the
    extract stage runs, over the workload's first docs (median of three
    passes, first pass warms the analyzer's caches)."""
    from ner_app_spark import oracle
    from ner_app_spark.functions.text import extract_text
    from ner_app_spark.synth import synth_page

    pages = []
    i = 0
    while len(pages) < KERNEL_DOCS:
        p = synth_page(i, seed)
        i += 1
        if p["lang"] == "ru" and extract_text(p["html"]):
            pages.append(p)
    walls: dict[str, list[float]] = {"extract_text": [], "analyze": [], "triples": []}
    for _ in range(3):
        t0 = time.perf_counter()
        texts = [extract_text(p["html"]) for p in pages]
        t1 = time.perf_counter()
        found = [oracle.analyze(t) for t in texts]
        t2 = time.perf_counter()
        for p, f in zip(pages, found):
            oracle.triples_for_doc(p["url"], f)
        t3 = time.perf_counter()
        walls["extract_text"].append(t1 - t0)
        walls["analyze"].append(t2 - t1)
        walls["triples"].append(t3 - t2)
    return {
        f"kernel.{k}_us_per_doc": statistics.median(v) / len(pages) * 1e6
        for k, v in (
            ("analyze", walls["analyze"]),
            ("triples", walls["triples"]),
            ("extract_text", walls["extract_text"]),
        )
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    from pyspark import SparkContext
    from tracing import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)


def run(args, root: str, work: str) -> tuple[dict, dict]:
    import inputs
    from tracing import Tracer, descendants, spark_layers, vm_hwm_mb

    t_start = time.monotonic()
    facts = host_facts()
    nproc = facts["nproc"]
    pin_environment(root, work, nproc)
    cls = WORKLOADS[args.workload]
    inputs_dir = os.path.join(work, "inputs")
    digests = inputs.build(args.seed, cls.groups(), inputs_dir, workers=nproc)

    from ner_app_spark import session
    from pyspark import SparkContext

    # the pipeline's scratch spills go to the run's work dir, not /dev/shm
    session.scratch_base = lambda: work
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_GRAFT_LOCAL_DIR"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = session.get_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = SparkContext._gateway.proc.pid
    detail: dict = {"workload": args.workload, "seed": args.seed, "host": facts}
    try:
        wl = cls(spark, work, inputs_dir, digests, n_parts=2 * nproc)
        failures: list[str] = []
        # the bootstrap build (if the workload has one) and the warm-up
        # ops are checked like timed ops and count in attempted/failed
        boot = wl.setup()
        warm = [boot] if boot is not None else []
        for k in range(WARMUP_OPS):
            warm.append(_checked(lambda: wl.op(k), f"warm-up op {k}", failures))
        setup_s = time.perf_counter() - t0
        detail["warmup_s"] = [w.wall_s if w else None for w in warm]

        k = WARMUP_OPS
        timed, traced = [], []
        tracer = Tracer(spark, jvm_pid)
        t_loop = time.monotonic()
        ticks0 = cpu_ticks()
        while True:
            for traced_now in ([False, True] if args.trace else [False]):
                op = (lambda: wl.traced_op(k, tracer)) if traced_now else (lambda: wl.op(k))
                r = _checked(op, f"op {k}", failures)
                k += 1
                (traced if traced_now else timed).append(r)
            out_of_time = (
                time.monotonic() - t_loop >= args.seconds
                or time.monotonic() - t_start > RUN_DEADLINE_S
            )
            out_of_inputs = wl.max_ops is not None and k + (1 + args.trace) > wl.max_ops
            if out_of_time or out_of_inputs:
                break
        ticks1 = cpu_ticks()
        # CPU the hypervisor gave to other guests while ops ran: a loud
        # window on a shared host shows here, not in the program
        facts["steal_frac_timed"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        facts["loadavg_end"] = os.getloadavg()
        workers = descendants(jvm_pid)
        detail["rss_mb"] = {"jvm": vm_hwm_mb([jvm_pid]), "python_workers": vm_hwm_mb(workers)}
        rss = vm_hwm_mb([jvm_pid, *workers])
    finally:
        stop_spark(spark)

    ops = warm + timed + traced
    attempted = len(ops)
    failed = sum(1 for r in ops if r is None or not r.ok)
    # an op whose check failed still ran: its wall is reported, and the
    # run is marked incorrect
    done = [r for r in timed if r is not None]
    if not done:
        raise RuntimeError(f"no op completed: {failures[:1]}")
    detail.update(
        {
            "setup_s": setup_s,
            "op_walls_s": [r.wall_s if r else None for r in timed],
            "failures": failures[:5],
            "layer_errors": sorted({e for r in traced if r for e in r.layer_errors}),
        }
    )
    if not args.trace:
        walls = [r.wall_s for r in done]
        items = sum(r.items for r in done)
        metrics = {
            "setup_s": setup_s,
            "items_per_s": items / sum(walls),
            "op_p50_s": statistics.median(walls),
            "bytes_per_item": sum(r.bytes_written for r in done) / max(1, items),
            "peak_rss_mb": rss,
            "ok_ops_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END
    else:
        ok_traced = [r for r in traced if r is not None and r.ok]
        n = max(1, len(ok_traced))
        metrics = {name: 0.0 for name in LAYER_METRICS}
        for r in ok_traced:
            for name, v in r.layers.items():
                metrics[name] += v / n
        for name, v in tracer.spans.items():
            metrics[name] = v / n
        metrics["extract.python_cpu_s"] = tracer.py_cpu.get("extract.wall_s", 0.0) / n
        metrics.update(kernel_metrics(args.seed))
        metrics.update(spark_layers(event_dir, SPARK_LAYERS, len(traced)))
        untraced = statistics.median([r.wall_s for r in done])
        traced_wall = statistics.median([r.wall_s for r in ok_traced]) if ok_traced else 0.0
        layer_sum = sum(
            v for name, v in tracer.spans.items() if not name.startswith(EXTRA_SPANS)
        ) / n
        metrics.update(
            {
                "trace.untraced_op_s": untraced,
                "trace.traced_op_s": traced_wall,
                "trace.layer_sum_s": layer_sum,
                "trace.residual_s": untraced - layer_sum,
                "trace.overhead_s": traced_wall - untraced,
            }
        )
        units = None
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(v), "unit": (units or {}).get(name) or _unit(name)}
            for name, v in metrics.items()
        },
    }
    return detail, result


def _checked(op, label: str, failures: list[str]):
    """Run one op; an exception or a failed check is noted in
    ``failures``. Returns the OpResult, or None if the op raised."""
    try:
        r = op()
    except Exception:
        traceback.print_exc()
        failures.append(f"{label}: {traceback.format_exc(limit=1).strip()}")
        return None
    if not r.ok:
        failures.append(f"{label}: {r.why}")
    return r


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us_per_doc"):
        return "us"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("_ratio", "_skew")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ner_app_spark", "plans", "pipeline.py")):
        print("perfbench: run from the root of a checkout that holds ner_app_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        detail, result = run(args, root, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
