"""Shared pieces of a benchmark run: environment, cold Spark set-up, the
measurement loop, and the untraced run that yields the end-to-end record."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
MASTER = "local[4]"


def set_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the engine and these modules."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_GRAFT_CPUS": "4",
        "PYTHONPATH": os.pathsep.join([root, HERE, *old]),
        "PYSPARK_PYTHON": sys.executable,
    })


def cold_setup(work: str):
    """get_spark in a process with no JVM yet, then the first action that
    starts Python workers. Returns (spark, get_spark seconds, first-action
    seconds)."""
    from openmldb_spark import session
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, 64, numPartitions=4).mapInPandas(lambda it: it, "id long").collect()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin,
    a pipe from this process, closes)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_op(w, i: int) -> tuple[float, int, bool]:
    """One timed operation: (wall seconds, rows processed, failed)."""
    t0 = time.perf_counter()
    try:
        n, failed = w.run_once(i), False
    except Exception:                       # a failed op is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        n, failed = 0, True
    return time.perf_counter() - t0, n, failed


def measure(w, seconds: float, mem) -> tuple[list[float], list[tuple[float, int, bool]]]:
    """``w.warmup_ops`` cold operations, then operations until ``seconds``
    have passed and at least ``w.min_ops`` ran, each closing a ``mem``
    window. Returns the warm-up walls and the measured operations; a
    failed warm-up operation is reported as a failed measured one."""
    warm = [run_op(w, i) for i in range(w.warmup_ops)]
    ops = [op for op in warm if op[2]]
    mem.mark()
    mem.windows.clear()
    end = time.perf_counter() + seconds
    while len(ops) < w.min_ops or time.perf_counter() < end:
        ops.append(run_op(w, len(warm) + len(ops)))
        mem.mark()
    return [t for t, _, _ in warm], ops


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))]


def outcome(ops: list[tuple[float, int, bool]], wrong: int) -> dict:
    """The record's correct/attempted/failed fields; a wrong output counts
    as a failed operation."""
    bad = sum(f for _, _, f in ops) + wrong
    return {"correct": bad == 0, "attempted": len(ops), "failed": bad}


def run(W, data: str, work: str, seed: int, seconds: float) -> dict:
    """Untraced run: the end-to-end metrics."""
    import check
    import procmem

    spark, a, b = cold_setup(work)
    try:
        w = W(spark, data, work, seed)
        w.prepare()
        with procmem.PeakRss(spark._jvm.ProcessHandle.current().pid()) as mem:
            warm, ops = measure(w, seconds, mem)
    finally:
        stop(spark)
    rec = outcome(ops, check.check(w))
    rates = [n / t for t, n, f in ops if not f]
    lat_ms = [t * 1000 for t, _, _ in ops]
    metrics = {
        "setup_s": (a + b, "s"),
        "rows_per_s": (statistics.median(rates) if rates else 0.0, "rows/s"),
        "request_p50_ms": (statistics.median(lat_ms), "ms"),
        "peak_rss_mb": (statistics.median(mem.windows) / 2**20, "MB"),
    }
    summary = {k: round(v, 4) for k, (v, _) in metrics.items()}
    summary.update(workload=W.name, op=W.unit, warmup_ms=[round(t * 1000, 1) for t in warm],
                   op_ms=[round(x, 1) for x in lat_ms],
                   op_peak_rss_mb=[round(x / 2**20, 1) for x in mem.windows],
                   jvm_peak_rss_mb=round(mem.jvm / 2**20, 1),
                   python_peak_rss_mb=round(mem.python / 2**20, 1),
                   request_p90_ms=round(pct(lat_ms, 0.9), 4),
                   error_rate=rec["failed"] / rec["attempted"])
    print("summary " + json.dumps(summary))
    rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return rec
