"""The traced run: spans around every call into a layer's public function,
folded together with the metrics Spark itself records.

Tracing is done from outside the engine. ``Tracer.install`` replaces each
layer function named in ``WRAP`` — in its own module and wherever another
engine module imported it by name — with a wrapper that opens a span. A
span records name, start, end, parent and run id, and carries its own
Spark job group, so each job maps to the innermost span that launched it.
Spans stay in memory and are written out at the end.

After the run, two stores Spark keeps anyway are read, keyed by job group:
the SQL status store (per-node SQL metrics of each executed plan, with the
AQE query stages already unfolded into the final plan graph) and the app
status store (stage and task metrics).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import statistics
import sys
import time

from py4j.protocol import Py4JJavaError

import harness

# (module, attribute, span name). "Class.method" patches a method; the
# pyspark reader/writer/DataFrame classes are taken from live objects.
WRAP = [
    ("openmldb_spark.jobs.runner", "CheckpointedPipeline.run", "runner.run"),
    ("openmldb_spark.operators.sessionize", "sessionize", "sessionize"),
    ("openmldb_spark.operators.window", "window_agg", "window"),
    ("openmldb_spark.operators.lastjoin", "asof_join_kernel", "asof"),
    ("openmldb_spark.operators.request", "request_features", "request.features"),
    ("openmldb_spark.sources.procedure", "execute_deployment_rows", "request.build"),
    ("openmldb_spark.sqlfe", "run_sql_request", "sqlfe.run_sql_request"),
    ("openmldb_spark.sqlfe", "run_sql", "sqlfe.run_sql"),
    ("openmldb_spark.sqlfe", "compile_window_sql", "sqlfe.compile"),
    ("openmldb_spark.pipeline.dedup", "minhash_lsh_pairs", "lsh"),
    ("openmldb_spark.pipeline.cluster", "connected_components", "cc"),
    ("openmldb_spark.pipeline.cluster", "dedup_clusters", "dedup"),
]
SPARK_WRAP = [("reader", "parquet", "scan"), ("writer", "parquet", "write"),
              ("frame", "collect", "collect")]


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple] = []
        probe = spark.range(1)
        self._spark_classes = {"reader": type(spark.read), "writer": type(probe.write),
                               "frame": type(probe)}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "group": f"{self.run_id}-{len(self.spans)}",
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]
        w = self._wrap(orig, name)
        setattr(owner, attr, w)
        self._undo.append((owner, attr, orig))
        if isinstance(owner, type):
            return
        # rebind `from module import fn` copies in the engine's modules
        for mname, mod in list(sys.modules.items()):
            if mname.startswith("openmldb_spark") and mod is not owner:
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, w)
                        self._undo.append((mod, k, orig))

    def install(self) -> None:
        for mname, attr, name in WRAP:
            mod = importlib.import_module(mname)
            owner = mod
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(mod, cls)
            self._patch(owner, attr, name)
        for key, attr, name in SPARK_WRAP:
            self._patch(self._spark_classes[key], attr, name)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# --------------------------------------------------------- Spark's stores

_UNIT = {"": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(KiB|MiB|GiB|TiB|B|ms|s|m|h)?\b")


def parse_metric(text: str) -> tuple[float, list[float]]:
    """A SQL metric as the status store renders it, in bytes / ms / count:
    (total, [min, med, max] over tasks, when given)."""
    body = text.split("\n", 1)[-1].split("(stage", 1)[0]
    nums = [float(n.replace(",", "")) * _UNIT[u] for n, u in _NUM.findall(body)]
    return nums[0], nums[1:4]


def _seq(jvm, scala_coll):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)


class SparkStores:
    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.sc = spark.sparkContext
        self.jsc = spark.sparkContext._jsc.sc()

    def wait_idle(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def execution_ids(self) -> set[int]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        return {int(e.executionId()) for e in _seq(self.jvm, store.executionsList())}

    def execution(self, eid: int) -> dict:
        """Nodes (name, metrics as rendered) and child->parent edges of one
        SQL execution's final plan graph, plus its job ids."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        data = store.execution(eid).get()
        values = dict(_seq(self.jvm, store.executionMetrics(eid)))
        graph = store.planGraph(eid)
        nodes = {}
        for n in _seq(self.jvm, graph.allNodes()):
            ms = {}
            for m in _seq(self.jvm, n.metrics()):
                v = values.get(m.accumulatorId())
                if v is not None:
                    ms[m.name()] = v
            nodes[int(n.id())] = {"name": n.name(), "metrics": ms}
        edges = [(int(e.fromId()), int(e.toId())) for e in _seq(self.jvm, graph.edges())]
        jobs = {int(j) for j in _seq(self.jvm, data.jobs().keys().toSeq())}
        return {"id": eid, "jobs": jobs, "nodes": nodes, "edges": edges}

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids) -> list[dict]:
        store = self.jsc.statusStore()
        no_q = self.sc._gateway.new_array(self.jvm.double, 0)
        out, seen = [], set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = _seq(self.jvm, store.stageData(
                        sid, False, self.jvm.java.util.ArrayList(), False, no_q))
                except Py4JJavaError:       # skipped stage: never ran, no data
                    continue
                for s in attempts:
                    out.append({
                        "stage": sid, "status": s.status().toString(),
                        "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                        "failed": s.numFailedTasks(),
                        "run_ms": s.executorRunTime(),
                        "cpu_ms": s.executorCpuTime() / 1e6,
                        "input_bytes": s.inputBytes(), "input_rows": s.inputRecords(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "fetch_wait_ms": s.shuffleFetchWaitTime(),
                        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    })
        return out


# ------------------------------------------------------------ aggregation

def _nodes(execs, pred):
    for e in execs:
        for nid, n in e["nodes"].items():
            if pred(n["name"]):
                yield e, nid, n


def node_total(execs, pred, metric: str) -> float:
    return sum(parse_metric(n["metrics"][metric])[0]
               for _, _, n in _nodes(execs, pred) if metric in n["metrics"])


def kernel_rows_in(execs, kernel: str) -> float:
    """Rows shuffled into each ``kernel`` node: the 'shuffle records
    written' of the first Exchange below it in the plan graph."""
    total = 0.0
    for e, nid, _ in _nodes(execs, _is(kernel)):
        children: dict[int, list[int]] = {}
        for src, dst in e["edges"]:
            children.setdefault(dst, []).append(src)
        todo = list(children.get(nid, []))
        while todo:
            c = todo.pop()
            node = e["nodes"][c]
            if node["name"] == "Exchange" and "shuffle records written" in node["metrics"]:
                total += parse_metric(node["metrics"]["shuffle records written"])[0]
            else:
                todo.extend(children.get(c, []))
    return total


def task_skew(execs, kernel: str, metric: str) -> float:
    """Largest max/median task ratio of ``metric`` over ``kernel`` nodes."""
    worst = 0.0
    for _, _, n in _nodes(execs, _is(kernel)):
        if metric in n["metrics"]:
            _, dist = parse_metric(n["metrics"][metric])
            if len(dist) == 3 and dist[1] > 0:
                worst = max(worst, dist[2] / dist[1])
    return worst


# ------------------------------------------------------------------ run

# Per-layer metrics in the printed record: those every listed workload
# exercises. Layer metrics of a single workload are in the trace report.
RECORD = {
    "session.start_s": "s", "session.python_boot_ms": "ms",
    "session.python_init_ms": "ms",
    "scan.rows": "count", "scan.bytes": "bytes", "scan.ms": "ms",
    "exchange.nodes": "count", "exchange.bytes": "bytes", "exchange.write_ms": "ms",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.core_busy_frac": "ratio",
    "window.python_ms": "ms", "window.python_bytes_sent": "bytes",
    "window.python_bytes_recv": "bytes", "window.rows_in_per_input_row": "ratio",
    "window.task_max_over_median": "ratio",
    "jvm.peak_rss_mb": "MB", "python.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def run(W, data: str, work: str, seed: int, seconds: float, out_root: str) -> dict:
    """Warm-up, then untraced and traced operations alternately; reports
    the per-layer metrics of the traced ones, per operation."""
    import check
    import procmem

    run_id = f"{W.name}-s{seed}-{os.getpid()}"
    spark, start_s, first_py_s = harness.cold_setup(work)
    st = SparkStores(spark)
    try:
        st.wait_idle()
        setup_execs = [st.execution(i) for i in sorted(st.execution_ids())]
        w = W(spark, data, work, seed)
        w.prepare()
        st.wait_idle()
        before = st.execution_ids()
        tracer = Tracer(spark, run_id)
        k = w.warmup_ops
        for i in range(k):
            harness.run_op(w, i)                   # warm-up, not reported
        plain, traced_ops, tops = [], [], []
        end = time.perf_counter() + seconds
        with procmem.PeakRss(spark._jvm.ProcessHandle.current().pid()) as mem:
            while len(traced_ops) < w.min_ops or time.perf_counter() < end:
                plain.append(harness.run_op(w, k + 2 * len(plain)))
                tracer.install()
                try:
                    with tracer.span("op") as top:
                        top["op"] = k + 1 + 2 * len(traced_ops)
                        traced_ops.append(harness.run_op(w, top["op"]))
                finally:
                    tracer.uninstall()
                tops.append(top)
        st.wait_idle()
        span_jobs = {s["group"]: st.jobs(s["group"]) for s in tracer.spans}
        traced_jobs = {j for js in span_jobs.values() for j in js}
        execs = [e for e in (st.execution(i) for i in sorted(st.execution_ids() - before))
                 if e["jobs"] & traced_jobs]
        stages = st.stages(sorted(traced_jobs))
    finally:
        harness.stop(spark)
    wrong = check.check(w)
    rec = harness.outcome([*plain, *traced_ops], wrong)

    n = len(traced_ops)
    wall_ms = sum(t for t, _, _ in traced_ops) * 1e3
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    m: dict[str, tuple] = {}
    n_a: dict[str, str] = {}

    def put(name, value, unit, base):
        m[name] = (value, unit, base)

    def node_layer(node: str, metrics: list[tuple], exact: bool = True):
        """Per-operation totals of SQL metrics on ``node``; n/a when no
        such node ran in this workload."""
        pred = _is(node) if exact else _starts(node)
        if not any(_nodes(execs, pred)):
            for name, *_ in metrics:
                n_a[name] = f"no {node.strip()} node in this workload's plans"
            return False
        for name, metric, unit, note in metrics:
            put(name, node_total(execs, pred, metric) / n, unit, per_op + note)
        return True

    per_op = f"per operation (mean of {n} traced {W.unit} operations)"
    put("session.start_s", start_s, "s", "cold get_spark, once per run")
    put("session.python_boot_ms", node_total(setup_execs, _is("MapInPandas"), "time to start Python workers"),
        "ms", "first Python-worker action, summed over its tasks")
    put("session.python_init_ms", node_total(setup_execs, _is("MapInPandas"), "time to initialize Python workers"),
        "ms", "first Python-worker action, summed over its tasks")
    put("session.first_python_action_s", first_py_s, "s", "wall of the first Python-worker action")
    tasks = ", summed over tasks"
    node_layer("Scan parquet", [("scan.rows", "number of output rows", "count", ""),
                                ("scan.bytes", "size of files read", "bytes", ""),
                                ("scan.ms", "scan time", "ms", tasks)], exact=False)
    ins = "Execute InsertIntoHadoopFsRelationCommand"
    if node_layer(ins, [("write.rows", "number of output rows", "count", ""),
                        ("write.bytes", "written output", "bytes", "")]):
        put("write.ms", (node_total(execs, _is(ins), "task commit time")
                         + node_total(execs, _is(ins), "job commit time")) / n, "ms",
            per_op + "; task + job commit time of the insert command")
    else:
        n_a["write.ms"] = n_a["write.rows"]
    if node_layer("Exchange", [("exchange.bytes", "shuffle bytes written", "bytes", ""),
                               ("exchange.write_ms", "shuffle write time", "ms", tasks),
                               ("exchange.fetch_wait_ms", "fetch wait time", "ms", tasks)]):
        put("exchange.nodes", sum(1 for _ in _nodes(execs, _is("Exchange"))) / n, "count", per_op)
    node_layer("Sort", [("sort.ms", "sort time", "ms", tasks),
                        ("sort.spill_bytes", "spill size", "bytes", "")])
    put("spark.jobs", len(traced_jobs) / n, "count", per_op)
    put("spark.tasks", sum(s["tasks"] for s in ran) / n, "count", per_op)
    put("spark.tasks_failed", sum(s["failed"] for s in ran) / n, "count", per_op)
    put("spark.executor_run_ms", sum(s["run_ms"] for s in ran) / n, "ms", per_op)
    put("spark.executor_cpu_ms", sum(s["cpu_ms"] for s in ran) / n, "ms", per_op)
    put("spark.core_busy_frac", sum(s["run_ms"] for s in ran) / (wall_ms * 4), "ratio",
        "executor run time / (traced wall time x 4 cores)")
    kernel = "FlatMapGroupsInPandas"
    if node_layer(kernel, [
            ("window.python_ms", "time to run Python workers", "ms", tasks),
            ("window.python_bytes_sent", "data sent to Python workers", "bytes", ""),
            ("window.python_bytes_recv", "data returned from Python workers", "bytes", "")]):
        calls = sum(s["name"] == "window" for s in tracer.spans)
        put("window.rows_in_per_input_row",
            kernel_rows_in(execs, kernel) / (calls * w.window_input_rows), "ratio",
            "rows shuffled into window kernels / (window_agg calls x rows of the "
            "primary input of one call)")
        put("window.task_max_over_median",
            task_skew(execs, kernel, "time to run Python workers"), "ratio",
            "slowest / median task Python time, worst window kernel node")
    else:
        n_a["window.rows_in_per_input_row"] = n_a["window.python_ms"]
        n_a["window.task_max_over_median"] = n_a["window.python_ms"]
    node_layer("FlatMapCoGroupsInPandas", [
        ("asof.python_ms", "time to run Python workers", "ms", tasks),
        ("asof.python_bytes_sent", "data sent to Python workers", "bytes", "")])
    put("jvm.peak_rss_mb", mem.jvm / 2**20, "MB", "traced phase")
    put("python.peak_rss_mb", mem.python / 2**20, "MB", "Python workers, traced phase")
    t_med = statistics.median(t for t, _, _ in traced_ops)
    p_med = statistics.median(t for t, _, _ in plain)
    put("trace.overhead_frac", t_med / p_med - 1, "ratio",
        f"median traced / median untraced {W.unit} operation wall - 1 "
        f"({n} traced, {len(plain)} untraced)")
    n_a.update(w.layer_metrics(tracer.spans, tops, span_jobs, put))

    report = {
        "workload": W.name, "seed": seed, "run_id": run_id,
        "ops": {"untraced": len(plain), "traced": n},
        "metrics": {k: {"value": v, "unit": u, "base": b} for k, (v, u, b) in m.items()},
        "not_measured": n_a,
        "spans": tracer.spans,
        "executions": [{"id": e["id"], "jobs": sorted(e["jobs"]),
                        "nodes": e["nodes"], "edges": e["edges"]} for e in execs],
        "stages": stages,
    }
    os.makedirs(out_root, exist_ok=True)
    with open(os.path.join(out_root, f"trace-{W.name}-s{seed}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    for k, (v, u, b) in m.items():
        print(f"layer {k} = {v:.6g} {u}  [{b}]")
    for k, why in n_a.items():
        print(f"layer {k} = n/a  [{why}]")
    rec["metrics"] = {k: {"value": m[k][0] if k in m else 0.0, "unit": u}
                      for k, u in RECORD.items()}
    return rec


def _is(name):
    return lambda s: s == name


def _starts(prefix):
    return lambda s: s.startswith(prefix)
