"""The benchmark workloads. Each prepares once, then ``run_once`` runs one
operation: a whole parquet-to-parquet job, or one request.

Only ``run_once`` is timed. ``prepare`` (registering history, creating the
deployment) and the output check (check.py) are not. Every engine call
goes through a module attribute (``window.window_agg``, not a name bound at
import), so the traced run, which replaces those attributes, sees each call.
``layer_metrics`` derives a workload's own per-layer metrics from the spans
of a traced run.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from gen import Params

KEY = ["conv_id", "turn_idx"]
MIN = 60_000

# Sizes for a 4-core host (DESIGN.md explains the choice).
BACKFILL = Params(n_turns=16_000, sizes="geometric", mean_len=40, ts_mode="unique")
SKEW = Params(n_turns=20_000, sizes="zipf", n_convs=300, ts_mode="minute")
NEAR_DUP = Params(n_docs=20_000, dup_frac=0.1)

# near-dup: banded MinHash over 3-token shingles, as in q_dedup_clusters
LSH = dict(bands=4, rows_per_band=2, shingle_k=3, threshold=0.4)
SKEW_BUCKET_MS = 60 * MIN


def _input_groups(path: str, bucket_ms: int | None = None,
                  depth_ms: int = 0) -> tuple[int, int]:
    """(groups, rows of the largest group) a window over conv_id sees,
    from the generated input. With ``bucket_ms`` a group is one time bucket
    of a conversation plus the frame-depth rows replicated into it, as
    window_agg's bucket_ms path builds them."""
    t = pq.ParquetDataset(path).read(columns=["conv_id", "ts_ms"]).to_pandas()
    if bucket_ms is None:
        sizes = t.groupby("conv_id").size()
        return len(sizes), int(sizes.max())
    b = t.ts_ms // bucket_ms
    own = t.assign(b=b)
    shifts = max(1, -(-depth_ms // bucket_ms))
    reps = [own]
    for s in range(1, shifts + 1):
        keep = t.ts_ms >= (b + s) * bucket_ms - depth_ms
        reps.append(t[keep].assign(b=b[keep] + s))
    sizes = np.concatenate([r[["conv_id", "b"]].to_numpy() for r in reps])
    groups = {}
    for c, bb in sizes:
        groups[(c, bb)] = groups.get((c, bb), 0) + 1
    return len(groups), max(groups.values())


def _op_spans(spans: list[dict], top: dict) -> list[dict]:
    """Spans opened inside one traced operation, in start order."""
    ids, out = {top["id"]}, []
    for s in spans:                      # parents precede children
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _jobs(spans: list[dict], name: str, span_jobs: dict) -> int:
    """Jobs launched inside every span called ``name`` (children included)."""
    ids = {s["id"] for s in spans if s["name"] == name}
    for s in spans:
        if s["parent"] in ids:
            ids.add(s["id"])
    return sum(len(span_jobs[s["group"]]) for s in spans if s["id"] in ids)


def _wall(s: dict) -> float:
    return s["end"] - s["start"]


class Workload:
    name = ""
    params: Params
    unit = "rows"          # what one run_once processes
    warmup_ops = 2         # untimed operations before measuring
    min_ops = 3            # a run measures at least this many operations
    input_table = "transcripts"

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.seed = seed
        self.input_rows = pq.ParquetDataset(self.path(self.input_table)).read(
            columns=[]).num_rows
        self.window_input_rows = self.input_rows
        self.outputs: list[str] = []

    def path(self, table: str) -> str:
        return os.path.join(self.data, f"{table}.parquet")

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"out-{i:04d}")

    def prepare(self) -> None:
        pass

    def run_once(self, i: int) -> int:
        raise NotImplementedError

    def layer_metrics(self, spans, tops, span_jobs, put) -> dict:
        """Add this workload's own layer metrics with ``put(name, value,
        unit, base)``; return {metric: reason} for those not measured."""
        return {}


def _backfill_specs():
    from openmldb_spark.plans.specs import Agg, SessionizeSpec, WindowSpec
    sess = SessionizeSpec(partition_by=["conv_id"], order_by="ts_ms", gap_ms="5m")
    win = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                     frame="rows_range", preceding="30m", tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_30m"),
            Agg("count", "value", "cnt_30m"),
            Agg("min", "value", "min_30m"),
            Agg("max", "value", "max_30m"),
            Agg("lag", "value", "prev_value", param=1),
            Agg("top_n_frequency", "tool", "top_tools", param=2)]
    return sess, win, aggs


class Backfill(Workload):
    """jobs/backfill.py's stage graph through CheckpointedPipeline, reading
    the generated parquet directly (that job's two stages that synthesize
    and copy the input have no counterpart here):
    sessions -> window_features -> features."""
    name = "backfill"
    params = BACKFILL

    def __init__(self, *a):
        super().__init__(*a)
        self.ledgers: dict[int, list[dict]] = {}

    def run_once(self, i: int) -> int:
        from openmldb_spark.jobs import runner
        from openmldb_spark.operators import lastjoin, sessionize, window
        sess, win, aggs = _backfill_specs()
        ckpt = self.out_dir(i)
        t_path, u_path = self.path("transcripts"), self.path("updates")
        pipe = runner.CheckpointedPipeline(self.spark, ckpt)
        pipe.stage("sessions",
                   lambda spark: sessionize.sessionize(spark.read.parquet(t_path), sess),
                   params=repr(sess))
        pipe.stage("window_features",
                   lambda spark, s: window.window_agg(
                       s, win, aggs,
                       keep_cols=[*KEY, "ts_ms", "role", "session_id"],
                       tier="kernel"),
                   deps=["sessions"], params=f"{win!r}/{aggs!r}")
        pipe.stage("features",
                   lambda spark, w: lastjoin.asof_join_kernel(
                       w, spark.read.parquet(u_path).select(
                           "conv_id", "ts_ms", "cfg", "weight"),
                       on=["conv_id"], left_ts="ts_ms", right_ts="ts_ms",
                       right_cols=["cfg", "weight"]),
                   deps=["window_features"])
        pipe.run("features")
        self.ledgers[i] = pipe.metrics()
        self.outputs.append(f"{ckpt}/features/data.parquet")
        return self.input_rows

    def layer_metrics(self, spans, tops, span_jobs, put) -> dict:
        done = [(t, self.ledgers[t["op"]]) for t in tops if t["op"] in self.ledgers]
        ledgers = [lg for _, lg in done]
        n = len(done)
        base = f"mean of {n} traced jobs; the runner ledger's duration_sec"
        by_stage = {st: statistics.fmean(
            next(x["duration_sec"] for x in lg if x["stage"] == st) for lg in ledgers)
            for st in ("sessions", "window_features", "features")}
        for st, v in by_stage.items():
            put(f"runner.{st}_s", v, "s", base)
        put("sessionize.s", by_stage["sessions"], "s",
            "= runner.sessions_s: the stage runs sessionize alone")
        put("window.s", by_stage["window_features"], "s",
            "= runner.window_features_s: the stage runs window_agg alone")
        put("asof.s", by_stage["features"], "s",
            "= runner.features_s: the stage runs asof_join_kernel alone")
        put("runner.ckpt_bytes", statistics.fmean(sum(x["bytes"] for x in lg) for lg in ledgers),
            "bytes", f"mean of {n} traced jobs, checkpoint parquet of all stages")
        over = []
        for top, lg in done:
            runs = [s for s in _op_spans(spans, top) if s["name"] == "runner.run"]
            over.append(_wall(runs[0]) - sum(x["duration_sec"] for x in lg))
        put("runner.overhead_s", statistics.fmean(over), "s",
            "outermost CheckpointedPipeline.run span wall minus the ledger's stage time")
        groups, largest = _input_groups(self.path("transcripts"))
        put("window.groups", groups, "count", "from the generated input: conversations")
        put("window.largest_group_rows", largest, "count",
            "from the generated input: turns of the largest conversation")
        return {}


def _skew_specs():
    from openmldb_spark.plans.specs import Agg, WindowSpec
    w30 = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                     frame="rows_range", preceding="30m", tiebreak=("turn_idx",))
    w5x = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                     frame="rows_range", preceding="5m",
                     exclude_current_time=True, tiebreak=("turn_idx",))
    return [
        (w30, [Agg("sum", "value", "sum_30m"), Agg("count", "value", "cnt_30m"),
               Agg("max", "value", "max_30m")], "bucket"),
        (w5x, [Agg("sum", "value", "sum_x5m"), Agg("count", "value", "cnt_x5m")],
         "plain"),
        (w30, [Agg("sum", "value", "sum_u30m"), Agg("count", "value", "cnt_u30m")],
         "union"),
    ]


class SkewBackfill(Workload):
    """Three windows over Zipf-sized, minute-truncated conversations — the
    bucket_ms skew path, EXCLUDE CURRENT_TIME, and a WINDOW UNION of the
    updates table — joined and written once, without the runner."""
    name = "skew_backfill"
    params = SKEW

    def run_once(self, i: int) -> int:
        import pyspark.sql.functions as F
        from openmldb_spark.operators import window
        spark = self.spark
        t = spark.read.parquet(self.path("transcripts")).select(*KEY, "ts_ms", "value")
        u = spark.read.parquet(self.path("updates")).select(
            "conv_id", "ts_ms", F.col("weight").alias("value"))
        outs = [window.window_agg(
                    t, spec, aggs, keep_cols=KEY, tier="kernel",
                    bucket_ms=SKEW_BUCKET_MS if mode == "bucket" else None,
                    union=[u] if mode == "union" else None)
                for spec, aggs, mode in _skew_specs()]
        out = outs[0].join(outs[1], KEY).join(outs[2], KEY)
        path = os.path.join(self.out_dir(i), "features.parquet")
        out.write.parquet(path)
        self.outputs.append(path)
        return self.input_rows

    def layer_metrics(self, spans, tops, span_jobs, put) -> dict:
        t = self.path("transcripts")
        plain_groups, plain_largest = _input_groups(t)
        b_groups, b_largest = _input_groups(t, SKEW_BUCKET_MS, 30 * MIN)
        put("window.groups", plain_groups + b_groups + plain_groups, "count",
            "from the generated input: groups over the three window_agg calls "
            "(conversations, conversation x 1h bucket, conversations)")
        put("window.largest_group_rows", plain_largest, "count",
            "from the generated input: the largest conversation (plain and union "
            f"windows); the bucket_ms window's largest group has {b_largest} rows")
        return {"window.s": "no stage boundary between the three windows, the joins "
                            "and the single write; see window.python_ms"}


WINDOW_SQL = """SELECT conv_id, turn_idx, sum(value) OVER w AS sum_v,
        count(value) OVER w AS cnt_v, min(value) OVER w AS min_v
 FROM {0}
 WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
              ROWS_RANGE BETWEEN 30m PRECEDING AND CURRENT ROW)"""
DEPLOY_SQL = f"""DEPLOY feat SELECT * FROM
({WINDOW_SQL.replace("{0}", "hist")}) AS out0
LAST JOIN
(SELECT conv_id AS conv_id_r, value * 2 AS dbl_v FROM hist) AS out1
ON out0.conv_id = out1.conv_id_r;"""


class Serve(Workload):
    """Closed loop, one client: each request is one new row for a seeded
    conversation, timestamped after that conversation's history, sent
    through execute_deployment_rows and collected."""
    name = "serve"
    params = BACKFILL
    unit = "requests"
    warmup_ops = 3         # request latency still falls over the first few
    min_ops = 6

    def prepare(self) -> None:
        from openmldb_spark.sources import deploy
        hist = self.spark.read.parquet(self.path("transcripts")).select(
            *KEY, "ts_ms", "value")
        self.tables = {"hist": hist}
        self.deployments: dict = {}
        deploy.create_deployment(self.spark, DEPLOY_SQL, self.tables, self.deployments)
        self._last = pq.ParquetDataset(self.path("transcripts")).read(
            columns=["conv_id", "turn_idx", "ts_ms"]).to_pandas() \
            .groupby("conv_id").agg(turn=("turn_idx", "max"), ts=("ts_ms", "max"))
        self._rng = np.random.default_rng([self.seed, 7])
        self.window_input_rows = 1
        self.requests: list[tuple] = []
        self.results: list[dict | None] = []

    def next_request(self) -> list:
        rng = self._rng
        j = int(rng.integers(0, len(self._last)))
        row = self._last.iloc[j]
        # up to 20 min after the conversation's last turn, so the 30m frame
        # still holds history for most requests
        ts = int(row.ts) + int(rng.integers(1_000, 20 * MIN))
        return [self._last.index[j], int(row.turn) + 1, ts,
                int(rng.integers(0, 100_000)) / 100.0]

    def run_once(self, i: int) -> int:
        from openmldb_spark.sources import procedure
        req = self.next_request()
        rows = procedure.execute_deployment_rows(
            self.spark, "feat", self.deployments, self.tables, [req]).collect()
        self.requests.append(tuple(req))
        self.results.append(rows[0].asDict() if len(rows) == 1 else None)
        return 1

    def layer_metrics(self, spans, tops, span_jobs, put) -> dict:
        n = len(tops)
        per = [_op_spans(spans, t) for t in tops]
        base = f"median of {n} traced requests"
        put("request.build_ms", statistics.median(
            _wall(s) * 1e3 for ss in per for s in ss if s["name"] == "request.build"),
            "ms", base + "; execute_deployment_rows until it returns the DataFrame")
        put("request.collect_ms", statistics.median(
            _wall(s) * 1e3 for ss in per for s in ss if s["name"] == "collect"),
            "ms", base + "; collect() of the feature row")
        put("request.spark_jobs", statistics.fmean(
            sum(len(span_jobs[s["group"]]) for s in [t, *ss]) for t, ss in zip(tops, per)),
            "count", f"mean of {n} traced requests; jobs of all spans of a request")
        from openmldb_spark import sqlfe
        compile_ms = []
        for _ in range(50):
            t0 = time.perf_counter()
            sqlfe.compile_window_sql(WINDOW_SQL)
            compile_ms.append((time.perf_counter() - t0) * 1e3)
        put("sqlfe.compile_ms", statistics.median(compile_ms), "ms",
            "median of 50 standalone compile_window_sql calls on the deployment's "
            "window query")
        put("sqlfe.compiles_per_request", statistics.fmean(
            sum(s["name"] == "sqlfe.compile" for s in ss) for ss in per), "count",
            f"mean of {n} traced requests")
        return {}


class NearDup(Workload):
    """minhash_lsh_pairs -> pairs parquet -> dedup_clusters -> clusters
    parquet over generated documents with near-copies."""
    name = "near_dup"
    params = NEAR_DUP
    input_table = "docs"

    def run_once(self, i: int) -> int:
        from openmldb_spark.pipeline import cluster, dedup
        spark = self.spark
        out = self.out_dir(i)
        docs = spark.read.parquet(self.path("docs"))
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id",
                                        materialize="parquet", **LSH)
        pairs.write.parquet(f"{out}/pairs.parquet")
        clusters = cluster.dedup_clusters(docs, spark.read.parquet(f"{out}/pairs.parquet"))
        clusters.write.parquet(f"{out}/clusters.parquet")
        self.outputs.append(out)
        return self.input_rows

    def layer_metrics(self, spans, tops, span_jobs, put) -> dict:
        n = len(tops)
        lsh, cc, jobs = [], [], []
        for t in tops:
            ss = _op_spans(spans, t)
            writes = [s for s in ss if s["name"] == "write" and s["parent"] == t["id"]]
            first = {s["name"]: s for s in reversed(ss)}
            # lsh: the call (signatures written eagerly) + the pairs write;
            # cc: dedup_clusters (CC rounds run eagerly) + the clusters write
            lsh.append(_wall(first["lsh"]) + _wall(writes[0]))
            cc.append(_wall(first["dedup"]) + _wall(writes[1]))
            jobs.append(_jobs(ss, "cc", span_jobs))
        base = f"mean of {n} traced runs"
        put("lsh.s", statistics.fmean(lsh), "s", base + "; minhash_lsh_pairs + pairs write")
        put("cc.s", statistics.fmean(cc), "s", base + "; dedup_clusters + clusters write")
        put("cc.spark_jobs", statistics.fmean(jobs), "count",
            base + "; jobs launched inside connected_components (proxy for CC rounds)")
        out = self.outputs[-1]
        put("lsh.pairs", pq.ParquetDataset(f"{out}/pairs.parquet").read(
            columns=[]).num_rows, "count", "pairs in the last run's output")
        put("dedup.clusters", len(set(pq.ParquetDataset(f"{out}/clusters.parquet").read(
            columns=["component"]).column(0).to_pylist())), "count",
            "distinct components in the last run's output")
        return {}


WORKLOADS = {w.name: w for w in (Backfill, SkewBackfill, Serve, NearDup)}
