"""Request-mode analog: point-in-time features for anchor rows must equal
the batch backfill's features at the same (conv_id, ts) — the
batch/online consistency guarantee (SURVEY.md §3.2)."""

import pandas as pd
import pyspark.sql.functions as F

from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.operators.request import request_features
from openmldb_spark.operators.window import window_agg
from openmldb_spark.plans.explain import PYTHON_NODES
from openmldb_spark.transcripts import transcripts_df

KEY = ["conv_id", "turn_idx"]
SPEC = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                  frame="rows_range", preceding="30m",
                  tiebreak=("turn_idx",))
AGGS = [Agg("sum", "value", "s"), Agg("count", "value", "c"),
        Agg("lag", "value", "l1", param=1)]


def test_request_equals_backfill(spark, sf_dir):
    t = transcripts_df(spark, sf_dir)
    backfill = window_agg(t, SPEC, AGGS, keep_cols=KEY,
                          tier="kernel").toPandas()

    # one request per conversation (serving evaluates requests against
    # stored history; fellow in-flight requests are not in storage, so
    # request==backfill only holds when the rest of the frame IS stored)
    req = t.where(F.col("turn_idx") == 40)
    hist = t.join(req.select(*KEY), KEY, "left_anti")

    served = request_features(req, hist, SPEC, AGGS,
                              keep_cols=KEY).toPandas()
    assert len(served) == req.count()

    merged = served.merge(backfill, on=KEY, suffixes=("", "_b"))
    assert len(merged) == len(served)
    for c in ["s", "c", "l1"]:
        a, b = merged[c], merged[f"{c}_b"]
        ok = (a.isna() & b.isna()) | ((a - b).abs() < 1e-9)
        assert ok.all(), merged[~ok].head()


def test_requests_do_not_see_each_other(spark):
    rows = [("c", i, 1_000_000 + i * 1000, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts_ms", "value"])
    # two requests in one batch at turns 5 and 6
    req = df.where(F.col("turn_idx").isin(5, 6))
    hist = df.where(~F.col("turn_idx").isin(5, 6))
    out = {r.turn_idx: (r.s, r.c) for r in request_features(
        req, hist, SPEC, AGGS, keep_cols=KEY).collect()}
    # turn 6's frame: history turns 0-4,7.. (<= ts6) + itself — but NOT
    # the other request (turn 5)
    assert out[6] == (0 + 1 + 2 + 3 + 4 + 6.0, 6)
    assert out[5] == (0 + 1 + 2 + 3 + 4 + 5.0, 6)


def test_request_history_pruning_preserves_results(spark, sf_dir):
    t = transcripts_df(spark, sf_dir)
    req = t.where(F.col("turn_idx") == 20)
    hist = t.where(F.col("turn_idx") != 20)
    a = request_features(req, hist, SPEC, AGGS, keep_cols=KEY,
                         prune_history=True).toPandas().sort_values(KEY)
    b = request_features(req, hist, SPEC, AGGS, keep_cols=KEY,
                         prune_history=False).toPandas().sort_values(KEY)
    pd.testing.assert_frame_equal(a.reset_index(drop=True),
                                  b.reset_index(drop=True))


def test_rows_merge_frame_not_starved_by_time_pruning(spark):
    """rows_merge_rows_range keeps a rows_preceding floor that admits
    history OLDER than the time depth — pruning must not starve it
    (pruned and unpruned paths must agree)."""
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_merge_rows_range", preceding="1h",
                      rows_preceding=5, tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "s"), Agg("count", "value", "c")]
    # history ends 3h before the request ts — outside the 1h time depth
    base = 1_000_000_000
    hist = spark.createDataFrame(
        [("c", i, base + i * 1000, float(i + 1)) for i in range(6)],
        ["conv_id", "turn_idx", "ts_ms", "value"])
    req = spark.createDataFrame(
        [("c", 99, base + 3 * 3_600_000, 100.0)],
        ["conv_id", "turn_idx", "ts_ms", "value"])
    pruned = request_features(req, hist, spec, aggs, keep_cols=KEY,
                              prune_history=True).collect()
    full = request_features(req, hist, spec, aggs, keep_cols=KEY,
                            prune_history=False).collect()
    assert [(r.s, r.c) for r in pruned] == [(r.s, r.c) for r in full]
    assert full[0].c > 1    # the rows floor DID admit old history


def test_prune_path_accepts_case_insensitive_order_col(spark):
    """window_agg resolves TS == ts case-insensitively; the pruning
    pre-pass must accept the same specs instead of raising."""
    import dataclasses
    spec = dataclasses.replace(SPEC, order_by="TS_MS")
    rows = [("c", i, 1_000_000 + i * 1000, float(i)) for i in range(8)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts_ms", "value"])
    req = df.where(F.col("turn_idx") == 7)
    hist = df.where(F.col("turn_idx") != 7)
    out = request_features(req, hist, spec,
                           [Agg("count", "value", "c")],
                           keep_cols=KEY, prune_history=True).collect()
    assert len(out) == 1 and out[0].c == 8


# -- request rows built from Python values (sources/procedure.py) ---------

REQ_DDL = ("create table rq (c1 string, c3 int, c4 bigint, c6 double, "
           "c7 timestamp, c8 date)")
REQ_SQL = """SELECT c1, c3, c7, c8, sum(c6) OVER w AS s6, sum(c4) OVER w AS s4,
       count(c3) OVER w AS n3, min(c8) OVER w AS d8
 FROM rq
 WINDOW w AS (PARTITION BY c1 ORDER BY c7
              ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW)"""
# two requests for key a (the rid keeps each request's own LAST JOIN row),
# NULL values, and a row for a key with no history
REQ_ROWS = [
    ["a", 5, 50, 1.5, 1_590_738_990_000, "2020-05-29"],
    ["a", 6, None, None, 1_590_738_995_000, "2020-05-30"],
    ["b", None, 7, 2.25, 1_590_738_991_000, None],
    ["z", 1, 1, 1.0, 1_590_738_992_000, "2020-01-01"],
]


def _req_tables(spark, tmp_path):
    """The stored table as parquet, so only the request rows can be a
    local relation in the plan."""
    import datetime
    from openmldb_spark.sources.ddl import create_table
    name, empty = create_table(spark, REQ_DDL)
    utc = datetime.timezone.utc
    rows = [(k, i, i * 10, i / 2, datetime.datetime.fromtimestamp(
                (1_590_738_000_000 + i * 60_000) / 1000, utc),
             datetime.date(2020, 5, 1 + i))
            for k in ("a", "b") for i in range(10)]
    path = str(tmp_path / "rq")
    spark.createDataFrame(rows, empty.schema).write.parquet(path)
    return {name: spark.read.parquet(path)}


def _list_request(spark, schema, rows):
    """The request rows as PySpark's list path builds them (a LogicalRDD,
    pinned by run_sql_request's checkpoint): the reference path."""
    import datetime
    utc = datetime.timezone.utc
    conv = []
    for r in rows:
        r = list(r)
        if r[4] is not None:
            r[4] = datetime.datetime.fromtimestamp(r[4] / 1000, utc)
        if r[5] is not None:
            r[5] = datetime.date.fromisoformat(r[5])
        conv.append(tuple(r))
    return spark.createDataFrame(conv, schema)


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_deployment_rows_match_list_built_request(spark, tmp_path):
    from openmldb_spark.sources.deploy import create_deployment
    from openmldb_spark.sources.procedure import execute_deployment_rows
    from openmldb_spark.sqlfe import run_sql_request
    tables = _req_tables(spark, tmp_path)
    sql = (f"SELECT * FROM ({REQ_SQL}) AS o0 LAST JOIN "
           "(SELECT c1 AS k, c3 * 2 AS d3 FROM rq) AS o1 ON o0.c1 = o1.k")
    deps = {}
    create_deployment(spark, f"DEPLOY d1 {sql};", tables, deps)
    got = execute_deployment_rows(spark, "d1", deps, tables, REQ_ROWS)
    want = run_sql_request(spark, sql, tables, _list_request(
        spark, tables["rq"].schema, REQ_ROWS), "rq")
    assert got.columns == want.columns
    rows = _sorted(got)
    assert rows == _sorted(want)
    # each of the two key-a requests joined its own row: d3 = 2 * c3
    assert sorted((r[1], r[-1]) for r in rows if r[0] == "a") == \
        [(5, 10), (6, 12)]


def test_procedure_common_cols_match_list_built_request(spark, tmp_path):
    # only key a is requested: key b's stored rows form a window group
    # with no request row, whose min(date) column is empty
    from openmldb_spark.sources.procedure import (create_procedure,
                                                  execute_procedure)
    from openmldb_spark.sqlfe import run_sql_request
    tables = _req_tables(spark, tmp_path)
    procs = {}
    create_procedure(
        spark, "create procedure sp (const c1 string, c3 int, c4 bigint, "
        f"c6 double, c7 timestamp, c8 date) begin {REQ_SQL}; end;",
        tables, procs)
    per_row = [r[1:] for r in REQ_ROWS[:2]]
    got = execute_procedure(spark, "sp", procs, tables, per_row,
                            common_cols=["a"])
    want = run_sql_request(spark, REQ_SQL, tables, _list_request(
        spark, tables["rq"].schema, REQ_ROWS[:2]), "rq")
    assert _sorted(got) == _sorted(want)


def test_request_timestamps_keep_epoch_ms(spark, tmp_path):
    """Wire timestamps are epoch ms; the session is UTC and the local
    relation stores the same instant."""
    from openmldb_spark.sources.deploy import create_deployment
    from openmldb_spark.sources.procedure import execute_deployment_rows
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    tables = _req_tables(spark, tmp_path)
    deps = {}
    create_deployment(spark, "DEPLOY d2 SELECT c1, c7, c8 FROM rq;",
                      tables, deps)
    out = execute_deployment_rows(spark, "d2", deps, tables, REQ_ROWS[:1])
    r = out.select(F.unix_millis("c7").alias("ms"),
                   F.col("c8").cast("string").alias("d")).collect()
    assert [tuple(x) for x in r] == [(1_590_738_990_000, "2020-05-29")]


def test_deployment_request_starts_no_job_before_collect(spark, tmp_path):
    """Building a request runs nothing: no checkpoint job pins the
    request rows or the window's primary. The rows plan as a
    LocalTableScan, not an RDD scan, and no Python worker runs."""
    from conftest import executed_plan
    from openmldb_spark.sources.deploy import create_deployment
    from openmldb_spark.sources.procedure import execute_deployment_rows
    tables = _req_tables(spark, tmp_path)
    sql = ("SELECT c1, sum(c6) OVER w AS s6, count(c3) OVER w AS n3, "
           "min(c6) OVER w AS m6 FROM rq WINDOW w AS (PARTITION BY c1 "
           "ORDER BY c7 ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW)")
    deps = {}
    create_deployment(spark, f"DEPLOY d3 {sql};", tables, deps)
    sc = spark.sparkContext
    group = "request-no-job-guard"
    sc.setJobGroup(group, group)
    try:
        out = execute_deployment_rows(spark, "d3", deps, tables, REQ_ROWS)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    plan = executed_plan(out)
    assert "LocalTableScan" in plan
    for node in ("Scan ExistingRDD", "LogicalRDD", *PYTHON_NODES):
        assert node not in plan, node
    assert len(out.collect()) == len(REQ_ROWS)
