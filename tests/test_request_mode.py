"""Request-mode analog: point-in-time features for anchor rows must equal
the batch backfill's features at the same (conv_id, ts) — the
batch/online consistency guarantee (SURVEY.md §3.2)."""

import re

import pandas as pd
import pyspark.sql.functions as F
import pytest

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


@pytest.mark.parametrize("typ", ["tinyint", "decimal(10,2)"])
def test_deployment_rows_reject_unsupported_main_column_type(spark, typ):
    from openmldb_spark.sources.procedure import (ProcedureError,
                                                  execute_deployment_rows)
    tables = {"tu": spark.createDataFrame([], "k string, n int")}
    deps = _deploy(spark, tables, "SELECT k FROM tu")
    # the table is re-created under the deployment with a column type a
    # request row cannot carry
    tables["tu"] = spark.createDataFrame([], f"k string, n {typ}")
    with pytest.raises(ProcedureError,
                       match=rf"column 'n' of table 'tu' .*type "
                             rf"{re.escape(typ)}"):
        execute_deployment_rows(spark, "d", deps, tables, [["a", 1]])


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


# -- prepared request plans (sqlfe.run_sql_request templates) --------------

# a 1-row request builds the template; then two rows for key a plus a NULL
# key, and a NULL ts, NULL values and a key with no history
BATCHES = [
    [REQ_ROWS[0], REQ_ROWS[1], [None, 7, 70, 7.5, 1_590_738_993_000,
                                "2020-06-01"]],
    [["b", 8, 80, 8.5, None, "2020-06-02"], REQ_ROWS[2], REQ_ROWS[3]],
]
UNION_W = ("UNION (SELECT * FROM rq2) PARTITION BY c1 ORDER BY c7 "
           "ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW")
PREPARED_SQL = {
    "window_union":
        "SELECT c1, c3, c7, c8, sum(c6) OVER w AS s6, "
        "distinct_count(c3) OVER w AS d3, lag(c4, 1) OVER w AS l4 "
        f"FROM rq WINDOW w AS ({UNION_W})",
    "instance_not_in_window":
        "SELECT c1, c3, sum(c6) OVER w AS s6, count(c3) OVER w AS n3 "
        "FROM rq WINDOW w AS (UNION (SELECT * FROM rq2) PARTITION BY c1 "
        "ORDER BY c7 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW "
        "INSTANCE_NOT_IN_WINDOW)",
    "last_join_order_by":
        "SELECT rq.c1, rq.c3, rq.c8, rq2.c4 AS r4, rq2.c7 AS r7 FROM rq "
        "LAST JOIN rq2 ORDER BY rq2.c7 "
        "ON rq.c1 = rq2.c1 AND rq2.c7 <= rq.c7",
    "window_last_join":
        f"SELECT * FROM ({REQ_SQL}) AS o0 LAST JOIN "
        "(SELECT c1 AS k, c3 * 2 AS d3 FROM rq) AS o1 ON o0.c1 = o1.k",
}


def _prep_tables(spark, tmp_path):
    tables = _req_tables(spark, tmp_path)
    tables["rq2"] = tables["rq"].where("c3 % 2 = 0")
    return tables


def _fresh(tables):
    """The same stored frames under new identities: no template matches
    them, so run_sql_request lowers the statement again."""
    from pyspark.sql import DataFrame
    return {k: DataFrame(v._jdf, v.sparkSession) for k, v in tables.items()}


@pytest.fixture()
def lowerings(monkeypatch):
    """The statements run_sql_request lowered (template or not)."""
    from openmldb_spark import sqlfe
    seen, lower = [], sqlfe._lower_request

    def counted(spark, sql, *rest):
        seen.append(sql)
        return lower(spark, sql, *rest)
    monkeypatch.setattr(sqlfe, "_lower_request", counted)
    return seen


def _templated(sql) -> bool:
    from openmldb_spark import sqlfe
    return any(key[1] == sql for key in sqlfe._TEMPLATES)


def _deploy(spark, tables, body, name="d"):
    from openmldb_spark.sources.deploy import create_deployment
    deps = {}
    create_deployment(spark, f"DEPLOY {name} {body};", tables, deps)
    return deps


def _serve(spark, deps, tables, rows, name="d"):
    from openmldb_spark.sources.procedure import execute_deployment_rows
    return execute_deployment_rows(spark, name, deps, tables, rows)


@pytest.mark.parametrize("stmt", sorted(PREPARED_SQL))
def test_rebound_request_matches_fresh_build(spark, tmp_path, lowerings,
                                             stmt):
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, PREPARED_SQL[stmt])
    _serve(spark, deps, tables, REQ_ROWS[:1]).collect()
    assert len(lowerings) == 1
    for batch in BATCHES:
        got = _serve(spark, deps, tables, batch)
        want = _serve(spark, deps, _fresh(tables), batch)
        assert got.schema == want.schema
        rows = _sorted(got)
        assert rows and rows == _sorted(want)
    # the template served both batches; each fresh build lowered once
    assert len(lowerings) == 1 + len(BATCHES)


def test_rebound_procedure_with_const_common_cols(spark, tmp_path,
                                                  lowerings):
    from openmldb_spark.sources.procedure import (create_procedure,
                                                  execute_procedure)
    tables = _prep_tables(spark, tmp_path)
    procs = {}
    create_procedure(
        spark, "create procedure sp (const c1 string, c3 int, c4 bigint, "
        f"c6 double, c7 timestamp, c8 date) begin {REQ_SQL}; end;",
        tables, procs)
    execute_procedure(spark, "sp", procs, tables, [REQ_ROWS[0][1:]],
                      common_cols=["a"]).collect()
    calls = [(["a"], [r[1:] for r in REQ_ROWS[:2]]),
             (["b"], [REQ_ROWS[2][1:], [9, 9, 9.0, None, "2020-06-03"],
                      [2, 2, 2.5, 1_590_738_100_000, None]])]
    for common, rows in calls:
        got = execute_procedure(spark, "sp", procs, tables, rows,
                                common_cols=common)
        want = execute_procedure(spark, "sp", procs, _fresh(tables), rows,
                                 common_cols=common)
        assert _sorted(got) == _sorted(want)
        assert {r[0] for r in _sorted(got)} == set(common)
    assert len(lowerings) == 1 + len(calls)


def test_rebound_dbapi_requests(spark, lowerings):
    from openmldb_spark.dbapi import connect
    cur = connect("db_prepared", spark=spark).cursor()
    cur.execute("create database if not exists db_prepared;")
    cur.execute("create table t_prep (x string, y int, ts bigint);")
    cur.executemany("insert into t_prep values(?, ?, ?);",
                    [("a", 1, 1000), ("a", 2, 2000), ("b", 5, 1500)])
    sql = ("select x, sum(y) over w as s from t_prep window w as "
           "(partition by x order by ts "
           "rows between 2 preceding and current row);")
    assert cur.executeRequest(
        sql, {"x": "b", "y": 7, "ts": 9000}).fetchall() == [("b", 12)]
    assert cur.executeRequest(
        sql, {"x": "a", "y": 10, "ts": 3000}).fetchall() == [("a", 13)]
    assert sorted(cur.batch_row_request(
        sql, [], [{"x": "a", "y": 10, "ts": 3000},
                  {"x": "b", "y": 7, "ts": 9000},
                  {"x": None, "y": 3, "ts": 10}]).fetchall(), key=repr) == \
        sorted([("a", 13), ("b", 12), (None, 3)], key=repr)
    assert len(lowerings) == 1


def test_insert_into_main_table_rebuilds_template(spark, tmp_path,
                                                  lowerings):
    from openmldb_spark.sources.ddl import insert_into
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, REQ_SQL)
    before = _sorted(_serve(spark, deps, tables, REQ_ROWS[:1]))
    name, df = insert_into(
        spark, "insert into rq values ('a', 100, 1000, 1.0, "
        "1590738980000, '2020-05-28');", tables)
    tables[name] = df
    after = _sorted(_serve(spark, deps, tables, REQ_ROWS[:1]))
    assert len(lowerings) == 2
    # s6, s4 and n3 of the request now count the inserted row
    assert after[0][4:] == (before[0][4] + 1.0, before[0][5] + 1000,
                            before[0][6] + 1, before[0][7])
    assert after == _sorted(_serve(spark, deps, _fresh(tables),
                                   REQ_ROWS[:1]))


def test_redeploy_same_name_serves_new_body(spark, tmp_path, lowerings):
    from openmldb_spark.sources.deploy import (create_deployment,
                                               drop_deployment)
    tables = _prep_tables(spark, tmp_path)
    win = ("FROM rq WINDOW w AS (PARTITION BY c1 ORDER BY c7 "
           "ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW)")
    deps = _deploy(spark, tables, f"SELECT c1, sum(c6) OVER w AS f {win}")
    old = _sorted(_serve(spark, deps, tables, BATCHES[0]))
    drop_deployment("DROP DEPLOYMENT d;", deps)
    create_deployment(
        spark, f"DEPLOY d SELECT c1, count(c3) OVER w AS f {win};",
        tables, deps)
    new = _sorted(_serve(spark, deps, tables, BATCHES[0]))
    assert new != old
    assert new == _sorted(_serve(spark, deps, _fresh(tables), BATCHES[0]))
    # 10 stored rows of key a in the frame, plus the request itself
    assert sorted(r[1] for r in new if r[0] == "a") == [11, 11]


def test_time_zone_change_rebuilds_template(spark, tmp_path):
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, "SELECT c1, hour(c7) AS h, "
                                  "cast(c7 as string) AS s FROM rq")
    utc = _sorted(_serve(spark, deps, tables, REQ_ROWS[:1]))
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = _sorted(_serve(spark, deps, tables, REQ_ROWS[:1]))
        want = _sorted(_serve(spark, deps, _fresh(tables), REQ_ROWS[:1]))
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert got == want
    assert got != utc


def test_rebound_request_does_not_lower_or_start_jobs(spark, tmp_path,
                                                      monkeypatch):
    from conftest import executed_plan
    from openmldb_spark import sqlfe
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, PREPARED_SQL["window_last_join"])
    want = _sorted(_serve(spark, deps, _fresh(tables), BATCHES[0]))
    _serve(spark, deps, tables, REQ_ROWS[:1])

    def no_lowering(*a, **k):
        raise AssertionError("a rebound request lowered its statement")
    monkeypatch.setattr(sqlfe, "_dispatch_sql", no_lowering)
    sc = spark.sparkContext
    group = "rebound-no-job-guard"
    sc.setJobGroup(group, group)
    try:
        out = _serve(spark, deps, tables, BATCHES[0])
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    assert "LocalTableScan" in executed_plan(out)
    assert _sorted(out) == want


def test_statement_that_starts_a_job_is_lowered_every_call(spark, tmp_path,
                                                           lowerings):
    """A LAST JOIN with LIMIT pins the request side's row ids with a
    checkpoint job, whose RDD leaf would hold the first request's rows:
    no template is kept."""
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, "SELECT rq.c1, rq.c3, rq2.c4 AS r4 "
                   "FROM rq LAST JOIN rq2 ORDER BY rq2.c7 "
                   "ON rq.c1 = rq2.c1 LIMIT 10")
    first = _sorted(_serve(spark, deps, tables, REQ_ROWS[:1]))
    second = _sorted(_serve(spark, deps, tables, REQ_ROWS[2:]))
    assert len(lowerings) == 2 and not _templated(deps["d"]["body"])
    assert [r[:2] for r in first] == [("a", 5)]
    assert [r[:2] for r in second] == sorted([("b", None), ("z", 1)],
                                             key=repr)


def test_statement_with_a_subquery_is_lowered_every_call(spark, tmp_path,
                                                         lowerings):
    """The leaf walk and the rebinding transform do not enter subquery
    expressions, so a plan with one keeps no template."""
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, "SELECT c1, c3 FROM rq "
                   "WHERE c3 >= (SELECT min(c3) FROM rq2)")
    assert _sorted(_serve(spark, deps, tables, REQ_ROWS[:1])) == [("a", 5)]
    assert _sorted(_serve(spark, deps, tables, REQ_ROWS[3:])) == [("z", 1)]
    assert len(lowerings) == 2 and not _templated(deps["d"]["body"])


def test_build_that_starts_a_job_keeps_no_template(spark, tmp_path,
                                                   monkeypatch):
    from openmldb_spark import sqlfe
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, "SELECT c1, c3 * 3 AS v FROM rq")
    lower = sqlfe._lower_request

    def with_job(spark, *rest):
        spark.range(1).count()
        return lower(spark, *rest)
    monkeypatch.setattr(sqlfe, "_lower_request", with_job)
    assert _sorted(_serve(spark, deps, tables, REQ_ROWS[:1])) == \
        [("a", 15)]
    assert not _templated(deps["d"]["body"])


def test_concurrent_requests_share_one_template(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, PREPARED_SQL["window_union"])
    reqs = [[r] for r in REQ_ROWS] + BATCHES
    want = [_sorted(_serve(spark, deps, _fresh(tables), r)) for r in reqs]
    with ThreadPoolExecutor(4) as pool:
        got = list(pool.map(
            lambda r: _sorted(_serve(spark, deps, tables, r)), reqs))
    assert got == want


def test_template_cache_is_bounded(spark, tmp_path):
    from openmldb_spark import sqlfe
    tables = _prep_tables(spark, tmp_path)
    for i in range(sqlfe._TEMPLATE_CAP + 2):
        deps = _deploy(spark, tables, f"SELECT c1, c3 + {i} AS v FROM rq")
        assert _sorted(_serve(spark, deps, tables, REQ_ROWS[:1])) == \
            [("a", 5 + i)]
    assert len(sqlfe._TEMPLATES) == sqlfe._TEMPLATE_CAP
