"""Request-mode analog: point-in-time features for anchor rows must equal
the batch backfill's features at the same (conv_id, ts) — the
batch/online consistency guarantee (SURVEY.md §3.2)."""

import re

import pandas as pd
import pyspark.sql.functions as F
import pytest

from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.operators.request import request_features
from openmldb_spark.sources.procedure import ProcedureError
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
    pinned by run_sql_request's checkpoint): the reference path, which
    scans the stored table."""
    import datetime
    import pyspark.sql.types as T
    utc = datetime.timezone.utc
    conv = []
    for r in rows:
        r = list(r)
        for i, f in enumerate(schema.fields):
            if r[i] is None:
                continue
            if isinstance(f.dataType, T.TimestampType):
                r[i] = datetime.datetime.fromtimestamp(r[i] / 1000, utc)
            elif isinstance(f.dataType, T.DateType):
                r[i] = datetime.date.fromisoformat(r[i])
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
# key, and NULL values and a key with no history (a NULL ts is rejected:
# test_null_order_value_is_rejected)
BATCHES = [
    [REQ_ROWS[0], REQ_ROWS[1], [None, 7, 70, 7.5, 1_590_738_993_000,
                                "2020-06-01"]],
    [["b", 8, 80, 8.5, 1_590_738_400_000, "2020-06-02"], REQ_ROWS[2],
     REQ_ROWS[3]],
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
             (["b"], [REQ_ROWS[2][1:],
                      [9, 9, 9.0, 1_590_738_500_000, "2020-06-03"],
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


# -- history index (sliced requests) ----------------------------------------

SLICED_SQL = dict(
    PREPARED_SQL,
    bare_union=PREPARED_SQL["window_union"].replace(
        "UNION (SELECT * FROM rq2)", "UNION rq2"),
    # a and b rows share their timestamps, so w2 (by c3) holds ties:
    # its lag reads the stored rows in the order a scan reads them
    two_keys="SELECT c1, c3, sum(c6) OVER w1 AS s6, lag(c4, 1) OVER w1 AS l4, "
             "count(c4) OVER w2 AS n4, lag(c1, 1) OVER w2 AS l1 FROM rq WINDOW "
             "w1 AS (PARTITION BY c1 ORDER BY c7 "
             "ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW), "
             "w2 AS (PARTITION BY c3 ORDER BY c7 "
             "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
)
SLICED_SQL.update(
    date_key="SELECT c1, c8, count(c3) OVER w AS n, sum(c6) OVER w AS s "
             "FROM rq WINDOW w AS (PARTITION BY c8 ORDER BY c7 "
             "ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW)",
    ts_key="SELECT c1, c7, count(c3) OVER w AS n, sum(c6) OVER w AS s "
           "FROM rq WINDOW w AS (PARTITION BY c7 ORDER BY c7 "
           "ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)")
# statements whose windows union the request table's stored rows and
# slice them (a timestamp key binds the whole copy: its collected and
# copied Python values differ)
SLICED = {"window_union", "window_last_join", "bare_union", "two_keys",
          "date_key"}
# rows whose date and timestamp match stored rows' (turns 3 and 7)
KEYED = [["a", 3, 30, 1.5, 1_590_738_180_000, "2020-05-04"],
         ["b", 7, 70, 7.5, 1_590_738_420_000, "2020-05-08"]]


def _template(sql):
    from openmldb_spark import sqlfe
    return [t for k, t in sqlfe._TEMPLATES.items() if k[1] == sql][-1]


def _scanned(spark, tables, body, rows, main="rq"):
    """The request over the list-built rows: no template, no copy."""
    from openmldb_spark.sqlfe import run_sql_request
    return run_sql_request(spark, body, tables, _list_request(
        spark, tables[main].schema, rows), main)


@pytest.mark.parametrize("stmt", sorted(SLICED_SQL))
def test_sliced_request_matches_scanned(spark, tmp_path, stmt):
    tables = _prep_tables(spark, tmp_path)
    body = SLICED_SQL[stmt]
    deps = _deploy(spark, tables, body)
    for batch in [REQ_ROWS[:1], *BATCHES, KEYED]:
        got = _serve(spark, deps, tables, batch)
        want = _scanned(spark, tables, body, batch)
        assert got.schema == want.schema
        rows = _sorted(got)
        assert rows and rows == _sorted(want)
    assert (_template(body).hist is not None) == (stmt in SLICED)
    if stmt.endswith("_key"):
        # each KEYED row meets the two stored rows of its key
        assert [r[2] for r in rows] == [3, 3]


def test_bare_union_equals_sub_select_union(spark, tmp_path):
    tables = _prep_tables(spark, tmp_path)
    bare = _deploy(spark, tables, SLICED_SQL["bare_union"])
    sub = _deploy(spark, tables, SLICED_SQL["window_union"])
    for batch in BATCHES:
        assert _sorted(_serve(spark, bare, tables, batch)) == \
            _sorted(_serve(spark, sub, tables, batch))


def test_sliced_request_follows_the_primary_keys(spark, tmp_path):
    """The primary swaps the request's two key columns: the slice takes
    the stored rows of the primary's k1 (the request's k2)."""
    from openmldb_spark.sources.ddl import create_table
    name, empty = create_table(
        spark, "create table rs (k1 string, k2 string, v double, "
        "ts timestamp)")
    base = 1_590_738_000_000
    pairs = [("a", "b"), ("b", "a"), ("a", "a"), ("c", "b"), ("b", "c")]
    rows = [[k1, k2, float(i * 10 + j), base + (i * 5 + j) * 60_000]
            for i in range(5) for j, (k1, k2) in enumerate(pairs)]
    path = str(tmp_path / "rs")
    _list_request(spark, empty.schema, rows).write.parquet(path)
    tables = {name: spark.read.parquet(path)}
    body = ("SELECT k1, k2, sum(v) OVER w AS s, count(v) OVER w AS n FROM "
            "(SELECT k2 AS k1, k1 AS k2, v, ts FROM rs) AS t WINDOW w AS "
            "(PARTITION BY k1 ORDER BY ts "
            "ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW)")
    deps = _deploy(spark, tables, body)
    t = base + 30 * 60_000
    for batch in ([["b", "a", 1.0, t]],
                  [["a", "c", 2.0, t], ["c", "b", 3.0, t], ["z", "a", 4.0, t]]):
        got = _sorted(_serve(spark, deps, tables, batch))
        assert got == _sorted(_scanned(spark, tables, body, batch, "rs"))
    assert _template(body).hist is not None
    # primary k1 "a" (the request's k2) has 10 stored rows, k1 "b" 5
    assert _sorted(_serve(spark, deps, tables, [["b", "a", 1.0, t]])) == \
        [("a", "b", 1.0 + sum(float(i * 10 + j) for i in range(5)
                                  for j in (0, 2)), 11)]


def test_history_over_the_cap_is_scanned(spark, tmp_path, monkeypatch):
    from conftest import executed_plan
    from openmldb_spark.sources import _local
    monkeypatch.setattr(_local, "HISTORY_CAP", 5)
    tables = _prep_tables(spark, tmp_path)
    body = PREPARED_SQL["window_union"]
    deps = _deploy(spark, tables, body)
    assert _local.history_copy(tables["rq"]) is None
    for batch in BATCHES:
        out = _serve(spark, deps, tables, batch)
        assert _sorted(out) == _sorted(_scanned(spark, tables, body, batch))
    assert _template(body).hist is None
    assert "Scan parquet" in executed_plan(out)


def test_sliced_request_scans_no_stored_rows(spark, tmp_path):
    """A rebound request of the serve shape (window over the request
    table's stored rows, LAST JOIN to a request sub-select) reads no
    parquet and starts at most 3 jobs."""
    from conftest import executed_plan
    tables = _req_tables(spark, tmp_path)
    deps = _deploy(spark, tables, PREPARED_SQL["window_last_join"])
    _serve(spark, deps, tables, REQ_ROWS[:1]).collect()
    out = _serve(spark, deps, tables, BATCHES[0])
    sc = spark.sparkContext
    group = "sliced-request-jobs"
    sc.setJobGroup(group, group)
    try:
        out.collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert 0 < len(jobs) <= 3
    plan = executed_plan(out)
    assert "Scan parquet" not in plan and "LocalTableScan" in plan
    assert "AdaptiveSparkPlan" not in plan


def test_history_copy_rows_by_key(spark):
    import math
    from openmldb_spark.sources._local import history_copy, local_rows
    rows = [["a", 1, 0.5], [None, 2, math.nan], ["b", 3, math.nan],
            ["a", 4, 0.5], [None, 5, 1.0]]
    frame = local_rows(spark, rows, "k string, n int, x double")
    hist = history_copy(frame)
    assert hist is history_copy(frame) and hist.table.num_rows == 5

    def picked(*wanted):
        data = hist.rows(list(wanted))
        return [data.apply(i).getInt(1) for i in range(data.size())]
    assert picked((("k",), {("a",)})) == [1, 4]
    assert picked((("k",), {(None,), ("z",)})) == [2, 5]
    assert picked((("k",), set())) == []
    assert picked((("x",), {(math.nan,)})) == [2, 3]
    # a row matched through both key sets is taken once, and the rows
    # keep copy order whichever key set matched them
    assert picked((("k",), {("a",)}), (("x",), {(0.5,), (1.0,)})) == \
        [1, 4, 5]
    assert picked((("x",), {(0.5,), (1.0,)}), (("k",), {("b",)})) == \
        [1, 3, 4, 5]


def test_history_copy_only_for_a_window_over_stored_rows(spark, tmp_path):
    """A statement whose windows do not union the request table's stored
    rows takes no copy. A window statement's copy is taken when it is
    deployed, or by the first request over a frame not seen before."""
    from openmldb_spark.sources import _local
    tables = _prep_tables(spark, tmp_path)
    deps = _deploy(spark, tables, PREPARED_SQL["last_join_order_by"])
    _serve(spark, deps, tables, REQ_ROWS[:1]).collect()
    assert id(tables["rq"]) not in _local._HISTORIES
    deps = _deploy(spark, tables, PREPARED_SQL["window_union"])
    assert _local._HISTORIES[id(tables["rq"])] is not None
    fresh = _fresh(tables)
    _serve(spark, deps, fresh, REQ_ROWS[:1]).collect()
    assert _local._HISTORIES[id(fresh["rq"])] is not None


def _null_ts(rows):
    return [*rows, ["b", 9, 90, 9.5, None, "2020-06-03"]]


def test_null_order_value_is_rejected(spark, tmp_path, monkeypatch):
    """A request row whose window ORDER BY value is NULL raises, naming
    the row, on every path: list-built, fresh build, rebound (sliced)
    and rebound over an unsliced copy."""
    from openmldb_spark.sources import _local
    tables = _prep_tables(spark, tmp_path)
    body = PREPARED_SQL["window_union"]
    batch = _null_ts(BATCHES[0])
    match = r"request row 3: window ORDER BY column 'c7' is NULL"
    with pytest.raises(ProcedureError, match=match):
        _scanned(spark, tables, body, batch)
    deps = _deploy(spark, tables, body)
    with pytest.raises(ProcedureError, match=match):
        _serve(spark, deps, tables, batch)          # builds the template
    with pytest.raises(ProcedureError, match=match):
        _serve(spark, deps, tables, batch)          # rebound, sliced
    assert _template(body).hist is not None
    monkeypatch.setattr(_local, "HISTORY_CAP", 5)
    fresh = _fresh(tables)
    _serve(spark, deps, fresh, REQ_ROWS[:1]).collect()
    assert _template(body).hist is None
    with pytest.raises(ProcedureError, match=match):
        _serve(spark, deps, fresh, batch)           # rebound, whole copy
    # a statement without a window answers the row
    deps = _deploy(spark, tables, PREPARED_SQL["last_join_order_by"])
    assert len(_sorted(_serve(spark, deps, tables, batch))) == 4


def test_valid_list_built_batch_collects_no_rows(spark, tmp_path,
                                                monkeypatch):
    """The NULL ORDER BY check of a non-local batch brings only failing
    rows to the driver: none for a valid batch."""
    tables = _prep_tables(spark, tmp_path)
    DataFrame = type(tables["rq"])
    collected, collect = [], DataFrame.collect

    def spy(df):
        rows = collect(df)
        collected.append(len(rows))
        return rows
    monkeypatch.setattr(DataFrame, "collect", spy)
    out = _scanned(spark, tables, SLICED_SQL["two_keys"], BATCHES[0])
    monkeypatch.undo()
    assert collected and not any(collected)
    assert len(out.collect()) == len(BATCHES[0])


def test_local_request_features_start_no_job(spark):
    """Local request rows take their prune bounds on the driver: no
    checkpoint and no bounds job before collect()."""
    from openmldb_spark.sources._local import local_rows
    hist = spark.createDataFrame(
        [("c", i, 1_000_000 + i * 600_000, float(i)) for i in range(10)],
        "conv_id string, turn_idx int, ts_ms long, value double")
    req = local_rows(spark, [("c", 99, 1_000_000 + 9 * 600_000 + 1, 5.0),
                             ("d", 1, 5_000, 1.0)], hist.schema)
    sc = spark.sparkContext
    group = "local-request-features"
    sc.setJobGroup(group, group)
    try:
        pruned = request_features(req, hist, SPEC, AGGS, keep_cols=KEY,
                                  prune_history=True)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    full = request_features(req, hist, SPEC, AGGS, keep_cols=KEY,
                            prune_history=False)
    assert _sorted(pruned) == _sorted(full)
    assert {r.turn_idx: r.c for r in pruned.collect()} == {99: 4, 1: 1}


def test_request_features_batch_checkpointed_not_persisted(spark, sf_dir):
    """The request batch is pinned by an eager localCheckpoint: the
    bounds scan and the feature job read the SAME materialized rows
    (a persist was both leak-prone and wrong — CacheManager keys by
    plan equality, so equal-plan batches uncached each other), and
    checkpointed RDDs free on GC, so repeated calls leave no growing
    pinned storage."""
    from openmldb_spark.operators import request as req
    t = transcripts_df(spark, sf_dir).select("conv_id", "ts_ms", "value")
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding=3_600_000)
    aggs = [Agg("sum", "value", "s")]
    out = req.request_features(t.limit(20), t, spec, aggs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan          # batch reads the pinned rows
    assert out.count() == 20
    # equal-plan repeat works and stays correct (the old persist-swap
    # pattern uncached the live batch here)
    assert req.request_features(t.limit(20), t, spec, aggs).count() == 20
