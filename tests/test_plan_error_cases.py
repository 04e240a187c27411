"""Parser-rejection parity for the reference's plan-level error corpora:

    cases/plan/error_unsupport_sql.yaml   (constructs hybridse rejects)
    cases/plan/error_query.yaml
    cases/plan/error_request_query.yaml   (request-mode-only rejections,
                                           replayed through run_sql_request)

Each case is a bare statement (no inputs, no expect) that the
reference's planner refuses (plan_test.cc loads these files in the
*error* suites). Parity matters because our plain-SQL path delegates to
Spark, which ACCEPTS several of these constructs (PIVOT, TABLESAMPLE,
hex literals) — silently running a statement the reference rejects is
the wrong-answer class the negative sweep guards against, so run_sql
must refuse them too.

Cases referencing request-mode-only machinery (CONST windows in
error_request_query) raise through the same gate.
"""

import re

import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported, run_sql
from conftest import corpus_path

FILES = [
    corpus_path("cases/plan/error_unsupport_sql.yaml"),
    corpus_path("cases/plan/error_query.yaml"),
]


def _load():
    out = []
    for f in FILES:
        for c in yaml.safe_load(open(f))["cases"]:
            sqls = c.get("sql")
            sqls = sqls if isinstance(sqls, list) else [sqls]
            for k, s in enumerate(sqls):
                out.append(pytest.param(
                    f, str(s),
                    id=f"{f.rsplit('/', 1)[-1]}::{c.get('id')}.{k}"))
    return out


def _dummy_tables(spark, sql):
    """One tiny table per bare name the statement references, with the
    column names it mentions (all strings — the rejection must come from
    the construct, not a missing table)."""
    names = set(re.findall(
        r"(?i)\b(?:from|join|table)\s+([A-Za-z_]\w*)", sql))
    names -= {"select", "where", "group", "order", "window", "last",
              "on", "offset", "system_time", "t_pivot"}
    cols = set(re.findall(r"\b[a-z]\w*\b", sql.lower())) & {
        "a", "b", "x", "col1", "col2", "col3", "uid", "uids",
        "std_ts", "coli", "item", "price"}
    cols |= {"c1", "c2", "c3", "c4"}
    pdf_cols = ", ".join(f"'v' as {c}" for c in sorted(cols))
    tables = {}
    for n in names or {"t"}:
        tables[n] = spark.sql(f"select {pdf_cols}")
    return tables


@pytest.mark.parametrize("fname,sql", _load())
def test_plan_error_case(fname, sql, spark):
    tables = _dummy_tables(spark, sql)
    with pytest.raises(Exception) as exc:
        run_sql(spark, sql, tables).collect()
    # any engine-side refusal counts (SqlUnsupported, parse, analysis);
    # what must NOT happen is a clean result
    assert exc.type.__name__ in (
        "SqlUnsupported", "ParseException", "AnalysisException",
        "IllegalArgumentException", "Unsupported", "KeyError",
        "ValueError", "Py4JJavaError", "SparkRuntimeException",
    ), exc.value


def _load_request_errors():
    f = corpus_path("cases/plan/error_request_query.yaml")
    out = []
    for c in yaml.safe_load(open(f))["cases"]:
        out.append(pytest.param(str(c["sql"]), id=f"req_err::{c['id']}"))
    return out


@pytest.mark.parametrize("sql", _load_request_errors())
def test_request_mode_plan_error_case(sql, spark):
    """Request-mode planning negatives (both corpus cases are
    "resolve请求主表失败" — the request primary table cannot be
    resolved: id 0 a depth-0 UNION ALL of two selects, id 1 a LEFT
    JOIN whose right side is a derived sub-select). run_sql_request
    must refuse, never return a clean result."""
    from openmldb_spark.sqlfe import run_sql_request
    t1 = spark.sql("select 1 as col1, 2 as col2, 3 as c1, 4 as c2")
    t2 = spark.sql("select 1 as col1, 2 as col2, 3 as c1, 4 as c2")
    tt = spark.sql("select 1 as col1, 2 as col2")
    req = spark.sql("select 9 as col1, 8 as col2, 7 as c1, 6 as c2")
    with pytest.raises(Exception) as exc:
        run_sql_request(
            spark, sql, {"t1": t1, "t2": t2, "tt": tt}, req, "t1"
        ).collect()
    assert exc.type.__name__ in (
        "SqlUnsupported", "ParseException", "AnalysisException",
        "Py4JJavaError",
    ), exc.value
