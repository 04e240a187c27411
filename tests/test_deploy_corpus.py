"""Replay the reference's deployment corpus through run_statement:

    cases/function/deploy/test_create_deploy.yaml   (25 cases)
    cases/function/deploy/test_show_deploy.yaml     (4 cases)
    cases/function/deploy/test_drop_deploy.yaml     (4 cases)

DEPLOY validates and catalogs a SELECT (the body is planned through
run_sql against the registered tables); SHOW DEPLOYMENT returns the
metadata the reference renders (name / dbName / normalized SQL in the
reference unparser's layout / inColumns / outColumns as
``idx,name,kType,IsConstant``); DROP DEPLOYMENT removes it. The six
cases with a full `deployment:` expect block are compared field-exact,
including the pretty-printed SQL text; `deploymentCount` expects count
`show deployments`; success:false cases assert rejection parity.
"""

import pytest
import yaml

from openmldb_spark.sources.deploy import DeployError
from openmldb_spark.sources.io import run_statement
from openmldb_spark.sqlfe import SqlUnsupported

from test_window_query_cases import _TYPES, Unsupported, _mk_named_df
import pyspark.sql.types as T
from conftest import corpus_path

FILES = ["test_create_deploy", "test_show_deploy", "test_drop_deploy"]
FDIR = corpus_path("cases/function/deploy")


def _load(fname):
    with open(f"{FDIR}/{fname}.yaml") as f:
        return yaml.safe_load(f)


def _expand(case):
    dp = case.get("dataProvider")
    if not dp:
        return [case]
    assert len(dp) == 1, "deploy corpus uses single-dim providers only"
    out = []
    for val in dp[0]:
        c = dict(case)
        c["sqls"] = [str(s).replace("d[0]", str(val))
                     for s in case.get("sqls") or [case["sql"]]]
        c.pop("sql", None)
        c["id"] = f"{case.get('id')}@{val}"
        c.pop("dataProvider", None)
        out.append(c)
    return out


def _sub(text: str, names: list[str]) -> str:
    for i, n in enumerate(names):
        text = text.replace(f"{{{i}}}", n)
    return text


def _run_case(spark, case, file_db, seq):
    tables: dict = {}
    catalog: dict = {}
    deployments: dict = {}
    db = case.get("db") or file_db
    names = []
    for i, inp in enumerate(case.get("inputs") or []):
        name = f"dt{seq}_{i}"
        names.append(name)
        if "create" in inp:
            run_statement(spark, _sub(inp["create"], names), tables,
                          catalog=catalog)
            continue
        if "columns" in inp and "rows" not in inp and "data" not in inp:
            # schema-only input (most deploy cases register empty tables)
            cols = [c.rsplit(":", 1) if ":" in c else c.rsplit(None, 1)
                    for c in inp["columns"]]
            schema = T.StructType([
                T.StructField(n.strip(), _TYPES[t.strip().lower()])
                for n, t in cols])
            tables[name] = spark.createDataFrame([], schema)
            continue
        _, df = _mk_named_df(spark, inp)
        tables[name] = df

    expect = case.get("expect") or {}
    negative = expect.get("success") is False
    last_df = None
    try:
        for stmt in case.get("sqls") or [case["sql"]]:
            stmt = _sub(str(stmt), names).strip()
            last_df = run_statement(spark, stmt, tables, catalog=catalog,
                                    deployments=deployments, db=db)
    except (DeployError, SqlUnsupported, ValueError, Exception) as e:
        if negative:
            return
        raise AssertionError(
            f"statement rejected: {type(e).__name__}: {e}") from e
    assert not negative, "negative case was accepted"

    if "deploymentCount" in expect:
        assert last_df is not None
        assert last_df.count() == expect["deploymentCount"], \
            (last_df.collect(), expect["deploymentCount"])
    dep_exp = expect.get("deployment")
    if dep_exp:
        name = _sub(str(dep_exp["name"]), names)
        got = deployments[name]
        assert got["name"] == name
        assert got["dbName"] == dep_exp["dbName"], \
            (got["dbName"], dep_exp["dbName"])
        if "sql" in dep_exp:
            want = _sub(dep_exp["sql"], names).strip()
            assert got["sql"].strip() == want, \
                f"sql mismatch:\n--- got ---\n{got['sql']}\n--- want ---\n{want}"
        for field in ("inColumns", "outColumns"):
            if field in dep_exp:
                assert got[field] == dep_exp[field], \
                    (field, got[field], dep_exp[field])


def _excluded(case) -> str | None:
    if any("TODO" in str(t) for t in case.get("tags") or []):
        return "TODO-tagged (reference harness skips)"
    mode = str(case.get("mode") or "")
    if "batch-unsupport" in mode or "offline-unsupport" in mode:
        return "marked batch-unsupported"
    return None


def _params():
    out = []
    for f in FILES:
        doc = _load(f)
        for c in doc["cases"]:
            for ec in _expand(c):
                out.append(pytest.param(f, ec, doc.get("db"),
                                        id=f"{f}::{ec.get('id')}"))
    return out


@pytest.mark.parametrize("fname,case,fdb", _params())
def test_deploy_case(fname, case, fdb, spark):
    why = _excluded(case)
    if why:
        pytest.skip(why)
    try:
        _run_case(spark, case, fdb, abs(hash(f"{fname}{case.get('id')}")) % 10000)
    except Unsupported as e:
        pytest.skip(f"outside subset: {e}")


def test_minimum_deploy_coverage(spark):
    """Ratchet: the whole deploy corpus replays with zero failures and
    zero unclassified skips."""
    ok, fails = 0, []
    for f in FILES:
        doc = _load(f)
        for c in doc["cases"]:
            for ec in _expand(c):
                if _excluded(ec):
                    continue
                try:
                    _run_case(spark, ec, doc.get("db"),
                              abs(hash(f"m{f}{ec.get('id')}")) % 10000)
                    ok += 1
                except AssertionError as e:
                    fails.append((f, ec.get("id"), str(e)[:200]))
    assert not fails, fails
    assert ok >= 34, ok
