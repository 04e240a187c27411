"""Replay the reference's restful API corpus SEMANTICALLY (the HTTP
transport is out of scope; the payload semantics are not):

    cases/restful/v030/test_execute_deployment.yaml  (21 cases)
    cases/restful/v230/test_execute_procedure.yaml   (28 cases)
    cases/restful/v230/test_get_procedure.yaml       (9 cases)

Deployment/procedure execution is batch-request mode: each input row
(assembled from common_cols for const args + per-row values) computes
its features over stored history + itself — value-checked against the
corpus' `$.data.data` rows and `$.data.schema`. Protocol-negative cases
(arity mismatch, empty/missing input, malformed JSON, unknown
deployment, wrong db in the uri, wrong method) assert rejection parity
(`code: -1` → our surface raises). get_procedure compares the full
metadata block (name / tables / input_schema / output_schema /
input_common_cols / output_common_cols / verbatim procedure text).
"""

import datetime
import json
import math

import pytest
import yaml

from openmldb_spark.sources.deploy import DeployError
from openmldb_spark.sources.io import run_statement
from openmldb_spark.sources.procedure import (ProcedureError,
                                              execute_deployment_rows,
                                              execute_procedure,
                                              get_procedure, json_schema)
from openmldb_spark.sqlfe import SqlUnsupported

from test_production_scripts import _mkdf
from conftest import corpus_path

DB = "test_restful"
RDIR = corpus_path("cases/restful")
FILES = {
    "execute_deployment": f"{RDIR}/v030/test_execute_deployment.yaml",
    "execute_procedure": f"{RDIR}/v230/test_execute_procedure.yaml",
    "get_procedure": f"{RDIR}/v230/test_get_procedure.yaml",
}

_ERRORS = (ProcedureError, DeployError, SqlUnsupported, ValueError,
           TypeError, KeyError, json.JSONDecodeError)


def _merged(base: dict, case: dict) -> dict:
    out = dict(base)
    out.update({k: v for k, v in case.items() if v is not None})
    return out


def _setup(spark, before, seq):
    tables, deployments, procedures = {}, {}, {}
    for i, inp in enumerate(before.get("tables") or []):
        inp = dict(inp)
        name = inp.get("name") or f"rt{seq}_{i}"
        inp["rows"] = inp.get("rows") or []
        tables[name] = _mkdf(spark, inp)
        inp["__name"] = name
    names = [t.get("name") or f"rt{seq}_{i}"
             for i, t in enumerate(before.get("tables") or [])]
    for stmt in before.get("sqls") or []:
        stmt = str(stmt)
        for i, n in enumerate(names):
            stmt = stmt.replace(f"{{{i}}}", n)
        run_statement(spark, stmt, tables, deployments=deployments,
                      procedures=procedures, db=DB)
    return tables, deployments, procedures


def _norm_cell(v, typ):
    if v is None:
        return None
    if typ == "timestamp":
        if isinstance(v, datetime.datetime):
            return int(v.timestamp() * 1000)
        return int(v)
    if typ == "date":
        if isinstance(v, str):
            y, m, d = (int(x) for x in v.split("-"))
            return (y, m, d)
        return (v.year, v.month, v.day)
    if typ in ("float", "double"):
        return round(float(v), 4)
    if typ in ("int16", "int32", "int64"):
        return int(v)
    if typ == "bool":
        return bool(v)
    return str(v)


def _norm_rows(rows, types):
    return sorted(tuple(_norm_cell(v, t) for v, t in zip(r, types))
                  for r in rows)


def _check_exec(out_df, expect_data, common_out=()):
    """Compare execution output against $.data.data / $.data.schema /
    $.data.common_cols_data."""
    got_schema = json_schema(out_df.schema)
    if expect_data.get("$.data.schema") is not None:
        assert got_schema == expect_data["$.data.schema"], \
            (got_schema, expect_data["$.data.schema"])
    names = [f["name"] for f in got_schema]
    types = [f["type"] for f in got_schema]
    rows = [list(r) for r in out_df.collect()]
    if common_out:
        idx_common = [i for i, n in enumerate(names) if n in common_out]
        idx_rest = [i for i in range(len(names)) if i not in idx_common]
        ccd = expect_data.get("$.data.common_cols_data")
        if ccd is not None and rows:
            got_common = [_norm_cell(rows[0][i], types[i])
                          for i in idx_common]
            want_common = [_norm_cell(v, types[i])
                           for v, i in zip(ccd, idx_common)]
            assert got_common == want_common, (got_common, want_common)
        rows = [[r[i] for i in idx_rest] for r in rows]
        types_rest = [types[i] for i in idx_rest]
    else:
        types_rest = types
        assert not expect_data.get("$.data.common_cols_data"), \
            "expected common output data but procedure has none"
    want = expect_data.get("$.data.data")
    if want is not None:
        got_n = _norm_rows(rows, types_rest)
        want_n = _norm_rows(want, types_rest)
        assert got_n == want_n, (got_n, want_n)


_ABSENT = object()


def _parse_body(body):
    payload = json.loads(body)
    inp = payload.get("input")
    if not isinstance(inp, list) or not inp \
            or not all(isinstance(r, list) for r in inp):
        raise ProcedureError("Invalid input")
    common = payload.get("common_cols", _ABSENT)
    if common is _ABSENT:
        return inp, None            # key omitted: fine (exec case 5)
    if not isinstance(common, list):
        # present but null / "" — the server rejects
        # ("common_cols is not array", exec cases 4/7)
        raise ProcedureError("common_cols is not array")
    return inp, common


def _uri_target(case, default_name):
    uri = case.get("uri")
    if not uri:
        return DB, default_name
    uri = uri.replace("{db_name}", DB)
    parts = [p for p in uri.split("/") if p]
    return parts[1], parts[-1]


def _run_restful_case(spark, module, base, case, seq):
    eff = _merged(base, case)
    before = eff.get("beforeAction") or {}
    tables, deployments, procedures = _setup(spark, before, seq)
    default_name = (base.get("uri") or "").rsplit("/", 1)[-1]
    db, target = _uri_target(eff if case.get("uri") else base, default_name)
    method_ok = (eff.get("method") or base.get("method")) in (
        base.get("method"),)
    expect = ((eff.get("expect") or {}).get("data")) or {}
    negative = expect.get("code", 0) != 0

    def go():
        if case.get("method") and case["method"] != base["method"]:
            raise ProcedureError("no match method")
        if db != DB:
            raise ProcedureError(f"database {db!r} does not exist")
        if module == "get_procedure":
            return get_procedure(target, procedures)
        inp, common = _parse_body(eff.get("body") or "")
        if module == "execute_deployment":
            return execute_deployment_rows(spark, target, deployments,
                                           tables, inp)
        return execute_procedure(spark, target, procedures, tables, inp,
                                 common_cols=common)

    if negative:
        with pytest.raises(_ERRORS):
            r = go()
            if hasattr(r, "collect"):
                r.collect()
        return

    result = go()
    if module == "get_procedure":
        p = result
        for key, attr in [("$.data.name", "name"),
                          ("$.data.tables", "tables"),
                          ("$.data.input_schema", "input_schema"),
                          ("$.data.output_schema", "output_schema"),
                          ("$.data.input_common_cols", "input_common_cols"),
                          ("$.data.output_common_cols",
                           "output_common_cols")]:
            if key in expect:
                assert p[attr] == expect[key], (attr, p[attr], expect[key])
        if "$.data.procedure" in expect:
            got = " ".join(p["procedure"].split())
            want = " ".join(str(expect["$.data.procedure"]).split())
            assert got == want, (got, want)
        return
    common_out = ()
    if module == "execute_procedure":
        common_out = tuple(procedures[target]["output_common_cols"])
    _check_exec(result, expect, common_out)


def _excluded(module, base, case) -> str | None:
    if "<" in str(case.get("uri") or ""):
        # template rows the reference harness expands with empty/null
        # path segments (`<db_name>` / `<procedure_name>`) and no
        # expectation of their own — nothing concrete to check
        return "unexpanded placeholder uri (reference template case)"
    if module == "execute_deployment" and case.get("caseId") == 20:
        # the deployment-created ROWS_RANGE index carries an ABSOLUTE
        # 2s TTL; by call time every 2020-dated stored row is evicted
        # from the reference's online store, so it expects sum=self
        # only. Batch reads the full offline data — same online-TTL
        # family excluded in test_ddl_dml_corpus (case 19, the ROWS
        # twin, has a LATEST-2 ttl and passes value-checked)
        return "online abs-TTL eviction via deployment-created index"
    return None


def _params():
    out = []
    for module, path in FILES.items():
        with open(path) as f:
            doc = yaml.safe_load(f)
        base = doc["baseCase"]
        for j, c in enumerate(doc["cases"]):
            out.append(pytest.param(module, base, c,
                                    id=f"{module}::{c.get('caseId')}#{j}"))
    return out


@pytest.mark.parametrize("module,base,case", _params())
def test_restful_case(module, base, case, spark):
    why = _excluded(module, base, case)
    if why:
        pytest.skip(why)
    _run_restful_case(spark, module, base, case,
                      abs(hash(f"{module}{case.get('caseId')}{case.get('desc')}"))
                      % 100000)


def test_minimum_restful_coverage(spark):
    """Ratchet: the whole restful execution corpus replays with zero
    failures (positive cases value-checked, negative cases rejected)."""
    ok, fails = 0, []
    for module, path in FILES.items():
        with open(path) as f:
            doc = yaml.safe_load(f)
        for j, c in enumerate(doc["cases"]):
            if _excluded(module, doc["baseCase"], c):
                continue
            try:
                _run_restful_case(spark, module, doc["baseCase"], c,
                                  90000 + j)
                ok += 1
            except AssertionError as e:
                fails.append((module, c.get("caseId"), str(e)[:150]))
    assert not fails, fails
    # 58 cases total − 4 unexpanded-template rows − 1 online-TTL = 53
    assert ok >= 53, ok
