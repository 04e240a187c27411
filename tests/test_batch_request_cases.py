"""Replay the reference's batch-request corpora through run_sql_request:

    cases/function/test_batch_request.yaml        (9 canonical cases)
    cases/benchmark/batch_request_benchmark.yaml  (4 cases)
    cases/benchmark/request_benchmark.yaml        (6 cases, LAST JOIN
        fan-out / multi-window shapes — mode batch-unsupport means
        REQUEST mode only, which is exactly this entry point)
    cases/benchmark/udaf_benchmark.yaml           (1 case, 10 UDAFs in
        one window)

These are BatchRequestEngineTestRunner semantics (hybridse/src/testing/
engine_test_base.h:294-380): stored input rows (with `repeat`
expansion) are loaded, the batch_request rows are NOT inserted, and
each request row computes its features over stored state + itself. All
cases carry literal expected rows. `common_column_indices` is a
reference-side execution optimization (common columns computed once per
batch) — output rows are identical with or without it, so it is
ignored here.
"""

import os

import pytest
import yaml

from openmldb_spark.sqlfe import run_sql_request

from test_production_scripts import _mkdf, _tokenize
from conftest import corpus_path

CASE_FILES = [
    corpus_path("cases/function/test_batch_request.yaml"),
    corpus_path("cases/benchmark/batch_request_benchmark.yaml"),
    corpus_path("cases/benchmark/request_benchmark.yaml"),
    corpus_path("cases/benchmark/udaf_benchmark.yaml"),
]

_CASES = []
for _fp in CASE_FILES:
    _tag = os.path.basename(_fp).replace(".yaml", "")
    with open(_fp) as f:
        for _c in yaml.safe_load(f)["cases"]:
            _c["__tag"] = f"{_tag}::{_c['id']}"
            _CASES.append(_c)


def _tok(val, typ):
    if typ == "date":
        import datetime
        if isinstance(val, datetime.date):
            return val.isoformat()
        return "<null>" if val is None else str(val)
    return _tokenize(val, typ)


@pytest.mark.parametrize("case", _CASES,
                         ids=[c["__tag"] for c in _CASES])
def test_batch_request_case(spark, case):
    tables = {}
    sql = case["sql"]
    for i, inp in enumerate(case["inputs"]):
        inp = dict(inp)
        inp["rows"] = (inp.get("rows") or []) * int(inp.get("repeat", 1))
        tables[f"__t{i}"] = _mkdf(spark, inp)
        sql = sql.replace(f"{{{i}}}", f"__t{i}")
    breq = dict(case["batch_request"])
    breq["rows"] = (breq.get("rows") or []) * int(breq.get("repeat", 1))
    request = _mkdf(spark, breq)

    out = run_sql_request(spark, sql, tables, request, "__t0")
    rows = out.collect()
    exp = case["expect"]
    cols = [c.rsplit(" ", 1) for c in exp["columns"]]
    names = [c[0].strip() for c in cols]
    types = [c[1].strip().lower() for c in cols]
    assert list(out.columns) == names, (case["id"], out.columns, names)
    got = sorted(tuple(_tok(v, t) for v, t in zip(r, types)) for r in rows)
    want = sorted(tuple(_tok(v, t) for v, t in zip(r, types))
                  for r in exp["rows"])
    assert got == want, (case["id"], got, want)
