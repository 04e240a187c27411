"""Replay cases/function/multiple_databases/test_multiple_databases.yaml.

OpenMLDB resolves table names against a catalog of databases: queries
reference ``db.table`` explicitly or bare ``table`` in the session's
default database, and the catalog rejects unknown databases and bare
names outside the default db. Our engine mirrors this in
``sqlfe.resolve_databases`` (tables registered under dotted ``db.name``
keys + ``run_sql(default_db=...)``).

Positive cases are fully value-checked via the plain-case comparator;
negative cases must raise (SqlUnsupported from the resolver, or an
analysis error for sub-query-scope violations, id 8).
"""

import re

import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported, run_sql
from yaml_harness import expand_case
from test_plain_query_cases import check_case, _expect_table
from test_window_query_cases import Unsupported, _mk_named_df
from conftest import corpus_path

CASE_FILE = corpus_path("cases/function/multiple_databases/"
                        "test_multiple_databases.yaml")

with open(CASE_FILE) as f:
    _CASES = [e for c in yaml.safe_load(f)["cases"] for e in expand_case(c)]


def _prep(spark, case):
    """Positional inputs → named tables under dotted db keys; ``{i}`` and
    ``db.{i}`` refs → ``t{i}`` (the resolver handles the db part)."""
    default_db = case.get("db")
    sql = str(case["sql"])
    tables = {}
    for i, inp in enumerate(case.get("inputs") or []):
        db = inp.get("db") or default_db
        name, df = _mk_named_df(spark, inp)
        name = inp.get("name") or f"t{i}"
        tables[f"{db}.{name}"] = df
        sql = re.sub(rf"\{{{i}\}}", name, sql)
    return sql, tables, default_db


@pytest.mark.parametrize(
    "case", _CASES, ids=[str(c["id"]) for c in _CASES])
def test_multiple_databases_case(spark, case):
    sql, tables, default_db = _prep(spark, case)
    exp = case.get("expect") or {}
    if exp.get("success") is False:
        with pytest.raises(Exception):
            run_sql(spark, sql, tables, default_db=default_db).collect()
        return
    try:
        got = run_sql(spark, sql, tables, default_db=default_db).toPandas()
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"unsupported: {e}")
    # reuse check_case's comparator by faking a single-table case whose
    # sql selects the already-computed result verbatim
    names, typs, erows = _expect_table(exp)
    assert len(got) == len(erows), (len(got), len(erows))
    import pandas as pd
    import math
    got.columns = names
    gl = sorted(
        tuple("<null>" if v is None or (isinstance(v, float)
                                        and math.isnan(v))
              else f"{v:.6g}" if isinstance(v, float)
              else str(int(v.value // 10**6))
              if isinstance(v, pd.Timestamp) else str(v)
              for v in r)
        for r in got.where(pd.notna(got), None).values.tolist())
    el = sorted(
        tuple("<null>" if v is None
              else f"{float(v):.6g}" if t in ("float", "double")
              else str(v)
              for v, t in zip(r, typs))
        for r in erows)
    assert gl == el, (case["id"], gl, el)
