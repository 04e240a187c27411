"""Run the reference's query-corpus window cases (named tables,
schema/data string inputs, anonymous inline windows) through run_sql on
Spark — /root/reference/cases/query/window_query.yaml."""

import math
import re

import pandas as pd
import pytest
import yaml

import pyspark.sql.types as T

from openmldb_spark.sqlfe import SqlUnsupported, run_sql
from conftest import corpus_path

CASES = corpus_path("cases/query/window_query.yaml")

_TYPES = {
    "int": T.IntegerType(), "int32": T.IntegerType(),
    "int16": T.ShortType(), "smallint": T.ShortType(),
    "int64": T.LongType(), "bigint": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(),
    "string": T.StringType(), "bool": T.BooleanType(),
    "timestamp": T.TimestampType(), "date": T.DateType(),
}


def _parse_date(v):
    """Corpus date spelling → datetime.date (non-padded '2012-8-11')."""
    import datetime
    if v is None:
        return None
    if isinstance(v, datetime.date):
        return v
    y, mo, d = (int(p) for p in str(v).strip().split("-"))
    return datetime.date(y, mo, d)


def _ms_to_dt(ms):
    """yaml int64 ms → naive UTC datetime (session tz is UTC)."""
    import datetime
    if ms is None:
        return None
    return datetime.datetime.utcfromtimestamp(ms // 1000).replace(
        microsecond=(ms % 1000) * 1000)


class Unsupported(Exception):
    pass


def _parse_schema(s: str):
    """Schema string in either 'name:type, ...' or 'name type, ...' form."""
    cols = []
    for part in s.split(","):
        part = part.strip()
        if not part:           # tolerate corpus typos like ",,"
            continue
        name, typ = part.split(":") if ":" in part else part.rsplit(None, 1)
        cols.append((name.strip(), typ.strip().lower()))
    return cols


def _parse_value(v: str, typ: str):
    v = v.strip()
    if v.upper() in ("NULL", "NONE") or v == "":
        return None
    if typ in ("int", "int32", "int16", "smallint", "int64", "bigint",
               "timestamp"):
        return int(v)
    if typ in ("float", "double"):
        return float(v)
    if typ == "bool":
        return v.lower() in ("true", "1")
    return v


def _mk_named_df(spark, inp):
    import datetime

    if "resource" in inp:
        # resource files are the same {name, schema, data} table format
        with open(corpus_path(inp["resource"])) as f:
            inp = yaml.safe_load(f)["table"]
    if "columns" in inp and ("rows" in inp or "data" in inp):
        # the {columns: ['name:type'|'name type'], rows|data: ...} spelling
        cols = [c.rsplit(":", 1) if ":" in c else c.rsplit(None, 1)
                for c in inp["columns"]]
        cols = [(n.strip(), t.strip().lower()) for n, t in cols]
        if any(t not in _TYPES for _, t in cols):
            raise Unsupported(f"type in {cols}")
        schema = T.StructType([T.StructField(n, _TYPES[t]) for n, t in cols])
        if "rows" in inp:
            # yaml rows may spell typed values loosely ('1.0' for a
            # double, 1 for a float) — coerce per declared type; strings
            # stay verbatim ('' is a real empty string here, not NULL)
            # except for SQL-literal backslash escapes: the reference
            # harness INSERTs rows through SQL string literals, so
            # '\\\%a_b' in the yaml reaches the engine as '\%a_b'
            # (v040/test_like.yaml id 8)
            def _s(v):
                if isinstance(v, str) and "\\" in v:
                    return re.sub(r"\\(.)", r"\1", v)
                return v
            rows = [[_s(v) if v is None or t == "string"
                     else _parse_value(str(v), t)
                     for v, (_, t) in zip(r, cols)] for r in inp["rows"]]
        else:
            rows = [[_parse_value(v, t)
                     for v, (_, t) in zip(line.split(","), cols)]
                    for line in str(inp["data"]).strip().splitlines()]
        rows = [[_ms_to_dt(v) if t == "timestamp" and isinstance(v, int)
                 else _parse_date(v) if t == "date"
                 else v for v, (_, t) in zip(r, cols)] for r in rows]
        # `repeat: N` replicates the input rows N× (SqlCase repeat_,
        # cluster/test_window_row.yaml id 5: 1 row × 400)
        rows = rows * int(inp.get("repeat", 1))
        return inp.get("name", "t1"), spark.createDataFrame(rows, schema)
    if "schema" not in inp or "data" not in inp:
        raise Unsupported("input without schema/data")
    cols = _parse_schema(inp["schema"])
    if any(t not in _TYPES for _, t in cols):
        raise Unsupported(f"type in {cols}")
    schema = T.StructType([T.StructField(n, _TYPES[t]) for n, t in cols])
    rows = []
    for line in str(inp["data"]).strip().splitlines():
        vals = line.split(",")
        if len(vals) != len(cols):
            raise Unsupported("ragged data row")
        parsed = [_parse_value(v, t) for v, (_, t) in zip(vals, cols)]
        rows.append([_ms_to_dt(v) if t == "timestamp" and isinstance(v, int)
                     else _parse_date(v) if t == "date"
                     else v for v, (_, t) in zip(parsed, cols)])
    return inp.get("name", "t1"), spark.createDataFrame(rows, schema)


def _load():
    with open(CASES) as f:
        return yaml.safe_load(f)["cases"]


def _check(spark, case):
    tables = dict(_mk_named_df(spark, inp) for inp in case["inputs"])
    got = run_sql(spark, str(case["sql"]), tables).toPandas()

    exp = case["expect"]
    if "schema" not in exp or "data" not in exp:
        raise Unsupported("expect without schema/data")
    cols = _parse_schema(exp["schema"])
    erows = []
    for line in str(exp["data"]).strip().splitlines():
        vals = line.split(",")
        erows.append([_parse_value(v, t) for v, (_, t) in zip(vals, cols)])
    names = [n for n, _ in cols]
    assert list(got.columns) == names, (list(got.columns), names)
    assert len(got) == len(erows), (len(got), len(erows))

    grows = [[v.value // 10**6 if isinstance(v, pd.Timestamp) else v
              for v in r]
             for r in got.astype(object).where(pd.notna(got), None)
             .values.tolist()]
    order = exp.get("order")
    if order:
        oi = names.index(order)

        def k(r):
            return (r[oi] is None, str(r[oi]))
        erows = sorted(erows, key=k)
        grows = sorted(grows, key=k)
    for grow, erow in zip(grows, erows):
        for (name, typ), gv, ev in zip(cols, grow, erow):
            if ev is None:
                assert gv is None, (name, gv)
            elif typ in ("float", "double"):
                assert math.isclose(float(gv), float(ev), rel_tol=1e-5,
                                    abs_tol=1e-5), (name, gv, ev)
            elif typ in ("int", "int32", "int16", "smallint", "int64",
                         "bigint", "timestamp"):
                assert int(gv) == int(ev), (name, gv, ev)
            elif typ == "date":
                # corpus dates may be non-padded ('2012-8-11')
                assert _parse_date(gv) == _parse_date(ev), (name, gv, ev)
            else:
                assert str(gv) == str(ev), (name, gv, ev)


def _params():
    return [pytest.param(c, id=f"wq::{c.get('id')}") for c in _load()]


@pytest.mark.parametrize("case", _params())
def test_window_query_case(case, spark):
    if case.get("mode") and ("batch-unsupport" in str(case["mode"]) or "offline-unsupport" in str(case["mode"])):
        pytest.skip("marked unsupported")
    if case.get("expect", {}).get("success") is False:
        pytest.skip("negative case")
    try:
        _check(spark, case)
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"outside subset: {e}")


def test_minimum_window_query_coverage(spark):
    ok, fails = 0, []
    for case in _load():
        if case.get("mode") and ("batch-unsupport" in str(case["mode"]) or "offline-unsupport" in str(case["mode"])):
            continue
        if case.get("expect", {}).get("success") is False:
            continue
        try:
            _check(spark, case)
            ok += 1
        except (Unsupported, SqlUnsupported):
            pass
        except AssertionError as e:
            fails.append((case.get("id"), str(e)[:150]))
    assert not fails, fails
    assert ok >= 16, f"only {ok} window_query cases supported"
