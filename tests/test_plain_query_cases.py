"""Replay the reference's plain-query corpus (no window / no LAST JOIN)
through run_sql's Spark-SQL delegation path:

    /root/reference/cases/query/{simple,const,group,having,where_group,
    operator,udf,udaf}_query.yaml

These exercise SELECT / WHERE / GROUP BY / HAVING / DISTINCT / CASE WHEN
/ scalar functions — all lowered to translated Spark SQL over temp views
(sqlfe._run_plain_sql; reference semantics GroupByAggregationPlan.scala,
RowProjectPlan.scala). Cases outside the surface (unregistered functions,
non-literal expectations) are counted as skips; the coverage test
ratchets the minimum passing count.
"""

import math
import re

import pandas as pd
import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported, run_sql
from yaml_harness import expand_case

from test_window_query_cases import (Unsupported, _mk_named_df,
                                     _parse_schema, _parse_value)
from conftest import corpus_path

FILES = ["simple_query", "const_query", "group_query", "having_query",
         "where_group_query", "operator_query", "udf_query", "udaf_query",
         "parameterized_query", "window_with_union_query", "extream_query",
         "fz_sql"]

QDIR = corpus_path("cases/query")


def _load(fname):
    with open(f"{QDIR}/{fname}.yaml") as f:
        cases = yaml.safe_load(f)["cases"]
    out = []
    for c in cases:
        out.extend(expand_case(c))
    return out


def _expect_table(exp):
    """expect in any of the corpus spellings — (schema|columns) crossed
    with (data|rows) — → (names, types, rows)."""
    if "schema" in exp:
        cols = _parse_schema(exp["schema"])
    elif "columns" in exp:
        # two spellings: "name type" and "name:type"
        cols = [c.rsplit(":", 1) if ":" in c and " " not in c.strip()
                else c.rsplit(" ", 1) for c in exp["columns"]]
        cols = [(n.strip(), t.strip().lower()) for n, t in cols]
    else:
        raise Unsupported("no literal expect")
    names = [n for n, _ in cols]
    typs = [t for _, t in cols]
    if "data" in exp:
        rows = [[_parse_value(v, t) for v, (_, t) in zip(line.split(","),
                                                         cols)]
                for line in str(exp["data"] or "").strip().splitlines()]
    elif "rows" in exp:
        rows = [[None if v is None else v for v in r]
                for r in exp["rows"] or []]          # rows: None = empty
    else:
        raise Unsupported("no literal expect")
    return names, typs, rows


def _cell(v):
    import datetime
    if v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.value // 10**6          # ns → ms (OpenMLDB int64 ms)
    if isinstance(v, datetime.date):
        return str(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def check_case(spark, case):
    inputs = case.get("inputs") or []
    pairs = [_mk_named_df(spark, inp) for inp in inputs]
    if all(inp.get("name") or "resource" in inp for inp in inputs):
        tables = dict(pairs)
    else:
        # unnamed inputs: positional {i} refs (dict would collide)
        tables = [df for _, df in pairs]
    params = None
    if case.get("parameters"):
        params = case["parameters"]["rows"][0]
    got = run_sql(spark, str(case["sql"]), tables,
                  params=params).toPandas()
    names, typs, erows = _expect_table(case["expect"])

    def _norm(n):
        # Spark names unaliased expressions "(c2 + 1)", the reference
        # uses the bare source text "c2 + 1" — equal modulo parens/space
        import re as _re
        return _re.sub(r"[\s()]", "", str(n))

    if re.match(r"\s*select\s+\*", str(case["sql"]), re.IGNORECASE) \
            and set(names) < set(got.columns):
        # a few corpus `select *` expectations omit an input column
        # (e.g. expression/test_predicate.yaml:7 drops ts1) — project
        # down to the declared expectation
        got = got[names]
    assert [_norm(c) for c in got.columns] == [_norm(n) for n in names], \
        (list(got.columns), names)
    got.columns = names
    assert len(got) == len(erows), (len(got), len(erows))
    grows = [[_cell(v) for v in r]
             for r in got.where(pd.notna(got), None).values.tolist()]
    order = case["expect"].get("order")
    if order and order in names:
        oi = names.index(order)

        def key(r):
            return (r[oi] is None, str(r[oi]))
    else:
        def key(r):
            return [(v is None, str(v)) for v in r]
    erows = sorted(erows, key=key)
    grows = sorted(grows, key=key)
    for grow, erow in zip(grows, erows):
        for name, typ, gv, ev in zip(names, typs, grow, erow):
            if ev is None:
                assert gv is None, (name, gv, "expected null")
            elif typ in ("float", "double"):
                try:
                    _enan = math.isnan(float(ev))
                except (TypeError, ValueError):
                    _enan = False
                if _enan:
                    # pandas renders both NULL and NaN as NaN in float
                    # columns (then _cell → None); accept either
                    assert gv is None or math.isnan(float(gv)), (name, gv)
                    continue
                assert gv is not None and math.isclose(
                    float(gv), float(ev), rel_tol=1e-5, abs_tol=1e-5), \
                    (name, gv, ev)
            elif typ in ("int", "int32", "int16", "smallint", "int64",
                         "bigint", "timestamp"):
                assert gv is not None, (name, erow)
                assert int(gv) == int(ev), (name, gv, ev)
            elif typ == "bool":
                assert bool(gv) == bool(ev), (name, gv, ev)
            elif typ == "date":
                # corpus dates may be non-padded ('2012-8-11')
                from test_window_query_cases import _parse_date
                assert _parse_date(gv) == _parse_date(ev), (name, gv, ev)
            else:
                assert str(gv) == str(ev), (name, gv, ev)


def _params():
    out = []
    for f in FILES:
        for c in _load(f):
            out.append(pytest.param(f, c, id=f"{f}::{c.get('id')}"))
    return out


def _excluded(case) -> str | None:
    mode = str(case.get("mode") or "")
    if "batch-unsupport" in mode or "offline-unsupport" in mode:
        return "marked batch-unsupported"
    if case.get("expect", {}).get("success") is False:
        return "negative case"
    if "%%fun" in str(case.get("sql", "")):
        return "user-defined script function"
    if any("TODO" in str(t) for t in case.get("tags") or []) and \
            "timestampadd" in str(case.get("sql", "")).lower():
        # the reference's own harness skips TODO-tagged cases
        # (hybridse/src/case/sql_case.cc:1188-1194); timestampadd was
        # never registered there (simple_query.yaml 4-2 "@chenjing,
        # support timestampadd"). Other TODO cases still run here —
        # they pass, so they stay as extra evidence.
        return "reference TODO: timestampadd never implemented"
    if _ts_scale_quirk(case):
        # e.g. udaf_query id 1: one row's std_ts is 1590115424 (seconds
        # magnitude) among ms-magnitude rows, yet the expectation treats
        # it as the newest row — an artifact of the reference CI loader,
        # not reproducible from the literal data
        return "inconsistent timestamp scale in corpus data"
    return None


def _ts_scale_quirk(case) -> bool:
    for inp in case.get("inputs") or []:
        sch = inp.get("schema")
        if not sch or "data" not in inp:
            continue
        cols = _parse_schema(sch)
        ts_idx = [i for i, (_, t) in enumerate(cols) if t == "timestamp"]
        if not ts_idx:
            continue
        vals = []
        for line in str(inp["data"]).strip().splitlines():
            parts = line.split(",")
            for i in ts_idx:
                v = parts[i].strip()
                if v and v.upper() not in ("NULL", ""):
                    vals.append(int(v))
        if vals and min(vals) < 10**11 <= max(vals):
            return True
    return False


@pytest.mark.parametrize("fname,case", _params())
def test_plain_query_case(fname, case, spark):
    why = _excluded(case)
    if why:
        pytest.skip(why)
    try:
        check_case(spark, case)
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"outside subset: {e}")
    except AssertionError:
        raise
    except Exception as e:
        # analysis/runtime rejections (strict ANSI typing, cast errors)
        # are engine-divergence skips, not harness errors
        pytest.skip(f"engine divergence: {type(e).__name__} {str(e)[:80]}")


def test_minimum_plain_query_coverage(spark):
    ok, fails, skip = 0, [], 0
    for f in FILES:
        for case in _load(f):
            if _excluded(case):
                continue
            try:
                check_case(spark, case)
                ok += 1
            except (Unsupported, SqlUnsupported):
                skip += 1
            except AssertionError as e:
                fails.append((f, case.get("id"), str(e)[:120]))
            except Exception:
                skip += 1   # analysis/runtime rejection → divergence skip
    assert not fails, fails
    # last recorded run (round 4): 116 ok / 0 fail / 0 skips — the
    # corpus is fully drained. Round-4 heals: string(null) LIKE escape
    # (typed-NULL fold in _str8), escape-before-ordinary-char pattern
    # normalization, and the ms-mode cast retry for
    # ``(1 + std_ts) > cast(<ms> as timestamp)`` (simple_query 4-1).
    assert skip == 0, f"{skip} plain-query cases skipped"
    assert ok >= 116, f"only {ok} plain-query cases passed"
