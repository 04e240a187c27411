"""Run the reference's LAST JOIN yaml corpus
(/root/reference/cases/function/join/test_lastjoin_simple.yaml) through
the real Spark last_join operator.

SQL shape compiled:
    select <{t}.col [as alias]>... from {0} last join {1}
    [ORDER BY {1}.col] on <cond> [and <cond>...]
conds: {0}.x={1}.y (equi), {1}.x=<lit> / {0}.x <op> {1}.y (residual).

Unordered LAST JOIN: the reference's online engine scans the right
table's index time descending and keeps the first hit → tie pinned to
the right index ts descending (JoinPlan.scala:190-196 dropDuplicates is
order-dependent; the yaml expectations encode the index-scan order).
"""

import math
import re

import pandas as pd
import pytest
import yaml

import pyspark.sql.functions as F
import pyspark.sql.types as T

from openmldb_spark.plans.specs import LastJoinSpec
from openmldb_spark.operators.lastjoin import last_join
from conftest import corpus_path

CASES = corpus_path("cases/function/join/test_lastjoin_simple.yaml")

_SQL = re.compile(
    r"^\s*select\s+(?P<proj>.*?)\s+from\s+\{0\}\s+last\s+join\s+\{1\}\s*"
    r"(?:ORDER\s+BY\s+\{1\}\.(?P<ord>\w+)\s+)?on\s+(?P<cond>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_SPARK_TYPES = {
    "int": T.IntegerType(), "int32": T.IntegerType(),
    "smallint": T.ShortType(), "int16": T.ShortType(),
    "bigint": T.LongType(), "int64": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(),
    "string": T.StringType(), "bool": T.BooleanType(),
    "timestamp": T.LongType(),  # ms epoch, ordering-compatible
    "date": T.StringType(),
}


class Unsupported(Exception):
    pass


def _load():
    with open(CASES) as f:
        return yaml.safe_load(f)["cases"]


def _mkdf(spark, inp, prefix=""):
    cols = [c.rsplit(" ", 1) for c in inp["columns"]]
    names = [c[0].strip() for c in cols]
    types = [c[1].strip().lower() for c in cols]
    if any(t not in _SPARK_TYPES for t in types):
        raise Unsupported(f"type in {types}")
    schema = T.StructType([
        T.StructField(prefix + n, _SPARK_TYPES[t]) for n, t in zip(names, types)
    ])
    rows = inp.get("rows")
    if rows is None:
        raise Unsupported("no rows")
    fixed = []
    for r in rows:
        rr = []
        for v, t in zip(r, types):
            if v is None:
                rr.append(None)
            elif t in ("int", "int32", "smallint", "int16"):
                rr.append(int(v))
            elif t in ("bigint", "int64", "timestamp"):
                rr.append(int(v))
            elif t in ("float", "double"):
                rr.append(float(v))
            elif t == "bool":
                rr.append(bool(v))
            else:
                rr.append(str(v))
        fixed.append(rr)
    return spark.createDataFrame(fixed, schema), dict(zip(names, types))


def _index_ts(inp) -> str | None:
    idx = inp.get("indexs") or []
    if idx:
        parts = idx[0].split(":")
        if len(parts) >= 3:
            return parts[2]
    return None


def _compile(case):
    sql = case["sql"].strip().replace("\n", " ")
    if re.search(r"\blimit\s+\d+\s*;?\s*$", sql, re.IGNORECASE):
        raise Unsupported("limit")
    if len(re.findall(r"last\s+join", sql, re.IGNORECASE)) > 1:
        raise Unsupported("multi-table last join chain")
    m = _SQL.match(sql)
    if not m:
        raise Unsupported("sql shape")
    proj = []
    for item in m.group("proj").split(","):
        item = item.strip()
        pm = re.fullmatch(
            r"\{(?P<t>\d)\}\.(?P<col>\w+)(?:\s+as\s+(?P<alias>\w+))?",
            item, re.IGNORECASE)
        if not pm:
            raise Unsupported(f"projection {item!r}")
        proj.append((int(pm.group("t")), pm.group("col"),
                     pm.group("alias") or pm.group("col")))
    equi, residual = [], []
    for tok in re.split(r"\s+and\s+", m.group("cond"), flags=re.IGNORECASE):
        tok = tok.strip()
        em = re.fullmatch(r"\{0\}\.(\w+)\s*=\s*\{1\}\.(\w+)", tok)
        if em:
            equi.append((em.group(1), em.group(2)))
            continue
        em = re.fullmatch(r"\{1\}\.(\w+)\s*=\s*\{0\}\.(\w+)", tok)
        if em:
            equi.append((em.group(2), em.group(1)))
            continue
        rm = re.fullmatch(r"\{(\d)\}\.(\w+)\s*(>=|<=|!=|=|>|<)\s*(.+)", tok)
        if rm:
            t, col, op, rhs = rm.groups()
            lhs = f"r__{col}" if t == "1" else col
            rhs = re.sub(r"\{1\}\.(\w+)", r"r__\1", rhs)
            rhs = re.sub(r"\{0\}\.(\w+)", r"\1", rhs)
            op = "=" if op == "=" else op
            residual.append(f"{lhs} {op} {rhs}")
            continue
        raise Unsupported(f"cond {tok!r}")
    if not equi and not residual:
        raise Unsupported("no condition")
    return proj, equi, residual, m.group("ord")


def _run(spark, case):
    proj, equi, residual, order = _compile(case)
    left, ltypes = _mkdf(spark, case["inputs"][0])
    right, rtypes = _mkdf(spark, case["inputs"][1], prefix="r__")

    if not equi:
        # pure-residual join: synthesize a constant equi key
        left = left.withColumn("__k", F.lit(1))
        right = right.withColumn("r____k", F.lit(1))
        equi = [("__k", "__k")]

    spec_kwargs = dict(
        left_on=[l for l, _ in equi],
        right_on=[f"r__{r}" for _, r in equi],
        condition=" AND ".join(residual) if residual else None,
    )
    if order:
        spec_kwargs["order_by"] = f"r__{order}"
        its = _index_ts(case["inputs"][1])
        if its and its != order:
            spec_kwargs["tiebreak"] = (f"r__{its}",)
    else:
        its = _index_ts(case["inputs"][1])
        if its:
            spec_kwargs["tiebreak"] = (f"r__{its}",)
    spec = LastJoinSpec(**spec_kwargs)

    # right equi-key columns referenced by the projection or the residual
    # condition would be dropped by last_join (aliased internally):
    # carry duplicates under rk__ and rewrite the references
    need_dup = {col for t, col, _ in proj
                if t == 1 and f"r__{col}" in spec_kwargs["right_on"]}
    if spec_kwargs.get("condition"):
        for rcol in re.findall(r"\br__(\w+)", spec_kwargs["condition"]):
            if f"r__{rcol}" in spec_kwargs["right_on"]:
                need_dup.add(rcol)
                spec_kwargs["condition"] = re.sub(
                    rf"\br__{rcol}\b", f"rk__{rcol}",
                    spec_kwargs["condition"])
    for col in need_dup:
        right = right.withColumn(f"rk__{col}", F.col(f"r__{col}"))
    right_cols = [c for c in right.columns
                  if c not in spec_kwargs["right_on"]
                  and c != spec_kwargs.get("order_by")]
    # order col may also be projected: keep it as a right_col too
    if spec_kwargs.get("order_by") and any(
            t == 1 and f"r__{c}" == spec_kwargs["order_by"]
            for t, c, _ in proj):
        right_cols.append(spec_kwargs["order_by"])
        spec = LastJoinSpec(**{**spec_kwargs, "order_by": None,
                               "tiebreak": (spec_kwargs["order_by"],)
                               + tuple(spec_kwargs.get("tiebreak", ()))})
    out = last_join(left, right, spec, right_cols=right_cols)

    sel = []
    for t, col, alias in proj:
        name = col if t == 0 else f"r__{col}"
        if name not in out.columns and t == 1:
            name = f"rk__{col}"
        if name not in out.columns:
            raise Unsupported(f"projected col {col} not available")
        sel.append(F.col(name).alias(alias))
    return out.select(*sel)


def _check(spark, case):
    got = _run(spark, case).toPandas()
    exp = case["expect"]
    cols = [c.rsplit(" ", 1)[0].strip() for c in exp["columns"]]
    typs = [c.rsplit(" ", 1)[1].strip().lower() for c in exp["columns"]]
    erows = exp["rows"]
    order = exp.get("order")
    assert list(got.columns) == cols, (list(got.columns), cols)
    assert len(got) == len(erows), (len(got), len(erows))
    grows = got.where(pd.notna(got), None).values.tolist()
    if order:
        oi = cols.index(order)

        def k(r):
            v = r[oi]
            return (v is None, str(v))
        erows = sorted(erows, key=k)
        grows = sorted(grows, key=k)
    for grow, erow in zip(grows, erows):
        for cname, ctype, ev, gv in zip(cols, typs, erow, grow):
            if ev is None:
                assert gv is None or (isinstance(gv, float) and math.isnan(gv)
                                      ) or gv is pd.NA, (cname, gv)
            elif ctype in ("float", "double"):
                assert math.isclose(float(gv), float(ev), rel_tol=1e-5), \
                    (cname, gv, ev)
            elif ctype in ("int", "bigint", "smallint", "timestamp"):
                assert gv is not None and int(gv) == int(ev), (cname, gv, ev)
            else:
                assert str(gv) == str(ev), (cname, gv, ev)


def _params():
    return [pytest.param(c, id=f"lastjoin::{c.get('id')}") for c in _load()]


@pytest.mark.parametrize("case", _params())
def test_lastjoin_case(case, spark):
    if case.get("mode") and ("unsupport" in str(case["mode"]) or
                             "offline" in str(case["mode"])):
        pytest.skip("marked unsupported")
    if "expect" in case and case["expect"].get("success") is False:
        pytest.skip("negative case")
    if "rows" not in case.get("expect", {}):
        pytest.skip("no literal expect")
    try:
        _check(spark, case)
    except Unsupported as e:
        pytest.skip(f"outside harness subset: {e}")


def test_minimum_lastjoin_coverage(spark):
    ok, failures = 0, []
    for case in _load():
        if case.get("mode") and ("unsupport" in str(case["mode"]) or
                                 "offline" in str(case["mode"])):
            continue
        if "expect" in case and case["expect"].get("success") is False:
            continue
        if "rows" not in case.get("expect", {}):
            continue
        try:
            _check(spark, case)
            ok += 1
        except Unsupported:
            pass
        except AssertionError as e:
            failures.append((case.get("id"), str(e)[:160]))
    assert not failures, failures
    assert ok >= 20, f"only {ok} lastjoin cases supported"
