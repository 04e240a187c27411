"""Harness that runs the reference's own YAML case corpus
(/root/reference/cases/function/window/*.yaml — PUBLIC test data, the
same corpus all three reference harnesses share, SURVEY.md §5) against
our window kernel.

A mini-compiler for the narrow SQL shape those cases use:

    SELECT <col|agg(args) OVER w1 AS alias>... FROM {0}
    WINDOW w1 AS ([UNION {1},{2}] PARTITION BY {t}.k[, ...]
                  ORDER BY {t}.ts
                  ROWS|ROWS_RANGE BETWEEN <bound> AND <bound>
                  [MAXSIZE n] [EXCLUDE CURRENT_TIME]
                  [INSTANCE_NOT_IN_WINDOW])

Anything outside the shape (multiple windows, expressions in the
projection, sub-selects in UNION, unsupported aggs) is reported as
SKIPPED — the test asserts a minimum supported-and-passing count so
coverage can only ratchet up.
"""

from __future__ import annotations

import math
import re
from datetime import date, datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import yaml

from openmldb_spark.plans.specs import Agg, KERNEL_AGG_FUNCS, WindowSpec
from openmldb_spark.operators.window_kernel import EXPANDED, ORD, PRIMARY, UPOS
from conftest import corpus_path, run_window_kernel


class Unsupported(Exception):
    pass


_TYPES = {
    "int": "int32", "int32": "int32", "smallint": "int16", "int16": "int16",
    "bigint": "int64", "int64": "int64", "float": "float32",
    "double": "float64", "string": "object", "bool": "bool",
    "timestamp": "int64", "date": "object",
}


_ARROW_TYPES = {
    "int": pa.int32(), "int32": pa.int32(), "smallint": pa.int16(),
    "int16": pa.int16(), "bigint": pa.int64(), "int64": pa.int64(),
    "timestamp": pa.int64(), "float": pa.float32(), "double": pa.float64(),
    "string": pa.string(), "date": pa.string(), "bool": pa.bool_(),
}


def _build_pdf(inp: dict) -> tuple[pd.DataFrame, dict]:
    cols = [c.rsplit(" ", 1) for c in inp["columns"]]
    names = [c[0].strip() for c in cols]
    types = {c[0].strip(): c[1].strip().lower() for c in cols}
    rows = inp.get("rows")
    if rows is None:
        raise Unsupported("no literal rows")
    # `repeat: N` replicates the input rows N× (SqlCase repeat_,
    # cluster/test_window_row.yaml id 5: 1 row × 400)
    rows = list(rows) * int(inp.get("repeat", 1))
    pdf = pd.DataFrame(rows, columns=names)
    for n in names:
        t = types[n]
        if t not in _TYPES:
            raise Unsupported(f"type {t}")
        if t in ("int", "int32", "smallint", "int16", "bigint", "int64",
                 "timestamp"):
            pdf[n] = pd.to_numeric(pdf[n], errors="raise").astype("float64")
        elif t in ("float", "double"):
            pdf[n] = pd.to_numeric(pdf[n]).astype("float64")
    return pdf, types


def _ord_values(pdf: pd.DataFrame, col: str, typ: str) -> pd.Series:
    if typ == "date":
        return pd.Series([
            None if v is None else
            (date.fromisoformat(v).toordinal() if isinstance(v, str)
             else pd.Timestamp(v).toordinal())
            for v in pdf[col]
        ], dtype="float64")
    return pd.to_numeric(pdf[col], errors="coerce")


SUPPORTED_AGGS = KERNEL_AGG_FUNCS


def compile_case(case: dict):
    """Delegate to the package SQL front end (openmldb_spark/sqlfe.py);
    returns (projection sequence, windows dict) in its format."""
    from openmldb_spark.sqlfe import SqlUnsupported, compile_window_sql
    try:
        q = compile_window_sql(str(case["sql"]))
    except SqlUnsupported as e:
        raise Unsupported(str(e)) from None
    if getattr(q, "aux", None):
        # expression-valued aggregate arguments need Catalyst to compute
        # auxiliary columns — Spark path only (test_full_corpus_spark)
        raise Unsupported("aggregate argument expressions (Spark path)")
    return q.projection, q.windows


_RID = "__rid"


def _run_window(pdf0, types0, inputs, spec, union_idx, aggs) -> pd.DataFrame:
    import dataclasses

    for a in aggs:
        if a.func in ("sum", "avg", "top") and \
                types0.get(a.col) in ("string", "date"):
            raise Unsupported(f"{a.func} over {types0.get(a.col)}")
    # logical input types drive the csv-emitting UDAF formatting
    aggs = [dataclasses.replace(
        a,
        val_type=a.val_type or types0.get(a.col),
        cate_type=a.cate_type or (types0.get(a.cate) if a.cate else None),
    ) for a in aggs]

    frames = [pdf0]
    for i in union_idx:
        up, _ = _build_pdf(inputs[i])
        up[_RID] = -1
        frames.append(up)

    work_frames = []
    for j, f in enumerate(frames):
        w = f.copy()
        w[ORD] = _ord_values(w, spec.order_by, types0.get(spec.order_by, ""))
        w[PRIMARY] = 1 if j == 0 else 0
        # later-listed union tables sort older at equal ts (id 19)
        w[UPOS] = -j
        w[EXPANDED] = 0
        work_frames.append(w)
    work = pd.concat(work_frames, ignore_index=True)
    # null/negative order keys dropped (WindowAggPlan.isValidOrder:783-790)
    work = work[work[ORD].notna() & (work[ORD] >= 0)].copy()
    work[ORD] = work[ORD].astype("int64")

    # the columns' logical types as Arrow types: the result types follow
    # window._agg_field (narrow int sums truncate mod 2^N, float sums
    # stay float32)
    types = {c: _ARROW_TYPES[t] for c, t in types0.items()
             if t in _ARROW_TYPES}

    outs = []
    for _, grp in work.groupby(list(spec.partition_by), dropna=False,
                               sort=False):
        outs.append(run_window_kernel(
            grp.reset_index(drop=True), spec, aggs, [_RID], types))
    if not outs:
        return pd.DataFrame(columns=[_RID] + [a.alias for a in aggs])
    return pd.concat(outs, ignore_index=True)


def run_case(case: dict) -> pd.DataFrame:
    proj_seq, windows = compile_case(case)
    inputs = case["inputs"]
    pdf0, types0 = _build_pdf(inputs[0])
    pdf0 = pdf0.copy()
    pdf0[_RID] = np.arange(len(pdf0))

    merged = pdf0[[_RID] + list(dict.fromkeys(
        e[1] for e in proj_seq if e[0] == "col"))].copy()
    for wname, (spec, union_idx, aggs) in windows.items():
        if not aggs:
            continue
        wout = _run_window(pdf0, types0, inputs, spec, union_idx, aggs)
        merged = merged.merge(wout, on=_RID, how="inner")

    out_cols, out_names = [], []
    for entry in proj_seq:
        if entry[0] == "col":
            out_cols.append(entry[1])
            out_names.append(entry[2])
        elif entry[0] == "agg":
            out_cols.append(entry[2].alias)
            out_names.append(entry[2].alias)
        else:
            # expression-over-aggregates projections need Catalyst —
            # covered by the Spark path (test_full_corpus_spark)
            raise Unsupported("expression projection (Spark path only)")
    res = merged[out_cols].copy()
    res.columns = out_names
    return res


def check_case(case: dict) -> None:
    got = run_case(case)
    exp = case["expect"]
    if "columns" not in exp or "rows" not in exp:
        raise Unsupported("no literal expect")
    exp_cols = [c.rsplit(" ", 1)[0].strip() for c in exp["columns"]]
    exp_types = [c.rsplit(" ", 1)[1].strip().lower() for c in exp["columns"]]
    order = exp.get("order")
    erows = exp["rows"]
    if order:
        oi = exp_cols.index(order)
        erows = sorted(erows, key=lambda r: (r[oi] is None, r[oi]))
        got = got.sort_values(order, kind="stable")
    assert list(got.columns) == exp_cols, (list(got.columns), exp_cols)
    assert len(got) == len(erows), (len(got), len(erows))
    for (_, grow), erow in zip(got.iterrows(), erows):
        for cname, ctype, ev in zip(exp_cols, exp_types, erow):
            gv = grow[cname]
            if ev is None:
                assert gv is None or (isinstance(gv, float) and math.isnan(gv)
                                      ) or gv is pd.NA, (cname, gv, "expected null")
                continue
            if ctype in ("float", "double"):
                assert gv is not None and not pd.isna(gv), (cname, erow)
                assert math.isclose(float(gv), float(ev), rel_tol=1e-5,
                                    abs_tol=1e-5), (cname, gv, ev)
            elif ctype in ("int", "bigint", "smallint", "timestamp"):
                assert gv is not None and not pd.isna(gv), (cname, erow)
                # round-4: sums keep the reference's T→T result type with
                # C wraparound (window._agg_field + kernel mod-2^N cast),
                # so wrapped expectations now compare EXACTLY — no skip
                gi = int(round(float(gv)))
                assert gi == int(ev), (cname, gv, ev)
            else:
                assert str(gv) == str(ev), (cname, gv, ev)


def expand_case(case: dict) -> list[dict]:
    """Expand dataProvider template cases: d[0] placeholders substituted
    per provider value; expectProvider[i] overrides expect fields (the
    reference case framework's cross-product, single-dim only here)."""
    dp = case.get("dataProvider")
    if not dp:
        return [case]
    if len(dp) != 1:
        # multi-dim: full cross-product, but only when the expectation is
        # case-level (expectProvider's multi-dim indexing is not needed
        # by any corpus we replay — the negative sweep uses this for
        # success:false cases where every combination must fail)
        if case.get("expectProvider"):
            return []
        import itertools
        out = []
        for combo in itertools.product(*dp):
            c = dict(case)
            sql = str(case["sql"])
            for di, val in enumerate(combo):
                sql = sql.replace(f"d[{di}]", str(val))
            c["sql"] = sql
            c["id"] = f"{case.get('id')}@" + "|".join(map(str, combo))
            c.pop("dataProvider", None)
            out.append(c)
        return out
    out = []
    for i, val in enumerate(dp[0]):
        c = dict(case)
        c["sql"] = str(case["sql"]).replace("d[0]", str(val))
        exp = dict(case.get("expect", {}))
        ep = case.get("expectProvider") or {}
        if i in ep:
            exp.update(ep[i])
        c["expect"] = exp
        c["id"] = f"{case.get('id')}@{val}"
        c.pop("dataProvider", None)
        c.pop("expectProvider", None)
        out.append(c)
    return out


def _data_rows(txt) -> list[list]:
    """Parse the corpus' CSV-ish ``data:`` block (the alternative to
    ``rows:`` — test_window.yaml ids 33-37): comma-separated cells,
    NULL → None, cells type-converted downstream by declared column
    type."""
    rows = []
    for line in str(txt).strip().split("\n"):
        if not line.strip():
            continue
        rows.append([None if v.strip().upper() == "NULL" else v.strip()
                     for v in line.split(",")])
    return rows


def _normalize_data(case: dict) -> dict:
    changed = False
    inputs = []
    for inp in case.get("inputs", []):
        if "data" in inp and "rows" not in inp:
            inp = dict(inp)
            inp["rows"] = _data_rows(inp["data"])
            changed = True
        inputs.append(inp)
    exp = case.get("expect")
    if isinstance(exp, dict) and "data" in exp and "rows" not in exp:
        exp = dict(exp)
        exp["rows"] = _data_rows(exp["data"])
        changed = True
    if changed:
        case = dict(case)
        case["inputs"] = inputs
        if exp is not None:
            case["expect"] = exp
    return case


def load_cases(fname: str) -> list[dict]:
    with open(corpus_path(f"cases/function/window/{fname}")) as f:
        doc = yaml.safe_load(f)
    out = []
    for c in doc.get("cases", []):
        out.extend(_normalize_data(ec) for ec in expand_case(c))
    return out
