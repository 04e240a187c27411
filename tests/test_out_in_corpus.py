"""Replay the reference's export/import corpora
(cases/function/out_in/test_out_in.yaml and the offline variant
v040/test_out_in_offline.yaml) through the statement front
end (sources/io.run_statement): SELECT INTO OUTFILE → LOAD DATA INFILE
→ SELECT round-trips with the reference's option names, defaults and
validation (delimiter/header/null_value/quote/mode/format/deep_copy;
HybridseUtil.parseOptions).

Cases tied to cluster-only machinery or online mode are classified
skips; every runnable case is value- or count-checked, negative cases
must raise.
"""

import math
import os
import re

import pandas as pd
import pytest
import yaml

from openmldb_spark.sources.io import run_statement
from openmldb_spark.sqlfe import SqlUnsupported
from test_plain_query_cases import _expect_table, _cell, check_case
from test_window_query_cases import Unsupported, _mk_named_df
from conftest import corpus_path

SRCS = [
    corpus_path("cases/function/out_in/test_out_in.yaml"),
    corpus_path("cases/function/v040/test_out_in_offline.yaml"),
]


def _load():
    out = []
    for src in SRCS:
        with open(src) as f:
            for c in yaml.safe_load(f)["cases"]:
                out.append(dict(c, _src=src.rsplit("/", 1)[-1]))
    return out


def _excluded(case) -> str | None:
    mode = str(case.get("mode") or "")
    if "batch-unsupport" in mode or "offline-unsupport" in mode:
        return "marked batch-unsupported"
    text = " ".join(str(s) for s in case.get("sqls") or [])
    if re.search(r"(?i)\binsert\b|\bcreate\b", text):
        return "DML/DDL statements (no INSERT/CREATE surface)"
    if any("TODO" in str(t) for t in case.get("tags") or []):
        return "reference-skipped (TODO tag)"
    return None


def _run_case(spark, case, tmpdir):
    tables = {}
    for i, inp in enumerate(case.get("inputs") or []):
        try:
            name, df = _mk_named_df(spark, dict(inp, name=f"t{i}"))
        except Unsupported:
            name, df = f"t{i}", _mk_named_df(
                spark, dict(inp, rows=[], name=f"t{i}"))[1]
        # a declared db registers the dotted name too (case 4 queries
        # db1.t0; case 6 queries db1.t0 WITHOUT declaring db1 and must
        # fail as unknown)
        if inp.get("db"):
            tables[f"{inp['db']}.{name}"] = df
        tables[name] = df

    def resolve(p):
        # keep directory structure: '/t0/t0.csv' must point at a
        # missing parent dir (corpus id 21 pins the export failing)
        return os.path.join(tmpdir, p.lstrip("/"))

    last, last_outfile = None, None
    for stmt in case["sqls"]:
        stmt = str(stmt)
        for i in range(len(tables) + 2):
            stmt = stmt.replace("{" + str(i) + "}", f"t{i}")
        last = run_statement(spark, stmt, tables, path_resolver=resolve)
        m = re.search(r"(?i)into\s+outfile\s+'([^']+)'", stmt)
        if m:
            last_outfile = resolve(m.group(1))
    return last, resolve, last_outfile


def _cells_equal(g: str, e: str) -> bool:
    if g == e:
        return True
    try:
        return math.isclose(float(g), float(e), rel_tol=1e-6)
    except ValueError:
        pass
    # timestamps: the online CLI exporter writes epoch ms, Spark writes
    # ISO strings — accept either spelling of the same instant
    try:
        ems = int(e)
        gv = pd.Timestamp(g).value // 10**6
        return gv == ems
    except (ValueError, TypeError):
        return False


def _check_cat(exp_cat, resolve):
    """`cat:` expectation — the exported single file's line set, compared
    cell-wise (numeric/timestamp spellings normalized; the reference CLI
    formats floats as %f and timestamps as epoch ms)."""
    path = resolve(exp_cat["path"].replace("{0}", "t0"))
    with open(path) as f:
        got_lines = [ln.rstrip("\n") for ln in f if ln.strip() != ""]
    exp_lines = list(exp_cat["lines"])
    assert len(got_lines) == len(exp_lines), (got_lines, exp_lines)
    for gl, el in zip(sorted(got_lines), sorted(exp_lines)):
        gcells, ecells = gl.split(","), el.split(",")
        assert len(gcells) == len(ecells), (gl, el)
        for g, e in zip(gcells, ecells):
            assert _cells_equal(g, e), (g, e, gl, el)


def _check(spark, case, tmpdir):
    exp = case.get("expect") or {}
    if exp.get("success") is False:
        with pytest.raises(Exception):
            df, _, _ = _run_case(spark, case, tmpdir)
            if df is not None:
                df.collect()
        return
    df, resolve, outfile = _run_case(spark, case, tmpdir)
    if "cat" in exp:
        _check_cat(exp["cat"], resolve)
        return
    if "columns" not in exp and "schema" not in exp:
        if df is None:
            # case ends on the export itself (the offline corpus
            # comments out the re-import): count the exported rows
            got = spark.read.option("header", "true").csv(outfile).count()
        else:
            got = df.count()
        assert got == exp["count"], (got, exp.get("count"))
        return
    assert df is not None, "case ends without a SELECT"
    names, typs, erows = _expect_table(exp)
    got = df.toPandas()
    assert len(got.columns) == len(names), (list(got.columns), names)
    got.columns = names
    assert len(got) == len(erows), (len(got), len(erows))
    grows = [[_cell(v) for v in r]
             for r in got.where(pd.notna(got), None).values.tolist()]
    key = (lambda r: [(v is None, str(v)) for v in r])
    for grow, erow in zip(sorted(grows, key=key), sorted(erows, key=key)):
        for name, typ, gv, ev in zip(names, typs, grow, erow):
            if ev is None:
                assert gv is None, (name, gv)
            elif typ in ("float", "double"):
                assert gv is not None and math.isclose(
                    float(gv), float(ev), rel_tol=1e-5), (name, gv, ev)
            elif typ in ("int", "smallint", "bigint", "timestamp"):
                assert int(gv) == int(ev), (name, gv, ev)
            elif typ == "bool":
                assert bool(gv) == bool(ev), (name, gv, ev)
            else:
                assert str(gv) == str(ev), (name, gv, ev)


def _params():
    return [pytest.param(c, id=f"{c['_src']}::{c.get('id')}")
            for c in _load()]


@pytest.mark.parametrize("case", _params())
def test_out_in_case(case, spark, tmp_path):
    why = _excluded(case)
    if why:
        pytest.skip(why)
    try:
        _check(spark, case, str(tmp_path))
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"unsupported: {e}")


def test_minimum_out_in_coverage(spark, tmp_path):
    ok, fails, skips = 0, [], []
    for i, case in enumerate(_load()):
        if _excluded(case):
            continue
        d = tmp_path / str(i)
        d.mkdir()
        try:
            _check(spark, case, str(d))
            ok += 1
        except (Unsupported, SqlUnsupported) as e:
            skips.append((case.get("id"), str(e)[:90]))
        except AssertionError as e:
            fails.append((case.get("id"), str(e)[:90]))
        except Exception as e:
            fails.append((case.get("id"),
                          type(e).__name__ + " " + str(e)[:90]))
    assert not fails, fails
    assert ok >= 72, f"only {ok} out_in cases passed"
    assert not skips, skips
