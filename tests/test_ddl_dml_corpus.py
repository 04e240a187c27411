"""Replay the reference's DDL/DML corpus through the statement front end:

    cases/function/ddl/{test_create,test_create_index,
                        test_create_no_index,test_options,test_ttl}.yaml
    cases/function/dml/{test_insert,multi_insert,test_insert_prepared}.yaml

CREATE TABLE registers an empty DataFrame (+ index metadata in a
catalog), INSERT INTO appends literal rows, CREATE INDEX validates and
records; `desc` expectations compare the catalog's normalized index
entries against the reference's desc output (keys/ts/ttl/ttlType).
Negative cases assert statement rejection parity.
"""

import math
import re

import pandas as pd
import pytest
import yaml

from openmldb_spark.sources.ddl import DdlError
from openmldb_spark.sources.io import run_statement
from openmldb_spark.sqlfe import SqlUnsupported, run_sql

from test_window_query_cases import Unsupported, _mk_named_df
from test_plain_query_cases import _expect_table, _cell
from conftest import corpus_path

FILES = ["ddl/test_create", "ddl/test_create_index",
         "ddl/test_create_no_index", "ddl/test_options", "ddl/test_ttl",
         "dml/test_insert", "dml/multi_insert", "dml/test_insert_prepared"]

FDIR = corpus_path("cases/function")


def _load(fname):
    with open(f"{FDIR}/{fname}.yaml") as f:
        return yaml.safe_load(f)["cases"]


def _idx_from_spec(spec: str, ncols=None) -> dict:
    """Input 'indexs' spelling index1:c1|c2:c4 → normalized entry."""
    parts = spec.split(":")
    keys = parts[1].split("|") if len(parts) > 1 else []
    ts = parts[2] if len(parts) > 2 and parts[2] else "-"
    return {"keys": keys, "ts": ts, "ttl": "0min",
            "ttlType": "kAbsoluteTime"}


def _sub_tables(text: str, names: list, auto: str) -> str:
    for i, n in enumerate(names):
        text = text.replace(f"{{{i}}}", n)
    return text.replace("{auto}", auto)


def _compare_rows(got: pd.DataFrame, expect: dict):
    names, typs, erows = _expect_table(expect)
    assert list(got.columns) == names, (list(got.columns), names)
    assert len(got) == len(erows), (len(got), len(erows))
    grows = [[_cell(v) for v in r]
             for r in got.where(pd.notna(got), None).values.tolist()]

    def key(r):
        return [(v is None, str(v)) for v in r]

    for grow, erow in zip(sorted(grows, key=key), sorted(erows, key=key)):
        for name, typ, gv, ev in zip(names, typs, grow, erow):
            if ev is None:
                assert gv is None, (name, gv, "expected null")
            elif typ in ("float", "double"):
                assert gv is not None and math.isclose(
                    float(gv), float(ev), rel_tol=1e-5), (name, gv, ev)
            elif typ in ("int", "int32", "int16", "smallint", "int64",
                         "bigint", "timestamp"):
                assert int(gv) == int(ev), (name, gv, ev)
            elif typ == "bool":
                assert bool(gv) == bool(ev), (name, gv, ev)
            else:
                assert str(gv) == str(ev), (name, gv, ev)


def _run_case(spark, case, seq):
    tables: dict = {}
    catalog: dict = {}      # table name -> [normalized index entries]
    names = []
    auto = f"auto_{seq}"
    for i, inp in enumerate(case.get("inputs") or []):
        name = f"t{seq}_{i}"
        names.append(name)
        if set(inp.keys()) <= {"name", "db"}:
            # a bare name declaration: the case's own CREATE TABLE names
            # the table literally (test_options.yaml inputs [{name: t3}])
            names[-1] = inp.get("name") or name
            continue
        if "columns" in inp or "schema" in inp:
            _, df = _mk_named_df(spark, inp)
            tables[name] = df
            catalog[name] = [_idx_from_spec(s)
                             for s in inp.get("indexs") or []]
        elif "create" in inp:
            cstmt = _sub_tables(inp["create"], names, auto)
            run_statement(spark, cstmt, tables, catalog=catalog)
            if inp.get("insert"):
                istmt = _sub_tables(str(inp["insert"]), names, auto)
                prows = inp.get("rows")
                if prows and "?" in istmt:
                    for pr in prows:
                        run_statement(spark, istmt, tables, params=pr)
                else:
                    run_statement(spark, istmt, tables)
        else:
            raise Unsupported(f"input spec {sorted(inp)}")

    stmts = case.get("sqls") or [case["sql"]]
    expect = case.get("expect") or {}
    negative = expect.get("success") is False
    last_df = None
    try:
        for stmt in stmts:
            stmt = _sub_tables(str(stmt), names, auto).strip()
            if stmt.lower().startswith("desc"):
                run_statement(spark, stmt, tables, catalog=catalog)
                continue        # idxs checked from the catalog below
            last_df = run_statement(spark, stmt, tables, catalog=catalog)
    except (DdlError, SqlUnsupported, ValueError) as e:
        if negative:
            return
        raise AssertionError(f"statement rejected: {e}") from e
    assert not negative, "negative case was accepted"

    if "idxs" in expect:
        # the desc target is the case's table {0}; drop the
        # engine-internal index-name key (kept for DROP INDEX) — the
        # corpus' idxs blocks carry keys/ts/ttl/ttlType only
        got_idxs = [{k: v for k, v in e.items() if k != "name"}
                    for e in catalog.get(names[0] if names else auto, [])]
        assert got_idxs == expect["idxs"], (got_idxs, expect["idxs"])
    if "columns" in expect and ("rows" in expect or "data" in expect):
        assert last_df is not None, "no result DataFrame to compare"
        _compare_rows(last_df.toPandas(), expect)


def _params():
    out = []
    for f in FILES:
        for j, c in enumerate(_load(f)):
            out.append(pytest.param(f, c, j, id=f"{f}::{c.get('id')}"))
    return out


def _excluded(case) -> str | None:
    mode = str(case.get("mode") or "")
    if "batch-unsupport" in mode or "offline-unsupport" in mode:
        return "marked batch-unsupported"
    if not case.get("sql") and not case.get("sqls"):
        return "no statement"
    if "{currentTime}" in str(case.get("inputs")):
        # ttl-expiry cases: rows timestamped relative to the wall clock,
        # expectations depend on LIVE TTL EVICTION from online memory
        # storage — the batch engine reads the full offline data, where
        # ttl is a catalog attribute, not an eviction policy
        return "online TTL eviction (batch reads full offline data)"
    if any("TODO" in str(t) for t in case.get("tags") or []):
        # the reference harness skips TODO-tagged cases (create_index
        # ids 22/23/30 carry the reference's own "latest evicted one row
        # too many" bug note)
        return "TODO-tagged (reference harness skips)"
    if re.search(r"ttl_type\s*=\s*(latest|absandlat|absorlat)",
                 str(case.get("sqls") or "")) and "过期" in str(
                     case.get("desc") or ""):
        return "online TTL eviction (latest-N per key)"
    for inp in case.get("inputs") or []:
        for s in (inp.get("indexs") or []) if isinstance(inp, dict) else []:
            if len(str(s).split(":")) > 3:
                # 5-part index spec index1:c1:c4:<ttl>:<type> — the
                # expectation bakes in latest-N eviction of input rows
                return "online TTL eviction (latest-N per key)"
    return None


@pytest.mark.parametrize("fname,case,seq", _params())
def test_ddl_dml_case(fname, case, seq, spark):
    why = _excluded(case)
    if why:
        pytest.skip(why)
    try:
        _run_case(spark, case, seq)
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"outside subset: {e}")


def test_minimum_ddl_dml_coverage(spark):
    ok, fails, skip = 0, [], 0
    for f in FILES:
        for j, case in enumerate(_load(f)):
            if _excluded(case):
                continue
            try:
                _run_case(spark, case, 1000 + j)
                ok += 1
            except (Unsupported, SqlUnsupported):
                skip += 1
            except AssertionError as e:
                fails.append((f, case.get("id"), str(e)[:120]))
    assert not fails, fails[:10]
    # last recorded run: 168 ok / 0 fail / 2 Unsupported skips across
    # the 8 ddl+dml files (negatives asserted as rejections count as ok;
    # online-TTL-eviction and TODO-tagged cases are excluded upfront)
    assert ok >= 165, f"only {ok} ddl/dml cases passed (skips={skip})"
