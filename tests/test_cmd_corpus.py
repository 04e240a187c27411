"""Replay cases/plan/cmd.yaml (the reference parser's CMD-statement
corpus) through the Session surface for acceptance parity.

The corpus is parser-level (expectations are node trees, never
executed — and not a coherent session script: it DESCs and DROPs
tables it never creates), so each case runs against a FRESH session
prepared with exactly the fixtures its name references need, and the
replay asserts statement-level handling classes:

- ``ok``       — the session executes it;
- ``rejected`` — the reference marks it unsupported (zetasql modes) or
                 it has no batch-executable semantics; the session must
                 raise, never silently accept;
- ``online``   — job-manager / online-cluster surface (SHOW JOBS,
                 STOP JOB, SHOW COMPONENTS, SHOW TABLE STATUS):
                 explicitly refused with a documented error.

Every statement lands in exactly one class — nothing skips silently.
"""

import re

import pytest
import yaml

from openmldb_spark.sources.ddl import DdlError
from openmldb_spark.sources.session import Session
from conftest import corpus_path

CASE_FILE = corpus_path("cases/plan/cmd.yaml")

with open(CASE_FILE) as f:
    CASES = yaml.safe_load(f)["cases"]

# reference-unsupported / plan-only statements: each must RAISE
_REJECT = {
    "2": "CREATE TABLE schema.sql has no column list (plan-only node)",
    "3": "CREATE GROUP: zetasql-unsupport in the reference too",
    "set_select_mode_2": "bare SET name: reference 'unsupport syntax'",
    "drop_function_stmt": "no CREATE FUNCTION surface -> the function "
                          "can never exist ('does not exist')",
    # the reference's own executor rejects unknown file-option keys
    # ("this option X is not currently supported",
    # src/sdk/file_option_parser.h:44-48) — 'charset' and 'delimit'
    # (sic) parse but never execute there either
    "load_data_infile_2": "option key 'charset' rejected at execution",
    "select_into_outfile_2": "option key 'delimit' rejected at execution",
}
_ONLINE_RE = re.compile(
    r"(?is)^\s*(show\s+(jobs?\b|components|table\s+status)|stop\s+job|"
    r"delete\s+job)")

# per-case fixture needs (by corpus id); everything gets main-db t1
_NEEDS_DB1_T1 = {"4-2", "14-2", "15-2", "16"}
_NEEDS_DB1_EMPTY = {"17"}
_NEEDS_PROCS = {"11", "12", "13"}
_NEEDS_DEPLOY_FOO = {"show_deployment", "drop_deployment"}
_NEEDS_DB0_T1 = {"load_data_infile_2"}

_T1 = "create table t1 (col1 int, c1 string, c7 timestamp)"


def _prep(spark, cid: str) -> Session:
    s = Session(spark, db="main")
    s.execute(_T1)
    s.execute("create index index1 on t1 (c1) "
              "options (ts=c7, ttl=100m, ttl_type=absolute)")
    if cid in _NEEDS_DB1_T1:
        s.execute("create database db1")
        s._dbs["db1"]["t1"] = s._dbs["main"]["t1"]
        s._catalogs["db1"]["t1"] = list(s._catalogs["main"]["t1"])
    if cid in _NEEDS_DB1_EMPTY:
        s.execute("create database db1")
    if cid in _NEEDS_DB0_T1:
        s.execute("create database db0")
        s._dbs["db0"]["t1"] = s._dbs["main"]["t1"]
    if cid in _NEEDS_PROCS:
        if cid == "12":
            # SHOW CREATE PROCEDURE db.sp_name — the qualifier must
            # name the procedure's OWN database, so create it there
            s.execute("create database db")
            s.execute("use db")
            s.execute(_T1)
        for name in ("sp1", "sp_name"):
            s.execute(f"create procedure {name} (col1 int, c1 string, "
                      f"c7 timestamp) begin select * from t1; end")
    if cid in _NEEDS_DEPLOY_FOO:
        s.execute("DEPLOY foo SELECT col1 from t1")
    return s


@pytest.mark.parametrize(
    "case", CASES, ids=[str(c.get("id")) for c in CASES])
def test_cmd_case(spark, case, tmp_path):
    sql = str(case["sql"]).strip()
    cid = str(case.get("id"))
    mode = str(case.get("mode", ""))
    sess = _prep(spark, cid)
    low = sql.lower()

    if "unsupport" in mode or cid in _REJECT:
        with pytest.raises(Exception):
            sess.execute(sql)
        return
    if _ONLINE_RE.match(sql):
        with pytest.raises(DdlError, match="batch engine"):
            sess.execute(sql)
        return

    if "load data infile" in low:
        csv = tmp_path / "in.csv"
        csv.write_text("col1,c1,c7\n5,x,1590115420000\n")
        sql = sql.replace("hello.csv", str(csv)).replace(
            "data.csv", str(csv))
    elif "into outfile" in low:
        sql = sql.replace("data.csv", str(tmp_path / "out.csv"))

    out = sess.execute(sql)
    if re.match(r"(?is)^\s*(show|desc|explain)", sql):
        assert out is not None
        out.collect()


def test_every_case_classified():
    """The explicit-reject list references real corpus ids and the file
    still carries the full statement sweep."""
    ids = {str(c.get("id")) for c in CASES}
    assert set(_REJECT) <= ids
    assert len(CASES) >= 40


def test_set_show_variables_semantics(spark):
    """SetVariable parity (sql_cluster_router.cc:2555-2605): lowercased
    keys/values, typed validation, GLOBAL updates the session copy."""
    s = Session(spark)
    s.execute("SET @@session.Enable_Trace = 'TRUE'")
    assert s.variables["enable_trace"] == "true"
    with pytest.raises(DdlError, match="online|offline"):
        s.execute("SET @@execute_mode = 'both'")
    with pytest.raises(DdlError, match="true|false"):
        s.execute("SET @@sync_job = 'maybe'")
    with pytest.raises(DdlError, match="timeout"):
        s.execute("SET @@job_timeout = 'abc'")
    s.execute("SET GLOBAL var1 = 100")
    assert s.global_variables["var1"] == "100"
    # an unknown key never reaches the SESSION store, whatever the
    # scope (sql_cluster_router.cc:2595-2599 returns before
    # session_variables_[key] is written)
    assert "var1" not in s.variables
    rows = {r.Variable_name: r.Value
            for r in s.execute("SHOW VARIABLES").collect()}
    assert rows["execute_mode"] == "offline"   # the reference default
    assert "var1" not in rows
    grows = {r.Variable_name: r.Value
             for r in s.execute("SHOW GLOBAL VARIABLES").collect()}
    assert grows["var1"] == "100"
    # a failed typed SET still lands in the global store first (the
    # reference's GLOBAL_VARIABLES insert precedes validation)
    with pytest.raises(DdlError):
        s.execute("SET GLOBAL execute_mode = 'bogus'")
    assert s.global_variables["execute_mode"] == "bogus"
