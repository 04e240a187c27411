"""Stateful multi-database statement session — the surface a reference
CLI/SDK user drives day-to-day, over the batch engine.

Mirrors the reference SDK's command dispatch
(src/sdk/sql_cluster_router.cc:1528-1830 HandleSQLCmd: kCmdCreateDatabase /
kCmdUseDatabase / kCmdDropDatabase / kCmdShowDatabases / kCmdShowTables /
kCmdDropTable / kCmdDropIndex) with the nameserver's catalog semantics
(src/nameserver/name_server_impl.cc:9596 "database already exists",
:9659-9674 "database not found" / "database not empty" on drop):

- databases are namespaces of tables; ``USE`` selects the session
  default; bare table names resolve there, ``db.table`` anywhere.
- ``DROP DATABASE`` refuses a non-empty database (the reference never
  cascades).
- everything that isn't a session/catalog command delegates to the
  statement front end (sources/io.py run_statement) scoped to the
  current database, or — for queries — to run_sql over the full dotted
  ``db.table`` catalog with ``default_db`` = the current database, so
  cross-database SELECT / LAST JOIN works exactly like
  cases/function/multiple_databases.

State is driver-side dict-of-DataFrames bookkeeping only — table data
stays lazy/distributed; nothing here adds a Spark action.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from openmldb_spark import sqllex
from openmldb_spark.sources.ddl import DdlError


# the reference SDK's session-variable defaults
# (sql_cluster_router.cc:276-279); the global store starts from the
# same four (INFORMATION_SCHEMA GLOBAL_VARIABLES presets)
_VAR_DEFAULTS = {"execute_mode": "offline", "enable_trace": "false",
                 "sync_job": "false", "job_timeout": "20000"}


class Session:
    """One interactive session: ``execute()`` any statement string."""

    def __init__(self, spark, db: str | None = None):
        self.spark = spark
        self._dbs: dict[str, dict[str, DataFrame]] = {}
        self._catalogs: dict[str, dict[str, list]] = {}
        self.deployments: dict = {}
        self.procedures: dict = {}
        self.variables: dict[str, str] = dict(_VAR_DEFAULTS)
        self.global_variables: dict[str, str] = dict(_VAR_DEFAULTS)
        self.db: str | None = None
        if db:
            self.create_database(db)
            self.db = db

    # ------------------------------------------------------------------
    # catalog primitives (also the Python-API surface)
    def create_database(self, name: str, if_not_exists: bool = False):
        if name in self._dbs:
            if if_not_exists:
                return
            raise DdlError("database already exists")
        self._dbs[name] = {}
        self._catalogs[name] = {}

    def use(self, name: str):
        if name not in self._dbs:
            raise DdlError("database not found")
        self.db = name

    def drop_database(self, name: str, if_exists: bool = False):
        if name not in self._dbs:
            if if_exists:
                return
            raise DdlError("database not found")
        if self._dbs[name]:
            raise DdlError("database not empty")
        del self._dbs[name]
        del self._catalogs[name]
        if self.db == name:
            self.db = None

    def register(self, name: str, df: DataFrame, db: str | None = None):
        """Bind an existing DataFrame as a table (the programmatic
        analog of LOAD DATA — how parquet-backed tables enter)."""
        self._dbs[self._db_of(db)][name] = df

    def table(self, name: str, db: str | None = None) -> DataFrame:
        tabs = self._dbs[self._db_of(db)]
        if name not in tabs:
            raise DdlError(f"table {name!r} does not exist")
        return tabs[name]

    def table_meta(self, name: str, db: str | None = None) -> dict:
        """The nameserver's table-info JSON for one table — the
        restful GET /dbs/{db}/tables/{t} payload
        (cases/restful/v230/test_desc.yaml; 'DB not found' /
        'Table not found' are its exact refusal spellings)."""
        from openmldb_spark.sources.ddl import (auto_index,
                                                render_table_meta)
        dbn = db or self.db
        if dbn is None or dbn not in self._dbs:
            raise DdlError("DB not found")
        tabs = self._dbs[dbn]
        if name not in tabs:
            raise DdlError("Table not found")
        idx = self._catalogs[dbn].get(name) or [
            auto_index(tabs[name].schema)]
        return render_table_meta(name, tabs[name].schema, idx)

    def list_table_metas(self, db: str | None = None) -> list[dict]:
        """restful GET /dbs/{db}/tables — every table's metadata in
        name order (cases/restful/v230/test_show_tables.yaml)."""
        dbn = db or self.db
        if dbn is None or dbn not in self._dbs:
            raise DdlError("DB not found")
        return [self.table_meta(n, db=dbn)
                for n in sorted(self._dbs[dbn])]

    def _db_of(self, db: str | None) -> str:
        db = db or self.db
        if db is None:
            raise DdlError("no database selected (USE a database first)")
        if db not in self._dbs:
            raise DdlError("database not found")
        return db

    def _dotted(self) -> dict[str, DataFrame]:
        return {f"{db}.{name}": df
                for db, tabs in self._dbs.items()
                for name, df in tabs.items()}

    # ------------------------------------------------------------------
    def execute(self, stmt: str, params=None, path_resolver=None):
        """Run one statement; returns a DataFrame for queries/SHOWs,
        None for commands (reference CLI contract)."""
        s = stmt.strip().rstrip(";").strip()

        m = re.match(r"(?is)^create\s+database\s+(?:(if\s+not\s+exists)"
                     r"\s+)?([`\w]+)$", s)
        if m:
            self.create_database(m.group(2).strip("`"), bool(m.group(1)))
            return None
        m = re.match(r"(?is)^use\s+([`\w]+)$", s)
        if m:
            self.use(m.group(1).strip("`"))
            return None
        m = re.match(r"(?is)^drop\s+database\s+(?:(if\s+exists)\s+)?"
                     r"([`\w]+)$", s)
        if m:
            self.drop_database(m.group(2).strip("`"), bool(m.group(1)))
            return None
        if re.match(r"(?is)^show\s+databases$", s):
            names = sorted(self._dbs)
            return self.spark.createDataFrame(
                [(n,) for n in names], "Databases string")
        if re.match(r"(?is)^show\s+tables$", s):
            names = sorted(self._dbs[self._db_of(None)])
            return self.spark.createDataFrame(
                [(n,) for n in names], "Tables string")
        m = re.match(r"(?is)^drop\s+table\s+(?:(if\s+exists)\s+)?"
                     r"(?:([`\w]+)\s*\.\s*)?([`\w]+)$", s)
        if m:
            if_exists, db, name = (bool(m.group(1)),
                                   m.group(2) and m.group(2).strip("`"),
                                   m.group(3).strip("`"))
            tabs = self._dbs[self._db_of(db)]
            if name not in tabs:
                if if_exists:
                    return None
                raise DdlError(f"table {name!r} does not exist")
            del tabs[name]
            cat = self._catalogs[self._db_of(db)]
            cat.pop(name, None)
            cat.get("__defaults__", {}).pop(name, None)
            return None
        m = re.match(r"(?is)^drop\s+index\s+(?:([`\w]+)\s*\.\s*)?"
                     r"([`\w]+)\s*\.\s*([`\w]+)$", s)
        if m:
            db, tname, iname = (m.group(1) and m.group(1).strip("`"),
                                m.group(2).strip("`"),
                                m.group(3).strip("`"))
            cat = self._catalogs[self._db_of(db)]
            entries = cat.get(tname, [])
            kept = [e for e in entries if e.get("name") != iname]
            if len(kept) == len(entries):
                raise DdlError(f"index {iname!r} on {tname!r} "
                               f"does not exist")
            cat[tname] = kept
            return None

        m = re.match(r"(?is)^set\s+(?:@@(?:(global|session)\s*\.\s*)?"
                     r"|(global|session)\s+)([`\w]+)\s*=\s*(.+)$", s)
        if m:
            # SET @@[scope.]key = literal / SET GLOBAL|SESSION key = v
            # (SetVariable, sql_cluster_router.cc:2555-2605: key and
            # value lowercased, typed validation per well-known key,
            # a GLOBAL set updates the session copy too). A bare
            # `SET name = ...` (no @@/scope) is the reference parser's
            # "unsupport syntax" (cmd.yaml id around SET SELECT_MODE).
            scope = (m.group(1) or m.group(2) or "session").lower()
            key = m.group(3).strip("`").lower()
            val = m.group(4).strip().strip(";").strip()
            if re.match(r"^['\"]", val):
                if val[-1] != val[0]:
                    raise DdlError(f"malformed string literal {val!r}")
                val = val[1:-1]
            elif not re.fullmatch(r"[\w.]+", val):
                raise DdlError(f"unsupport syntax: SET value {val!r} "
                               f"must be a literal")
            val = val.lower()
            if scope == "global":
                # the GLOBAL_VARIABLES insert PRECEDES validation
                # (sql_cluster_router.cc:2559-2570), so even a value
                # that fails the typed check below lands in the global
                # store — matched exactly
                self.global_variables[key] = val
            if key == "execute_mode" and val not in ("online", "offline"):
                raise DdlError(
                    "the value of execute_mode must be online|offline")
            if key in ("enable_trace", "sync_job") and \
                    val not in ("true", "false"):
                raise DdlError(f"the value of {key} must be true|false")
            if key == "job_timeout" and not re.fullmatch(r"-?\d+", val):
                raise DdlError("Fail to parse value, can't set the "
                               "request timeout")
            if key in ("execute_mode", "enable_trace", "sync_job",
                       "job_timeout"):
                self.variables[key] = val
            # else: an unknown key is accepted but NOT written to the
            # session store, whatever the scope
            # (sql_cluster_router.cc:2595-2599 returns OK before
            # session_variables_[key] is written) — pinned by
            # v040/test_execute_mode.yaml id 2 (execute_olol never
            # appears in SHOW VARIABLES)
            return None
        m = re.match(r"(?is)^show\s+(global\s+|session\s+)?variables$", s)
        if m:
            scope = (m.group(1) or "session").strip().lower()
            store = self.global_variables if scope == "global" \
                else self.variables
            return self.spark.createDataFrame(
                sorted(store.items()),
                "Variable_name string, Value string")
        if re.match(r"(?is)^show\s+procedures?(\s+status)?$", s):
            rows = sorted((p.get("db", ""), name)
                          for name, p in self.procedures.items())
            return self.spark.createDataFrame(
                rows, "DB string, Name string") if rows else \
                self.spark.createDataFrame([], "DB string, Name string")
        m = re.match(r"(?is)^show\s+create\s+procedure\s+"
                     r"(?:([`\w]+)\s*\.\s*)?([`\w]+)$", s)
        if m:
            name = m.group(2).strip("`")
            p = self.procedures.get(name)
            if p is None:
                raise DdlError(f"procedure {name!r} does not exist")
            # a db qualifier must name the procedure's OWN database
            # (procedures are per-db in the reference nameserver)
            want_db = (m.group(1) or "").strip("`")
            if want_db and p.get("db") and want_db != p["db"]:
                raise DdlError(f"procedure {name!r} does not exist "
                               f"in database {want_db!r}")
            return self.spark.createDataFrame(
                [(name, p["procedure"])],
                "Procedure string, SQL string")
        if re.match(r"(?is)^show\s+functions$", s):
            # external UDF registry — always empty in the batch engine
            # (no CREATE FUNCTION surface; reference lists loaded .so
            # UDFs here)
            return self.spark.createDataFrame(
                [], "Name string, Return_type string, Arg_types string, "
                    "Is_aggregate string, File string")
        if re.match(r"(?is)^(show\s+(jobs?|job\s+\S+|components|"
                    r"table\s+status).*|stop\s+job\b.*|delete\s+job\b.*)$",
                    s):
            raise DdlError(
                "job-manager/online surface is not part of the batch "
                "engine (SHOW JOBS / SHOW COMPONENTS / STOP JOB)")
        m = re.match(r"(?is)^drop\s+function\s+(?:(if\s+exists)\s+)?"
                     r"([`\w]+)$", s)
        if m:
            # no CREATE FUNCTION surface → no external UDF ever exists;
            # IF EXISTS is the reference's silent no-op form
            if m.group(1):
                return None
            raise DdlError(
                f"function {m.group(2).strip(chr(96))!r} does not exist")
        m = re.match(r"(?is)^(load\s+data\s+infile\s+.*?\binto\s+table\s+)"
                     r"([`\w]+)\s*\.\s*([`\w]+)(.*)$", s, re.DOTALL)
        if m:
            # db-qualified LOAD target (cmd.yaml load_data_infile_2):
            # resolve the database here, delegate the bare-name form
            from openmldb_spark.sources.io import run_statement
            db, name = m.group(2).strip("`"), m.group(3).strip("`")
            return run_statement(
                self.spark, m.group(1) + name + m.group(4),
                self._dbs[self._db_of(db)], path_resolver=path_resolver,
                params=params, catalog=self._catalogs[self._db_of(db)])

        m = re.match(r"(?is)^desc(?:ribe)?\s+([`\w]+)\s*\.\s*([`\w]+)$", s)
        if m:
            # DESC db.t (cmd.yaml id 4-2): resolve the db prefix here,
            # then reuse run_statement's plain DESC
            from openmldb_spark.sources.io import run_statement
            db, name = m.group(1).strip("`"), m.group(2).strip("`")
            return run_statement(self.spark, f"DESC {name}",
                                 self._dbs[self._db_of(db)])

        m = re.match(r"(?is)^explain\s+(?:(logical|physical)\s+)?(.*)$",
                     s, re.DOTALL)
        if m:
            # reference EXPLAIN [LOGICAL|PHYSICAL] (cases/plan/cmd.yaml
            # ids 7/7-1) prints the engine's plan; ours is Catalyst's
            # (documented divergence in rendering, same contract).
            # LOGICAL maps to the extended mode (logical + physical).
            from openmldb_spark.sqlfe import run_sql
            df = run_sql(self.spark, m.group(2), self._dotted(),
                         params=params, default_db=self.db)
            mode = "extended" if (m.group(1) or "").lower() == "logical" \
                else "formatted"
            plan = df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString(mode))
            return self.spark.createDataFrame(
                [(plan,)], "plan string")

        # everything else: the statement front end, scoped to the
        # current database; pure queries see the whole dotted catalog
        from openmldb_spark.sources.io import run_statement
        from openmldb_spark.sqlfe import run_sql
        head = s[:24].lower()
        is_stmt = head.startswith((
            "create", "insert", "desc", "deploy", "show", "drop",
            "load")) or re.match(r"(?is)^select\b.*\binto\s+outfile\b",
                                 s, re.DOTALL) is not None
        if is_stmt:
            db = self._db_of(None)
            # a db-qualified CREATE TABLE / INSERT / CREATE INDEX
            # target routes to THAT database with the prefix stripped
            # (plan/create.yaml cases 28-29, insert.yaml case 10) —
            # without this the dotted name would be stored verbatim
            # inside the CURRENT db's table dict
            qm = re.match(
                r"(?is)^\s*(?:create\s+table\s+"
                r"(?:if\s+not\s+exists\s+)?|insert\s+into\s+|"
                r"create\s+index\s+[`\w]+\s+on\s+)"
                r"([`\w]+)\s*\.\s*[`\w]+", s)
            if qm:
                tdb = qm.group(1).strip("`")
                if tdb not in self._dbs:
                    raise DdlError("database not found")
                db = tdb
                stmt = s[:qm.start(1)] + s[qm.end(1):].lstrip(". \t")
            return run_statement(
                self.spark, stmt, self._dbs[db],
                path_resolver=path_resolver, params=params,
                catalog=self._catalogs[db],
                deployments=self.deployments,
                procedures=self.procedures, db=db)
        return run_sql(self.spark, stmt, self._dotted(), params=params,
                       default_db=self.db)


def split_statements(text: str) -> list[str]:
    """Split a SQL script into statements on top-level ';' — quote-aware
    (backslash escapes honored), `--` line comments stripped, and
    BEGIN..END procedure bodies kept whole (their inner ';' does not
    terminate the CREATE PROCEDURE statement). The CLI and the
    batchjob mains (RunBatchSql.scala) both consume whole script files."""
    stmts, cur = [], []
    # `END` closes the NEAREST opener — a CASE expression's END must not
    # close a BEGIN block (else `select case ... end from t; select 2`
    # stops splitting). ';' splits only when no BEGIN is open (a ';'
    # can't occur inside a CASE anyway).
    stack: list[str] = []
    for t in sqllex.tokenize(text):
        word = t.text.lower() if t.kind == "id" else None
        if word == "end":
            if stack:              # an unbalanced END is ignored
                stack.pop()
        elif word in ("begin", "case"):
            stack.append(word)
        elif t.text == ";" and "begin" not in stack:
            s = "".join(cur).strip()
            if s:
                stmts.append(s + ";")
            cur = []
            continue
        elif t.kind == "comment" and t.text.startswith("--"):
            continue
        cur.append(t.text)
    s = "".join(cur).strip()
    if s:
        stmts.append(s)
    return stmts


def execute_script(session: Session, text: str, params=None,
                   path_resolver=None):
    """Run every statement of a script through one Session; returns the
    last statement's DataFrame (None if the script ends on a command) —
    the RunBatchSql contract (`sess.sql(sqlText).show()` on the whole
    file)."""
    out = None
    for stmt in split_statements(text):
        out = session.execute(stmt, params=params,
                              path_resolver=path_resolver)
    return out
