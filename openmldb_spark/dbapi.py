"""PEP-249 (DBAPI 2.0) surface over the engine — the Spark-native twin
of the reference Python SDK (python/openmldb/dbapi/dbapi.py).

Parity notes (reference file:line):
- module globals apilevel/paramstyle/threadsafety (dbapi.py:31-34)
- the full exception hierarchy (dbapi.py:66-147)
- Cursor.execute routes by statement head: INSERT with qmark holes
  filled from tuple/dict parameters, SELECT (plain / parameterized via
  tuple / request-mode via dict), everything else through the
  statement executor (dbapi.py:243-288)
- tuple-insert arity check uses the hole count OUTSIDE string literals
  ("parameters is not enough", dbapi.py:247-249 — the reference counts
  raw '?', which miscounts question marks inside literals and misbinds;
  we deliberately diverge to the quote-aware count)
- dict-insert refuses missing columns ("col {} data not given"),
  NULL into NOT NULL ("column seq {} not allow null") and non-str for
  string columns ("{} vale type is not str" — the reference's typo is
  kept verbatim so error-string matchers port unchanged)
  (dbapi.py:300-320)
- fetchone/fetchmany/fetchall stream the result set; date cells render
  as 'Y-M-D' strings (GetAsStringUnsafe, dbapi.py:195) and timestamps
  as epoch-ms ints (GetTimeUnsafe, dbapi.py:196)
- Connection.close raises NotSupportedError while Cursor.close works
  (dbapi.py:556-557 vs :175) — kept verbatim
- commit()/rollback() are no-ops (no transactions, dbapi.py:545-553)
- executemany batches qmark INSERTs, warns and falls back to execute
  for hole-less statements (dbapi.py:347-386)
"""

from __future__ import annotations

import datetime
import re

from openmldb_spark import sqllex

apilevel = "2.0"
paramstyle = "qmark"
threadsafety = 3


class Type:
    Bool = 1
    Int16 = 2
    Int32 = 3
    Int64 = 4
    Float = 5
    Double = 6
    Date = 7
    String = 8
    Timestamp = 9


_SPARK_TO_TYPE = {
    "boolean": Type.Bool, "smallint": Type.Int16, "int": Type.Int32,
    "bigint": Type.Int64, "float": Type.Float, "double": Type.Double,
    "date": Type.Date, "string": Type.String, "timestamp": Type.Timestamp,
}
_SPARK_TO_STR = {
    "boolean": "bool", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float", "double": "double",
    "date": "date", "string": "string", "timestamp": "timestamp",
}


class Error(Exception):
    def __init__(self, message):
        self.message = message

    def __str__(self):
        return self.message

    def msg(self):
        return self.message


class Warning(Exception):  # noqa: A001 - reference name
    def __init__(self, message):
        self.message = message


class InterfaceError(Error):
    pass


class DatabaseError(Error):
    pass


class DataError(DatabaseError):
    pass


class OperationalError(DatabaseError):
    pass


class IntegrityError(DatabaseError):
    pass


class InternalError(DatabaseError):
    pass


class ProgrammingError(DatabaseError):
    pass


class NotSupportedError(DatabaseError):
    pass


class CursorClosedException(Error):
    def __str__(self):
        return repr(self.message)


class ConnectionClosedException(Error):
    def __str__(self):
        return repr(self.message)


_INSERT_RE = re.compile("^insert", re.I)
_SELECT_RE = re.compile("^select", re.I)


def epoch_ms(v: datetime.datetime) -> int:
    """Epoch milliseconds of a datetime from Spark collect().

    PySpark's non-Arrow collect() materializes TimestampType via
    ``datetime.fromtimestamp`` — a NAIVE datetime in the driver's LOCAL
    timezone. ``timestamp()`` interprets naive values as local, i.e. is
    the exact inverse; stamping tzinfo=UTC instead would shift every
    value by the driver's UTC offset on a non-UTC host."""
    return int(v.timestamp() * 1000)


def _lit(v) -> str:
    """Render one parameter as a SQL literal for hole substitution."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        # naive = driver-local, the same convention epoch_ms uses on the
        # read side (and the reference SDK's data.timestamp()*1000);
        # stamping tzinfo=UTC would shift writes on a non-UTC driver
        return str(epoch_ms(v))
    if isinstance(v, datetime.date):
        return f"'{v.isoformat()}'"
    if isinstance(v, (int, float)):
        return repr(v)
    # ZetaSQL escapes with backslash, not quote doubling (the shared
    # literal emitter lives in sqlfe)
    from openmldb_spark.sqlfe import _sql_str_lit
    return _sql_str_lit(str(v))


def _insert_hole_columns(command: str, schema) -> list:
    """-> the StructFields the qmark holes bind to, in hole order.
    Columns come from the explicit column list when present, else the
    table schema positionally (the reference's GetHoleIdx)."""
    m = re.search(r"(?is)^insert\s+into\s+[`\w.]+\s*"
                  r"(?:\(([^)]*)\))?\s*values?\s*\((.*)\)\s*;?\s*$",
                  command)
    if not m:
        raise DatabaseError(f"cannot parse insert: {command!r}")
    by_name = {f.name: f for f in schema.fields}
    if m.group(1):
        try:
            cols = [by_name[c.strip().strip("`")]
                    for c in m.group(1).split(",")]
        except KeyError as e:
            raise DatabaseError(f"unknown column {e}") from None
    else:
        cols = list(schema.fields)
    # positions of top-level ?s in the values tuple
    parts = [p.strip() for p in sqllex.split(m.group(2))]
    if len(parts) != len(cols):
        raise DatabaseError("column size != value size")
    return [cols[i] for i, p in enumerate(parts) if p == "?"]


class Cursor:
    def __init__(self, db, conn):
        self.description = None
        self.rowcount = -1
        self.arraysize = 1
        self.connection = conn
        self.db = db
        self._connected = True
        self._rows = None
        self._pos = 0
        self._schema = None
        self.lastrowid = None

    def _check(self):
        if self._connected is False:
            raise CursorClosedException("Cursor object is closed")
        if self.connection._connected is False:
            raise ConnectionClosedException("Connection object is closed")

    def close(self):
        self._check()
        self._connected = False

    # ------------------------------------------------------------------
    def _pre_process_result(self, df):
        if df is None:
            # a statement with no result set CLEARS the previous one —
            # fetch* after a DDL/INSERT must not replay stale rows
            self.rowcount = 0
            self._rows = None
            self._schema = None
            self._pos = 0
            self.description = None
            return
        self._schema = df.schema
        self._rows = [tuple(r) for r in df.collect()]
        self._pos = 0
        self.rowcount = len(self._rows)
        self.description = [
            (f.name, _SPARK_TO_TYPE.get(f.dataType.simpleString(),
                                        Type.String),
             None, None, None, None, True)
            for f in self._schema.fields]

    def _cell(self, v, field):
        if v is None:
            return None
        s = field.dataType.simpleString()
        if s == "date":
            return v.isoformat() if isinstance(v, datetime.date) else str(v)
        if s == "timestamp":
            if isinstance(v, datetime.datetime):
                return epoch_ms(v)
            return int(v)
        return v

    def _session(self):
        return self.connection._session

    def _exec_stmt(self, command, params=None):
        try:
            return self._session().execute(command, params=params)
        except Exception as e:
            raise DatabaseError(str(e)) from e

    # ------------------------------------------------------------------
    def execute(self, operation, parameters=()):
        self._check()
        command = operation.strip(" \t\n\r") if operation else None
        if command is None:
            raise Exception("None operation")
        if _INSERT_RE.match(command):
            # arity against the REAL hole count (outside string
            # literals) — the raw count the reference uses would demand
            # phantom params for '?' inside literals and misbind
            question_marks = sqllex.placeholders(command)
            if question_marks > 0:
                # the reference applies the arity check to tuples AND
                # dicts before any per-column dispatch (dbapi.py:247-249)
                if len(parameters) != question_marks:
                    raise DatabaseError("parameters is not enough")
                if isinstance(parameters, dict):
                    lits = self._dict_insert_literals(command, parameters)
                elif isinstance(parameters, tuple):
                    lits = [_lit(v) for v in parameters]
                else:
                    raise DatabaseError(
                        "error at append data for unsupported type")
                command = sqllex.fill_placeholders(command, lits)
            self._exec_stmt(command)
            self._pre_process_result(None)
            return None
        if _SELECT_RE.match(command):
            if isinstance(parameters, tuple) and len(parameters) > 0:
                df = self._exec_stmt(command, params=list(parameters))
            elif isinstance(parameters, dict):
                df = self._request_query(command, parameters)
            else:
                df = self._exec_stmt(command)
            self._pre_process_result(df)
            return self
        df = self._exec_stmt(command)
        self._pre_process_result(df)
        return self

    def _resolve_table(self, raw: str):
        """-> (DataFrame, name-as-run_sql-sees-it). A db-qualified
        name resolves in THAT db and keeps its dotted spelling (the
        session's table dicts expose cross-db tables under 'db.t')."""
        sess = self._session()
        name = raw.strip("`")
        if "." in name:
            dbn, t = (p.strip("`") for p in name.split(".", 1))
            return sess.table(t, db=dbn), f"{dbn}.{t}"
        return sess.table(name), name

    def _dict_insert_literals(self, command, row: dict) -> list[str]:
        m = re.search(r"(?is)^insert\s+into\s+([`\w.]+)", command)
        try:
            t, _ = self._resolve_table(m.group(1) if m else "")
            schema = t.schema
        except DatabaseError:
            raise
        except Exception as e:
            raise DatabaseError(str(e)) from e
        holes = _insert_hole_columns(command, schema)
        lits = []
        for f in holes:
            if f.name not in row:
                raise DatabaseError(f"col {f.name} data not given")
            v = row[f.name]
            if v is None:
                if not f.nullable:
                    raise DatabaseError(
                        f"column seq {f.name} not allow null")
                lits.append("NULL")
                continue
            if (f.dataType.simpleString() == "string"
                    and not isinstance(v, str)):
                # reference's exact (typo'd) message, dbapi.py:318
                raise DatabaseError(f"{f.name} vale type is not str")
            lits.append(_lit(v))
        return lits

    def _request_query(self, command, parameters: dict):
        """dict parameters = ONE request row over the query's main
        table (the reference's doRequestQuery)."""
        from openmldb_spark.sqlfe import run_sql_request
        sess = self._session()
        m = re.search(r"(?is)\bfrom\s+([`\w.]+)", command)
        if not m:
            raise DatabaseError("cannot find request table")
        try:
            t, main = self._resolve_table(m.group(1))
            req = sess.spark.createDataFrame(
                [tuple(parameters.get(f.name) for f in t.schema.fields)],
                t.schema)
            return run_sql_request(
                sess.spark, command, dict(sess._dbs[sess._db_of(None)],
                                          **sess._dotted()),
                req, main)
        except DatabaseError:
            raise
        except Exception as e:
            raise DatabaseError(str(e)) from e

    def executeRequest(self, sql, parameter):
        # deliberate divergence: the reference's guard
        # (`selectRE.match(command) == False`, dbapi.py:493) is dead
        # code — a Match/None never == False — so it forwards ANY
        # statement; we implement the evidently intended check and
        # keep its message (typo included)
        command = sql.strip(" \t\n\r")
        if not _SELECT_RE.match(command):
            raise Exception("Invalid opertion for request")
        df = self._request_query(command, parameter)
        self._pre_process_result(df)
        return self

    def batch_row_request(self, sql, commonCol, parameters):
        """Batch-request: every row in `parameters` is a request row;
        commonCol names the constant columns (semantically the result
        is row-wise identical, so it rides the same lowering)."""
        from openmldb_spark.sqlfe import run_sql_request
        sess = self._session()
        m = re.search(r"(?is)\bfrom\s+([`\w.]+)", sql)
        if not m:
            raise DatabaseError("cannot find request table")
        try:
            t, main = self._resolve_table(m.group(1))
            rows = []
            for row in parameters:
                if isinstance(row, dict):
                    rows.append(tuple(row.get(f.name)
                                      for f in t.schema.fields))
                else:
                    rows.append(tuple(row))
            req = sess.spark.createDataFrame(rows, t.schema)
            df = run_sql_request(
                sess.spark, sql, dict(sess._dbs[sess._db_of(None)],
                                      **sess._dotted()), req, main)
        except DatabaseError:
            raise
        except Exception as e:
            raise DatabaseError(f"execute select fail {e}") from e
        self._pre_process_result(df)
        return self

    def callproc(self, procname, parameters=()):
        if len(parameters) < 1:
            # reference's exact message, dbapi.py:213
            raise DatabaseError("please providate data for proc")
        from openmldb_spark.sources.procedure import execute_procedure
        sess = self._session()
        try:
            df = execute_procedure(
                sess.spark, procname, sess.procedures,
                sess._dbs[sess._db_of(None)],
                [list(parameters)])
        except Exception as e:
            raise DatabaseError(f"execute select fail, {e}") from e
        self._pre_process_result(df)
        return self

    def executemany(self, operation, parameters, batch_number=200):
        self._check()
        command = operation.strip(" \t\n\r") if operation else None
        if command is None:
            raise Exception("None operation")
        if sqllex.placeholders(command) == 0:
            return self.execute(operation, parameters)
        if isinstance(parameters, list) and len(parameters) == 0:
            return self.execute(operation, parameters)
        if not _INSERT_RE.match(command):
            raise DatabaseError("unsupport sql")
        rows = list(parameters)
        if any(isinstance(r, dict) for r in rows):
            # dict rows need per-row column dispatch
            for row in rows:
                self.execute(operation,
                             row if isinstance(row, (tuple, dict))
                             else tuple(row))
            return None
        # qmark rows batch into multi-row INSERT VALUES statements of
        # batch_number rows each (one engine statement per batch, not
        # per row); placeholders bind sequentially across the statement
        m = re.search(r"(?is)\bvalues\s*(\(.*\))\s*;?\s*$", command)
        if not m:
            for row in rows:
                self.execute(operation, tuple(row))
            return None
        head = command[:m.start(1)]
        tuple_txt = m.group(1).rstrip().rstrip(";").strip()
        for i in range(0, len(rows), batch_number):
            chunk = [tuple(r) for r in rows[i:i + batch_number]]
            stmt = head + ", ".join([tuple_txt] * len(chunk))
            flat = tuple(v for r in chunk for v in r)
            try:
                self.execute(stmt, flat)
            except DatabaseError:
                # one bad row (e.g. an unbindable value) must not abort
                # the whole batch: the reference executes per row, so
                # every row BEFORE the failure inserts and the error
                # names the offending row. The multi-row statement is
                # all-or-nothing (nothing inserted on raise), so replay
                # this chunk row-by-row — good rows land, the bad row's
                # error propagates with per-row granularity.
                for r in chunk:
                    self.execute(operation, r)
        return None

    # ------------------------------------------------------------------
    def is_online_mode(self):
        return self._session().variables.get("execute_mode") == "online"

    def get_tables(self, db):
        sess = self._session()
        if db not in sess._dbs:
            raise DatabaseError(f"database {db!r} does not exist")
        return sorted(sess._dbs[db])

    def get_all_tables(self):
        sess = self._session()
        return sorted(n for tabs in sess._dbs.values() for n in tabs)

    def get_databases(self):
        return sorted(self._session()._dbs)

    # ------------------------------------------------------------------
    def fetchone(self):
        self._check()
        if self._rows is None:
            raise DatabaseError("query data failed")
        if self._pos >= len(self._rows):
            return None
        row = self._rows[self._pos]
        self._pos += 1
        return tuple(self._cell(v, f)
                     for v, f in zip(row, self._schema.fields))

    def fetchmany(self, size=None):
        self._check()
        if self._rows is None:
            raise DatabaseError("query data failed")
        if size is None:
            size = self.arraysize
        elif size < 0:
            raise Exception("Given size should greater than zero")
        out = []
        for _ in range(size):
            row = self.fetchone()
            if row is None:
                break
            out.append(row)
        return out

    def fetchall(self):
        self._check()
        return self.fetchmany(size=self.rowcount)

    def get_resultset_schema(self):
        """[{'name': ..., 'type': ...}] with the reference SDK's
        readable type spellings (TypeUtil.intTypeToStr, sdk.py:505-518)."""
        if self._schema is None:
            raise DatabaseError("query data failed")
        return [{"name": f.name,
                 "type": _SPARK_TO_STR.get(f.dataType.simpleString(),
                                           f.dataType.simpleString())}
                for f in self._schema.fields]

    def nextset(self):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def setinputsizes(self, size):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def setoutputsize(self, size, columns=()):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def get_query_metadata(self):
        self._check()
        raise NotSupportedError("Unsupported in OpenMLDB")

    def get_default_plugin(self):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def __iter__(self):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def getdesc(self):
        self._check()
        return "openmldb cursor"


class Connection:
    def __init__(self, db, spark=None, session=None):
        from openmldb_spark.sources.session import Session
        self._connected = True
        self._db = db
        if session is None:
            if spark is None:
                raise Exception("init openmldb sdk erred")
            session = Session(spark)
        self._session = session
        # the target db need not pre-exist (the reference connects
        # first and the user `create database if not exists` after) —
        # create-if-missing then USE, so cursor statements scope to it
        session.create_database(db, if_not_exists=True)
        session.use(db)

    def execute(self):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def _cursor_execute(self, cursor, statement, parameters):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def do_rollback(self, dbapi_connection):
        raise NotSupportedError("Unsupported in OpenMLDB")

    def rollback(self):
        pass

    def commit(self):
        """No transactions in OpenMLDB — a deliberate no-op
        (dbapi.py:545-553)."""

    def close(self):
        # reference parity: Connection.close raises (dbapi.py:556-557);
        # only Cursor.close works
        raise NotSupportedError("Unsupported in OpenMLDB")

    def cursor(self):
        return Cursor(self._db, self)


def connect(db, zk=None, zkPath=None, host=None, port=None, *,
            spark=None, session=None):
    """Reference signature kept (zk/zkPath/host/port accepted and
    unused — there is no cluster transport here); the Spark session or
    an existing engine Session rides in via keyword."""
    return Connection(db, spark=spark, session=session)
