"""DBAPI 2.0 surface tests — replay of the reference SDK's own test
(python/test/dbapi_test.py) plus the qmark/dict-parameter, request-mode,
callproc and fetch semantics of python/openmldb/dbapi/dbapi.py.
"""

import pytest

from openmldb_spark.dbapi import (ConnectionClosedException,
                                  CursorClosedException, DatabaseError,
                                  NotSupportedError, Type, connect)


@pytest.fixture()
def cur(spark):
    db = connect("db_test", spark=spark)
    c = db.cursor()
    c.execute("create database if not exists db_test;")
    c.execute("create table new_table (x string, y int);")
    return c


# ---------------------------------------------------------------- the
# reference's own dbapi_test.py, case for case
def test_setup_and_teardown_contract(cur):
    assert "new_table" in cur.get_all_tables()
    cur.execute("drop table new_table;")
    assert "new_table" not in cur.get_all_tables()
    with pytest.raises(DatabaseError):
        cur.execute("drop table new_table;")


def test_invalid_create(cur):
    with pytest.raises(DatabaseError):
        cur.execute("create table ")


def test_simple_insert_select(cur):
    cur.execute("insert into new_table values('first', 100);")
    result = cur.execute("select * from new_table;").fetchone()
    assert "first" in result
    assert 100 in result
    with pytest.raises(DatabaseError):
        cur.execute("insert into new_table values(1001, 'first1');")
    with pytest.raises(DatabaseError):
        cur.execute(
            "insert into new_table values({'x':1001, 'y':'first1'});")


def test_select_conditioned(cur):
    cur.execute("insert into new_table values('second', 200);")
    result = cur.execute(
        "select * from new_table where x = 'second';").fetchone()
    assert "second" in result
    assert 200 in result


# ---------------------------------------------------------------- qmark
def test_qmark_insert_tuple(cur):
    cur.execute("insert into new_table values(?, ?);", ("a", 1))
    with pytest.raises(DatabaseError, match="parameters is not enough"):
        cur.execute("insert into new_table values(?, ?);", ("a",))
    rows = cur.execute("select * from new_table;").fetchall()
    assert ("a", 1) in rows


def test_qmark_insert_partial_holes(cur):
    cur.execute("insert into new_table values(?, 7);", ("partial",))
    rows = cur.execute("select * from new_table;").fetchall()
    assert ("partial", 7) in rows


def test_qmark_insert_dict(cur):
    cur.execute("insert into new_table values(?, ?);",
                {"x": "d", "y": 4})
    rows = cur.execute("select * from new_table;").fetchall()
    assert ("d", 4) in rows
    # reference arity check fires FIRST, for dicts too (dbapi.py:247)
    with pytest.raises(DatabaseError, match="parameters is not enough"):
        cur.execute("insert into new_table values(?, ?);", {"x": "e"})
    with pytest.raises(DatabaseError, match="data not given"):
        cur.execute("insert into new_table values(?, ?);",
                    {"x": "e", "z": 1})
    with pytest.raises(DatabaseError, match="vale type is not str"):
        cur.execute("insert into new_table values(?, ?);",
                    {"x": 5, "y": 4})


def test_string_escaping_roundtrip(cur):
    cur.execute("insert into new_table values(?, ?);", ("it's", 9))
    rows = cur.execute("select * from new_table;").fetchall()
    assert ("it's", 9) in rows
    # a backslash that isn't an escape introducer survives verbatim
    cur.execute("insert into new_table values(?, ?);", ("C:\\data", 10))
    rows = cur.execute("select * from new_table;").fetchall()
    assert ("C:\\data", 10) in rows
    # an escaped quote BEFORE a hole must not swallow the '?'
    cur.execute("insert into new_table values('it\\'s 2', ?);", (11,))
    rows = cur.execute("select * from new_table;").fetchall()
    assert ("it's 2", 11) in rows


def test_db_qualified_dict_insert(cur):
    cur.execute("create database if not exists db_other;")
    sess = cur.connection._session
    prev = sess.db
    sess.use("db_other")
    cur.execute("create table ot (a string, b int);")
    sess.use(prev)
    cur.execute("insert into db_other.ot values(?, ?);",
                {"a": "q", "b": 3})
    assert cur.execute("select * from db_other.ot;").fetchall() \
        == [("q", 3)]


def test_executemany(cur):
    cur.executemany("insert into new_table values(?, ?);",
                    [("m1", 1), ("m2", 2), ("m3", 3)])
    rows = cur.execute("select * from new_table;").fetchall()
    assert {("m1", 1), ("m2", 2), ("m3", 3)} <= set(rows)


def test_executemany_replays_only_database_errors(cur, monkeypatch):
    # a failure that is not a DatabaseError (here: the statement
    # executor itself breaking) propagates from the batch statement at
    # once — it is not replayed row by row
    calls = []

    def broken(command, params=None):
        calls.append(command)
        raise RuntimeError("engine down")

    monkeypatch.setattr(cur, "_exec_stmt", broken)
    with pytest.raises(RuntimeError, match="engine down"):
        cur.executemany("insert into new_table values(?, ?);",
                        [("e1", 1), ("e2", 2), ("e3", 3)])
    assert len(calls) == 1


# ------------------------------------------------------------ selects
def test_parameterized_select(cur):
    cur.executemany("insert into new_table values(?, ?);",
                    [("p1", 1), ("p2", 2)])
    rows = cur.execute("select * from new_table where x = ?;",
                       ("p2",)).fetchall()
    assert rows == [("p2", 2)]


def test_fetch_semantics(cur):
    cur.executemany("insert into new_table values(?, ?);",
                    [("f1", 1), ("f2", 2), ("f3", 3)])
    c = cur.execute("select * from new_table;")
    assert c.rowcount == 3
    assert len(cur.fetchmany(2)) == 2
    assert len(cur.fetchall()) == 1          # drains the remainder
    assert cur.fetchone() is None
    # description: DBAPI 7-tuples with our type codes
    desc = {d[0]: d[1] for d in cur.description}
    assert desc == {"x": Type.String, "y": Type.Int32}
    assert cur.get_resultset_schema() == [
        {"name": "x", "type": "string"}, {"name": "y", "type": "int32"}]


def test_fetch_before_query_raises(cur):
    c2 = cur.connection.cursor()
    with pytest.raises(DatabaseError, match="query data failed"):
        c2.fetchone()


# ------------------------------------------------------- request mode
_WINDOW_SQL = ("select x, sum(y) over w as s from t_req window w as "
               "(partition by x order by ts "
               "rows between 2 preceding and current row);")


@pytest.fixture()
def req_cur(cur):
    cur.execute("create table t_req (x string, y int, ts bigint);")
    cur.executemany("insert into t_req values(?, ?, ?);",
                    [("a", 1, 1000), ("a", 2, 2000), ("b", 5, 1500)])
    return cur


def test_request_query_dict_params(req_cur):
    rows = req_cur.execute(
        _WINDOW_SQL, {"x": "a", "y": 10, "ts": 3000}).fetchall()
    assert rows == [("a", 13)]


def test_execute_request(req_cur):
    rows = req_cur.executeRequest(
        _WINDOW_SQL, {"x": "b", "y": 7, "ts": 9000}).fetchall()
    assert rows == [("b", 12)]


def test_batch_row_request(req_cur):
    rows = req_cur.batch_row_request(
        _WINDOW_SQL, [],
        [{"x": "a", "y": 10, "ts": 3000},
         {"x": "b", "y": 7, "ts": 9000}]).fetchall()
    assert sorted(rows) == [("a", 13), ("b", 12)]


def test_callproc(req_cur):
    req_cur.execute(
        "create procedure sp_feat (x string, y int, ts bigint) "
        "begin " + _WINDOW_SQL + " end")
    rows = req_cur.callproc("sp_feat", ("a", 10, 3000)).fetchall()
    assert rows == [("a", 13)]
    with pytest.raises(DatabaseError, match="providate data"):
        req_cur.callproc("sp_feat", ())


# ------------------------------------------------------ object model
def test_cursor_close_semantics(cur):
    c2 = cur.connection.cursor()
    c2.close()
    with pytest.raises(CursorClosedException):
        c2.execute("select 1")
    with pytest.raises(CursorClosedException):
        c2.close()


def test_connection_contract(cur):
    conn = cur.connection
    conn.commit()        # no-op
    conn.rollback()      # no-op
    with pytest.raises(NotSupportedError):
        conn.close()     # reference parity: only Cursor.close works
    with pytest.raises(NotSupportedError):
        conn.execute()
    # closing the connection flag closes dependent cursors
    conn._connected = False
    with pytest.raises(ConnectionClosedException):
        cur.execute("select 1")
    conn._connected = True


def test_unsupported_surface(cur):
    for call in (cur.nextset, lambda: cur.setinputsizes(1),
                 lambda: cur.setoutputsize(1), cur.get_query_metadata,
                 cur.get_default_plugin, lambda: iter(cur)):
        with pytest.raises(NotSupportedError):
            call()
    assert cur.getdesc() == "openmldb cursor"


def test_catalog_helpers(cur):
    assert "db_test" in cur.get_databases()
    assert cur.get_tables("db_test") == sorted(cur.get_all_tables())
    with pytest.raises(DatabaseError):
        cur.get_tables("nope_db")
    assert cur.is_online_mode() is False      # offline default
