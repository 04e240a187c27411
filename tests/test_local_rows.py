"""Rows built from Python values as Arrow local relations (sources/_local.py): the
plan, the timestamp convention, and the errors each surface raises for a
value its column cannot hold."""

import datetime

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from openmldb_spark.sources._local import is_local, local_rows
from openmldb_spark.sources.ddl import DdlError, create_table, insert_into
from openmldb_spark.sources.procedure import (ProcedureError,
                                              create_procedure,
                                              execute_procedure)
from openmldb_spark.sources.restful import RestfulError, put_table_row

SCHEMA = T.StructType([T.StructField("k", T.StringType(), False),
                       T.StructField("n", T.IntegerType()),
                       T.StructField("ts", T.TimestampType())])

BAD_ROWS = [
    pytest.param(["x", "seven", None], "'n'", id="string-into-int"),
    pytest.param(["x", 2 ** 40, None], "'n'", id="int-out-of-range"),
    pytest.param([None, 1, None], "'k'", id="null-into-not-null"),
    pytest.param(["x", 1, 1_590_738_990_000], "'ts'", id="int-into-ts"),
]


def test_local_rows_plan_is_a_local_relation(spark):
    df = local_rows(spark, [["a", 1, None], ["b", None, None]], SCHEMA)
    assert df.schema == SCHEMA
    assert is_local(df)
    # a row index folds into the relation at planning time, as 0..n-1
    rid = df.withColumn("rid", F.monotonically_increasing_id())
    assert is_local(rid)
    assert [r.rid for r in rid.collect()] == [0, 1]
    empty = local_rows(spark, [], "a string, b bigint")
    assert is_local(empty) and empty.count() == 0
    assert not is_local(spark.createDataFrame([("a",)], "a string"))


def test_local_rows_naive_timestamps_are_utc(spark):
    """The session is UTC; a naive datetime is UTC wall time and keeps
    its epoch-ms value, as does an aware one."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    ms = 1_590_738_990_123
    naive = datetime.datetime(2020, 5, 29, 7, 56, 30, 123_000)
    aware = datetime.datetime.fromtimestamp(ms / 1000, datetime.timezone.utc)
    df = local_rows(spark, [["a", 1, naive], ["b", 2, aware]], SCHEMA)
    assert [r[0] for r in df.select(F.unix_millis("ts")).collect()] == \
        [ms, ms]


@pytest.mark.parametrize("row,col", BAD_ROWS)
def test_local_rows_bad_value_raises_module_error(spark, row, col):
    for error in (ValueError, ProcedureError, DdlError, RestfulError):
        with pytest.raises(error, match=col):
            local_rows(spark, [["ok", 1, None], row], SCHEMA, error)


def test_procedure_bad_values_raise_procedure_error(spark):
    name, df = create_table(spark, "create table tpe (c1 string, c2 int)")
    tables, procs = {name: df}, {}
    create_procedure(spark, "create procedure pe (c1 string, c2 int) "
                     "begin select c1, c2 from tpe; end;", tables, procs)
    for bad in ("seven", 2 ** 40):
        with pytest.raises(ProcedureError, match="'c2'"):
            execute_procedure(spark, "pe", procs, tables, [["k", bad]])


def test_insert_bad_values_raise_ddl_error(spark):
    name, df = create_table(
        spark, "create table tde (c1 string not null, c2 int)")
    tables = {name: df}
    with pytest.raises(DdlError, match="'c2'"):
        insert_into(spark, "insert into tde values ('k', 1099511627776)",
                    tables)
    with pytest.raises(DdlError, match="'c2'"):
        insert_into(spark, "insert into tde values ('k', 'seven')", tables)
    with pytest.raises(DdlError, match="'c1'"):
        insert_into(spark, "insert into tde values (NULL, 1)", tables)


def test_restful_bad_values_raise_restful_error(spark):
    name, df = create_table(
        spark, "create table tre (c1 string not null, c2 int)")
    dbs = {"db1": {name: df}}
    for value in ('["k", "seven"]', '["k", 1099511627776]', '[null, 1]'):
        with pytest.raises(RestfulError):
            put_table_row(spark, "PUT", "/dbs/db1/tables/tre",
                          f'{{"value": [{value}]}}', dbs)
    put_table_row(spark, "PUT", "/dbs/db1/tables/tre",
                  '{"value": [["k", 7]]}', dbs)
    assert [tuple(r) for r in dbs["db1"]["tre"].collect()] == [("k", 7)]
