"""Apiserver JSON row-insert surface (semantic twin of the reference's
HTTP PUT endpoint; the HTTP transport itself is out of scope).

Reference: src/apiserver/api_server_impl.cc
  - RegisterPut (:207-278): route ``PUT /dbs/:db_name/tables/:table_name``,
    body ``{"value": [[...]]}`` — exactly ONE row per request; the row is
    translated cell-by-cell against the table schema and executed as an
    ``insert into <table> values(?,...)``.
  - AppendJsonValue (:129-206): strict JSON-type-to-column-type mapping —
    no coercions. A JSON null is NULL (rejected for NOT NULL columns);
    bool columns need a JSON bool; int16/int32 need an int32-ranged
    integer; int64/timestamp need an int64-ranged integer (a string
    timestamp is rejected — restful/v230/test_insert.yaml case 23);
    float/double need a JSON *double* (an integer literal is rejected:
    rapidjson ``IsDouble()`` is false for ints); string needs a JSON
    string; date needs a "Y-M-D" string with three integer parts.
  - Route matching (interface_provider.cc): segment-exact — an empty
    path segment, a wrong prefix (``/db/``), an extra ``/``, or a
    non-PUT method all fail with "no match method". A trailing query
    string (``?``) is stripped; a ``#`` starts a fragment.
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import types as T

from openmldb_spark.sources._local import local_rows


class RestfulError(Exception):
    """code:-1 responses of the apiserver surface."""


# identifiers the SQL parser refuses as a bare table name: the insert
# template `insert into <table> values(...)` fails to PLAN before any
# catalog lookup (test_insert.yaml case 25: table "null" →
# "fail to get sql plan with", not "does not exist")
_SQL_RESERVED = {"null", "true", "false", "select", "insert", "table",
                 "values", "where", "from", "join", "window", "order"}


def _rapidjson_code(body: str, e: json.JSONDecodeError) -> int:
    """Map a Python JSONDecodeError onto the rapidjson ParseErrorCode
    the reference's message carries (error.h enum): 1 = DocumentEmpty
    (corpus case 16, empty body), 7 = ArrayMissCommaOrSquareBracket /
    6 = ObjectMissCommaOrCurlyBracket (case 20, a fullwidth comma
    between array elements), 3 = ValueInvalid otherwise."""
    if not body.strip():
        return 1
    if "delimiter" in e.msg or "Expecting value" in e.msg:
        # container context = the nearest unclosed bracket before pos
        depth_sq = depth_cu = 0
        for ch in body[:e.pos]:
            if ch == "[":
                depth_sq += 1
            elif ch == "]":
                depth_sq -= 1
            elif ch == "{":
                depth_cu += 1
            elif ch == "}":
                depth_cu -= 1
        if "delimiter" in e.msg:
            return 7 if depth_sq > 0 else 6
    return 3


def _match_put_route(method: str, uri: str) -> tuple[str, str]:
    """-> (db, table) or raise 'no match method' (interface_provider
    parity: PUT /dbs/:db_name/tables/:table_name, segment-exact)."""
    path = uri.split("#", 1)[0].split("?", 1)[0]
    segs = [s for s in path.split("/")]
    # drop the leading empty segment of an absolute path only; interior
    # AND trailing empty segments (``/dbs//tables/t``, ``.../t/``) kill
    # the match — the reference's path regex ends on a non-empty
    # segment with no optional trailing slash (interface_provider.cc)
    if segs and segs[0] == "":
        segs = segs[1:]
    if (str(method).upper() != "PUT" or len(segs) != 4
            or segs[0] != "dbs" or segs[2] != "tables"
            or "" in segs):
        raise RestfulError("no match method")
    return segs[1], segs[3]


def _append_json_value(v, dtype: T.DataType, not_null: bool):
    """AppendJsonValue parity: convert one JSON cell for one column or
    raise. Returns the Python value to store."""
    err = RestfulError("Translate to insert row failed")
    if v is None:
        if not_null:
            raise err
        return None
    s = dtype.simpleString()
    is_int = isinstance(v, int) and not isinstance(v, bool)
    if s == "boolean":
        if not isinstance(v, bool):
            raise err
        return v
    if s == "smallint":
        # rapidjson IsInt() = int32 range; lexical_cast<int16_t> then
        # range-checks to int16
        if not (is_int and -2**31 <= v < 2**31 and -2**15 <= v < 2**15):
            raise err
        return v
    if s == "int":
        if not (is_int and -2**31 <= v < 2**31):
            raise err
        return v
    if s == "bigint":
        if not (is_int and -2**63 <= v < 2**63):
            raise err
        return v
    if s in ("float", "double"):
        # JSON integer literals are NOT doubles (IsDouble() == false)
        if not isinstance(v, float):
            raise err
        return v
    if s == "string":
        if not isinstance(v, str):
            raise err
        return v
    if s == "date":
        if not isinstance(v, str):
            raise err
        parts = v.split("-")
        if len(parts) != 3:
            raise err
        try:
            y, m, d = (int(p) for p in parts)
            return datetime.date(y, m, d)
        except ValueError:
            raise err from None
    if s == "timestamp":
        if not (is_int and -2**63 <= v < 2**63):
            raise err
        try:
            return datetime.datetime.utcfromtimestamp(v / 1000)
        except (ValueError, OverflowError, OSError):
            # documented divergence: the reference's AppendTimestamp
            # stores ANY int64; a Spark TimestampType cell cannot hold
            # values outside year 1..9999, so those reject instead of
            # crashing the surface
            raise err from None
    raise err


def put_table_row(spark, method: str, uri: str, body,
                  dbs: dict[str, dict]) -> None:
    """PUT /dbs/{db}/tables/{table} with ``{"value": [[...]]}``: append
    exactly one row to the stored table. `dbs` maps db name -> that
    db's {table: DataFrame} dict; the target entry is replaced with the
    unioned DataFrame. Raises RestfulError on any code:-1 condition,
    in the reference's check order (route -> body -> value shape ->
    plan/catalog -> arity -> per-cell translation)."""
    db, table = _match_put_route(method, uri)
    if body is None:
        # the reference harness's http client refuses to build the
        # request at all (test_insert.yaml case 17)
        raise RestfulError("fail to make a put request to table.")
    if not isinstance(body, str):
        raise RestfulError("Json parse failed, error code: 1")
    def _no_const(tok):
        # rapidjson (no kParseNanAndInfFlag) rejects NaN/Infinity where
        # Python's json accepts them; error code 3 = kParseErrorValueInvalid
        raise RestfulError("Json parse failed, error code: 3")

    try:
        doc = json.loads(body, parse_constant=_no_const)
    except json.JSONDecodeError as e:
        raise RestfulError(
            f"Json parse failed, error code: {_rapidjson_code(body, e)}") \
            from None
    value = doc.get("value") if isinstance(doc, dict) else None
    if (not isinstance(value, list) or len(value) != 1
            or not isinstance(value[0], list)):
        raise RestfulError(
            "Invalid value in body, only support to put one row")
    arr = value[0]
    # GetInsertRow: the insert template must plan (parse + catalog)
    if table.lower() in _SQL_RESERVED or not table.isidentifier():
        raise RestfulError(
            f"fail to get sql plan with insert into {table}")
    if db not in dbs:
        raise RestfulError(f"database {db} does not exist")
    if table not in dbs[db]:
        raise RestfulError(f"table {table} does not exist")
    df = dbs[db][table]
    fields = df.schema.fields
    if len(arr) < len(fields):
        # fewer placeholders than columns: GetInsertRow itself fails
        # (test_insert.yaml case 13 — a different message family from
        # the arity check below)
        raise RestfulError("fail to get insert row: translate failed")
    if len(arr) != len(fields):
        raise RestfulError("column size != schema size")
    row = tuple(_append_json_value(v, f.dataType, not f.nullable)
                for v, f in zip(arr, fields))
    new = local_rows(spark, [row], df.schema, RestfulError)
    dbs[db][table] = df.unionByName(new)
