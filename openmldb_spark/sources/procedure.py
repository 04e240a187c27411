"""CREATE PROCEDURE / procedure metadata / CallProcedure — the
reference's stored-procedure surface (SQLClusterRouter CreateSQL/
CallProcedure; restful corpus `/root/reference/cases/restful/v230/
test_{get,execute}_procedure.yaml`).

A procedure is a named request-mode program: a typed argument list that
must mirror the main table's schema (``const`` marks batch-common
arguments) and a single-SELECT body. Execution is batch-request mode
(`sqlfe.run_sql_request`): each input row — assembled from the shared
``common_cols`` values for const args plus the per-row values — computes
its features over stored history + itself, never over sibling requests
(pinned by execute_procedure case 1: window sums per request row over
stored rows only). The request rows are built in-process as an Arrow
local relation (``sources._local.local_rows``): a request launches no
Spark job and no Python worker until its result is collected, and
run_sql_request numbers the rows without the checkpoint it keeps for
DataFrame inputs. A value an argument cannot hold raises ProcedureError
naming the argument.

The first call of a procedure or deployment lowers its body and keeps
the analyzed plan as a template in ``sqlfe``, keyed by the body, the
main table, the request schema, the identity of every stored frame and
the session's plan-shaping confs; later calls only bind their request
rows into it, and the main table's stored rows of their own keys from
a driver copy of that table (``sqlfe.request_history``), taken when
the procedure or deployment is created. The template is rebuilt when any of these change: an
INSERT, LOAD or DROP replaces a frame, a re-DEPLOY or re-CREATE changes
the body. It lives in ``sqlfe``, not in the deployment or procedure
entry, which SHOW DEPLOYMENT and the restful meta API return as is.

Metadata parity (get_procedure corpus): name, the verbatim CREATE text,
input_schema from the args, output_schema from planning the body,
input_common_cols = const args, output_common_cols = the const columns
when the body is a plain ``SELECT * FROM <main>`` (the only shape the
reference marks common outputs for — cases 1 vs 2/7), and the referenced
table list in body order.
"""

from __future__ import annotations

import datetime
import re

import pyspark.sql.types as T

from openmldb_spark.sources._local import local_rows

__all__ = ["ProcedureError", "create_procedure", "drop_procedure",
           "get_procedure", "execute_procedure", "execute_deployment_rows"]


class ProcedureError(Exception):
    pass


_SPARK_TYPES = {
    # full alias set = hybridse's StringToDataType type_map
    # (hybridse/src/node/sql_node.cc:40-45; plan/create.yaml cases
    # 19-20 declare procedure params as i16/i64)
    "smallint": T.ShortType(), "int16": T.ShortType(),
    "i16": T.ShortType(),
    "int": T.IntegerType(), "int32": T.IntegerType(),
    "i32": T.IntegerType(), "integer": T.IntegerType(),
    "bigint": T.LongType(), "int64": T.LongType(),
    "i64": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(),
    "float32": T.FloatType(), "float64": T.DoubleType(),
    "string": T.StringType(), "varchar": T.StringType(),
    "timestamp": T.TimestampType(), "date": T.DateType(),
    "bool": T.BooleanType(), "boolean": T.BooleanType(),
    "in1": T.BooleanType(),
}

# get/execute corpus schema spelling (int32/int64/... not int/bigint)
_JSON_TYPES = {
    "smallint": "int16", "int": "int32", "bigint": "int64",
    "float": "float", "double": "double", "string": "string",
    "timestamp": "timestamp", "date": "date", "boolean": "bool",
}


def json_schema(schema) -> list[dict]:
    """Render a Spark schema the way the restful API does:
    ``[{"name": ..., "type": "int32"}, ...]``."""
    out = []
    for f in schema.fields:
        st = f.dataType.simpleString()
        if st not in _JSON_TYPES:
            raise ProcedureError(f"procedure schema: unsupported type {st}")
        out.append({"name": f.name, "type": _JSON_TYPES[st]})
    return out


_PROC_RE = re.compile(
    r"(?is)^\s*create\s+procedure\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\((?P<args>.*?)\)\s*begin\s*(?P<body>.*?)\s*end\s*;?\s*$")


def _parse_args(argtxt: str) -> list[tuple[str, str, bool]]:
    args = []
    if not argtxt.strip():
        # zero-parameter procedures are legal (plan/create.yaml id 18:
        # `CREATE PROCEDURE procedure_name() BEGIN SELECT 1; END`)
        return args
    for part in argtxt.split(","):
        toks = part.split()
        if not toks:
            raise ProcedureError("create procedure: empty argument")
        const = toks[0].lower() == "const"
        if const:
            toks = toks[1:]
        if len(toks) != 2:
            raise ProcedureError(
                f"create procedure: cannot parse argument {part.strip()!r}")
        name, typ = toks[0], toks[1].lower()
        if typ not in _SPARK_TYPES:
            raise ProcedureError(f"create procedure: unknown type {typ!r}")
        args.append((name, typ, const))
    return args


def create_procedure(spark, stmt: str, tables: dict,
                     procedures: dict, db: str | None = None) -> None:
    m = _PROC_RE.match(stmt)
    if not m:
        raise ProcedureError(f"create procedure: cannot parse {stmt!r}")
    name, body = m.group("name"), m.group("body").strip().rstrip(";")
    if name in procedures:
        raise ProcedureError(f"procedure {name!r} already exists")
    if not body.lower().startswith("select"):
        raise ProcedureError("procedure body must be a single SELECT")
    args = _parse_args(m.group("args"))

    from openmldb_spark.sources.deploy import _main_table
    from openmldb_spark.sqlfe import request_history, run_sql
    main = _main_table(body, tables)
    if main is None:
        if args:
            # args must mirror a request table; with none in the body
            # a parameterized procedure can never bind
            raise ProcedureError(
                "procedure body references no known table")
    else:
        # the reference requires the argument list to mirror the main
        # (request) table's schema exactly — names in order and types
        main_fields = tables[main].schema.fields
        if [a[0] for a in args] != [f.name for f in main_fields] or \
                [_SPARK_TYPES[a[1]].simpleString() for a in args] != \
                [f.dataType.simpleString() for f in main_fields]:
            raise ProcedureError(
                f"procedure args {[a[:2] for a in args]} do not match "
                f"the main table {main!r} schema")
    out_df = run_sql(spark, body, tables)
    if main is not None:
        request_history(body, tables, main)

    # referenced tables in body order of first appearance
    refs, seen = [], set()
    for tok in re.findall(r"[A-Za-z_]\w*", body):
        if tok in tables and tok not in seen:
            refs.append(tok)
            seen.add(tok)
    consts = [a[0] for a in args if a[2]]
    plain = main is not None and re.fullmatch(
        rf"(?is)select\s+\*\s+from\s+{re.escape(main)}",
        body.strip()) is not None
    procedures[name] = {
        "name": name,
        "db": db or "",
        "procedure": stmt if stmt.rstrip().endswith(";") else stmt + ";",
        "args": args,
        "body": body,
        "main": main,
        "tables": refs,
        "input_schema": json_schema(T.StructType([
            T.StructField(a[0], _SPARK_TYPES[a[1]]) for a in args])),
        "output_schema": json_schema(out_df.schema),
        "input_common_cols": consts,
        # the reference reports common OUTPUT columns only for the
        # passthrough shape (select * from main); any projection /
        # window / join clears them (get_procedure cases 1 vs 2 and 7)
        "output_common_cols": consts if plain else [],
    }


def drop_procedure(stmt: str, procedures: dict) -> None:
    m = re.match(r"(?is)^\s*drop\s+procedure\s+(?P<name>[A-Za-z_]\w*)"
                 r"\s*;?\s*$", stmt)
    if not m:
        raise ProcedureError(f"drop procedure: cannot parse {stmt!r}")
    name = m.group("name")
    if name not in procedures:
        raise ProcedureError(f"procedure {name!r} does not exist")
    del procedures[name]


def get_procedure(name: str, procedures: dict) -> dict:
    if name not in procedures:
        raise ProcedureError(f"procedure {name!r} does not exist")
    return procedures[name]


# ------------------------------------------------------------ execution

def _coerce(v, typ: str):
    """JSON wire value → Spark row value (the restful server's decoding:
    timestamps arrive as epoch ms, dates as ISO strings)."""
    if v is None:
        return None
    if typ == "timestamp":
        if isinstance(v, (int, float)):
            return datetime.datetime.utcfromtimestamp(int(v) / 1000.0)
        return v
    if typ == "date":
        if isinstance(v, str):
            y, mo, d = (int(x) for x in v.split("-"))
            return datetime.date(y, mo, d)
        return v
    if typ in ("float", "double"):
        return float(v)
    if typ in ("smallint", "int16", "int", "int32", "bigint", "int64"):
        return int(v)
    return v


def _request_df(spark, args, input_rows, common_cols):
    consts = [a for a in args if a[2]]
    # const args and no separate common_cols = the SDK callproc shape:
    # each input row carries the FULL argument list with const values
    # inline (the restful path splits them out into common_cols)
    full_row_mode = bool(consts) and common_cols is None
    if consts and not full_row_mode:
        if len(common_cols) != len(consts):
            raise ProcedureError(
                f"expected {len(consts)} common column values, got "
                f"{len(common_cols)}")
    elif not consts and common_cols:
        # no const args declared, but values supplied — the server
        # rejects ("Invalid common cols size", execute_procedure case 6)
        raise ProcedureError("Invalid common cols size")
    n_per_row = len(args) if full_row_mode or not consts \
        else len(args) - len(consts)
    rows = []
    for r in input_rows or []:
        if not isinstance(r, (list, tuple)) or len(r) != n_per_row:
            raise ProcedureError(
                f"input row arity {len(r) if isinstance(r, (list, tuple)) else r!r} "
                f"!= expected {n_per_row}")
        it = iter(r)
        ci = iter(common_cols or [])
        full = []
        for a in args:
            v = next(ci) if (a[2] and not full_row_mode) else next(it)
            try:
                full.append(_coerce(v, a[1]))
            except (TypeError, ValueError, OverflowError, OSError) as e:
                raise ProcedureError(
                    f"column {a[0]!r} ({a[1]}): cannot take {v!r}: {e}"
                ) from None
        rows.append(full)
    if not rows:
        raise ProcedureError("no input rows")
    schema = T.StructType([T.StructField(a[0], _SPARK_TYPES[a[1]])
                           for a in args])
    return local_rows(spark, rows, schema, ProcedureError)


def execute_procedure(spark, name: str, procedures: dict, tables: dict,
                      input_rows, common_cols=None):
    """CallProcedure: run the procedure body in batch-request mode over
    the stored tables. Returns the full-width output DataFrame (the
    restful layer splits output_common_cols out of each row)."""
    from openmldb_spark.sqlfe import run_sql, run_sql_request
    p = get_procedure(name, procedures)
    if p["main"] is None:
        # zero-arg, table-less procedure (plan/create.yaml id 18:
        # `CREATE PROCEDURE p() BEGIN SELECT 1; END`): no request table
        # to thread — evaluate the body once
        return run_sql(spark, p["body"], tables)
    req = _request_df(spark, p["args"], input_rows, common_cols)
    return run_sql_request(spark, p["body"], tables, req, p["main"])


def execute_deployment_rows(spark, name: str, deployments: dict,
                            tables: dict, input_rows):
    """Execute a deployment with request rows (restful
    POST /dbs/{db}/deployments/{name}): every input row carries the
    full main-table schema; batch-request semantics as above."""
    from openmldb_spark.sqlfe import run_sql_request
    if name not in deployments:
        raise ProcedureError(f"deployment {name!r} does not exist")
    d = deployments[name]
    main = d.get("mainTable")
    if main is None or main not in tables:
        raise ProcedureError(f"deployment {name!r} has no request table")
    args = []
    for f in tables[main].schema.fields:
        st = f.dataType.simpleString()
        if st not in _JSON_TYPES:
            raise ProcedureError(
                f"deployment {name!r}: column {f.name!r} of table "
                f"{main!r} has unsupported type {st}")
        # _JSON_TYPES spells int as int32 etc; _coerce/_SPARK_TYPES
        # accept both
        args.append((f.name, _JSON_TYPES[st], False))
    req = _request_df(spark, args, input_rows, None)
    return run_sql_request(spark, d["body"], tables, req, main)
