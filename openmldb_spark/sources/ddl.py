"""CREATE TABLE / CREATE INDEX / INSERT INTO — the statement-level DDL
and DML surface of the offline job runner.

Batch semantics: a CREATE TABLE registers an EMPTY DataFrame with the
parsed schema; INSERT INTO appends literal rows; CREATE INDEX validates
and records index metadata (indexes drive the ONLINE storage layout —
the batch engine plans from the query's PARTITION BY/ORDER BY instead,
so the index itself is a validated no-op here, exactly like
LOAD DATA's soft-copy catalog entry).

Validation reproduces the reference's analyzer/NS checks, pinned by the
ddl/dml corpus:
- identifier rules and reserved words
  (cases/function/ddl/test_create.yaml ids 5-8, 22-23)
- column types (id 10), index key col exists + non-float/double
  (ids 11, 31-32), index ts col exists + timestamp/bigint (ids 12,
  15-21)
- ttl grammar per ttl_type: absolute = time literal, latest = plain
  count, absandlat/absorlat = (time, count) tuple
  (cases/function/ddl/test_ttl.yaml ids 3-5, 7, 9, 12, 14-19;
  test_create_index.yaml ids 5, 10-11, 17-20)
- options: partitionnum/replicanum positive ints; distribution entries
  are (leader, [followers...]) tuples whose replica count must equal
  replicanum, entry count must equal partitionnum, no duplicate
  endpoints (cases/function/ddl/test_options.yaml ids 5-16, 20;
  test_create.yaml ids 39-40)
- INSERT: existing table/columns, per-row arity, literal-vs-column type
  compatibility, NOT NULL columns required and non-null
  (cases/function/dml/test_insert.yaml ids 4, 6-9;
  multi_insert.yaml ids 7, 9-10)
"""

from __future__ import annotations

import datetime
import re

import pyspark.sql.types as T

from openmldb_spark import sqllex
from openmldb_spark.sources._local import local_rows

__all__ = ["DdlError", "parse_create_table", "create_table",
           "parse_insert", "insert_into", "validate_create_index"]


class DdlError(ValueError):
    """Statement rejected — mirrors the reference's analyzer error."""


_TYPES = {
    # full alias set = hybridse's StringToDataType type_map
    # (hybridse/src/node/sql_node.cc:40-45)
    "bool": T.BooleanType(), "in1": T.BooleanType(),
    "i16": T.ShortType(), "int16": T.ShortType(),
    "smallint": T.ShortType(),
    "i32": T.IntegerType(), "int": T.IntegerType(),
    "int32": T.IntegerType(), "integer": T.IntegerType(),
    "i64": T.LongType(), "int64": T.LongType(), "bigint": T.LongType(),
    "float32": T.FloatType(), "float": T.FloatType(),
    "double": T.DoubleType(), "float64": T.DoubleType(),
    "string": T.StringType(), "varchar": T.StringType(),
    "timestamp": T.TimestampType(), "date": T.DateType(),
}

# alias → the canonical spelling used by the _KEY_OK/_TS_OK domains
_CANON = {"in1": "bool", "i16": "int16", "i32": "int32", "i64": "int64",
          "integer": "int", "float32": "float", "float64": "double"}

# Reserved words that cannot name a table/column (the reference's
# zetasql-based parser: `order` and `use` are rejected, `table` is a
# non-reserved keyword and passes — test_create.yaml ids 6-1/6-2/8).
_RESERVED = {
    "all", "and", "any", "array", "as", "asc", "between", "by", "case",
    "cast", "create", "cross", "current", "default", "define", "desc",
    "distinct", "else", "end", "except", "exists", "false", "following",
    "from", "full", "group", "having", "if", "in", "inner", "intersect",
    "interval", "into", "is", "join", "lateral", "left", "like", "limit",
    "merge", "natural", "new", "no", "not", "null", "nulls", "on", "or",
    "order", "outer", "over", "partition", "preceding", "range",
    "recursive", "respect", "right", "rollup", "rows", "select", "set",
    "some", "struct", "then", "to", "true", "unbounded", "union",
    "unnest", "use", "using", "when", "where", "window", "with",
}

_IDENT = r"[A-Za-z_]\w*"

# index key columns: any non-float/non-double scalar
_KEY_OK = ("string", "varchar", "smallint", "int16", "int", "int32",
           "bigint", "int64", "date", "timestamp", "bool")
# index ts columns: timestamp or int64 ms
_TS_OK = ("timestamp", "bigint", "int64")

_TIME_LIT = re.compile(r"^\d+\s*(?:[smhd]|ms|min)$", re.IGNORECASE)
_COUNT_LIT = re.compile(r"^\d+$")


def _check_ident(name: str, what: str) -> str:
    if not re.fullmatch(_IDENT, name or ""):
        raise DdlError(f"invalid {what} name {name!r}")
    if name.lower() in _RESERVED:
        raise DdlError(f"{what} name {name!r} is a reserved word")
    return name


def _check_table_name(name: str) -> str:
    """Table names may be db-qualified: `db1.test` (plan/create.yaml
    case 28, plan/insert.yaml case 10 — the reference keeps the dotted
    path verbatim in the plan node). Each path segment must be a valid
    identifier."""
    parts = (name or "").split(".")
    if len(parts) > 2:
        raise DdlError(f"invalid table name {name!r}")
    for p in parts:
        _check_ident(p, "table")
    return name


def _check_ttl(ttl: str | None, ttl_type: str | None):
    """ttl grammar per ttl_type (absolute is the default):
    absolute → single TIME literal (unit required: ttl=3650 plain is
    rejected, test_ttl.yaml ids 3-4); latest → single plain COUNT
    (ids 5, 7, 17-18); absandlat/absorlat → (TIME, COUNT) tuple in that
    order (ids 14, 16)."""
    tt = (ttl_type or "absolute").lower()
    if tt not in ("absolute", "latest", "absandlat", "absorlat"):
        raise DdlError(f"unknown ttl_type {ttl_type!r}")
    if ttl is None:
        return
    ttl = ttl.strip()
    tm = re.fullmatch(r"\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)", ttl)
    if tt in ("absandlat", "absorlat"):
        if not tm or not _TIME_LIT.match(tm.group(1)) \
                or not _COUNT_LIT.match(tm.group(2)):
            raise DdlError(
                f"ttl {ttl!r} with ttl_type {tt}: needs (time, count)")
        return
    if tm:
        raise DdlError(f"ttl tuple {ttl!r} needs absandlat/absorlat")
    # a single-value tuple is tolerated: ttl=(3650m) absolute and
    # ttl=(10) latest both pass (test_ttl.yaml ids 6, 29)
    sm = re.fullmatch(r"\(\s*([^,()]+?)\s*\)", ttl)
    if sm:
        ttl = sm.group(1)
    if tt == "absolute":
        if not _TIME_LIT.match(ttl):
            raise DdlError(
                f"absolute ttl {ttl!r} needs a time literal (e.g. 10m)")
    else:   # latest
        if not _COUNT_LIT.match(ttl):
            raise DdlError(f"latest ttl {ttl!r} needs a plain count")
        if int(ttl) > 1000:
            # the reference bounds latest ttl at FLAGS_latest_ttl_max
            # (default 1000): ttl=(3650) latest is rejected while
            # ttl=(10) passes (test_ttl.yaml ids 7 vs 29)
            raise DdlError(f"latest ttl {ttl} exceeds the max (1000)")


_UNIT_MS = {"ms": 1, "s": 1000, "m": 60000, "min": 60000,
            "h": 3600000, "d": 86400000}

_TTL_TYPE_NAME = {"absolute": "kAbsoluteTime", "latest": "kLatestTime",
                  "absandlat": "kAbsAndLat", "absorlat": "kAbsOrLat"}


def _ttl_minutes(lit: str) -> int:
    """Time literal → minutes, rounded UP (the reference's desc shows
    ttl=1s as 1min — test_create_index.yaml id 9)."""
    m = re.fullmatch(r"(\d+)\s*([a-z]+)", lit.strip().lower())
    ms = int(m.group(1)) * _UNIT_MS[m.group(2)]
    return -(-ms // 60000)


def _norm_index(opts: dict) -> dict:
    """Validated index options → the reference's desc rendering:
    {"keys": [...], "ts": col|"-", "ttl": "Nmin"|count|"Nmin&&c"|"Nmin||c",
    "ttlType": kAbsoluteTime|kLatestTime|kAbsAndLat|kAbsOrLat}."""
    tt = (opts.get("ttl_type") or "absolute").lower()
    ttl = (opts.get("ttl") or "").strip()
    sm = re.fullmatch(r"\(\s*([^,()]+?)\s*\)", ttl)
    if sm and tt in ("absolute", "latest"):
        ttl = sm.group(1)
    if tt == "latest":
        norm_ttl: object = int(ttl or 0)
    elif tt in ("absandlat", "absorlat"):
        tm = re.fullmatch(r"\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)", ttl)
        sep = "&&" if tt == "absandlat" else "||"
        if tm is None:
            # no ttl given: the reference defaults both bounds to 0
            if ttl:
                raise DdlError(
                    f"{tt} ttl {ttl!r} needs a (time, count) pair")
            norm_ttl = f"0min{sep}0"
        else:
            norm_ttl = (f"{_ttl_minutes(tm.group(1))}min{sep}"
                        f"{int(tm.group(2))}")
    else:
        norm_ttl = f"{_ttl_minutes(ttl) if ttl else 0}min"
    keys = opts.get("key") or ""
    keys = keys.strip()
    if keys.startswith("(") and keys.endswith(")"):
        keys = keys[1:-1]
    return {"keys": [k.strip() for k in keys.split(",") if k.strip()],
            "ts": opts.get("ts") or "-",
            "ttl": norm_ttl, "ttlType": _TTL_TYPE_NAME[tt]}


def _ttl_json(entry: dict) -> dict:
    """Normalized index entry → the nameserver's restful ttl dict
    (cases/restful/v230/test_desc.yaml: ``(10h,10):absandlat`` →
    ``{"ttl_type":"absandlat","abs_ttl":600,"lat_ttl":10}``; absolute
    shows only abs_ttl, latest only lat_ttl — minutes in both)."""
    tt = entry["ttlType"]
    ttl = entry["ttl"]
    if tt == "kLatestTime":
        return {"ttl_type": "latest", "lat_ttl": int(ttl)}
    if tt in ("kAbsAndLat", "kAbsOrLat"):
        m = re.fullmatch(r"(\d+)min(?:&&|\|\|)(\d+)", str(ttl))
        return {"ttl_type": "absandlat" if tt == "kAbsAndLat"
                else "absorlat",
                "abs_ttl": int(m.group(1)), "lat_ttl": int(m.group(2))}
    m = re.fullmatch(r"(\d+)min", str(ttl))
    return {"ttl_type": "absolute", "abs_ttl": int(m.group(1))}


# Spark simpleString → the restful column_desc type spelling
_RESTFUL_TYPE = {"string": "varchar", "boolean": "bool",
                 "smallint": "smallint", "int": "int",
                 "bigint": "bigint", "float": "float",
                 "double": "double", "timestamp": "timestamp",
                 "date": "date"}


def render_table_meta(name: str, schema: T.StructType,
                      indexes: list) -> dict:
    """The nameserver's table-info JSON exactly as the restful API
    renders it (GET /dbs/{db}/tables[/{t}] — replayed from
    cases/restful/v230/test_desc.yaml + test_show_tables.yaml;
    name_server_impl.cc ShowTable). Partition/replica counts are the
    single-node defaults the corpus pins."""
    return {
        "name": name,
        "table_partition_size": 1,
        "partition_num": 1,
        "replica_num": 1,
        "column_desc": [
            # types outside the reference's 9 scalars (arrays from
            # registered parquet tables, etc.) render as their Spark
            # simpleString — the meta surface must never crash a whole
            # SHOW TABLES listing over one exotic column
            {"name": f.name,
             "type": _RESTFUL_TYPE.get(f.dataType.simpleString(),
                                       f.dataType.simpleString()),
             "not_null": not f.nullable}
            for f in schema.fields],
        "added_column_desc": [],
        "column_key": [
            {"col_name": list(e["keys"]), "ts_name": e["ts"],
             "ttl": _ttl_json(e)}
            for e in indexes],
        "format_version": 1,
        "partition_key": [],
        "schema_versions": [],
    }


def auto_index(schema: T.StructType) -> dict:
    """The index the reference auto-creates for a CREATE TABLE without
    one: key = FIRST column of an index-eligible type (float/double
    skipped — test_create_no_index.yaml ids 0-10), no ts, ttl 0min."""
    for f in schema.fields:
        if f.dataType.simpleString() not in ("float", "double"):
            return {"keys": [f.name], "ts": "-", "ttl": "0min",
                    "ttlType": "kAbsoluteTime"}
    raise DdlError("no index-eligible column")


def _check_index(body: str, col_types: dict):
    """One `index(...)` body of a CREATE TABLE: key/ts/ttl/ttl_type."""
    opts: dict = {}
    for p in sqllex.split(body):
        p = p.strip()
        if not p:
            continue
        m = re.match(r"(?is)^(\w+)\s*=\s*(.+)$", p)
        if not m:
            raise DdlError(f"index option {p!r}")
        opts[m.group(1).lower()] = m.group(2).strip()
    keys = opts.get("key")
    if keys is not None:
        keys = keys.strip()
        if keys.startswith("("):
            if not keys.endswith(")"):
                raise DdlError(f"index key {keys!r}")
            keys = keys[1:-1]
        for k in [x.strip() for x in keys.split(",") if x.strip()]:
            if k not in col_types:
                raise DdlError(f"index key column {k!r} does not exist")
            if col_types[k] not in _KEY_OK:
                raise DdlError(
                    f"index key column {k!r} has type {col_types[k]} "
                    f"(float/double keys rejected)")
    ts = opts.get("ts")
    if ts is not None:
        if ts not in col_types:
            raise DdlError(f"index ts column {ts!r} does not exist")
        if col_types[ts] not in _TS_OK:
            raise DdlError(
                f"index ts column {ts!r} has type {col_types[ts]} "
                f"(needs timestamp or bigint)")
    _check_ttl(opts.get("ttl"), opts.get("ttl_type"))
    # an EXPLICITLY empty key (`CREATE INDEX i ON t ()` → key=()) is
    # rejected; a keyless `index(ts=c4)` is legal and auto-keys
    # (test_create.yaml id 14, success: true)
    if "key" in opts and not [x for x in (keys or "").split(",")
                              if x.strip()]:
        raise DdlError("index has no key column")
    return opts


# Endpoints in a `distribution` option: the batch engine has no live
# cluster registry to resolve real host:port endpoints against, so the
# corpus's own placeholder notation IS the known-endpoint set — any
# other spelling is an unknown endpoint (test_options.yaml id 20
# appends a stray character to a known endpoint and expects rejection).
_ENDPOINT = re.compile(r"^\{tb_endpoint_\d+\}$|^[\w.\-]+:\d+$")


def _check_options(body: str):
    opts = {}
    i, n = 0, len(body)
    while i < n:
        m = re.match(r"\s*,?\s*(\w+)\s*=\s*", body[i:])
        if not m:
            break
        key = m.group(1).lower()
        i += m.end()
        if i < n and body[i] == "[":
            # bracket-matched list value (distribution nests [..] lists)
            try:
                j = sqllex.match_paren(body, i)
            except sqllex.SqlUnsupported:
                j = n
            opts[key] = body[i:j + 1]
            i = j + 1
        else:
            j = body.find(",", i)
            if j < 0:
                j = n
            opts[key] = body[i:j].strip()
            i = j
    sm_opt = opts.get("storage_mode")
    if sm_opt is not None:
        # storage_mode ∈ {memory, ssd, hdd}, case-insensitive, quoted
        # (hybridse NameToStorageMode, include/node/sql_node.h:403-413;
        # plan/create.yaml case 30 storage_mode="HDD")
        sv = sm_opt.strip().strip("'\"").lower()
        if sv not in ("memory", "ssd", "hdd"):
            raise DdlError(f"unknown storage_mode {sm_opt!r}")
        opts["storage_mode"] = sv
    pn = opts.get("partitionnum")
    rn = opts.get("replicanum")
    if pn is not None and not (pn.isdigit() and int(pn) >= 1):
        raise DdlError(f"partitionnum {pn!r} must be a positive int")
    if rn is not None and not (rn.isdigit() and int(rn) >= 1):
        raise DdlError(f"replicanum {rn!r} must be a positive int")
    dist = opts.get("distribution")
    if dist is not None:
        body = dist.strip()
        if not (body.startswith("[") and body.endswith("]")):
            raise DdlError(f"distribution {dist!r}")
        entries = []
        for em in re.finditer(r"\(([^()]*(?:\[[^\]]*\])?[^()]*)\)",
                              body[1:-1]):
            entry = em.group(1)
            # string literals take either quote style: the corpus uses
            # both '...' and "..." (plan/create.yaml case 8)
            lm = re.match(
                r"""^\s*['"]([^'"]*)['"]\s*,\s*\[([^\]]*)\]\s*$""", entry)
            if not lm:
                # each entry must be a (leader, [followers...]) tuple
                # (test_options.yaml id 11: a bare ('endpoint') fails)
                raise DdlError(f"distribution entry ({entry}) needs "
                               f"(leader, [followers])")
            leader = lm.group(1)
            followers = re.findall(r"""['"]([^'"]*)['"]""", lm.group(2))
            eps = [leader, *followers]
            for e in eps:
                if not _ENDPOINT.match(e):
                    raise DdlError(f"unknown endpoint {e!r}")
            if len(set(eps)) != len(eps):
                raise DdlError(
                    f"duplicate endpoint in distribution entry ({entry})")
            entries.append(eps)
        if len(entries) != 1:
            # the reference accepts exactly ONE distribution entry —
            # partitionnum=4 with one entry passes (test_options.yaml
            # id 21) while two entries fail regardless of partitionnum
            # (ids 5, 13)
            raise DdlError(
                f"distribution takes exactly one entry, got "
                f"{len(entries)}")
        if rn is not None and any(len(e) != int(rn) for e in entries):
            raise DdlError(
                "distribution replica count does not match replicanum")
    return opts


def parse_create_table(stmt: str) -> dict:
    """CREATE TABLE name (col type [NOT NULL], ..., index(...)...)
    [OPTIONS (...)] → {"name", "schema": StructType, "indexes",
    "options"}. Raises DdlError on every reference-rejected shape."""
    m = re.match(r"(?is)^\s*create\s+table\s+(?P<ine>if\s+not\s+exists"
                 r"\s+)?(?P<name>\S+?)\s*\(", stmt.strip())
    if not m:
        raise DdlError("not a CREATE TABLE statement")
    name = m.group("name")
    _check_table_name(name)
    # literal-aware paren matching: a DEFAULT literal may contain ')' or
    # ',' (`default 'a)b'`)
    start = stmt.index("(", m.end() - 1)
    try:
        j = sqllex.match_paren(stmt, start)
    except sqllex.SqlUnsupported:
        raise DdlError("unbalanced parens in CREATE TABLE") from None
    body = stmt[start + 1:j]
    tail = stmt[j + 1:].strip().rstrip(";").strip()
    options = {}
    if tail:
        om = re.match(r"(?is)^options\s*\((.*)\)\s*$", tail)
        if not om:
            raise DdlError(f"trailing clause {tail!r}")
        options = _check_options(om.group(1))

    fields, col_types, index_bodies, defaults = [], {}, [], {}
    for it in sqllex.split(body):
        it = it.strip()
        if not it:
            continue
        im = re.match(r"(?is)^index\s*\((.*)\)$", it)
        if im:
            index_bodies.append(im.group(1))
            continue
        cm = re.match(
            r"(?is)^(?P<col>\S+)\s+(?P<typ>\w+(?:\s*\(\s*\d+\s*\))?)"
            r"(?P<nn1>\s+not\s+null)?"
            r"(?:\s+default\s+(?P<dflt>.+?))?"
            r"(?P<nn2>\s+not\s+null)?\s*$", it)
        if not cm:
            raise DdlError(f"column definition {it!r}")
        col = cm.group("col")
        _check_ident(col, "column")
        # VARCHAR(64)-style length parameters are accepted and ignored
        # (the reference maps every varchar to string, length unchecked)
        typ = re.sub(r"\s*\(\s*\d+\s*\)$", "", cm.group("typ")).lower()
        if typ not in _TYPES:
            raise DdlError(f"unknown column type {typ!r}")
        typ = _CANON.get(typ, typ)
        if col in col_types:
            raise DdlError(f"duplicate column {col!r}")
        col_types[col] = typ
        nn = bool(cm.group("nn1") or cm.group("nn2"))
        field = T.StructField(col, _TYPES[typ], nullable=not nn)
        if cm.group("dflt") is not None:
            defaults[col] = _parse_default(cm.group("dflt"), field)
        fields.append(field)
    if not fields:
        raise DdlError("CREATE TABLE without columns")
    schema = T.StructType(fields)
    indexes = [_norm_index(_check_index(b, col_types))
               for b in index_bodies]
    if not indexes:
        indexes = [auto_index(schema)]
    return {"name": name, "schema": schema, "indexes": indexes,
            "options": options, "defaults": defaults,
            "if_not_exists": bool(m.group("ine"))}


def create_table(spark, stmt: str, tables: dict | None = None):
    """Parse + register: returns (name, DataFrame) — the bound frame
    unchanged for an IF NOT EXISTS no-op, else a new empty frame.
    Rejects a bound name without IF NOT EXISTS (test_create.yaml
    id 26)."""
    spec = parse_create_table(stmt)
    if tables is not None and spec["name"] in tables:
        if spec["if_not_exists"]:
            return spec["name"], tables[spec["name"]]
        raise DdlError(f"table {spec['name']!r} already exists")
    return spec["name"], local_rows(spark, [], spec["schema"])


def validate_create_index(stmt: str, tables: dict,
                          existing: list | None = None) -> tuple:
    """CREATE INDEX name ON table (cols) [OPTIONS (...)] — validate
    against the live table schema; data-wise a batch no-op (indexes are
    online storage-layout hints). `existing` = the table's current
    normalized index entries: a new index duplicating an existing
    (keys, ts) pair is rejected (test_create_index.yaml id 33) while a
    reused index NAME is fine (ids 0/34 recreate `index1`). Returns
    (table, index_name, normalized index entry)."""
    m = re.match(
        r"(?is)^\s*create\s+index\s+(?P<iname>\S+)\s+on\s+(?P<t>\S+)\s*"
        r"\((?P<cols>[^)]*)\)\s*(?:options\s*\((?P<opts>.*)\)\s*)?;?\s*$",
        stmt.strip())
    if not m:
        raise DdlError("not a CREATE INDEX statement")
    _check_ident(m.group("iname"), "index")
    tname = _check_table_name(m.group("t"))
    if tname not in tables:
        raise DdlError(f"table {tname!r} does not exist")
    col_types = {f.name: f.dataType.simpleString()
                 for f in tables[tname].schema.fields}
    body = "key=(" + m.group("cols") + ")"
    if m.group("opts"):
        body += "," + m.group("opts")
    entry = _norm_index(_check_index(body, col_types))
    for e in existing or []:
        if e.get("keys") == entry["keys"] and e.get("ts") == entry["ts"]:
            raise DdlError(
                f"an index on {entry['keys']} ordered by {entry['ts']} "
                f"already exists")
    return tname, m.group("iname"), entry


_INSERT_RE = re.compile(
    # VALUE (singular) is accepted too — v040/test_execute_mode.yaml
    # id 4 (`insert into {0} value ("aa",1,2,...)`) runs green in the
    # reference harness
    r"(?is)^\s*insert\s+into\s+(?P<t>\S+?)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?values?\s*(?P<vals>\(.*\))\s*;?\s*$")


def _parse_literal(tok: str):
    """One INSERT literal → (python value, kind). kind ∈ {'null',
    'string', 'int', 'float', 'bool', 'param'}."""
    t = tok.strip()
    if t == "?":
        return None, "param"
    if t.upper() == "NULL":
        return None, "null"
    m2 = (re.fullmatch(r"'((?:[^'\\]|\\.)*)'", t, re.S)
          or re.fullmatch(r'"((?:[^"\\]|\\.)*)"', t, re.S))
    if m2:
        # ZetaSQL string literals escape with backslash ('it\'s');
        # unescape the recognized sequences (\' \" \\ \n \t \r) and
        # keep any OTHER backslash pair verbatim — 'C:\data' must stay
        # 'C:\data', not silently lose its backslash
        def _unesc(mm):
            c = mm.group(1)
            if c in "'\"\\":
                return c
            return {"n": "\n", "t": "\t", "r": "\r"}.get(c, "\\" + c)
        return re.sub(r"\\(.)", _unesc, m2.group(1), flags=re.S), "string"
    if re.fullmatch(r"[-+]?\d+[lL]?", t):
        return int(t.rstrip("lL")), "int"
    if re.fullmatch(r"[-+]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?[fF]?",
                    t):
        return float(t.rstrip("fF")), "float"
    if t.lower() in ("true", "false"):
        return t.lower() == "true", "bool"
    # a bare identifier is NOT a string literal (test_insert.yaml id 9)
    raise DdlError(f"invalid INSERT literal {t!r}")


# literal kind → column types it may populate
_COMPAT = {
    "string": ("string", "date", "timestamp"),
    "int": ("smallint", "int", "bigint", "float", "double", "timestamp"),
    "float": ("float", "double"),
    "bool": ("boolean",),
}


def _coerce(value, kind, field: T.StructField):
    typ = field.dataType.simpleString()
    if kind in ("null", "param") and value is None:
        if not field.nullable:
            raise DdlError(f"NULL into NOT NULL column {field.name!r}")
        return None
    if kind == "param":
        # prepared parameters arrive pre-typed by the caller; route
        # through the literal kinds for the same checks
        if isinstance(value, bool):
            kind = "bool"
        elif isinstance(value, int):
            kind = "int"
        elif isinstance(value, float):
            kind = "float"
        else:
            kind = "string"
    if typ not in _COMPAT.get(kind, ()):
        raise DdlError(
            f"literal kind {kind} into {typ} column {field.name!r}")
    if typ == "timestamp":
        try:
            if kind == "string":
                return datetime.datetime.fromisoformat(str(value))
            ms = int(value)
            return datetime.datetime.utcfromtimestamp(ms // 1000).replace(
                microsecond=(ms % 1000) * 1000)
        except (ValueError, OverflowError, OSError) as e:
            # keep the module's DdlError contract — a malformed literal
            # must not leak a bare ValueError/OverflowError to callers
            raise DdlError(
                f"invalid timestamp literal {value!r} for column "
                f"{field.name!r}: {e}") from e
    if typ == "date":
        try:
            y, mo, d = (int(p) for p in str(value).strip().split("-"))
            return datetime.date(y, mo, d)
        except ValueError as e:
            raise DdlError(
                f"invalid date literal {value!r} for column "
                f"{field.name!r}: {e}") from e
    if typ in ("smallint", "int", "bigint"):
        return int(value)
    if typ in ("float", "double"):
        return float(value)
    return value


def _parse_default(text: str, field: T.StructField):
    """A column DEFAULT clause: a literal, optionally wrapped in an
    explicit CAST whose target must equal the column type
    (plan/create.yaml cases 26-27: `int default 1`,
    `string default CAST(1 as string)`). Returns the python value
    coerced to the column type, used to fill columns omitted from an
    INSERT column list."""
    t = text.strip()
    cm = re.fullmatch(r"(?is)cast\s*\(\s*(.+?)\s+as\s+(\w+)\s*\)", t)
    if cm:
        ctyp = cm.group(2).lower()
        if ctyp not in _TYPES:
            raise DdlError(f"unknown DEFAULT cast type {ctyp!r}")
        if _TYPES[ctyp] != field.dataType:
            raise DdlError(
                f"DEFAULT cast to {ctyp} on "
                f"{field.dataType.simpleString()} column {field.name!r}")
        v, k = _parse_literal(cm.group(1).strip())
        if ctyp in ("string", "varchar"):
            if k == "null":
                return None
            if k == "bool":
                return "true" if v else "false"
            return str(v)
        return _coerce(v, k, field)
    v, k = _parse_literal(t)
    return _coerce(v, k, field)


def _split_values(vals: str) -> list[list[str]]:
    """The VALUES tail → the comma-split raw tokens of each
    parenthesized row. String literals may contain commas and parens
    (`('a,b', 1)`, `('a)b')`)."""
    rows: list[list[str]] = []
    pos = 0
    for t in sqllex.tokenize(vals):
        if t.start < pos or t.kind == "ws" or t.text in (",", ";"):
            continue
        if t.text == ")":
            raise DdlError("unbalanced ')' in INSERT VALUES")
        if t.text != "(":
            # only ',' and whitespace are legal between row tuples —
            # stray tokens are a syntax error, not silently dropped
            raise DdlError(
                f"unexpected {t.text[0]!r} between INSERT VALUES rows")
        try:
            pos = sqllex.match_paren(vals, t.start) + 1
        except sqllex.SqlUnsupported:
            raise DdlError(
                "unbalanced parens or quotes in INSERT VALUES") from None
        rows.append(sqllex.split(vals[t.start + 1:pos - 1]))
    return rows


def parse_insert(stmt: str):
    """INSERT INTO t [(cols)] VALUES (..), (..) →
    (table, cols|None, [[(value, kind), ...], ...])."""
    m = _INSERT_RE.match(stmt)
    if not m:
        raise DdlError("not an INSERT statement")
    cols = None
    if m.group("cols") is not None:
        cols = [c.strip() for c in m.group("cols").split(",") if c.strip()]
    rows = [[_parse_literal(t) for t in toks]
            for toks in _split_values(m.group("vals"))]
    if not rows:
        raise DdlError("INSERT without VALUES rows")
    return m.group("t"), cols, rows


def insert_into(spark, stmt: str, tables: dict, params=None,
                defaults: dict | None = None):
    """Execute INSERT INTO against `tables`, returning (table_name,
    appended DataFrame) for the caller to rebind. `params` binds ?
    placeholders (prepared insert, one row per VALUES tuple).
    `defaults` (col → value, from the table's CREATE TABLE DEFAULT
    clauses) fills columns omitted from the column list."""
    tname, cols, rows = parse_insert(stmt)
    if tname not in tables:
        raise DdlError(f"table {tname!r} does not exist")
    prior = tables[tname]
    defaults = defaults or {}
    fields = {f.name: f for f in prior.schema.fields}
    if cols is None:
        cols = [f.name for f in prior.schema.fields]
    for c in cols:
        if c not in fields:
            raise DdlError(f"column {c!r} does not exist in {tname!r}")
    if len(set(cols)) != len(cols):
        # the reference rejects a duplicated insert column; silently
        # letting the last value win would NULL the unlisted columns
        raise DdlError(f"duplicate column in INSERT column list: {cols}")
    # NOT NULL columns must be present in the column list — unless a
    # DEFAULT covers them (test_insert.yaml id 8)
    missing_nn = [f.name for f in prior.schema.fields
                  if not f.nullable and f.name not in cols
                  and defaults.get(f.name) is None]
    if missing_nn:
        raise DdlError(f"NOT NULL column(s) {missing_nn} not inserted")
    out_rows = []
    # ? placeholders bind SEQUENTIALLY across the whole statement (a
    # per-row iter restart would bind row 1's params to every row of a
    # multi-row prepared INSERT and silently ignore the rest)
    pi = iter(params) if params is not None else None
    had_params = False
    for r in rows:
        if len(r) != len(cols):
            raise DdlError(
                f"INSERT row has {len(r)} values for {len(cols)} columns")
        if pi is not None and any(k == "param" for _, k in r):
            had_params = True
            bound = []
            for v, k in r:
                if k == "param":
                    try:
                        bound.append((next(pi), "param"))
                    except StopIteration:
                        raise DdlError(
                            "not enough parameters for INSERT "
                            "placeholders") from None
                else:
                    bound.append((v, k))
            r = bound
        vals = {c: _coerce(v, k, fields[c])
                for c, (v, k) in zip(cols, r)}
        for f in prior.schema.fields:
            if f.name not in vals and f.name in defaults:
                vals[f.name] = defaults[f.name]
        out_rows.append([vals.get(f.name) for f in prior.schema.fields])
    if had_params and pi is not None:
        try:
            next(pi)
        except StopIteration:
            pass
        else:
            raise DdlError("too many parameters for INSERT placeholders")
    appended = local_rows(spark, out_rows, prior.schema, DdlError)
    return tname, prior.unionByName(appended)
