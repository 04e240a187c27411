"""Sources & sinks — the LOAD DATA / SELECT INTO surface.

Reference semantics (/root/reference/java/openmldb-batch/src/main/scala/
com/_4paradigm/openmldb/batch/nodes/LoadDataPlan.scala:30-127,
SelectIntoPlan.scala:27-46; format whitelist HybridseUtil.scala:193-194):

- LOAD DATA INFILE '<path>' INTO TABLE t OPTIONS(format, header, delim,
  null_value, mode, deep_copy):
  * deep copy → read source, rewrite as parquet under the offline
    prefix, register that path (the table owns its data);
  * soft copy → register the source path + format directly (no rewrite).
- SELECT INTO OUTFILE: write a query result with format/options/mode.
- Formats restricted to csv & parquet (we add iceberg-style partitioned
  parquet since the target deployment is an Iceberg lakehouse).

The catalog here is a plain dict {name: (path, format, options)} —
cluster deployments swap in a real metastore/Iceberg catalog; operators
only ever see DataFrames.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

FORMATS = ("csv", "parquet")


@dataclass
class OfflineTableInfo:
    """Analog of the reference's OfflineTableInfo (LoadDataPlan.scala:66-117).

    ``schema``: the table schema a soft-copy csv registration resolved
    at load time (explicit or inferred ONCE) — without it every
    Catalog.table() read would come back all-StringType."""
    name: str
    path: str
    fmt: str = "parquet"
    options: dict = field(default_factory=dict)
    deep_copy: bool = True
    schema: T.StructType | None = None


class Catalog:
    def __init__(self, spark: SparkSession, offline_prefix: str):
        self.spark = spark
        self.offline_prefix = offline_prefix
        self.tables: dict[str, OfflineTableInfo] = {}

    def load_data(
        self,
        name: str,
        path: str,
        fmt: str = "csv",
        schema: T.StructType | str | None = None,
        options: dict | None = None,
        mode: str = "overwrite",
        deep_copy: bool = True,
        partition_by: list[str] | None = None,
    ) -> OfflineTableInfo:
        """LOAD DATA INFILE → registered offline table."""
        fmt = fmt.lower()
        if fmt not in FORMATS:
            raise ValueError(f"format {fmt!r} not in {FORMATS} "
                             "(HybridseUtil.scala:193-194)")
        opts = dict(options or {})
        if fmt == "csv":
            opts.setdefault("header", "true")
            opts.setdefault("nullValue", "null")
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        if not deep_copy:
            # soft copy registers (path, fmt, opts) — no data rewrite
            # and NO eager scan. The schema still has to survive into
            # table() reads: explicit schema recorded as-is; a csv
            # without one runs inference ONCE here (table() would
            # otherwise read all-StringType every time)
            if schema is None and fmt == "csv":
                schema = (self.spark.read.format(fmt).options(**opts)
                          .option("inferSchema", "true").load(path).schema)
            info = OfflineTableInfo(name, path, fmt, opts, False,
                                    schema=schema)
            self.tables[name] = info
            return info

        reader = self.spark.read.format(fmt).options(**opts)
        if schema is not None:
            reader = reader.schema(schema)
        elif fmt == "csv":
            reader = reader.option("inferSchema", "true")
        df = reader.load(path)
        dest = os.path.join(self.offline_prefix, name)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(dest)
        info = OfflineTableInfo(name, dest, "parquet", {}, True)
        self.tables[name] = info
        return info

    def table(self, name: str) -> DataFrame:
        """DataProvider: resolve a registered table to a DataFrame
        (DataProviderPlan.scala:27-38)."""
        info = self.tables[name]
        reader = self.spark.read.format(info.fmt).options(**info.options)
        if info.schema is not None:
            reader = reader.schema(info.schema)
        return reader.load(info.path)

    def register_df(self, name: str, df: DataFrame,
                    partition_by: list[str] | None = None) -> OfflineTableInfo:
        dest = os.path.join(self.offline_prefix, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(dest)
        info = OfflineTableInfo(name, dest, "parquet", {}, True)
        self.tables[name] = info
        return info


def select_into(
    df: DataFrame,
    path: str,
    fmt: str = "csv",
    options: dict | None = None,
    mode: str = "error",
    partition_by: list[str] | None = None,
) -> None:
    """SELECT ... INTO OUTFILE (SelectIntoPlan.scala:27-46).

    CSV exports produce ONE file at ``path`` (the reference exporter's
    contract — out_in corpus `cat:` expectations and append-mode cases
    read it as a single line stream; a header=false append contributes
    data lines only). The parent directory must already exist (corpus
    id 21) and mode=error fails on an existing file. Single-file CSV is
    a driver-side merge — the 100 TB export path is parquet/partitioned
    parquet, which stays a distributed directory write."""
    fmt = fmt.lower()
    if fmt not in FORMATS:
        raise ValueError(f"format {fmt!r} not in {FORMATS}")
    opts = dict(options or {})
    if fmt == "csv" and not partition_by:
        opts.setdefault("header", "true")
        _write_single_csv(df, path, opts, mode)
        return
    if fmt == "csv":
        opts.setdefault("header", "true")
    w = df.write.format(fmt).options(**opts).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def _write_single_csv(df: DataFrame, path: str, opts: dict,
                      mode: str) -> None:
    import glob
    import shutil
    import tempfile

    mode = mode.lower()
    opts = dict(opts)
    # the reference exporter writes an empty string as an EMPTY field,
    # not Spark's default literal "" (out_in corpus id 17 cat lines)
    opts.setdefault("emptyValue", "")
    exists = os.path.exists(path)
    if exists and mode in ("error", "errorifexists"):
        raise FileExistsError(f"{path} already exists (mode=error_if_exists)")
    if exists and mode == "ignore":
        return                     # Spark ignore = no-op, never truncate
    # NOTE: append with header=true writes a SECOND header line mid-file
    # — that is the reference exporter's pinned behavior (out_in corpus
    # id 11 cat: expectation lists the repeated header), not a bug here
    parent = os.path.dirname(os.path.abspath(path))
    if not os.path.isdir(parent):
        raise FileNotFoundError(f"output directory {parent} does not exist")
    tmp = tempfile.mkdtemp(prefix="select_into_")
    try:
        part_dir = os.path.join(tmp, "parts")
        # one part = one header line = one logical file (every part of a
        # multi-partition write would carry its own header)
        df.coalesce(1).write.format("csv").options(**opts).save(part_dir)
        parts = sorted(glob.glob(os.path.join(part_dir, "part-*")))
        # quote disabled (NUL): univocity still wraps values containing
        # the delimiter in NUL quotes — the reference exporter writes
        # them raw (and a later LOAD fails on the shifted columns,
        # out_in corpus id 34), so unwrap ONLY the NUL quote wrappers
        # (a legitimate NUL byte inside field data survives)
        # Spark CSVOptions maps an EMPTY quote string to NUL too --
        # an empty quote option must unwrap like the default NUL quote
        raw = opts.get("quote") in ("\u0000", "")
        sep = str(opts.get("sep", opts.get("delimiter", ","))).encode()
        write_mode = "ab" if (exists and mode == "append") else "wb"
        with open(path, write_mode) as out:
            for p in parts:
                with open(p, "rb") as f:
                    data = f.read()
                    out.write(_unwrap_nul_quotes(data, sep)
                              if raw else data)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _unwrap_nul_quotes(data: bytes, sep: bytes) -> bytes:
    """Remove univocity's NUL quote wrappers from a csv byte stream
    written with quote=NUL, preserving NUL bytes that are field DATA.
    A quote wrapper opens only at field start (line start or right
    after the delimiter); inside a quoted field an escaped quote char
    (backslash+NUL per Spark's default escape, or a doubled NUL)
    decodes to one literal NUL byte."""
    out = bytearray()
    i, n = 0, len(data)
    field_start, in_quote = True, False
    while i < n:
        b = data[i]
        if in_quote:
            if b == 0x5C and i + 1 < n and data[i + 1] == 0:
                out.append(0)
                i += 2
            elif b == 0x5C and i + 1 < n and data[i + 1] == 0x5C:
                # univocity escapes the escape char inside a quoted
                # field (charToEscapeQuoteEscaping defaults to the
                # escape char): \\ decodes to one literal backslash
                out.append(0x5C)
                i += 2
            elif b == 0:
                if i + 1 < n and data[i + 1] == 0:
                    out.append(0)
                    i += 2
                else:
                    in_quote = False
                    i += 1
            else:
                out.append(b)
                i += 1
            continue
        if field_start and b == 0:
            in_quote = True
            field_start = False
            i += 1
            continue
        if sep and data[i:i + len(sep)] == sep:
            out.extend(sep)
            i += len(sep)
            field_start = True
            continue
        field_start = b == 0x0A
        out.append(b)
        i += 1
    return bytes(out)


# -- statement-level front end ---------------------------------------------
#
# `SELECT ... INTO OUTFILE '<path>' OPTIONS(...)` and
# `LOAD DATA INFILE '<path>' INTO TABLE t OPTIONS(...)` as SQL text, with
# the reference's option names, defaults and validation
# (HybridseUtil.parseOptions, HybridseUtil.scala:191-229):
#   format csv|parquet (default csv); delimiter -> sep (','); header
#   (true); null_value -> nullValue ('null'); quote (NUL = no quoting);
#   mode error_if_exists (default) | append | overwrite;
#   deep_copy (LOAD only, default true). Unknown keys and malformed
#   boolean values are rejected (out_in corpus cases 13/14).

import re as _re

from openmldb_spark import sqllex

_OUTFILE_RE = _re.compile(
    r"(?is)^\s*(?P<select>select\b.*?)\s+into\s+outfile\s+"
    r"'(?P<path>[^']+)'\s*(?:options\s*\((?P<opts>.*?)\))?\s*;?\s*$")
_LOAD_RE = _re.compile(
    r"(?is)^\s*load\s+data\s+infile\s+'(?P<path>[^']+)'\s+into\s+table\s+"
    r"(?P<table>[^\s(;]+)\s*(?:options\s*\((?P<opts>.*?)\))?\s*;?\s*$")

_KNOWN_OPTS = {"format", "delimiter", "header", "null_value", "quote",
               "mode", "deep_copy"}


def _strip_config_clauses(stmt: str) -> str:
    """Remove every CONFIG(...) clause outside string literals. The
    closing paren is found by the lexer, so a ')' inside a quoted
    option value (CONFIG(spark="a)b")) does not end the clause and
    'config(' inside a quoted OUTFILE path does not start one."""
    return sqllex.drop_calls(stmt, "config")


def _parse_stmt_options(text: str | None) -> dict:
    """-> {key: (value, was_quoted)}. Boolean-typed options (header,
    deep_copy) must be BARE true/false literals — a quoted 'true' is a
    type error in the reference (out_in corpus id 13)."""
    out = {}
    if not text or not text.strip():
        return out
    # every comma outside a literal separates options (delimiter=",",
    # delimiter='\'' are one option each)
    commas = [t for t in sqllex.tokenize(text) if t.kind == "comma"]
    for a, b in zip([0] + [t.end for t in commas],
                    [t.start for t in commas] + [len(text)]):
        kv = text[a:b]
        m = _re.fullmatch(r"\s*(\w+)\s*=\s*(.+?)\s*", kv, _re.DOTALL)
        if not m:
            raise ValueError(f"malformed option {kv!r}")
        k, v = m.group(1).lower(), m.group(2)
        if k not in _KNOWN_OPTS:
            raise ValueError(f"unknown option key {k!r}")
        lit = _re.fullmatch(r"'(.*)'|\"(.*)\"", v, _re.DOTALL)
        if lit:
            out[k] = (lit.group(1) if lit.group(1) is not None
                      else lit.group(2), True)
        else:
            out[k] = (v, False)
    return out


def _bool_opt(raw: dict, key: str, default: str) -> str:
    val, quoted = raw.get(key, (default, False))
    if quoted or str(val).lower() not in ("true", "false"):
        raise ValueError(f"{key} must be a bare boolean literal: {val!r}")
    return str(val).lower()


def _map_rw_options(raw: dict, is_load: bool):
    """OpenMLDB option dict -> (fmt, spark read/write options, spark
    write mode, deep_copy)."""
    fmt = str(raw.get("format", ("csv", False))[0]).lower()
    if fmt not in FORMATS:
        raise ValueError(f"format {fmt!r} not in {FORMATS}")
    opts = {"header": "true", "nullValue": "null"}
    if "delimiter" in raw:
        opts["sep"] = raw["delimiter"][0]
    if "header" in raw:
        opts["header"] = _bool_opt(raw, "header", "true")
    if "null_value" in raw:
        opts["nullValue"] = raw["null_value"][0]
    # default quote is NUL = no quoting (HybridseUtil.scala:202: "the
    # same with spark quote empty string")
    opts["quote"] = raw.get("quote", ("\u0000", False))[0]
    mode = str(raw.get("mode", ("error_if_exists", False))[0]).lower()
    if mode == "error_if_exists":
        mode = "errorifexists"
    elif mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported write mode {mode!r}")
    deep = None
    if is_load:
        deep = _bool_opt(raw, "deep_copy", "true") == "true"
    return fmt, opts, mode, deep


def _read_with_schema(spark, path, fmt, opts, schema: T.StructType):
    """LOAD into a declared table: read with the table's schema in
    FAILFAST mode (a malformed/mismatched row is an error, not a silent
    NULL — out_in corpus ids 22/25/34); with header=true the file's
    header names must match the table columns (ids 22/24). Timestamp
    columns read as STRING first and accept either epoch-ms longs or
    datetime strings (HybridseUtil.parseLongTsCols)."""
    import pyspark.sql.functions as F

    if fmt != "csv":
        # parquet: the file's column NAMES must match the table's, and
        # each column must either match the declared type or be a
        # bigint epoch-ms for a timestamp column
        # (HybridseUtil.parseLongTsCols) — an unvalidated raw read would
        # crash append-unions or silently rebind the table to an
        # arbitrary schema on overwrite
        df = spark.read.format(fmt).options(**opts).load(path)
        names = [f.name for f in schema.fields]
        have = list(df.columns)
        # order-insensitive: the select below reorders to the table's
        # declared order, so only genuinely missing/extra/duplicated
        # columns are errors (a column-identical file in a different
        # physical order loads fine)
        dupes = sorted(c for c in set(have) if have.count(c) > 1)
        if dupes:
            raise ValueError(
                f"{fmt} file has duplicated columns {dupes}")
        if set(have) != set(names):
            missing = sorted(set(names) - set(have))
            extra = sorted(set(have) - set(names))
            raise ValueError(
                f"{fmt} columns do not match table columns: "
                f"missing {missing}, unexpected {extra}")
        cols = []
        for f in schema.fields:
            actual_dt = df.schema[f.name].dataType
            if actual_dt == f.dataType:
                cols.append(F.col(f.name))
            elif isinstance(f.dataType, T.TimestampType) and \
                    isinstance(actual_dt, (T.LongType, T.IntegerType)):
                cols.append(F.timestamp_millis(
                    F.col(f.name).cast("long")).alias(f.name))
            else:
                raise ValueError(
                    f"{fmt} column {f.name!r} has type "
                    f"{actual_dt.simpleString()}, table declares "
                    f"{f.dataType.simpleString()}")
        return df.select(*cols)
    if str(opts.get("header", "true")).lower() == "true":
        sep = opts.get("sep", ",")
        head = spark.read.text(path).limit(1).collect()
        names = head[0][0].split(sep) if head else []
        if names != [f.name for f in schema.fields]:
            raise ValueError(
                f"csv header {names} does not match table columns "
                f"{[f.name for f in schema.fields]}")
    ts_cols = [f.name for f in schema.fields
               if isinstance(f.dataType, T.TimestampType)]
    read_schema = T.StructType([
        T.StructField(f.name, T.StringType() if f.name in ts_cols
                      else f.dataType, f.nullable)
        for f in schema.fields])
    df = spark.read.format(fmt).options(**opts).option("mode", "FAILFAST") \
        .schema(read_schema).load(path)
    for c in ts_cols:
        conv = F.when(
            F.col(c).rlike(r"^\d+$"),
            F.timestamp_millis(F.col(c).cast("long"))
        ).otherwise(F.to_timestamp(F.col(c)))
        # fail AT LOAD TIME on unparseable values regardless of ANSI
        # mode (with ANSI off to_timestamp silently NULLs garbage; the
        # corpus requires a load error — ids 22/25/34)
        df = df.withColumn(c, F.when(
            F.col(c).isNotNull() & conv.isNull(),
            F.raise_error(F.concat(
                F.lit(f"malformed timestamp for column {c}: "),
                F.col(c))).cast("timestamp"),
        ).otherwise(conv))
    return df


def run_statement(spark, stmt: str, tables: dict,
                  path_resolver=None, params=None,
                  catalog: dict | None = None,
                  deployments: dict | None = None,
                  procedures: dict | None = None,
                  db: str | None = None) -> DataFrame | None:
    """Execute one statement of the offline job surface: SELECT INTO
    OUTFILE writes, LOAD DATA INFILE (re)binds a table in ``tables``,
    CREATE TABLE registers an empty table, INSERT INTO appends rows,
    CREATE INDEX validates (batch no-op — indexes are online
    storage-layout hints), DESC returns the schema; anything else runs
    through run_sql and returns its DataFrame.

    ``catalog`` (optional dict, caller-owned): table name → list of
    normalized index entries. CREATE TABLE/INDEX record into it (the
    reference's desc index section; sources/layout.py can materialize
    the physical layout from the same entries), and CREATE INDEX
    rejects an index duplicating an existing (keys, ts) pair."""
    from openmldb_spark.sqlfe import run_sql
    from openmldb_spark.sources import ddl as _ddl

    resolve = path_resolver or (lambda p: p)
    head = stmt.lstrip()[:32].lower()
    if head.startswith(("deploy ", "show deployment", "drop deployment")):
        from openmldb_spark.sources import deploy as _dep
        if deployments is None:
            deployments = {}
        if head.startswith("deploy "):
            _dep.create_deployment(spark, stmt, tables, deployments, db=db)
            return None
        if head.startswith("show deployments"):
            rows = [(d["name"], d["dbName"], d["sql"])
                    for d in _dep.show_deployments(stmt, deployments)]
            return spark.createDataFrame(
                rows, "name string, db string, sql string") if rows else \
                spark.createDataFrame([], "name string, db string, sql string")
        if head.startswith("show deployment"):
            d = _dep.show_deployment(stmt, deployments, db=db)
            return spark.createDataFrame(
                [(d["name"], d["dbName"], d["sql"])],
                "name string, db string, sql string")
        _dep.drop_deployment(stmt, deployments)
        return None
    if head.startswith(("create procedure", "drop procedure")):
        from openmldb_spark.sources import procedure as _proc
        if procedures is None:
            procedures = {}
        if head.startswith("create procedure"):
            _proc.create_procedure(spark, stmt, tables, procedures,
                                   db=db)
        else:
            _proc.drop_procedure(stmt, procedures)
        return None
    if head.startswith("create table"):
        spec = _ddl.parse_create_table(stmt)
        if spec["name"] in tables:
            # IF NOT EXISTS makes a name collision a no-op instead of
            # an error (plan/create.yaml cases 13-14)
            if spec["if_not_exists"]:
                return None
            raise _ddl.DdlError(f"table {spec['name']!r} already exists")
        tables[spec["name"]] = spark.createDataFrame([], spec["schema"])
        if catalog is not None:
            # inline indexes get generated names so DROP INDEX can
            # address them (node_adapter.cc:178-182 names them
            # INDEX_<pos>_<unixtime>; we drop the time suffix for
            # determinism — position is unique within a table)
            catalog[spec["name"]] = [
                dict(e, name=e.get("name") or f"INDEX_{i}")
                for i, e in enumerate(spec["indexes"])]
            if spec["defaults"]:
                # column DEFAULT values ride in the catalog under a
                # reserved key (INSERT fill-in reads them back)
                catalog.setdefault("__defaults__", {})[spec["name"]] = \
                    spec["defaults"]
        return None
    if head.startswith("create index"):
        existing = []
        if catalog is not None:
            # stop at '(' so the no-space spelling `ON t1(c1)` still
            # resolves the table (dup-index check must not be bypassed)
            tm = _re.search(r"(?i)\bon\s+([^\s(;]+)", stmt)
            if tm:
                existing = catalog.get(tm.group(1), [])
        t, iname, entry = _ddl.validate_create_index(stmt, tables,
                                                     existing=existing)
        if catalog is not None:
            # carry the index name so DROP INDEX (sources/session.py)
            # can address the entry; layout/dup checks ignore extra keys
            catalog.setdefault(t, []).append(dict(entry, name=iname))
        return None
    if head.startswith("desc"):
        m = _re.match(r"(?is)^\s*desc(?:ribe)?\s+(\S+?)\s*;?\s*$", stmt)
        if not m or m.group(1) not in tables:
            raise _ddl.DdlError(f"desc: unknown table in {stmt!r}")
        rows = [(f.name, f.dataType.simpleString(),
                 "YES" if f.nullable else "NO")
                for f in tables[m.group(1)].schema.fields]
        return spark.createDataFrame(
            rows, "name string, type string, nullable string")
    if head.startswith("insert "):
        dflts = None
        if catalog is not None:
            tm = _re.match(r"(?is)^\s*insert\s+into\s+(\S+?)\s*[(\s]",
                           stmt)
            if tm:
                dflts = catalog.get("__defaults__", {}).get(tm.group(1))
        tname, appended = _ddl.insert_into(spark, stmt, tables,
                                           params=params, defaults=dflts)
        tables[tname] = appended
        return None
    if _re.search(r"(?is)\binto\s+(?:outfile|table)\b", stmt):
        # trailing CONFIG(...) on LOAD / INTO OUTFILE statements holds
        # cluster-job hints (job='online', spark=...) — not data
        # semantics; the reference forwards them to the task manager.
        # The keyword match is string-masked ('config(' inside a quoted
        # path survives) and the body scan is quote-aware (')' inside a
        # quoted option value doesn't end it)
        stmt = _strip_config_clauses(stmt)
    m = _OUTFILE_RE.match(stmt)
    if m:
        fmt, opts, mode, _ = _map_rw_options(
            _parse_stmt_options(m.group("opts")), is_load=False)
        df = run_sql(spark, m.group("select"), tables)
        select_into(df, resolve(m.group("path")), fmt=fmt, options=opts,
                    mode=mode)
        return None
    m = _LOAD_RE.match(stmt)
    if m:
        fmt, opts, mode, deep = _map_rw_options(
            _parse_stmt_options(m.group("opts")), is_load=True)
        name = m.group("table")
        if name not in tables:
            # LOAD targets an EXISTING table (out_in corpus id 26)
            raise ValueError(f"table {name!r} does not exist")
        prior = tables[name]
        df = _read_with_schema(spark, resolve(m.group("path")), fmt,
                               opts, prior.schema)
        if deep is False:
            # soft copy registers the SOURCE path: the table becomes the
            # lazy read (later file changes stay visible), nothing is
            # rewritten and no eager validation job runs. The reference
            # rejects append for soft copies (LoadDataPlan: a soft copy
            # cannot add to existing offline data)
            if mode == "append":
                raise ValueError(
                    "deep_copy=false does not support mode=append")
            tables[name] = df
            return None
        # a LOAD is an eager job in the reference — malformed input must
        # fail AT LOAD TIME (FAILFAST), not when a later query happens
        # to scan the table (out_in corpus ids 22/25/34). count() would
        # prune every column and skip type conversion entirely, so force
        # a full-width scan through the noop sink
        df.write.format("noop").mode("overwrite").save()
        # rows land IN the table: default and 'append' add to existing
        # content (corpus ids 31/33: a 3-row table + 3 loaded rows = 6);
        # 'overwrite' replaces it
        tables[name] = df if mode == "overwrite" else prior.unionByName(df)
        return None
    return run_sql(spark, stmt, tables, params=params)
