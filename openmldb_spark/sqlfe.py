"""SQL front end — compile OpenMLDB SQL to engine ops / Spark SQL.

Four statement shapes, dispatched by ``run_sql``:

1. Window queries (``... WINDOW w AS (...)`` / anonymous ``OVER (...)``):
   lowered to window_agg (Arrow kernel) with expression projections over
   the aggregates evaluated by Catalyst (``F.expr``).
2. LAST JOIN queries (single or multi-table chains): lowered to the
   last_join operator, applied left-to-right like the reference's
   recursive JoinPlan dispatch (JoinPlan.scala:39-44).
3. Combined LAST JOIN → WINDOW statements: join keeping all columns,
   then the window query over the joined table.
4. Everything else (plain SELECT / WHERE / GROUP BY / HAVING / DISTINCT
   / ORDER BY / sub-selects / CASE WHEN...): translated to Spark SQL and
   delegated to Catalyst — the Spark-first path; only OpenMLDB-specific
   function names are rewritten (``_SQL_FN`` templates).

Tables are positional ``{0}``/``{1}``… refs or a {name: DataFrame} dict
(named tables, like the reference corpus). Sub-selects in FROM and in
WINDOW UNION lists are inlined first: each ``(select ... from {i})``
becomes a new positional table computed with ``selectExpr``.

Grammar sources: /root/reference/docs/zh/reference/sql/dql/
WINDOW_CLAUSE.md, JOIN_CLAUSE.md; hybridse/src/planv2/ast_node_converter.cc.
"""

from __future__ import annotations

import contextvars
import re
from dataclasses import dataclass, field

from openmldb_spark.plans.specs import (Agg, KERNEL_AGG_FUNCS, WindowSpec,
                                        parse_time_ms)
from openmldb_spark.sqllex import (SqlUnsupported, calls, depth0,
                                   drop_calls, fill_placeholders, join_dotted,
                                   literal_spans, map_code, mask_literals,
                                   match_paren, placeholders, split,
                                   split_binary, strip_comments, sub_code,
                                   tokenize, wrapped)


_SQL_RE = re.compile(
    r"^\s*SELECT\s+(?P<proj>.*?)\s+FROM\s+\{(?P<prim>\d+)\}\s+"
    r"WINDOW\s+(?P<wins>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WINDEF_RE = re.compile(r"(\w+)\s+AS\s*\(([^()]*)\)",
                        re.DOTALL | re.IGNORECASE)
_WIN_RE = re.compile(
    # the UNION list runs lazily up to PARTITION BY (tempered dot — a
    # plain [^P] under IGNORECASE would also exclude lowercase 'p' and
    # reject any union alias containing that letter)
    r"^\s*(?:UNION\s+(?P<union>(?:(?!\bPARTITION\s+BY\b).)*?)\s+)?"
    r"PARTITION\s+BY\s+(?P<part>.*?)\s+"
    r"ORDER\s+BY\s+(?P<order>.*?)\s+"
    r"(?P<frame>ROWS_RANGE|ROWS)\s+BETWEEN\s+"
    r"(?P<start>.*?)\s+AND\s+(?P<end>CURRENT\s+ROW|.*?PRECEDING)"
    r"(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_LASTJOIN_RE = re.compile(
    r"^\s*select\s+(?P<proj>.*?)\s+from\s+\{0\}\s+last\s+join\s+\{1\}\s*"
    r"(?:ORDER\s+BY\s+\{1\}\.(?P<ord>\w+)\s+)?on\s+(?P<cond>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _strip_t(expr: str) -> str:
    return re.sub(r"\{\d+\}\.", "", expr).strip()


def rewrite_calls(text: str, handler) -> str:
    """Rewrite every function call ``name(args)`` bottom-up.

    ``handler(name, args: list[str]) -> str | None`` — None keeps the
    call (with already-rewritten args). Literal-aware; identifiers not
    followed by '(' pass through untouched."""
    out, pos = [], 0
    for start, name, lp, rp in calls(text):
        inner = text[lp + 1:rp]
        args = [rewrite_calls(a, handler).strip() for a in split(inner)] \
            if inner.strip() else []
        rep = handler(name.lower(), args)
        out += [text[pos:start],
                rep if rep is not None else f"{name}({', '.join(args)})"]
        pos = rp + 1
    out.append(text[pos:])
    return "".join(out)


# --------------------------------------------------------------------------
# OpenMLDB → Spark SQL expression translation
# --------------------------------------------------------------------------

# Function-name templates where Spark's SQL surface differs from
# OpenMLDB's (default_udf_library.cc registrations). Identical names
# (sum, min, concat, substr, abs, year, coalesce, mod, nvl, ifnull,
# isnull, lcase, ucase, char_length, like/ilike operators, all
# function-style casts int/bigint/smallint/float/double/string/date/
# timestamp...) pass through to Catalyst untouched.
def _str8(a: str) -> str:
    """OpenMLDB's to-string: timestamps render at fixed UTC+8 as
    "%Y-%m-%d %H:%M:%S"; float/double drop a trailing ".0" (the C
    formatter prints 30.0f as "30"); everything else casts plainly.
    A literal NULL folds to a typed NULL so downstream consumers that
    dispatch on literal NULLs (e.g. the LIKE escape argument) see it."""
    if re.fullmatch(r"(?is)\s*null\s*", a):
        return "cast(NULL as string)"
    return (f"(CASE WHEN typeof({a}) = 'timestamp' THEN "
            f"date_format(from_utc_timestamp(try_cast(cast({a} as string) "
            f"as timestamp), '+08:00'), 'yyyy-MM-dd HH:mm:ss') "
            f"WHEN typeof({a}) IN ('float', 'double') THEN "
            f"regexp_replace(cast({a} as string), '\\\\.0$', '') "
            f"ELSE cast({a} as string) END)")


def _try_cast(a: str, typ: str) -> str:
    """OpenMLDB casts return NULL on unparseable input (udf.cc
    string_to_* set is_null); Spark's ANSI casts throw — use try_cast."""
    return f"try_cast({a} as {typ})"


def _num_cast(a: str, typ: str) -> str:
    """Numeric function-cast with OpenMLDB's timestamp semantics: a
    TIMESTAMP operand converts to its epoch-millisecond count
    (Timestamp.ts_ is int64 ms; ``bigint(std_ts)`` in
    cases/usecase/autox.yaml pins it), while Spark's cast yields epoch
    SECONDS. typeof-dispatch so non-timestamp operands keep the plain
    try_cast; the unused branch routes via a string cast so it analyzes
    for every input type."""
    # every branch must ANALYZE for every possible input type (only the
    # matched one evaluates) — and a DATE operand makes a bare
    # try_cast(a as <numeric>) an ANALYSIS error (test_type.yaml id 32
    # expects NULL for int16(date)), so all branches route through a
    # string cast, which analyzes universally:
    #   float/double → exact shortest-repr round-trip, then C-style
    #     truncation toward zero (try_cast double→int truncates);
    #   integers → lossless via bigint;
    #   bool → C truthiness 1/0;
    #   date / unparseable strings → NULL.
    ms = f"unix_millis(try_cast(cast({a} as string) as timestamp))"
    s = f"cast({a} as string)"
    return (f"(CASE WHEN typeof({a}) = 'timestamp' "
            f"THEN try_cast({ms} as {typ}) "
            f"WHEN typeof({a}) IN ('float', 'double') "
            f"THEN try_cast(try_cast({s} as double) as {typ}) "
            f"WHEN typeof({a}) IN ('tinyint', 'smallint', 'int', 'bigint') "
            f"THEN try_cast(try_cast({s} as bigint) as {typ}) "
            f"WHEN typeof({a}) = 'boolean' "
            f"THEN try_cast(IF({s} = 'true', 1, "
            f"IF({s} = 'false', 0, NULL)) as {typ}) "
            f"ELSE try_cast({s} as {typ}) END)")


_SQL_FN: dict = {
    # bool(): numerics are C-truthy (nonzero → true); strings follow the
    # udf string_to_bool set, which Spark's boolean cast matches exactly
    # — yes/no/y/n/t/f/true/false/1/0, NULL otherwise
    # (expression/test_type.yaml id 23: '' and 'abc' → NULL); date /
    # timestamp → NULL (id 32). Every branch analyzes for every input
    # type via the string round-trip.
    "bool": lambda a: (
        f"(CASE WHEN typeof({a}) IN ('tinyint', 'smallint', 'int', "
        f"'bigint', 'float', 'double') "
        f"THEN try_cast(cast({a} as string) as double) != 0.0D "
        f"ELSE try_cast(cast({a} as string) as boolean) END)"),
    # mod(a, b) is the function spelling of `%`; emit the bare operator
    # and let lower_zero_div apply the reference's zero-divisor guard
    "mod": lambda a, b: f"(({a}) % ({b}))",
    # ifnull/nvl/nvl2: the value operands must have EXACTLY equal
    # static types (no promotion — see _nvl_check); the call itself
    # passes through to Spark's identically-named builtins
    "ifnull": lambda a, b: (_nvl_check("ifnull", a, b)
                            or f"ifnull({a}, {b})"),
    "nvl": lambda a, b: (_nvl_check("nvl", a, b) or f"nvl({a}, {b})"),
    "nvl2": lambda c, a, b: (_nvl_check("nvl2", a, b)
                             or f"nvl2({c}, {a}, {b})"),
    "varchar": lambda a: _str8(a),
    "int16": lambda a: _num_cast(a, "smallint"),
    "int32": lambda a: _num_cast(a, "int"),
    "int64": lambda a: _num_cast(a, "bigint"),
    "int": lambda a: _num_cast(a, "int"),
    "bigint": lambda a: _num_cast(a, "bigint"),
    "smallint": lambda a: _num_cast(a, "smallint"),
    "float": lambda a: _num_cast(a, "float"),
    "double": lambda a: _num_cast(a, "double"),
    "string": lambda a: _str8(a),
    "concat": lambda *a: f"concat({', '.join(_str8(x) for x in a)})",
    # concat_ws: NULL separator or any NULL argument yields NULL in the
    # reference (cases/function/function/test_string.yaml:3); Spark
    # would skip null arguments instead
    "concat_ws": lambda sep, *a: (
        "(CASE WHEN "
        + " OR ".join(f"({x}) IS NULL" for x in (sep, *a))
        + f" THEN cast(NULL as string) ELSE concat_ws({_str8(sep)}"
        + (", " + ", ".join(_str8(x) for x in a) if a else "")
        + ") END)"),
    "is_null": lambda a: f"isnull({a})",
    "if_null": lambda a, b: f"nvl({a}, {b})",
    "minimum": lambda a, b: f"least({a}, {b})",
    "maximum": lambda a, b: f"greatest({a}, {b})",
    "inc": lambda a: f"(({a}) + 1)",
    "identity": lambda a: f"({a})",
    "add": lambda a, b: f"(({a}) + ({b}))",
    "char": lambda a: f"chr({a})",
    "strcmp": lambda a, b: (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL "
        f"THEN cast(NULL as int) WHEN ({a}) < ({b}) THEN -1 "
        f"WHEN ({a}) > ({b}) THEN 1 ELSE 0 END)"),
    "truncate": lambda a: (
        f"double(CASE WHEN ({a}) < 0 THEN ceil({a}) ELSE floor({a}) END)"),
    "like_match": lambda *a: _like_tpl("LIKE", *a),
    "ilike_match": lambda *a: _like_tpl("ILIKE", *a),
    # OpenMLDB date_format patterns are C strftime (%Y-%m-%d %H:%M:%S,
    # hybridse default_udf_library.cc:669-697); Spark's are Java time
    # patterns — rewrite the literal pattern (registry.strftime_to_java)
    "date_format": lambda a, b=None: _date_format_tpl(a, b),
    # FZStringOpsDef split rules (feature_zero_def.cc:181-330): NULL
    # input or empty delimiter → EMPTY list (not null); by_key/by_value
    # keep only entries containing the kv delimiter (entry "???" in
    # "???,,k4:v4" contributes no key — test_feature_zero_function.yaml
    # id 2); value = the segment between the 1st and 2nd kv delimiter
    "fz_split": lambda a, b:
        f"IF(({a}) IS NULL OR ({b}) = '', array(), split({a}, {b}))",
    "fz_split_by_key": lambda a, b, c:
        f"transform(filter(IF(({a}) IS NULL OR ({b}) = '' OR ({c}) = '', "
        f"array(), split({a}, {b})), x -> locate({c}, x) > 0), "
        f"x -> substring_index(x, {c}, 1))",
    "fz_split_by_value": lambda a, b, c:
        f"transform(filter(IF(({a}) IS NULL OR ({b}) = '' OR ({c}) = '', "
        f"array(), split({a}, {b})), x -> locate({c}, x) > 0), "
        f"x -> element_at(split(x, {c}), 2))",
    "fz_join": lambda a, b: f"array_join({a}, {b})",
    # OpenMLDB pins string/date <-> timestamp conversion to UTC+8
    # (constexpr TZ = 8, hybridse/src/udf/udf.cc:54,707-760) and integer
    # inputs are epoch MILLISECONDS (Spark's cast is seconds). typeof()
    # dispatches per input type; all branches analyze as timestamp.
    # every CASE branch must *analyze* for every possible input type
    # (only the matching branch evaluates), hence the string round-trip
    # in the integer branch: cast(date as bigint) would not typecheck.
    "timestamp": lambda a: _timestamp_tpl(a),
    "date": lambda a: (
        f"(CASE WHEN typeof({a}) = 'timestamp' "
        f"THEN cast(from_utc_timestamp(cast({a} as timestamp), "
        f"'+08:00') as date) "
        f"ELSE try_cast(cast({a} as string) as date) END)"),
    "cast": lambda a: _cast_tpl(a),
    # full-table UDAF spelling (window-scoped calls are extracted into
    # kernel aggs before translation, so this only hits the plain path)
    "distinct_count": lambda a: f"count(distinct {a})",
    # C math returns NaN outside the domain (reference uses libm);
    # Spark's ANSI functions return NULL there
    "asin": lambda a: (f"(CASE WHEN abs(try_cast({a} as double)) > 1 "
                       f"THEN double('NaN') ELSE asin({a}) END)"),
    "acos": lambda a: (f"(CASE WHEN abs(try_cast({a} as double)) > 1 "
                       f"THEN double('NaN') ELSE acos({a}) END)"),
    # libm log family: log(0) = -inf, log(<0) = NaN (Spark returns NULL
    # for both); boolean operands are C-truthy 1/0 (udf.cc LogFp,
    # cases/function/function/test_calculate.yaml id 4 pins
    # log(false) = -Infinity)
    "log": lambda *a: _log_tpl("log", *a),
    "ln": lambda a: _log_tpl("ln", a),
    "log2": lambda a: _log_tpl("log2", a),
    "log10": lambda a: _log_tpl("log10", a),
}


def _timestamp_tpl(a: str) -> str:
    """``timestamp(x)`` / ``cast(x AS timestamp)``. Normally analyzes as
    a real TIMESTAMP. Under the millisecond coercion retry (_MS_TS_MODE,
    set alongside _ms_tables), it renders as int64 epoch-ms instead so
    that comparisons/arithmetic against ms-view timestamp columns
    typecheck — the reference treats TIMESTAMP as int64 ms uniformly
    (udf.cc Timestamp.ts_; simple_query.yaml 4-1 pins
    ``(1 + std_ts) > cast(<ms> as timestamp)``)."""
    if _MS_TS_MODE.get():
        return (f"(CASE WHEN typeof({a}) IN ('string', 'date') "
                f"THEN unix_millis(to_utc_timestamp(try_cast(cast({a} "
                f"as string) as timestamp), '+08:00')) "
                f"WHEN typeof({a}) IN ('tinyint', 'smallint', 'int', "
                f"'bigint') "
                f"THEN try_cast(cast({a} as string) as bigint) "
                f"ELSE unix_millis(try_cast(cast({a} as string) "
                f"as timestamp)) END)")
    return (f"(CASE WHEN typeof({a}) IN ('string', 'date') "
            f"THEN to_utc_timestamp(try_cast(cast({a} as string) as "
            f"timestamp), '+08:00') "
            f"WHEN typeof({a}) IN ('tinyint', 'smallint', 'int', 'bigint') "
            f"THEN timestamp_millis(try_cast(cast({a} as string) as bigint)) "
            f"ELSE try_cast(cast({a} as string) as timestamp) END)")


_MS_TS_MODE: "contextvars.ContextVar[bool]" = \
    contextvars.ContextVar("_MS_TS_MODE", default=False)


def _numf(a: str) -> str:
    """Render any operand as a double: boolean → 1/0 (C truthiness), the
    rest via a string round-trip so every CASE branch analyzes for every
    input type (same trick as the `timestamp` template above)."""
    return (f"(CASE WHEN typeof({a}) = 'boolean' THEN "
            f"IF(cast({a} as string) = 'true', 1.0D, 0.0D) "
            f"ELSE try_cast(cast({a} as string) as double) END)")


def _log_tpl(fn: str, *args) -> str:
    if fn == "log" and len(args) == 2:
        b, x = _numf(args[0]), _numf(args[1])
        return (f"(CASE WHEN {x} = 0.0D THEN double('-Infinity') "
                f"WHEN {x} < 0.0D THEN double('NaN') "
                f"ELSE log({b}, {x}) END)")
    inner = {"log": "ln", "ln": "ln", "log2": "log2",
             "log10": "log10"}[fn]
    x = _numf(args[0])
    return (f"(CASE WHEN {x} = 0.0D THEN double('-Infinity') "
            f"WHEN {x} < 0.0D THEN double('NaN') "
            f"ELSE {inner}({x}) END)")


def _local_ts(a: str) -> str:
    """Render a timestamp/int64-ms operand as OpenMLDB local wall time
    (fixed UTC+8 — udf.cc:54-67); dates/strings pass through a plain
    timestamp cast (midnight is tz-insensitive for date parts)."""
    return (f"(CASE WHEN typeof({a}) = 'timestamp' "
            f"THEN from_utc_timestamp(cast({a} as timestamp), '+08:00') "
            f"WHEN typeof({a}) IN ('tinyint', 'smallint', 'int', 'bigint') "
            f"THEN from_utc_timestamp(timestamp_millis("
            f"try_cast(cast({a} as string) as bigint)), '+08:00') "
            f"ELSE try_cast({a} as timestamp) END)")


# date-part extraction: OpenMLDB accepts timestamp/date/int64-ms inputs
# and renders in fixed UTC+8 (udf.cc dayofmonth/hour/minute/second &c.)
_SQL_FN.update({
    "day": lambda a: f"dayofmonth({_local_ts(a)})",
    "dayofmonth": lambda a: f"dayofmonth({_local_ts(a)})",
    "dayofweek": lambda a: f"dayofweek({_local_ts(a)})",
    "dayofyear": lambda a: f"dayofyear({_local_ts(a)})",
    "week": lambda a: f"weekofyear({_local_ts(a)})",
    "weekofyear": lambda a: f"weekofyear({_local_ts(a)})",
    "month": lambda a: f"month({_local_ts(a)})",
    "year": lambda a: f"year({_local_ts(a)})",
    "hour": lambda a: f"hour({_local_ts(a)})",
    "minute": lambda a: f"minute({_local_ts(a)})",
    "second": lambda a: f"second({_local_ts(a)})",
})

_CAST_TYPES = {"int16": "smallint", "int32": "int", "int64": "bigint",
               "bool": "boolean"}


def _cast_tpl(arg: str) -> str | None:
    """``cast(x AS type)`` — route timestamp/date targets through the
    UTC+8/milliseconds templates; normalize OpenMLDB type names."""
    m = re.fullmatch(r"(?s)(.+?)\s+as\s+(\w+)", arg.strip(), re.IGNORECASE)
    if not m:
        return None
    inner, typ = m.group(1), m.group(2).lower()
    if typ in ("timestamp", "date"):
        return _SQL_FN[typ](inner)
    if typ == "string":
        return _str8(inner)
    if typ in ("smallint", "int16", "int", "int32", "bigint", "int64",
               "float", "double"):
        if re.fullmatch(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?",
                        inner.strip()):
            # numeric literal: no typeof dispatch needed — keeps the
            # expression small AND statically typeable (try_cast for
            # the same NULL-on-overflow behavior as _num_cast)
            return f"try_cast({inner.strip()} as " \
                   f"{_CAST_TYPES.get(typ, typ)})"
        # CAST syntax shares the function-cast's timestamp→epoch-ms rule
        return _num_cast(inner, _CAST_TYPES.get(typ, typ))
    return f"try_cast({inner} as {_CAST_TYPES.get(typ, typ)})"


def _date_format_tpl(a: str, fmt: str | None) -> str:
    """date_format(value, '%strftime') → Spark date_format with a Java
    pattern; timestamps/int64-ms render at fixed UTC+8 (udf.cc:193-216).
    The pattern must resolve to a string literal at translation time
    (the reference also requires a constant format)."""
    if fmt is None:
        raise SqlUnsupported("date_format needs (value, format)")
    m = re.fullmatch(r"'(.*)'|\"(.*)\"", fmt.strip(), re.DOTALL)
    if not m:
        raise SqlUnsupported(f"non-literal date_format pattern {fmt!r}")
    lit = m.group(1) if m.group(1) is not None else m.group(2)
    from openmldb_spark.functions.registry import strftime_to_java
    try:
        java = strftime_to_java(lit)
    except ValueError as e:
        raise SqlUnsupported(str(e))
    return (f"(CASE WHEN ({a}) IS NULL THEN cast(NULL as string) "
            f"ELSE date_format({_local_ts(a)}, "
            f"'{java.replace(chr(39), chr(39) * 2)}') END)")


def _str_lit_value(text: str) -> str | None:
    """The runtime value of a quoted SQL string literal, or None if the
    text isn't a plain literal. Resolves backslash escape sequences the
    way both engines' literal parsers do (\\\\ → \\, \\x → x)."""
    m = re.fullmatch(r"'(.*)'|\"(.*)\"", text.strip(), re.DOTALL)
    if not m:
        return None
    raw = m.group(1) if m.group(1) is not None else m.group(2)
    return re.sub(r"\\(.)", r"\1", raw)


def _lone_trailing_escape(pat: str, esc: str) -> bool:
    """True if the pattern ends on an unpaired escape character — the
    reference's like_internal returns false for every input in that
    case (udf.cc:339-342), while Spark raises ESC_AT_THE_END."""
    i, n = 0, len(pat)
    while i < n:
        if pat[i] == esc:
            if i + 1 >= n:
                return True
            i += 2
        else:
            i += 1
    return False


def _like_never_matches(s: str, negate: bool = False) -> str:
    """like_internal's constant-result tail: false (true under NOT) for
    every non-null target, NULL propagated for a NULL target."""
    v = "TRUE" if negate else "FALSE"
    return (f"(CASE WHEN ({s}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"ELSE {v} END)")


def _sql_str_lit(v: str) -> str:
    """Re-emit a runtime string value as a Spark SQL literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _norm_pat_sql(pat: str, esc: str) -> str:
    """If the pattern is a literal, rewrite escape-before-ordinary-char
    pairs to the bare char (reference matches them exactly, udf.cc:
    336-348; Spark raises ESC_IN_THE_MIDDLE). Non-literal patterns pass
    through (documented divergence)."""
    pv = _str_lit_value(pat)
    if pv is None:
        return pat
    from openmldb_spark.functions.registry import normalize_like_pattern
    nv = normalize_like_pattern(pv, esc)
    return _sql_str_lit(nv) if nv != pv else pat


def _like_tpl(op: str, s: str, pat: str, esc: str | None = None) -> str:
    """like_match/ilike_match (default_udf_library.cc:699-857): 2-arg and
    3-arg (escape char) forms; NULL pattern/escape → NULL result; the
    empty-string escape disables escaping (EscapeLikeMatch). Spark's
    ESCAPE clause only accepts a one-char string literal, so the escape
    argument must be resolvable at translation time. Reference edge
    semantics (udf.cc:325-423): a multi-character escape makes the match
    constant-false, as does a pattern ending on an unpaired escape char
    — both still NULL-propagate a NULL target; an escape before an
    ordinary char matches that char exactly (lowered via _norm_pat_sql)."""
    if esc is None:
        pv = _str_lit_value(pat)
        if pv is not None and _lone_trailing_escape(pv, "\\"):
            return _like_never_matches(s)
        return f"(({s}) {op} ({_norm_pat_sql(pat, chr(92))}))"
    e = esc.strip()
    lit = _str_lit_value(e)
    if lit is not None:
        if lit == "":
            # '' disables escaping; Spark's LIKE defaults to backslash
            # escape, so emit ESCAPE with an impossible control char
            # (mirrors functions/registry._like_match's \x00 escape)
            return f"(({s}) {op} ({pat}) ESCAPE '\x01')"
        if len(lit) >= 2:
            # escape->size_ >= 2 → *out = false (udf.cc:415-419)
            return _like_never_matches(s)
        pv = _str_lit_value(pat)
        if pv is not None and _lone_trailing_escape(pv, lit):
            return _like_never_matches(s)
        esc_sql = lit.replace("\\", "\\\\").replace("'", "\\'")
        return (f"(({s}) {op} ({_norm_pat_sql(pat, lit)}) "
                f"ESCAPE '{esc_sql}')")
    if re.fullmatch(r"(?is)null|string\s*\(\s*null\s*\)|cast\s*\(\s*null.*",
                    e):
        return "cast(NULL as boolean)"   # NULL escape → NULL result
    raise SqlUnsupported(f"non-literal LIKE escape {esc!r}")


_LIKE_EDGE_RE = re.compile(
    r"(?P<lhs>\((?:[^()]|\([^()]*\))*\)"
    r"|(?:`[^`]+`|[A-Za-z_]\w*)(?:\.(?:`[^`]+`|[A-Za-z_]\w*))*)"
    r"\s+(?P<neg>NOT\s+)?(?P<op>I?LIKE)\s+"
    r"(?P<pat>'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")"
    r"(?:\s+ESCAPE\s+(?P<esc>'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"))?",
    re.IGNORECASE)


def _rewrite_operator_like_edges(text: str) -> str:
    """Operator-form ``x [NOT] [I]LIKE <pat> ESCAPE <esc>`` where the
    escape is multi-character or the pattern ends on an unpaired escape
    char: constant-false in the reference (udf.cc:325-423, NULL target
    still propagates NULL) but a parse/runtime error in Spark — lower
    those statically. An escape before an ordinary char (also Spark
    error, ESC_IN_THE_MIDDLE; exact-match in the reference,
    udf.cc:336-348) is rewritten to the bare char — including for the
    default backslash escape of plain LIKE. Matches beginning inside a
    string literal are left alone."""
    if not re.search(r"\bI?LIKE\b", text, re.IGNORECASE):
        return text
    from openmldb_spark.functions.registry import normalize_like_pattern
    spans = literal_spans(text)
    out = text
    for m in reversed(list(_LIKE_EDGE_RE.finditer(text))):
        if any(a < m.start() < b for a, b in spans):
            continue
        if not m.group("esc") and re.match(r"\s+ESCAPE\b", out[m.end():],
                                           re.IGNORECASE):
            continue   # non-literal ESCAPE operand — leave untouched
        esc = _str_lit_value(m.group("esc")) if m.group("esc") else "\\"
        pat = _str_lit_value(m.group("pat"))
        if not esc:
            continue
        if len(esc) >= 2:
            # operator form: the reference PLANNER rejects a multi-char
            # escape (v040/test_like.yaml id 28 is success:false), unlike
            # the like_match() runtime which returns constant-false
            raise SqlUnsupported(
                f"LIKE escape must be a single character: {esc!r}")
        if pat is None:
            continue
        if _lone_trailing_escape(pat, esc):
            repl = _like_never_matches(m.group("lhs"),
                                       negate=bool(m.group("neg")))
            out = out[:m.start()] + repl + out[m.end():]
            continue
        np = normalize_like_pattern(pat, esc)
        if np != pat:
            ps, pe = m.span("pat")
            out = out[:ps] + _sql_str_lit(np) + out[pe:]
    return out


# --------------------------------------------------------------------------
# Zero-divisor arithmetic lowering
#
# The reference's LLVM codegen makes integer `%` / `MOD` / `DIV` by zero
# return 0 — the divisor is swapped for 1 and the result select-ed back
# to 0 (hybridse/src/codegen/arithmetic_expr_ir_builder.cc:654-659 SDiv,
# :678-686 SRem) — and FDiv (`/`) is plain IEEE double division, so
# x / 0 yields ±Infinity and 0 / 0 yields NaN
# (cases/function/expression/test_arithmetic.yaml id 0 provider 4 pins
# 30 / 0 = Infinity). Spark's ANSI operators throw for ALL of these, so
# every translated expression gets a final lowering pass that folds
# multiplicative chains and wraps `%`, `DIV` and `/` in zero guards.
# Known unpinned edges (documented divergence): float % 0.0 yields 0.0
# here where the reference's FRem gives NaN, and x / -0.0 yields +Inf
# where IEEE gives -Inf (SQL `= 0` cannot see the sign of zero).
# --------------------------------------------------------------------------

_ZD_PREFIX_OPS = {"-", "+", "!"}
# structural SQL keywords are never operands: they pass through
# verbatim and leave the scanner expecting a fresh unit, so keyword
# runs (WHERE / THEN / AND ...) can't desynchronize chain detection
_ZD_KEYWORDS = frozenset("""
    SELECT FROM WHERE GROUP BY HAVING ORDER LIMIT AS ON AND OR NOT XOR
    IN IS LIKE ILIKE RLIKE BETWEEN JOIN LEFT RIGHT FULL INNER OUTER
    CROSS LAST UNION ALL DISTINCT WHEN THEN ELSE END OVER PARTITION
    WINDOW ROWS ROWS_RANGE RANGE PRECEDING FOLLOWING UNBOUNDED CURRENT
    ROW OPEN MAXSIZE EXCLUDE INSTANCE_NOT_IN_WINDOW CURRENT_TIME ESCAPE
    ASC DESC NULLS INTO OUTFILE OPTIONS CONFIG LOAD DATA INFILE SET
    INSERT VALUES
    """.split())
_ZD_KIND = {"(": "lp", ")": "rp", ",": "comma"}


def _zd_tokens(text: str) -> list[tuple[str, str]]:
    """(kind, text) tokens: 'str' (opaque literal), 'ws' (comments
    too), 'num', 'id' (dotted name / keyword), 'lp', 'rp', 'comma' and
    'op' for everything else."""
    return [(_ZD_KIND.get(t.text) or ("ws" if t.kind == "comment" else
             t.kind if t.kind in ("str", "ws", "num", "id") else "op"),
             t.text) for t in join_dotted(tokenize(text))]


def _zd_skip_ws(toks, i):
    while i < len(toks) and toks[i][0] == "ws":
        i += 1
    return i


def _zd_unit_start(toks, i, expect_unit):
    """Can toks[i] begin a primary operand?"""
    if not expect_unit:
        return False
    kind, s = toks[i]
    if kind == "id":
        u = s.upper()
        return u == "CASE" or u not in _ZD_KEYWORDS
    if kind in ("num", "str", "lp"):
        return True
    return kind == "op" and (s in _ZD_PREFIX_OPS or s == "*")


def _zd_unit(toks, i):
    """Parse one primary operand (prefix unary ops + atom) starting at
    toks[i]; returns (rewritten_text, next_index). Paren groups, call
    arguments and CASE..END interiors are rewritten recursively."""
    parts = []
    # prefix unary operators (`-`, `+`, `!`; C precedence — they bind
    # tighter than the multiplicative ops, matching hybridse)
    while toks[i][0] == "op" and toks[i][1] in _ZD_PREFIX_OPS:
        parts.append(toks[i][1])
        i = _zd_skip_ws(toks, i + 1)
    kind, s = toks[i]
    if kind == "op" and s == "*":          # star primary: SELECT *, f(*)
        return "".join(parts) + "*", i + 1
    if kind in ("num", "str"):
        return "".join(parts) + s, i + 1
    if kind == "lp":
        inner, j = _zd_seq(toks, i + 1)
        parts.append("(" + inner + ")")
        return "".join(parts), j + 1       # j sits on the matching rp
    if kind == "id":
        if s.upper() == "CASE":
            # consume through the matching END (CASEs nest); the
            # interior is a full expression sequence — recurse
            unclosed = 0
            for j in range(i, len(toks)):
                word = toks[j][1].upper() if toks[j][0] == "id" else ""
                unclosed += (word == "CASE") - (word == "END")
                if not unclosed:
                    break
            else:
                raise SqlUnsupported("CASE without matching END")
            inner = _zd_rewrite_tokens(toks[i + 1:j])
            parts.append("CASE" + inner + "END")
            return "".join(parts), j + 1
        # identifier — possibly a call: attach one balanced paren group
        j = _zd_skip_ws(toks, i + 1)
        if j < len(toks) and toks[j][0] == "lp":
            inner, k = _zd_seq(toks, j + 1)
            parts.append(s + "(" + inner + ")")
            return "".join(parts), k + 1
        parts.append(s)
        return "".join(parts), i + 1
    # lone operator where a unit was expected — emit verbatim
    return "".join(parts) + s, i + 1


# Operand-type environment for the zero-divisor lowering: run_sql
# publishes {column_name_lower: spark_simple_type} for the current
# tables so `%` can pick the reference's FRem semantics (float % 0 =
# NaN — test_arithmetic.yaml ids 3-4 pin 30.0f % 0 = NAN) when either
# operand is statically floating, vs SRem (int % 0 = 0). A NaN-typed
# int template and an int-typed NaN template are mutually exclusive in
# one CASE (branch types unify statically), hence the static dispatch.
_EXPR_TYPES: "contextvars.ContextVar[dict | None]" = \
    contextvars.ContextVar("_EXPR_TYPES", default=None)

_ZD_FLOAT_TYPES = ("float", "double")
_ZD_INT_TYPES = ("tinyint", "smallint", "int", "bigint", "boolean")


def _zd_floatish(expr: str) -> bool | None:
    """True if the operand is statically float/double, False if
    statically integral, None if unresolvable from the text + the
    published column-type environment."""
    t = expr.strip()
    while wrapped(t):
        t = t[1:-1].strip()
    if re.fullmatch(r"[-+]?\d+", t):
        return False
    if re.fullmatch(r"[-+]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?", t):
        return True
    m = re.fullmatch(r"(?is)CAST\s*\(.*\s+AS\s+(\w+)\s*\)", t)
    if m:
        typ = m.group(1).lower()
        if typ in _ZD_FLOAT_TYPES:
            return True
        if typ in _ZD_INT_TYPES:
            return False
        return None
    if re.fullmatch(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*", t):
        types = _EXPR_TYPES.get()
        if types is None:
            return None
        typ = types.get(t.lower())
        if typ is None and "." in t:
            typ = types.get(t.rsplit(".", 1)[1].lower())
        if typ in _ZD_FLOAT_TYPES:
            return True
        if typ in _ZD_INT_TYPES:
            return False
    return None


def publish_expr_types(tables):
    """Build and publish the column-type environment consumed by
    _zd_floatish; returns a contextvars reset token. Ambiguous
    unqualified names (same column name, different types across
    tables) map to None (= unknown)."""
    types: dict = {}
    items = tables.items() if isinstance(tables, dict) else \
        enumerate(tables)
    for name, df in items:
        try:
            fields = df.schema.fields
        except Exception:
            continue
        for f in fields:
            t = f.dataType.simpleString()
            for key in (f.name.lower(), f"{name}.{f.name}".lower()
                        if isinstance(name, str) else None):
                if key is None:
                    continue
                if key in types and types[key] != t:
                    types[key] = None
                else:
                    types[key] = t
    return _EXPR_TYPES.set(types)


# String-mixed comparison lowering: the reference's comparison codegen
# casts the NON-string side of a comparison to string and compares
# lexically whenever either operand is a string
# (PredicateIRBuilder::InferAndCastTypes,
# hybridse/src/codegen/predicate_expr_ir_builder.cc:657-666), and
# SafeCastNumbers a bool against a numeric (0/1). Spark instead
# implicit-casts the STRING side to the other type — ANSI-throwing on
# unparseable input and numerically diverging otherwise
# (cases/function/expression/test_predicate.yaml ids 0/3/6 value-check
# the lexical semantics). Only statically-resolvable simple operands
# (column refs, literals, single CASTs) are rewritten — anything more
# complex keeps Spark's native comparison, and a branch-free rewrite
# keeps filters pushdown-eligible when no mixed comparison exists.
_SC_NUM_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")
_SC_UNIT = (r"(?:'[^']*'|\"[^\"]*\"|CAST\s*\([^()]*\)"
            r"|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*"
            r"|[-+]?(?:\d+\.\d*|\.\d+|\d+)[fFlL]?)")
_SC_KW_PRE = r"(?:and|or|not|xor|when|then|else|on|where|select|having|by)"
_SC_KW_POST = (r"(?:and|or|then|else|end|when|as|from|where|group|order|"
               r"limit|having|union|window|xor)")
_SC_CMP_RE = re.compile(
    rf"(?is)(?P<pre>(?:^|[(,]|\b{_SC_KW_PRE}\b)\s*)"
    rf"(?P<l>{_SC_UNIT})\s*(?P<op><=>|>=|<=|<>|!=|==|[=<>])\s*"
    rf"(?P<r>{_SC_UNIT})"
    rf"(?=\s*(?:$|[;),]|\b{_SC_KW_POST}\b))")


def _sc_type(expr: str) -> str | None:
    """Static Spark type of a simple comparison operand: string/numeric/
    bool literals type themselves, column refs resolve through the
    published _EXPR_TYPES environment (LAST JOIN stage prefixes
    stripped), single CASTs type as their target. None = unresolvable."""
    t = expr.strip()
    while wrapped(t):
        t = t[1:-1].strip()
    if re.fullmatch(r"'[^']*'|\"[^\"]*\"", t, re.DOTALL):
        return "string"
    m = re.fullmatch(r"(?is)(?:TRY_)?CAST\s*\(.*\s+AS\s+(\w+)\s*\)", t)
    if m:
        typ = m.group(1).lower()
        return {"varchar": "string", "integer": "int", "long": "bigint",
                "bool": "boolean"}.get(typ, typ)
    if re.fullmatch(r"[-+]?\d+[lL]", t):
        return "bigint"
    if re.fullmatch(r"[-+]?\d+", t):
        # an unsuffixed integer literal is INT32 (hybridse IntLiteral;
        # ifnull(int_col, 100) passes while ifnull(bigint_col, 100) is
        # rejected — test_condition.yaml ids 10 vs 12)
        return "int"
    if re.fullmatch(r"[-+]?\d+[fF]", t) or re.fullmatch(
            r"[-+]?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?[fF]?", t):
        return "double"
    low = t.lower()
    if low in ("true", "false"):
        return "boolean"
    if low == "null":
        return None
    if re.fullmatch(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*", t):
        types = _EXPR_TYPES.get()
        if types is None:
            return None
        typ = types.get(low)
        if typ is None and "." in low:
            low = low.rsplit(".", 1)[1]
            typ = types.get(low)
        if typ is None:
            base = re.sub(r"^(?:r__|__r2_|__j\d+_)", "", low)
            if base != low:
                typ = types.get(base)
        return typ
    return None


_NUM_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
             "float": 4, "double": 5}


def _static_type(expr: str) -> str | None:
    """Static type of an expression under the reference's arithmetic
    typing: `/` is ALWAYS FDiv double (arithmetic_expr_ir_builder.cc
    BuildFDivExpr), + - * % promote to the wider numeric operand;
    operands resolve through _sc_type. None = unresolvable."""
    t = expr.strip()
    while wrapped(t):
        t = t[1:-1].strip()
    terms = split_binary(t, "+-")
    if len(terms) > 1:
        return _promote([_static_type(x) for _, x in terms])
    factors = split_binary(t, "*/%")
    if len(factors) > 1:
        if any(op == "/" for op, _ in factors):
            return "double"
        return _promote([_static_type(x) for _, x in factors])
    return _sc_type(t)


def _promote(typs: list) -> str | None:
    if any(t is None or t not in _NUM_RANK for t in typs):
        return None
    return max(typs, key=lambda t: _NUM_RANK[t])


def _nvl_check(fn: str, *args: str) -> None:
    """ifnull/nvl(a, b) and nvl2(c, a, b) require a and b to have
    EXACTLY the same static type — no promotion at all: ifnull(int,
    100) passes but ifnull(bigint, 100), ifnull(bigint, 1.1),
    ifnull(int, "abc") and ifnull(int / 0, 100) (FDiv double vs int)
    are all rejected (test_condition.yaml ids 9-13, NVL2-2)."""
    typs = [_static_type(a) for a in args]
    known = [t for t in typs if t]
    if len(known) == len(typs) and len(set(known)) > 1:
        raise SqlUnsupported(
            f"{fn} operand types {' vs '.join(known)} (reference "
            f"requires equal types)")


def _to_str_typed(expr: str, typ: str) -> str:
    """Render a known-type operand the way the reference's
    StringIRBuilder casts it: timestamps at fixed UTC+8 as
    "%Y-%m-%d %H:%M:%S", float/double dropping a trailing ".0",
    bool as true/false, date as "%Y-%m-%d" (same contract as _str8,
    statically dispatched)."""
    if typ == "timestamp":
        return (f"date_format(from_utc_timestamp(({expr}), '+08:00'), "
                f"'yyyy-MM-dd HH:mm:ss')")
    if typ in ("float", "double"):
        return f"regexp_replace(cast(({expr}) as string), '\\\\.0$', '')"
    return f"cast(({expr}) as string)"


def lower_string_cmp(text: str) -> str:
    """Final translation pass (after rewrite_calls, so generated
    date_format/cast text is never re-templated): rewrite comparisons
    where exactly one simple operand is statically a string to the
    reference's cast-nonstring-to-string lexical semantics, and
    bool-vs-numeric comparisons to a 0/1 int cast."""
    if _EXPR_TYPES.get() is None:
        return text
    spans = literal_spans(text)

    def fix(m):
        op = m.group("op")
        if op == "<=>" or any(a < m.start("op") < b for a, b in spans):
            return m.group(0)
        l, r = m.group("l"), m.group("r")
        lt, rt = _sc_type(l), _sc_type(r)
        if lt == "string" and rt and rt != "string":
            return f"{m.group('pre')}{l} {op} {_to_str_typed(r, rt)}"
        if rt == "string" and lt and lt != "string":
            return f"{m.group('pre')}{_to_str_typed(l, lt)} {op} {r}"
        if lt == "boolean" and rt in _SC_NUM_TYPES:
            return f"{m.group('pre')}cast(({l}) as int) {op} {r}"
        if rt == "boolean" and lt in _SC_NUM_TYPES:
            return f"{m.group('pre')}{l} {op} cast(({r}) as int)"
        return m.group(0)

    return _SC_CMP_RE.sub(fix, text)


def _zd_guard_mod(a: str, b: str) -> str:
    # mirrors BuildModExpr: integer SRem swaps a 0 divisor for 1 and
    # selects the result back to 0; float FRem is IEEE fmod, where a 0
    # divisor yields NaN — reproduced by swapping the divisor for NaN
    # (fmod(x, NaN) = NaN; the FLOAT-typed literal promotes with the
    # operands). 1Y/0Y are TINYINT literals so the integer template
    # keeps the static result type promote(a, b). Operands of unknown
    # static type take the integer template (documented edge: a
    # runtime float % 0 then yields 0, not NaN).
    if _zd_floatish(a) or _zd_floatish(b):
        return (f"(({a}) % (CASE WHEN ({b}) = 0 "
                f"THEN CAST('NaN' AS FLOAT) ELSE ({b}) END))")
    return (f"(({a}) % (CASE WHEN ({b}) = 0 THEN 1Y ELSE ({b}) END) * "
            f"(CASE WHEN ({b}) = 0 THEN 0Y ELSE 1Y END))")


def _zd_guard_div(a: str, b: str) -> str:
    # mirrors BuildSDivExpr (integer DIV; Spark's `div` widens to bigint
    # but the reference's value semantics — select 0 on a 0 divisor —
    # are preserved)
    return (f"(({a}) DIV (CASE WHEN ({b}) = 0 THEN 1Y ELSE ({b}) END) * "
            f"(CASE WHEN ({b}) = 0 THEN 0Y ELSE 1Y END))")


def _zd_guard_fdiv(a: str, b: str) -> str:
    # mirrors BuildFDivExpr: IEEE double division. a * +Inf reproduces
    # sign(a)*Inf and 0/0 = NaN; NULLs propagate through the multiply.
    return (f"(CASE WHEN ({b}) = 0 THEN CAST(({a}) AS DOUBLE) * "
            f"CAST('Infinity' AS DOUBLE) ELSE ({a}) / ({b}) END)")


def _zd_fold(a: str, op: str, b: str) -> str:
    if op == "%":
        return _zd_guard_mod(a, b)
    if op == "DIV":
        return _zd_guard_div(a, b)
    if op == "/":
        return _zd_guard_fdiv(a, b)
    return f"{a} {op} {b}"


def _zd_rewrite_tokens(toks) -> str:
    """Rewrite a whole token list, tolerating stray ')' (emit verbatim
    and resume) so a fragment never truncates."""
    parts, i = [], 0
    while True:
        txt, i = _zd_seq(toks, i)
        parts.append(txt)
        if i >= len(toks):
            return "".join(parts)
        parts.append(toks[i][1])
        i += 1


def _zd_seq(toks, i):
    """Rewrite a token stream until the matching ')' at this level (or
    end of stream); returns (text, index_of_rp_or_len). Multiplicative
    chains (unit (*|/|%|DIV) unit ...) left-fold through _zd_fold; every
    other token passes through verbatim."""
    out, expect_unit = [], True
    while i < len(toks):
        kind, s = toks[i]
        if kind == "ws":
            out.append(s)
            i += 1
            continue
        if kind == "rp":
            return "".join(out), i
        if _zd_unit_start(toks, i, expect_unit):
            acc, i = _zd_unit(toks, i)
            while True:
                j = _zd_skip_ws(toks, i)
                if j >= len(toks):
                    break
                k2, s2 = toks[j]
                op = None
                if k2 == "op" and s2 in ("*", "/", "%"):
                    op = s2
                elif k2 == "id" and s2.upper() == "DIV":
                    op = "DIV"
                if op is None:
                    break
                u2 = _zd_skip_ws(toks, j + 1)
                if u2 >= len(toks) or not _zd_unit_start(toks, u2, True):
                    break
                rhs, i = _zd_unit(toks, u2)
                acc = _zd_fold(acc, op, rhs)
            out.append(acc)
            expect_unit = False
            continue
        if kind == "id" and s.upper() == "OVER":
            # `agg() OVER w1` / `OVER (...)`: the window ref is part of
            # the preceding unit, never an operand — consume it so a
            # following `/` can't fold the window name into a division
            # (the engine extracts window aggs before translation, so
            # this is defensive; the agg call itself stays unguarded)
            out.append(s)
            i += 1
            while i < len(toks) and toks[i][0] == "ws":
                out.append(toks[i][1])
                i += 1
            if i < len(toks) and toks[i][0] == "id":
                out.append(toks[i][1])
                i += 1
            elif i < len(toks) and toks[i][0] == "lp":
                inner, j = _zd_seq(toks, i + 1)
                out.append("(" + inner + ")")
                i = j + 1
            expect_unit = False
            continue
        out.append(s)
        i += 1
        expect_unit = True
    return "".join(out), i


def lower_zero_div(text: str) -> str:
    """Final translation pass: wrap `%`, `DIV` and `/` in the
    reference's zero-divisor semantics (see block comment above). Safe
    on full statements — non-arithmetic tokens pass through verbatim.
    Operands are re-emitted once per mention in the guard (2-3×), so
    they must be pure expressions (OpenMLDB scalar exprs are)."""
    if "%" not in text and "/" not in text and \
            not re.search(r"(?i)\bDIV\b", text):
        return text
    try:
        return _zd_rewrite_tokens(_zd_tokens(text))
    except SqlUnsupported:
        raise
    except Exception:   # pragma: no cover — never corrupt a query on a
        return text     # tokenizer edge; worst case ANSI still throws


def translate_expr(text: str) -> str:
    """OpenMLDB scalar expression text → Spark SQL text. Operators
    (`==`, `!=`, `!`, arithmetic, CASE WHEN) parse natively in Spark;
    `||`/`&&` are LOGICAL or/and in OpenMLDB (Spark's `||` concatenates
    strings), so they rewrite to OR/AND."""
    def op_fix(seg: str) -> str:
        seg = seg.replace("||", " OR ").replace("&&", " AND ")
        seg = re.sub(r"\bXOR\b", "!=", seg, flags=re.IGNORECASE)
        seg = re.sub(r"\bMOD\b(?!\s*\()", " % ", seg, flags=re.IGNORECASE)
        # bare decimal literals are DOUBLE in OpenMLDB (hybridse
        # DoubleLiteral; `0.0 as col4` types double —
        # query/window_with_union_query.yaml id 2 schema-checks it),
        # while Spark parses them as DECIMAL(p,s). Runs before the
        # f-suffix rule: the (?![\w.]) lookahead leaves `0.0f` alone.
        seg = re.sub(r"(?<![\w.])(\d+\.\d*|\.\d+)(?![\w.])",
                     r"CAST(\1 AS DOUBLE)", seg)
        # OpenMLDB typed numeric literals: 0.0f / 10l
        seg = re.sub(r"\b(\d+\.\d*|\d+)[fF]\b", r"CAST(\1 AS FLOAT)", seg)
        seg = re.sub(r"\b(\d+)[lL]\b", r"CAST(\1 AS BIGINT)", seg)
        # interval literals (1s/2m/3h/4d) are frame-bound-only in
        # OpenMLDB — in an expression the reference rejects them
        # (fail_query.yaml "un-support const node"), while Spark would
        # silently parse 1s as a SMALLINT literal: reject here
        im = re.search(r"\b\d+[smhd]\b", seg, re.IGNORECASE)
        if im:
            raise SqlUnsupported(
                f"interval literal {im.group(0)!r} outside a window frame")
        return seg

    # `ESCAPE ''`/`ESCAPE ""` disables escaping in OpenMLDB; Spark
    # rejects the empty escape AND its plain LIKE still
    # backslash-escapes, so rewrite to an impossible control char
    # (pre-pass: the pattern spans a quoted literal, so it can't run
    # inside op_fix's non-string segments)
    text = re.sub(r"\bESCAPE\s+(''|\"\")", " ESCAPE '\x01' ", text,
                  flags=re.IGNORECASE)
    text = _rewrite_operator_like_edges(text)

    text = map_code(text, op_fix)
    # `CAST(x AS VARCHAR[(n)])` is OpenMLDB's SQL-standard string cast
    # (expression/test_type.yaml ids 34-35); rewrite the TYPE spelling
    # before call rewriting so `varchar(60)` is never parsed as a call
    text = sub_code(
        r"(?is)\bas\s+varchar\s*(?:\(\s*\d+\s*\))?(?=\s*\))",
        " as string", text)
    text = rewrite_calls(text, lambda n, a: _SQL_FN[n](*a)
                         if n in _SQL_FN else None)
    return lower_zero_div(lower_string_cmp(text))


# --------------------------------------------------------------------------
# Window-SQL compilation
# --------------------------------------------------------------------------

def _parse_bound(txt: str, frame: str):
    txt = txt.strip()
    if re.fullmatch(r"CURRENT\s+ROW", txt, re.IGNORECASE):
        return 0, False
    m = re.fullmatch(r"(?P<v>\S+)\s+(?P<open>OPEN\s+)?PRECEDING", txt,
                     re.IGNORECASE)
    if not m:
        raise SqlUnsupported(f"frame bound {txt!r}")
    v = m.group("v")
    is_open = bool(m.group("open"))
    if v.upper() == "UNBOUNDED":
        return (10**15, False)
    if frame == "rows":
        if not re.fullmatch(r"-?\d+", v):
            # time-unit bounds are ROWS_RANGE-only (the reference rejects
            # `ROWS BETWEEN 2s PRECEDING` — error_window.yaml id 8)
            raise SqlUnsupported(f"ROWS frame bound {v!r} (unit bounds "
                                 f"need ROWS_RANGE)")
        return int(v), is_open
    return parse_time_ms(v), is_open


def compile_window_clause(body: str) -> tuple[WindowSpec, list[int]]:
    """One window definition body → (WindowSpec, union table indices)."""
    wm = _WIN_RE.match(body.strip())
    if not wm:
        raise SqlUnsupported(f"window clause {body!r}")
    if wm.group("union") and "(" in (wm.group("union") or ""):
        raise SqlUnsupported("sub-select in WINDOW UNION (inline first)")

    frame = "rows_range" if wm.group("frame").lower() == "rows_range" else "rows"
    start, start_open = _parse_bound(wm.group("start"), frame)
    end, end_open = _parse_bound(wm.group("end"), frame)

    tail = wm.group("tail") or ""
    max_size = 0
    mm = re.search(r"MAXSIZE\s+(\d+)", tail, re.IGNORECASE)
    if mm:
        if frame == "rows":
            # MAXSIZE is a ROWS_RANGE-only option (the reference rejects
            # ROWS + MAXSIZE — error_window.yaml id 13)
            raise SqlUnsupported("MAXSIZE requires a ROWS_RANGE frame")
        if int(mm.group(1)) == 0:
            # MAXSIZE 0 is rejected, not "unlimited"
            # (test_maxsize.yaml id 3; negative MAXSIZE fails the
            # \d+ pattern and errors via the unparsed-options check)
            raise SqlUnsupported("MAXSIZE must be positive")
        max_size = int(mm.group(1))
        tail = tail.replace(mm.group(0), "")
    exclude_ct = bool(re.search(r"EXCLUDE\s+CURRENT_TIME", tail, re.IGNORECASE))
    iniw = bool(re.search(r"INSTANCE_NOT_IN_WINDOW", tail, re.IGNORECASE))
    tail = re.sub(r"EXCLUDE\s+CURRENT_TIME|INSTANCE_NOT_IN_WINDOW", "", tail,
                  flags=re.IGNORECASE)
    if re.sub(r"[\s,]+", "", tail):
        raise SqlUnsupported(f"window options {tail!r}")

    part_cols = [_strip_t(p) for p in wm.group("part").split(",")]
    order_cols = [_strip_t(o) for o in wm.group("order").split(",")]
    if len(order_cols) != 1:
        # the reference batch engine rejects multiple order keys too
        # (WindowAggPlanUtil.scala:146-149)
        raise SqlUnsupported("multiple ORDER BY keys")

    spec = WindowSpec(
        partition_by=part_cols, order_by=order_cols[0], frame=frame,
        preceding=start, end_offset=end, start_open=start_open,
        end_open=end_open, max_size=max_size,
        exclude_current_time=exclude_ct, instance_not_in_window=iniw,
        tiebreak=(),
    )
    union_idx = []
    if wm.group("union"):
        for tok in wm.group("union").split(","):
            # an optional table alias is legal and unused — window refs
            # are by column (cluster/test_window_row.yaml id 1
            # `UNION t2 as t2mirror`)
            um = re.fullmatch(r"\{(\d+)\}(?:\s+as\s+\w+)?", tok.strip(),
                              re.IGNORECASE)
            if not um:
                raise SqlUnsupported(f"UNION target {tok.strip()!r}")
            union_idx.append(int(um.group(1)))
    return spec, union_idx


@dataclass
class WindowQuery:
    # output order: ("col", src, alias) | ("agg", window_name, Agg)
    #             | ("expr", spark_sql_text, alias)  — text references
    #               __e{k} agg placeholders and primary columns
    projection: list[tuple] = field(default_factory=list)
    # window name → (spec, union_idx, aggs)
    windows: dict = field(default_factory=dict)
    primary_idx: int = 0
    # auxiliary computed columns (translated expr → column name) for
    # expression-valued aggregate arguments
    aux: dict = field(default_factory=dict)
    # SELECT DISTINCT over the window output (distinct_query id 2)
    distinct: bool = False


def _lift_anonymous_windows(sql: str) -> str:
    """Rewrite inline `agg() OVER (PARTITION BY ...)` windows into named
    definitions appended to the WINDOW clause (creating one if absent) —
    window bodies never contain parentheses in this dialect."""
    bodies: list[str] = []

    def repl(m):
        bodies.append(m.group(1))
        return f" OVER __anon{len(bodies) - 1} "

    # string-masked: a literal containing 'OVER (' must survive
    new = sub_code(r"OVER\s*\(([^()]*)\)", repl, sql, flags=re.IGNORECASE)
    if not bodies:
        return sql
    defs = ", ".join(f"__anon{i} AS ({b})" for i, b in enumerate(bodies))
    if re.search(r"\bWINDOW\b", new, re.IGNORECASE):
        new = re.sub(r"\bWINDOW\b", f"WINDOW {defs}, ", new, count=1,
                     flags=re.IGNORECASE)
    else:
        new = re.sub(r";?\s*$", "", new) + f" WINDOW {defs}"
    return new


_SPLITCALL_RE = re.compile(
    r"(?is)^\s*fz_window_split(?P<var>_by_key|_by_value)?"
    r"\s*\((?P<inner>.*)\)\s*$")


def _unquote_lit(s: str) -> str:
    m = re.fullmatch(r"\s*'(.*)'\s*|\s*\"(.*)\"\s*", s, re.DOTALL)
    if not m:
        raise SqlUnsupported(f"string literal expected: {s!r}")
    return m.group(1) if m.group(1) is not None else m.group(2)


def _parse_agg_call(fn: str, argtxt: str, aux: dict | None = None) -> dict:
    """One kernel aggregate call → Agg kwargs {func,col,param,cond,cate}.

    Non-identifier value/condition arguments (``sum(c3+c4)``,
    ``count_where(c1, c2<4)``) allocate an auxiliary computed column in
    ``aux`` (translated-expr → column name) that the executor adds to the
    input before the kernel runs — the reference compiles these argument
    expressions into the same row-projection stage."""
    fn = fn.lower()
    fn = _AGG_ALIASES.get(fn, fn)
    args = [a.strip() for a in split(argtxt)] if argtxt.strip() \
        else []

    def ident(a):
        a = _strip_t(a)
        if re.fullmatch(r"\w+", a):
            return a
        if aux is None:
            raise SqlUnsupported(f"aggregate argument {a!r}")
        expr = translate_expr(a)
        if expr not in aux:
            aux[expr] = f"__x{len(aux)}"
        return aux[expr]

    # composite split aggregates (feature_zero_def.cc fz_window_split
    # family — test_feature_zero_function.yaml, test_fz_sql.yaml):
    #   fz_join(fz_window_split*(col, d[, kd]), sep) OVER w → joined csv
    #   count/distinct_count(fz_window_split*(...)) OVER w  → part counts
    #   fz_top1_ratio(fz_window_split*(...)) OVER w         → ratio
    #   fz_topn_frequency(fz_window_split*(...), k) OVER w  → top-k csv
    sm = _SPLITCALL_RE.match(args[0]) if args else None
    if fn == "fz_join" or (sm and fn in (
            "count", "distinct_count", "top1_ratio", "top_n_frequency")):
        if fn == "fz_join":
            if len(args) != 2 or not sm:
                raise SqlUnsupported(
                    "fz_join over a window needs (fz_window_split*(...), "
                    "sep)")
            sep, mode = _unquote_lit(args[1]), None
        elif fn == "top_n_frequency":
            if len(args) != 2:
                raise SqlUnsupported(f"{fn} over a split needs (split, k)")
            sep, mode = ",", f"top_n_frequency:{int(args[1])}"
        else:
            if len(args) != 1:
                raise SqlUnsupported(f"{fn} over a split takes one arg")
            sep, mode = ",", fn
        inner = [a.strip() for a in split(sm.group("inner"))]
        var = (sm.group("var") or "").lower()
        if len(inner) < 2 or (var and len(inner) < 3):
            raise SqlUnsupported("fz_window_split needs (col, delim[, kv])")
        return {"func": f"window_split{var}", "col": ident(inner[0]),
                "param": mode, "cond": None, "cate": None,
                "delim": _unquote_lit(inner[1]),
                "kv_delim": _unquote_lit(inner[2]) if var else None,
                "sep": sep}

    if fn not in KERNEL_AGG_FUNCS:
        raise SqlUnsupported(f"aggregate {fn!r}")

    star = bool(args) and args[0].strip() == "*"
    kw: dict = {"func": fn,
                "col": "" if star else (ident(args[0]) if args else ""),
                "param": None, "cond": None, "cate": None}
    if fn.startswith("top_n_key_") and fn.endswith("_cate_where"):
        # top_n_key_X_cate_where(value, cond, key, n)
        if len(args) != 4:
            raise SqlUnsupported(f"{fn} needs (value, cond, key, n)")
        kw["cond"], kw["cate"] = ident(args[1]), ident(args[2])
        kw["param"] = int(args[3])
    elif fn.endswith("_cate_where"):
        if len(args) != 3:
            raise SqlUnsupported(f"{fn} needs (value, cond, key)")
        kw["cond"], kw["cate"] = ident(args[1]), ident(args[2])
    elif fn.endswith("_cate"):
        if len(args) != 2:
            raise SqlUnsupported(f"{fn} needs (value, key)")
        kw["cate"] = ident(args[1])
    elif fn.endswith("_where"):
        if len(args) != 2:
            raise SqlUnsupported(f"{fn} needs (value, cond)")
        anchor = _parse_anchor_cond(args[1])
        if anchor is not None:
            if fn != "count_where":
                raise SqlUnsupported(
                    f"{fn} with an anchor-relative condition")
            row_side, anc_side, fv = anchor
            kw["cond"] = ident(row_side)
            kw["cond_anchor"] = ident(anc_side)
            kw["cond_anchor_fv"] = fv
        else:
            kw["cond"] = ident(args[1])
    elif fn in ("lag", "at", "top", "top_n_frequency") and len(args) > 1:
        kw["param"] = int(args[1])
    elif len(args) > 1:
        raise SqlUnsupported(f"aggregate arguments {fn}({argtxt})")
    if star:
        # count_where(*, cond): count every condition-true frame row
        # (test_udaf_function.yaml id 17 m10) — counted value = a
        # never-null constant column, so only the condition filters
        if fn == "count_where" and kw["cond"] and aux is not None:
            one = "CAST(1 AS INT)"
            if one not in aux:
                aux[one] = f"__x{len(aux)}"
            kw["col"] = aux[one]
        else:
            raise SqlUnsupported(f"{fn}(*) over a window")
    return kw


_ANCHOR_CALL_RE = re.compile(
    r"(?is)\b(?:lag|at)\s*\(\s*([A-Za-z_]\w*)\s*,\s*0\s*\)"
    r"|\bfirst_value\s*\(\s*([A-Za-z_]\w*)\s*\)")


def _parse_anchor_cond(text: str):
    """Detect a *_where condition of the form ``rowexpr = anchorexpr``
    where anchorexpr references the anchor row through lag(x, 0) /
    at(x, 0) / first_value(x) (test_udaf_function.yaml ids 47-49,
    ``count_where(id, ifnull(c1, "a") = ifnull(lag(c1, 0), "a"))``): the
    reference resolves the nested window function against the enclosing
    OVER's frame, where offset-0 lag (always) and first_value (when the
    frame ends at CURRENT ROW) denote the anchor row itself. Returns
    (row_side, anchor_side_with_calls_substituted, needs_current_end),
    or None when the condition has no anchor-relative call."""
    if not _ANCHOR_CALL_RE.search(text):
        return None
    eqs = depth0(text, r"(?<![<>!=])==?(?!=)")
    if len(eqs) != 1:
        raise SqlUnsupported("anchor-relative condition shape")
    m = eqs[0]
    left, right = text[:m.start()], text[m.end():]
    lhas = bool(_ANCHOR_CALL_RE.search(left))
    rhas = bool(_ANCHOR_CALL_RE.search(right))
    if lhas == rhas:
        raise SqlUnsupported("anchor-relative condition shape")
    row_side, anc_side = (right, left) if lhas else (left, right)
    fv = bool(re.search(r"(?i)\bfirst_value\s*\(", anc_side))
    anc_sub = _ANCHOR_CALL_RE.sub(
        lambda mm: mm.group(1) or mm.group(2), anc_side)
    if _ANCHOR_CALL_RE.search(anc_sub) or re.search(
            r"(?i)\b(?:lag|at|first_value)\s*\(", anc_sub):
        raise SqlUnsupported("anchor-relative condition shape")
    return row_side.strip(), anc_sub.strip(), fv


# fz_* front-end spellings of kernel aggregates
# (FeatureZero UDF registrations, hybridse feature_zero_def.cc)
_AGG_ALIASES = {"fz_topn_frequency": "top_n_frequency",
                "fz_top1_ratio": "top1_ratio"}


class _AggAlloc:
    """Dedup-and-allocate kernel aggregates across projection items."""

    def __init__(self, windows: dict, aux: dict):
        self.windows = windows
        self.aux = aux
        self.seen: dict[tuple, str] = {}

    def get(self, wname: str, kw: dict) -> str:
        if wname not in self.windows:
            raise SqlUnsupported(f"unknown window {wname!r}")
        key = (wname, kw["func"], kw["col"], kw["param"], kw["cond"],
               kw["cate"], kw.get("delim"), kw.get("kv_delim"),
               kw.get("sep"), kw.get("cond_anchor"),
               # fv distinguishes a first_value-anchored condition from
               # a lag(x,0)-anchored one — collapsing them would reuse
               # the wrong aggregate and skip the fv frame-end check
               kw.get("cond_anchor_fv"))
        if key not in self.seen:
            alias = f"__e{len(self.seen)}"
            self.seen[key] = alias
            self.windows[wname][2].append(Agg(alias=alias, **kw))
        return self.seen[key]


# ---- nested-aggregate-in-sum lowering --------------------------------
# The reference evaluates an aggregate nested inside another window
# aggregate's argument over the ANCHOR row's frame, recursively — i.e.
# as a frame CONSTANT K per output row (value-verified against
# cases/function/function/test_udaf_function.yaml id 43:
# sum(c1 - count(c1)) == sum(c1) - count(c1)^2 over every frame, and
# sum(c1 + sum(c2 * count(c3))) == sum(c1) + count(c1)*sum(c2)*count(c3)).
# That makes the outer sum algebraically decomposable into plain
# same-window aggregates stitched in the post-kernel projection:
#     sum(R ± K) = sum(R) ± count(R) * K      (rows with NULL R are
#     sum(R * K) = sum(R) * K                  skipped on both sides)
# where R is a pure row expression and K is built from aggregates only.

def _has_nested_agg_call(text: str) -> bool:
    masked = mask_literals(text)
    if re.search(r"\b__e\d+\b", masked):
        # an already-allocated placeholder (rewrite_calls resolves
        # inner calls first) is an anchor-frame constant too
        return True
    for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\(", masked):
        n = m.group(1).lower()
        if n in KERNEL_AGG_FUNCS or n in _AGG_ALIASES:
            return True
    return False


def _bare_col_refs(text: str) -> bool:
    """True if the (already agg-resolved) text still references row
    columns — identifiers that are neither calls, __e placeholders, nor
    SQL keywords/literals."""
    masked = mask_literals(text)
    kw = {"AND", "OR", "NOT", "CASE", "WHEN", "THEN", "ELSE", "END",
          "NULL", "TRUE", "FALSE", "AS", "IS", "IN", "BETWEEN", "LIKE",
          "DIV", "MOD", "XOR"}
    for m in re.finditer(r"\b[A-Za-z_]\w*\b", masked):
        if masked[m.end():].lstrip().startswith("("):
            continue
        name = m.group(0)
        if re.fullmatch(r"__e\d+", name) or name.upper() in kw:
            continue
        return True
    return False


def _aux_ident(a: str, aux: dict) -> str:
    a = _strip_t(a)
    if re.fullmatch(r"\w+", a):
        return a
    expr = translate_expr(a)
    if expr not in aux:
        aux[expr] = f"__x{len(aux)}"
    return aux[expr]


def _resolve_nested_aggs(text: str, wname: str, alloc) -> str:
    """Replace kernel-agg calls in `text` with __e placeholders bound to
    window `wname`, recursively lowering nested sums."""
    out, pos = [], 0
    for start, name, lp, rp in calls(text):
        lname = name.lower()
        inner = text[lp + 1:rp]
        if lname == "sum" and _has_nested_agg_call(inner):
            rep = "(" + _lower_nested_sum(inner, wname, alloc) + ")"
        elif lname in KERNEL_AGG_FUNCS or lname in _AGG_ALIASES:
            rep = alloc.get(wname, _parse_agg_call(lname, inner, alloc.aux))
        else:
            rep = f"{name}({_resolve_nested_aggs(inner, wname, alloc)})"
        out += [text[pos:start], rep]
        pos = rp + 1
    out.append(text[pos:])
    return "".join(out)


def _lower_nested_sum(argtxt: str, wname: str, alloc) -> str:
    """``sum(arg) OVER wname`` with aggregate calls nested in arg →
    placeholder expression text (see block comment above). Supported
    shapes — exactly what decomposes null-exactly: a single
    row*const product term, or one pure-row term plus one pure-const
    term; anything else is unsupported."""
    terms = [(op or "+", t) for op, t in split_binary(argtxt, "+-")]

    def lower_term(sign, term):
        factors = [f for _, f in split_binary(term, "*")]
        rowf = [f for f in factors if not _has_nested_agg_call(f)]
        constf = [f for f in factors if _has_nested_agg_call(f)]
        if not rowf:
            raise SqlUnsupported("sum over a frame-constant expression")
        const_expr = " * ".join(
            "(" + _resolve_nested_aggs(f, wname, alloc) + ")"
            for f in constf)
        if const_expr and _bare_col_refs(const_expr):
            raise SqlUnsupported(
                "nested aggregate mixed with row columns in one factor")
        rtxt = " * ".join(rowf)
        rcol = _aux_ident(rtxt, alloc.aux)
        return sign, rcol, const_expr

    if len(terms) == 1:
        sign, rcol, const_expr = lower_term(*terms[0])
        scol = alloc.get(wname, {"func": "sum", "col": rcol, "param": None,
                                 "cond": None, "cate": None})
        if const_expr:
            # NULL frame-constant K: every addend R*K is NULL, so the
            # reference's 0-initialized sum accumulator emits 0 — the
            # plain scol*K decomposition would emit NULL
            body = (f"(IF(({const_expr}) IS NULL, 0, "
                    f"{scol} * ({const_expr})))")
        else:
            body = f"({scol})"
        return f"(- {body})" if sign == "-" else body
    if len(terms) == 2:
        nested = [_has_nested_agg_call(t) for _, t in terms]
        if nested.count(True) == 1:
            (rs, rterm) = terms[0] if nested[1] else terms[1]
            (cs, cterm) = terms[1] if nested[1] else terms[0]
            cexpr = _resolve_nested_aggs(cterm, wname, alloc)
            if _bare_col_refs(cexpr):
                raise SqlUnsupported(
                    "nested aggregate mixed with row columns")
            rcol = _aux_ident(rterm, alloc.aux)
            scol = alloc.get(wname, {"func": "sum", "col": rcol,
                                     "param": None, "cond": None,
                                     "cate": None})
            ccol = alloc.get(wname, {"func": "count", "col": rcol,
                                     "param": None, "cond": None,
                                     "cate": None})
            rpart = f"({scol})" if rs == "+" else f"(- {scol})"
            kpart = f"({ccol} * ({cexpr}))"
            # NULL frame-constant: all addends R±K are NULL → ref sum = 0
            return (f"(IF(({cexpr}) IS NULL, 0, "
                    f"{rpart} {'+' if cs == '+' else '-'} {kpart}))")
    raise SqlUnsupported(f"nested aggregate shape sum({argtxt})")


def _extract_window_aggs(item: str, alloc: _AggAlloc) -> str:
    """Replace every ``fn(args) OVER wname`` in the item with an __e{k}
    placeholder, registering the aggregate with its window.

    A non-kernel function with OVER (e.g. ``identity(case when lag(..)
    ... end) over w``) binds every kernel-agg call inside its arguments
    to that window — the reference resolves nested window functions
    against the enclosing OVER (ast_node_converter.cc window exprs)."""
    out, pos = [], 0
    for start, name, lp, rp in calls(item):
        if start < pos:
            continue
        argtxt = item[lp + 1:rp]
        out.append(item[pos:start])
        pos = rp + 1
        om = re.match(r"\s+OVER\s+(\w+)", item[pos:], re.IGNORECASE)
        if not om:
            # plain call: recurse into args for nested `agg OVER w`
            out.append(f"{name}({_extract_window_aggs(argtxt, alloc)})")
            continue
        pos += om.end()
        wname = om.group(1)
        lname = name.lower()
        if lname == "sum" and _has_nested_agg_call(argtxt):
            # nested aggregate inside sum's argument: lower algebraically
            # (the nested aggregate is an anchor-frame constant)
            out.append("(" + _lower_nested_sum(argtxt, wname, alloc) + ")")
        elif lname in KERNEL_AGG_FUNCS or lname in _AGG_ALIASES \
                or lname == "fz_join":
            try:
                out.append(alloc.get(
                    wname, _parse_agg_call(lname, argtxt, alloc.aux)))
            except SqlUnsupported:
                if lname != "fz_join":
                    raise
                # fz_join over a SCALAR list (fz_split, not
                # fz_window_split) with OVER: the window is irrelevant —
                # per-row value (test_feature_zero_function.yaml id 5)
                out.append(
                    f"{name}({_extract_window_aggs(argtxt, alloc)})")
        else:
            out.append(f"{name}({_bind_nested_aggs(argtxt, wname, alloc)})")
    out.append(item[pos:])
    return "".join(out)


def _bind_nested_aggs(text: str, wname: str, alloc: _AggAlloc) -> str:
    """Bind bare kernel-agg calls inside `text` to window `wname`."""

    def handler(n, args):
        if n == "fz_join" and len(args) == 2 \
                and _SPLITCALL_RE.match(args[0]):
            return alloc.get(
                wname, _parse_agg_call(n, ", ".join(args), alloc.aux))
        if n in KERNEL_AGG_FUNCS or n in _AGG_ALIASES:
            argtxt = ", ".join(args)
            # rewrite_calls resolves inner-most calls first, so a nested
            # aggregate has already become an __e placeholder by the time
            # the enclosing sum is seen — lower it algebraically
            if n == "sum" and _has_nested_agg_call(argtxt):
                return "(" + _lower_nested_sum(argtxt, wname, alloc) + ")"
            return alloc.get(
                wname, _parse_agg_call(n, argtxt, alloc.aux))
        return None

    return rewrite_calls(text, handler)


def compile_window_sql(sql: str) -> WindowQuery:
    sql = sql.strip().replace("\n", " ")
    sql = _lift_anonymous_windows(sql)
    # strip a `FROM {i} AS alias` table alias (refs use bare col names)
    sql = re.sub(r"(FROM\s+\{\d+\})\s+as\s+\w+", r"\1", sql,
                 flags=re.IGNORECASE)
    distinct = False
    dm = re.match(r"(?i)(\s*SELECT\s+)DISTINCT\s+", sql)
    if dm:
        distinct = True
        sql = dm.group(1) + sql[dm.end():]
    m = _SQL_RE.match(sql)
    if not m:
        raise SqlUnsupported("not a SELECT ... FROM {i} WINDOW ... query")
    q = WindowQuery(primary_idx=int(m.group("prim")), distinct=distinct)
    wins_txt = m.group("wins")
    consumed = wins_txt
    for name, body in _WINDEF_RE.findall(wins_txt):
        spec, union_idx = compile_window_clause(body)
        q.windows[name] = (spec, union_idx, [])
        consumed = consumed.replace(f"({body})", "", 1).replace(name, "", 1)
    if re.sub(r"[\sASas,]+", "", consumed):
        raise SqlUnsupported(f"unparsed window definitions: {consumed!r}")
    if not q.windows:
        raise SqlUnsupported("no window definitions")

    alloc = _AggAlloc(q.windows, q.aux)
    for item in split(m.group("proj")):
        item = item.strip()
        if not item:
            # trailing comma in the select list (test_window.yaml id 33)
            continue
        rewritten = _extract_window_aggs(item, alloc)
        if rewritten == item:
            # no window aggregates: plain column (with optional alias)...
            cm = re.fullmatch(
                r"(?P<src>\S+?)(?:\s+as\s+(?P<alias>\w+))?", item,
                re.IGNORECASE)
            src = _strip_t(cm.group("src")) if cm else ""
            if re.fullmatch(r"\w+", src):
                q.projection.append(("col", src, cm.group("alias") or src))
                continue
            # ...or a scalar expression over primary columns
            em = re.fullmatch(r"(?P<body>.+?)\s+as\s+(?P<alias>\w+)", item,
                              re.IGNORECASE | re.DOTALL)
            if not em:
                raise SqlUnsupported(f"projection item {item!r}")
            q.projection.append(
                ("expr", translate_expr(_strip_t(em.group("body"))),
                 em.group("alias")))
            continue
        # alias: trailing `AS name`; default = source-derived name the way
        # OpenMLDB generates it — "sum(c4)over w1"
        # (cases/function/window/test_window_row.yaml:18)
        am = re.fullmatch(r"(?P<body>.+?)\s+as\s+(?P<alias>\w+)",
                          rewritten, re.IGNORECASE | re.DOTALL)
        body = am.group("body") if am else rewritten
        if am:
            alias = am.group("alias")
        else:
            alias = re.sub(r"\)\s*OVER\s+", ")over ", _strip_t(item),
                           flags=re.IGNORECASE)
        body = body.strip()
        if re.fullmatch(r"__e\d+", body):
            # single aggregate: emit directly under its user alias —
            # UNLESS an earlier expression projection already references
            # the shared placeholder (``sum(c4) over w1 + 1 as x,
            # sum(c4) over w1 as y``): renaming then would leave the
            # earlier F.expr text pointing at a dropped column
            used_earlier = any(p[0] == "expr"
                               and re.search(rf"\b{body}\b", p[1])
                               for p in q.projection)
            if used_earlier:
                q.projection.append(("expr", body, alias))
                continue
            key = next(kk for kk, v in alloc.seen.items() if v == body)
            wname = key[0]
            # re-alias the registered Agg to the user-facing name
            aggs = q.windows[wname][2]
            for idx, a in enumerate(aggs):
                if a.alias == body:
                    import dataclasses
                    aggs[idx] = dataclasses.replace(a, alias=alias)
                    alloc.seen[key] = alias
                    q.projection.append(("agg", wname, aggs[idx]))
                    break
            continue
        q.projection.append(("expr", translate_expr(body), alias))
    if not any(w[2] for w in q.windows.values()):
        raise SqlUnsupported("no window aggregates in projection")
    return q


# -- Spark execution -------------------------------------------------------

def canonicalize_tables(sql: str, tables) -> tuple[str, list]:
    """Accept either positional DataFrames (``{0}`` refs) or a
    {name: DataFrame} dict (``FROM t1 ... t1.col`` refs, like the
    reference's named tables); returns ({i}-canonical sql, ordered dfs)."""
    if not isinstance(tables, dict):
        return sql, list(tables)
    ordered = list(tables.items())
    # loop to fixpoint: the UNION-list pattern only matches names preceded
    # by already-canonicalized {i} refs, so an out-of-dict-order union
    # list (e.g. `UNION t2,t1`) needs a second pass
    for _ in range(len(ordered) + 1):
        before = sql
        for i, (name, _) in enumerate(ordered):
            if re.search(
                    rf"(?:\{{\d+\}}|\)|(?:\bfrom|\bjoin)\s+\w+)"
                    rf"\s+as\s+{re.escape(name)}\b", sql, re.IGNORECASE):
                # the table name is shadowed by a subquery/table alias
                # (e.g. `(select ...) as t1 ... t1.c2`): leave dotted
                # refs for the alias resolver. Only TABLE-alias positions
                # count — a projection column alias (`'' as action`,
                # fz_ddl/test_bank.yaml) must not shadow the table.
                continue
            # quote-aware + case-insensitive like the FROM/JOIN subs —
            # a plain sub would rewrite inside string literals
            sql = sub_code(
                rf"\b{re.escape(name)}\s*\.", f"{{{i}}}.", sql,
                flags=re.IGNORECASE)
            sql = re.sub(rf"(\bFROM\s+){re.escape(name)}\b", rf"\g<1>{{{i}}}",
                         sql, flags=re.IGNORECASE)
            sql = re.sub(rf"(\bjoin\s+){re.escape(name)}\b", rf"\g<1>{{{i}}}",
                         sql, flags=re.IGNORECASE)
            sql = re.sub(
                rf"(\bUNION\s+(?:[(\s]|\{{\d+\}}\s*,\s*)*){re.escape(name)}\b",
                rf"\g<1>{{{i}}}", sql, flags=re.IGNORECASE)
        if sql == before:
            break
    return sql, [df for _, df in ordered]


def _inline_subselects(spark, sql: str, tables: list) -> tuple[str, list]:
    """Replace every ``(select ... from {i})`` block with a fresh
    positional table computed via selectExpr (covers sub-selects in FROM
    and in WINDOW UNION lists — WINDOW_CLAUSE.md:175-217)."""
    while True:
        m = re.search(r"\(\s*select\b", mask_literals(sql), re.IGNORECASE)
        if not m:
            return sql, tables
        start = m.start()
        end = match_paren(sql, start)
        inner = sql[start + 1:end]
        df = _run_simple_select(spark, inner, tables)
        tables = tables + [df]
        sql = f"{sql[:start]}{{{len(tables) - 1}}}{sql[end + 1:]}"


def _run_simple_select(spark, sql: str, tables: list):
    """``select <exprs> from {i}`` (no WHERE/GROUP/...) → selectExpr."""
    m = re.fullmatch(r"\s*select\s+(?P<proj>.*?)\s+from\s+\{(?P<i>\d+)\}\s*",
                     sql, re.IGNORECASE | re.DOTALL)
    if not m or re.search(r"\bOVER\b", mask_literals(m.group("proj")),
                          re.IGNORECASE):
        # full sub-query (WHERE / WINDOW / LAST JOIN ...): recurse
        # through the dispatcher — production scripts nest whole
        # windowed statements as LAST JOIN operands
        return _dispatch_sql(spark, sql, tables)
    df = tables[int(m.group("i"))]
    items = [translate_expr(_strip_t(p)) for p in
             split(m.group("proj"))]
    return df.selectExpr(*items)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (int, float)):
        return repr(v)
    raise SqlUnsupported(f"unsupported parameter type {type(v).__name__}")


def bind_params(sql: str, params) -> str:
    """Substitute ``?`` placeholders (quote-aware, in order) with SQL
    literals — OpenMLDB's parameterized queries
    (cases/query/parameterized_query.yaml; hybridse request params)."""
    n = placeholders(sql)
    if n > len(params):
        raise SqlUnsupported(
            f"query has more placeholders than the {len(params)} "
            f"parameters given")
    if n < len(params):
        raise SqlUnsupported(f"{len(params) - n} unused parameters")
    return fill_placeholders(sql, map(_sql_literal, params))


def _tb_tpl(x: str) -> str:
    """C-style truthiness of any operand — the reference's BoolCast
    (cast_expr_ir_builder.cc:275-321): numerics/timestamp-ms != 0,
    strings non-empty, dates non-null (encoded int != 0), NULL → NULL.
    Every branch analyzes for every input type (string round-trips)."""
    # inner casts are spelled try_cast so translate_expr's cast template
    # (UTC+8 timestamp rendering) does NOT rewrite them — truthiness
    # wants the raw epoch value, not the wall-clock string
    return (f"(CASE WHEN typeof({x}) = 'boolean' "
            f"THEN try_cast(try_cast({x} as string) as boolean) "
            f"WHEN typeof({x}) = 'string' "
            f"THEN (length(try_cast({x} as string)) > 0) "
            f"WHEN typeof({x}) = 'date' "
            f"THEN IF(({x}) IS NULL, try_cast(NULL as boolean), true) "
            f"WHEN typeof({x}) = 'timestamp' "
            f"THEN (unix_millis(try_cast(try_cast({x} as string) as "
            f"timestamp)) <> 0) "
            f"ELSE (try_cast(try_cast({x} as string) as double) <> 0.0) "
            f"END)")


def _boolify_expr(e: str) -> str:
    """Coerce the operands of logical operators to bool with the
    reference's truthiness rules (retry path — only invoked after the
    Spark analyzer rejected a non-boolean logical operand)."""
    e = e.strip()
    if not e:
        return e
    for kw, join in (("OR", " OR "), ("AND", " AND "), ("XOR", " != ")):
        parts = split(e, kw, case_end=True)
        if len(parts) > 1:
            return join.join(_tb_tpl(_boolify_expr(p)) for p in parts)
    m = re.match(r"(?is)^(?:NOT\b|!(?![=]))\s*(.+)$", e)
    if m:
        return f"(NOT {_tb_tpl(_boolify_expr(m.group(1)))})"
    if wrapped(e):
        return f"({_boolify_expr(e[1:-1])})"
    return e


def _boolify_sql(sql: str) -> str:
    """Rewrite the top-level SELECT items and WHERE/HAVING bodies with
    truthiness-coerced logical operands (test_logic.yaml: `!c2`,
    `c2=2 and (c2-1)`, string/date/timestamp logical operands)."""
    masked = mask_literals(sql)
    # the projection body ends at the first FROM at paren depth 0 — a
    # FROM inside a scalar sub-query in the select list must not bind
    sm = re.search(r"(?is)\bselect\b", masked)
    fm = next((f for f in depth0(sql, r"(?is)\bfrom\b")
               if sm and f.start() >= sm.end()), None)
    if sm and fm:
        m_start, m_end = sm.end(), fm.start()
        body = sql[m_start:m_end]
        items = []
        for item in split(body):
            am = re.fullmatch(r"(?is)(.+?)\s+as\s+(\w+)\s*",
                              mask_literals(item))
            if am:
                items.append(_boolify_expr(item[:am.end(1)])
                             + f" as {am.group(2)}")
            else:
                items.append(_boolify_expr(item))
        sql = sql[:m_start] + " " + ", ".join(items) + " " \
            + sql[m_end:]
        masked = mask_literals(sql)
    for clause in ("where", "having"):
        cm = re.search(
            rf"(?is)\b{clause}\b(.*?)(?=\bgroup\s+by\b|\bhaving\b|"
            rf"\border\s+by\b|\blimit\b|\bwindow\b|;|$)", masked)
        if cm:
            sql = (sql[:cm.start(1)] + " "
                   + _boolify_expr(sql[cm.start(1):cm.end(1)]) + " "
                   + sql[cm.end(1):])
            masked = mask_literals(sql)
    return sql


def resolve_databases(sql: str, tables: dict, default_db: str | None):
    """OpenMLDB multi-database name resolution (cases/function/
    multiple_databases): tables register under dotted ``db.name`` keys;
    SQL references ``db.name`` or a bare ``name`` (resolved in the
    default database). Unknown databases and bare names that don't live
    in the default database raise SqlUnsupported — the reference's
    catalog rejects both (ids 2-3). Returns (sql, flat name→df dict)."""
    flat, mapping = {}, {}
    for key, df in tables.items():
        if "." in key:
            db, name = key.split(".", 1)
            mapping[(db, name)] = f"__db_{db}__{name}"
            flat[mapping[(db, name)]] = df
        else:
            flat[key] = df
    # qualified refs db.name / db.name.col → flat alias (string-masked:
    # a literal 'db1.t0' in a projection must NOT be rewritten)
    for (db, name), alias in mapping.items():
        sql = sub_code(
            rf"\b{re.escape(db)}\s*\.\s*{re.escape(name)}\b", alias, sql)
    names = {n for (_, n) in mapping}
    if default_db:
        # qualifying ANY name (incl. a sub-query alias) with the default
        # database is legal and a no-op (multiple_databases ids 7, 9);
        # other database prefixes on non-catalog names flow through and
        # fail resolution (id 8). Runs before the unknown-db check so a
        # default-db-qualified sub-query alias that shadows a catalog
        # name still resolves to the alias.
        sql = sub_code(
            rf"\b{re.escape(default_db)}\s*\.\s*(\w+)", r"\1", sql)
    # a leftover qualified ref to a known table name = unknown database
    for m in re.finditer(r"\b(\w+)\s*\.\s*(\w+)\b", mask_literals(sql)):
        db, name = m.group(1), m.group(2)
        if name in names and not db.startswith("__db_"):
            raise SqlUnsupported(
                f"unknown database {db!r} for table {name!r}")
    # bare refs resolve in the default database only (table positions +
    # dotted column refs); searches on masked text so string literals
    # containing table names don't trigger resolution
    masked = mask_literals(sql)
    for name in names:
        n = re.escape(name)
        if not re.search(rf"(?:\bfrom\s+|\bjoin\s+|\bunion\s+){n}\b"
                         rf"|\b{n}\s*\.", masked, re.IGNORECASE):
            continue
        if re.search(rf"\)\s*as\s+{n}\b", masked, re.IGNORECASE):
            # a sub-query alias shadows the catalog name (id 9:
            # `(select * from db1.t0) as t1 ... t1.c1`)
            continue
        alias = mapping.get((default_db or "", name))
        if alias is None:
            if name in flat:      # also registered as a plain table
                continue
            raise SqlUnsupported(
                f"table {name!r} not in default database "
                f"{default_db!r} (reference: fail to resolve)")
        sql = sub_code(
            rf"((?:\bfrom|\bjoin|\bunion)\s+){n}\b", rf"\g<1>{alias}",
            sql, flags=re.IGNORECASE)
        sql = sub_code(rf"\b{n}\s*\.", f"{alias}.", sql)
        masked = mask_literals(sql)
    return sql, flat


def run_sql(spark, sql: str, tables, params=None, default_db=None):
    """Execute a supported OpenMLDB SQL query over DataFrames — either a
    positional list (``{0}`` refs) or a {name: df} dict (named tables).
    ``params`` binds ``?`` placeholders in order.

    Window queries lower to window_agg (one kernel pass per window spec,
    stitched on a synthetic row id — the ConcatJoin role); LAST JOIN
    queries lower to last_join; anything else runs as translated Spark
    SQL over temp views."""
    # comments strip FIRST: a '?' inside a comment must not look like a
    # parameter placeholder to bind_params
    sql = strip_comments(sql)
    if params is not None:
        sql = bind_params(sql, list(params))
    # identifier backquotes: the production feature scripts backtick-quote
    # every identifier (cases/function/spark/test_jd.yaml); the regex
    # front end and Spark resolve the bare names identically
    sql = sub_code("`", "", sql)
    # `from(select ...)` / `join(select ...)` with no space — the
    # reference's tokenizer accepts it (deploy corpus test_create_deploy
    # id 5); normalize so the {N}-placeholder regexes see a boundary
    sql = sub_code(r"(?i)\b(from|join)\(", r"\1 (", sql)
    # stacked statement terminators (`;\n;` — benchmark corpus
    # request_benchmark.yaml id 3) collapse to one: a stray second `;`
    # would otherwise ride along inside the last ON/WHERE clause text
    sql = re.sub(r"(?:\s*;)+\s*$", ";", sql)
    # trailing CONFIG (k=v, ...) clause: hybridse parses and attaches it
    # to the plan (plan corpus simple_query "select with config"); the
    # batch engine ignores it
    sql = drop_calls(sql, "config")
    if re.match(r"\s*SET\b", sql, re.IGNORECASE):
        # session-variable statements are not part of the batch query
        # surface (and Spark's own SET would silently accept them —
        # plan/error_unsupport_sql.yaml set_statement)
        raise SqlUnsupported("SET statements are not supported")
    if re.search(r"(?i)\bIN\s*\(\s*SELECT\b", mask_literals(sql)):
        # hybridse rejects IN with a subquery list
        # (plan/error_unsupport_sql.yaml in_predicate_subquery); Spark
        # would run it
        raise SqlUnsupported("IN (subquery) is not supported")
    if isinstance(tables, dict) and (
            default_db or any("." in k for k in tables)):
        sql, tables = resolve_databases(sql, tables, default_db)
    sql, tables = canonicalize_tables(sql, tables)
    _types_token = publish_expr_types(tables)
    try:
        try:
            return _dispatch_sql(spark, sql, tables)
        except Exception as e:
            # OpenMLDB treats TIMESTAMP as int64 ms in
            # arithmetic/comparison (udf.cc Timestamp.ts_); Spark's
            # analyzer rejects ts+int. Retry with millisecond views —
            # every calendar/cast template typeof-dispatches, so date
            # parts still render identically on int64 ms. Logical
            # operators additionally BoolCast ANY operand (C-style
            # truthiness, cast_expr_ir_builder.cc:275) — when the
            # analyzer demands a BOOLEAN, retry with truthiness-coerced
            # operands.
            if type(e).__name__ != "AnalysisException" or \
                    "DATATYPE_MISMATCH" not in str(e):
                raise
            attempts = []
            mst = _ms_tables(tables)     # built once, reused per attempt
            if "BOOLEAN" in str(e) or "(NOT" in str(e):
                bsql = _boolify_sql(sql)
                attempts += [(bsql, tables, False), (bsql, mst, False)]
            attempts.append((sql, mst, False))
            # ms-mode last: timestamp()/cast-as-timestamp templates render
            # as int64 epoch-ms so they typecheck against the ms views
            # (tried only after the plain ms view fails — keeps every
            # previously-green case on its original plan)
            attempts.append((sql, mst, True))
            for asql, atables, ams in attempts[:-1]:
                # re-publish the type environment per attempt: _ms_tables
                # swaps timestamp/bool columns for int views, and the
                # string-comparison lowering must see the ACTUAL frame
                # types, not the originals
                tok = publish_expr_types(atables)
                mtok = _MS_TS_MODE.set(ams)
                try:
                    return _dispatch_sql(spark, asql, atables)
                except Exception:
                    # an intermediate rewrite may itself fail to parse
                    # (e.g. _boolify_sql on an exotic projection) — fall
                    # through to the remaining attempts; the final one
                    # runs the ORIGINAL sql so real errors resurface
                    pass
                finally:
                    _MS_TS_MODE.reset(mtok)
                    _EXPR_TYPES.reset(tok)
            tok = publish_expr_types(attempts[-1][1])
            mtok = _MS_TS_MODE.set(attempts[-1][2])
            try:
                return _dispatch_sql(spark, attempts[-1][0],
                                     attempts[-1][1])
            finally:
                _MS_TS_MODE.reset(mtok)
                _EXPR_TYPES.reset(tok)
    finally:
        _EXPR_TYPES.reset(_types_token)


def run_sql_request(spark, sql: str, tables, request, name: str):
    """Batch-request mode: compute each REQUEST row's point-in-time
    features against the STORED tables only — request rows never see
    each other (the reference's BatchRequestEngineTestRunner,
    hybridse/src/testing/engine_test_base.h:294-380: stored inputs are
    loaded with ``repeat`` expansion, request rows are NOT inserted, and
    each request row runs the plan over stored state plus itself).

    Spark-first lowering, no new kernel semantics: the request rows
    become the PRIMARY table, and the stored rows of ``name`` join every
    window definition as an extra WINDOW UNION table with
    INSTANCE_NOT_IN_WINDOW forced — union rows buffer, fellow primary
    (request) rows don't, the anchor still enters its own frame
    (operators/request.py does the same for the programmatic API).
    Joins read the stored side untouched. Windows over tables other than
    the request table are not meaningful in request mode (OpenMLDB
    windows always anchor on the request/primary), so every window body
    gets the union.
    """
    if not isinstance(tables, dict):
        raise SqlUnsupported("run_sql_request requires named tables")
    hist = tables[name]
    sql = sub_code("`", "", sql)
    masked = mask_literals(sql)
    # A depth-0 set operation has no single request primary table — the
    # reference's request-mode planner fails to resolve it
    # (cases/plan/error_request_query.yaml id 0: "resolve请求主表失败").
    # Window UNION lives inside the window-def parens, so depth 0 is
    # unambiguous here.
    if depth0(sql, r"(?is)\bunion\b"):
        raise SqlUnsupported(
            "request mode: cannot resolve the request primary table "
            "across a set operation (reference rejects)")
    if re.search(rf"\bjoin\s+{re.escape(name)}\b", masked, re.IGNORECASE):
        raise SqlUnsupported(
            f"request table {name!r} on a JOIN right side: the stored "
            f"rows apply there — register them under a distinct name")
    out, pos = [], 0
    for m in re.finditer(r"(?is)(?:\b\w+\s+as|\bover)\s*\(", masked):
        start = m.end() - 1
        if start < pos:
            continue
        head = masked[start + 1:start + 32].lstrip().lower()
        # a window body starts with UNION or PARTITION; `(select...) as t`
        # and scalar parens don't
        if not (head.startswith("union") or head.startswith("partition")):
            continue
        end = match_paren(sql, start)
        body = sql[start + 1:end].strip()
        if re.search(r"(?i)instance_not_in_window", body):
            # primary rows never buffer in this window: its frames are
            # exactly its declared union tables + the anchor, in stored
            # mode and in request mode alike (fz_ddl/test_myhug.yaml's
            # bo_hislabel window) — injecting stored primary history
            # would wrongly buffer it
            continue
        if re.match(r"(?i)union\b", body):
            body = re.sub(r"(?i)^union\s+", "UNION __req_hist__, ", body)
        else:
            body = "UNION __req_hist__ " + body
        body += " INSTANCE_NOT_IN_WINDOW"
        out += [sql[pos:start + 1], body]
        pos = end
    out.append(sql[pos:])
    sql = "".join(out)
    # thread the per-request row id: in request mode every sub-select
    # emits exactly one row PER REQUEST ROW, and joins between
    # request-derived sub-selects align by request identity — not by the
    # user join keys, which may collide across request rows (myhug's two
    # reqId2 requests must each join THEIR OWN out2 feature row)
    sql, _ = _rid_thread_stmt(sql, name, False, is_top=True)
    import pyspark.sql.functions as F
    req = request.withColumn(
        _REQ_RID, F.monotonically_increasing_id()).localCheckpoint(
        eager=True)
    new_tables = dict(tables)
    new_tables[name] = req
    new_tables["__req_hist__"] = hist.withColumn(
        _REQ_RID, F.lit(None).cast("long"))
    res = run_sql(spark, sql, new_tables)
    drop = [c for c in res.columns if _REQ_RID in c]
    return res.drop(*drop) if drop else res


_REQ_RID = "__req_rid"


def _rid_thread_stmt(stmt: str, name: str, in_union: bool,
                     is_top: bool = False):
    """Recursive half of run_sql_request's row-id threading. Returns
    (rewritten stmt, is-request-derived). A statement is request-derived
    when its FROM source is the request table (directly or through a
    nested sub-select); such statements emit ``__req_rid`` as an extra
    projection item. WINDOW UNION sub-selects over stored tables emit a
    NULL rid instead (the strict union-schema check needs the column;
    union rows never surface). Top-level LAST JOINs between derived
    sub-selects get an extra ``rid = rid`` equi-condition."""
    masked = mask_literals(stmt)
    pieces, pos = [], 0
    alias_derived: dict[str, bool] = {}
    from_sub_derived = None
    for m in re.finditer(r"\(\s*select\b", masked, re.IGNORECASE):
        start = m.start()
        if start < pos:
            continue
        end = match_paren(stmt, start)
        before = masked[:start]
        is_union_ctx = bool(re.search(r"(?is)union\s*$", before))
        is_from_ctx = bool(re.search(r"(?is)\bfrom\s*$", before))
        inner, derived = _rid_thread_stmt(
            stmt[start + 1:end], name, is_union_ctx)
        am = re.match(r"\s*as\s+(\w+)", stmt[end + 1:], re.IGNORECASE)
        if am:
            alias_derived[am.group(1)] = derived
        if is_from_ctx:
            from_sub_derived = derived
        pieces += [stmt[pos:start + 1], inner]
        pos = end
    pieces.append(stmt[pos:])
    stmt = "".join(pieces)
    masked = mask_literals(stmt)

    froms = depth0(stmt, r"(?i)\bfrom\b")
    if not froms:
        return stmt, False
    from_pos = froms[0].start()
    after_from = masked[froms[0].end():].lstrip()
    derived = from_sub_derived if after_from.startswith("(") else \
        bool(re.match(rf"(?i){re.escape(name)}\b", after_from))

    # augment top-level LAST JOIN conditions with rid equality
    joins = depth0(stmt, r"(?i)\bas\s+(\w+)\s+on\b")
    root_alias = None
    if after_from.startswith("("):
        paren = stmt.index("(", froms[0].end())
        root_m = re.match(r"\s*as\s+(\w+)",
                          stmt[match_paren(stmt, paren) + 1:],
                          re.IGNORECASE)
        root_alias = root_m.group(1) if root_m else None
    if root_alias and alias_derived.get(root_alias):
        inserts = []
        bounds = depth0(stmt, r"(?i)\b(last\s+join|window|limit)\b|;")
        for jm in joins:
            alias = jm.group(1)
            if alias == root_alias or not alias_derived.get(alias):
                continue
            end_pos = len(stmt.rstrip().rstrip(";"))
            for bm in bounds:
                if bm.start() > jm.end():
                    end_pos = bm.start()
                    break
            inserts.append(
                (end_pos,
                 f" and {root_alias}.{_REQ_RID} = {alias}.{_REQ_RID} "))
        for p, txt in sorted(inserts, reverse=True):
            stmt = stmt[:p] + txt + stmt[p:]
        froms = depth0(stmt, r"(?i)\bfrom\b")
        from_pos = froms[0].start()

    # append the rid projection item
    pm = re.match(r"(?is)\s*select\s+", stmt)
    if not pm:
        return stmt, derived
    proj = stmt[pm.end():from_pos].strip()
    if derived and proj != "*" and not is_top:
        # only sub-selects emit the rid (parents join on it); the
        # top-level projection is user-facing output
        has_lj = bool(depth0(stmt, r"(?i)\blast\s+join\b"))
        qual = f"{name}." if (has_lj and not after_from.startswith("(")) \
            else ""
        item = f", {qual}{_REQ_RID} as {_REQ_RID} "
        stmt = stmt[:from_pos] + item + stmt[from_pos:]
    elif in_union and not derived:
        stmt = (stmt[:from_pos] +
                f", cast(null as bigint) as {_REQ_RID} " + stmt[from_pos:])
    return stmt, derived


def _ms_tables(tables: list) -> list:
    """C-style operand views for the coercion retry: timestamps as int64
    ms, booleans as ints (the reference's arithmetic treats both so —
    cases/function/expression/test_arithmetic.yaml smallint%bool)."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    out = []
    for df in tables:
        sel = []
        for f in df.schema.fields:
            if isinstance(f.dataType, T.TimestampType):
                sel.append(F.unix_millis(F.col(f.name)).alias(f.name))
            elif isinstance(f.dataType, T.BooleanType):
                sel.append(F.col(f.name).cast("int").alias(f.name))
            else:
                sel.append(F.col(f.name))
        out.append(df.select(*sel))
    return out


def _dispatch_sql(spark, sql: str, tables):
    # sniff on a string-masked copy: a literal containing "over"/"last
    # join" must not steer dispatch
    masked = mask_literals(sql)
    has_lj = bool(re.search(r"last\s+join", masked, re.IGNORECASE))
    has_win = bool(re.search(r"\bWINDOW\b|\bOVER\b", masked, re.IGNORECASE))
    if not has_lj and not has_win:
        return _run_plain_sql(spark, sql, tables)

    sql, tables = _inline_subselects(spark, sql, tables)
    # re-sniff: the window/join tokens may all have lived inside the
    # now-inlined sub-selects (production scripts join three windowed
    # sub-selects with LAST JOIN — cases/function/spark/test_jd.yaml)
    masked = mask_literals(sql)
    has_lj = bool(re.search(r"last\s+join", masked, re.IGNORECASE))
    has_win = bool(re.search(r"\bWINDOW\b|\bOVER\b", masked, re.IGNORECASE))
    if not has_lj and not has_win:
        return _run_plain_sql(spark, sql, tables)
    limit = None
    lm = re.search(r"\blimit\s+(\d+)\s*;?\s*$", sql, re.IGNORECASE)
    if lm:
        limit = int(lm.group(1))
        sql = sql[:lm.start()] + ";"
        if limit == 0:
            # LIMIT 0 means NO limit in OpenMLDB (GetLimitCnt()==0,
            # cases/function/select/test_select_sample.yaml:12)
            limit = None
    if has_lj and has_win:
        return _run_lastjoin_window_sql(sql, tables, limit=limit)
    if has_lj:
        if re.search(r"\bgroup\s+by\b", mask_literals(sql), re.IGNORECASE):
            return _run_lastjoin_groupby_sql(spark, sql, tables,
                                             limit=limit)
        return _run_lastjoin_sql(sql, tables, limit=limit)
    return _run_window_sql(sql, tables, limit=limit)


def _run_plain_sql(spark, sql: str, tables: list):
    """Plain SELECT / WHERE / GROUP BY / HAVING / DISTINCT / ORDER BY /
    LIMIT / sub-selects: translate OpenMLDB function names and delegate
    to Spark SQL (temp views __sql_t{i}) — Catalyst handles the rest
    (reference semantics: GroupByAggregationPlan.scala:38-170)."""
    # float/double GROUP BY keys are rejected by the reference
    # (v040/test_groupby.yaml ids 6-7) — hash-grouping on floats is
    # ill-defined; fail instead of silently grouping
    gm = re.search(
        r"\bgroup\s+by\s+(.*?)(?:\bhaving\b|\border\s+by\b|\blimit\b|;|$)",
        mask_literals(sql), re.IGNORECASE | re.DOTALL)
    if gm:
        for tok in gm.group(1).split(","):
            tok = _strip_t(tok)
            if not re.fullmatch(r"\w+", tok):
                continue
            for df in tables:
                if tok in df.columns and \
                        dict(df.dtypes)[tok] in ("float", "double"):
                    raise SqlUnsupported(
                        f"GROUP BY {tok!r} is {dict(df.dtypes)[tok]}: "
                        f"the reference rejects float/double group keys")

    # count over a const is rejected by the reference (`count(1)` fails,
    # `count(*)` passes — v040/test_udaf.yaml ids 0-1); masked so a
    # literal "count(1)" inside a string cannot trip it
    if re.search(r"\bcount\s*\(\s*\d+(?:\.\d+)?\s*\)", mask_literals(sql),
                 re.IGNORECASE):
        raise SqlUnsupported("count over a const (reference rejects)")

    for i, df in enumerate(tables):
        df.createOrReplaceTempView(f"__sql_t{i}")
    sql = sub_code(r"\{(\d+)\}", r"__sql_t\1", sql)
    # OpenMLDB's parser tolerates a trailing comma in the select list
    # (cases/query/udf_query.yaml udf_replace); Spark's does not.
    # Quote-aware: a string literal containing ", from" must survive.
    sql = sub_code(r",\s*(FROM\b)", r" \1", sql,
                               flags=re.IGNORECASE)
    # LIMIT 0 = unlimited in OpenMLDB (GetLimitCnt()==0 means unset)
    sql = re.sub(r"\blimit\s+0\s*;?\s*$", ";", sql, flags=re.IGNORECASE)
    return spark.sql(translate_expr(sql))


def _run_lastjoin_window_sql(sql: str, tables: list, limit: int | None = None):
    """LAST JOIN feeding windows in one statement (the reference's
    canonical join-then-window shape, last_join_window_query.yaml):
    rewrite into (1) a LAST JOIN keeping every column, (2) a window query
    over the joined table with {1}.col refs mapped to the joined r__cols."""
    import pyspark.sql.functions as F

    if len(re.findall(r"last\s+join", mask_literals(sql),
                      re.IGNORECASE)) > 1:
        raise SqlUnsupported("multi-table LAST JOIN chain + WINDOW")
    # normalize an aliased right side — `last join {k} as t1 ... t1.c4`
    # (an inlined sub-select, test_lastjoin_complex.yaml id 4) — to
    # positional refs, then swap the right table into slot 1
    am = re.search(r"(last\s+join\s+\{(\d+)\})\s+as\s+(\w+)", sql,
                   re.IGNORECASE)
    if am:
        k, alias = am.group(2), am.group(3)
        sql = sql[:am.start()] + am.group(1) + sql[am.end():]
        sql = re.sub(rf"\b{re.escape(alias)}\s*\.", f"{{{k}}}.", sql)
    rm = re.search(r"last\s+join\s+\{(\d+)\}", sql, re.IGNORECASE)
    ridx = int(rm.group(1)) if rm else 1
    if ridx != 1:
        sql = (sql.replace("{1}", "\x00")
               .replace(f"{{{ridx}}}", "{1}").replace("\x00", f"{{{ridx}}}"))
        tables = list(tables)
        tables[1], tables[ridx] = tables[ridx], tables[1]
    m = re.match(
        r"^\s*select\s+(?P<proj>.*?)\s+from\s+\{0\}\s+last\s+join\s+\{1\}\s*"
        r"(?:order\s+by\s+\{1\}\.(?P<ord>\w+)\s+)?on\s+(?P<cond>.*?)"
        r"\s+(?P<windows>WINDOW\s+.*?)\s*;?\s*$",
        sql, re.IGNORECASE | re.DOTALL)
    if not m:
        raise SqlUnsupported("combined LAST JOIN + WINDOW shape")

    left, right = tables[0], tables[1]
    ord_txt = f" ORDER BY {{1}}.{m.group('ord')}" if m.group("ord") else ""
    # run the join keeping all columns: project every left col + every
    # right col (prefixed) through the existing path
    lcols = ", ".join(f"{{0}}.{c}" for c in left.columns)
    rcols = ", ".join(f"{{1}}.{c} as __r2_{c}" for c in right.columns)
    join_sql = (f"select {lcols}, {rcols} from {{0}} last join {{1}}"
                f"{ord_txt} on {m.group('cond')} ;")

    def run_join(left_df):
        j = _run_lastjoin_sql(join_sql, [left_df, right])
        for c in right.columns:
            j = j.withColumnRenamed(f"__r2_{c}", f"r__{c}")
        # bare references resolve left-first; expose non-colliding right
        # columns under their bare names too (e.g. `str1 as t2_str1`)
        for c in right.columns:
            if c not in left.columns:
                j = j.withColumn(c, F.col(f"r__{c}"))
        return j

    joined = run_join(left)

    # window part over the joined table: {1}.col → r__col, {0}.col → col;
    # bare `{1}.c4` projections keep their user-facing name `c4`
    items = []
    for it in split(m.group("proj")):
        it = it.strip()
        pm = re.fullmatch(r"\{1\}\.(\w+)", it)
        items.append(f"{{1}}.{pm.group(1)} as {pm.group(1)}" if pm else it)
    win_sql = ("SELECT " + ", ".join(items) + " FROM {0} "
               + m.group("windows"))
    win_sql = re.sub(r"\{1\}\.(\w+)", r"{0}.r__\1", win_sql)
    # WINDOW UNION tables in a join+window statement come in two shapes:
    # (a) the reference's own — already POST-JOIN shaped (left + right
    #     columns: union schema must match the joined primary,
    #     test_lastjoin_complex.yaml ids 2-3) — renamed into the joined
    #     naming and used directly;
    # (b) LEFT-shaped history injected by run_sql_request — flows
    #     through the SAME join before buffering (the reference pushes
    #     the join below the request union: batch-request over a joined
    #     primary needs history rows to carry the joined right columns,
    #     test_batch_request.yaml ids 2-5).
    win_tables = [joined]
    union_ks = sorted({
        int(tok)
        for um in re.findall(r"UNION\s+((?:\{\d+\}\s*,?\s*)+)",
                             win_sql, re.IGNORECASE)
        for tok in re.findall(r"\{(\d+)\}", um)})
    for k in union_ks:
        if k < 2:
            raise SqlUnsupported("WINDOW UNION over a join operand")
        u = tables[k]
        if list(u.columns) == list(left.columns):
            win_tables.append(run_join(u))
        elif list(u.columns) == list(left.columns) + list(right.columns):
            sel = [F.col(c) for c in left.columns]
            sel += [F.col(c).alias(f"r__{c}") for c in right.columns]
            sel += [F.col(c) for c in right.columns
                    if c not in left.columns]
            win_tables.append(u.select(*sel))
        else:
            raise SqlUnsupported(
                f"WINDOW UNION schema {list(u.columns)} matches neither "
                f"the join's left side nor its joined output")
        win_sql = re.sub(
            rf"(UNION\s+(?:\{{\d+\}}\s*,\s*)*)\{{{k}\}}",
            rf"\g<1>{{{len(win_tables) - 1}}}", win_sql,
            flags=re.IGNORECASE)
    return _run_window_sql(win_sql, win_tables, limit=limit)


_RID = "__sql_rid"


def _run_window_sql(sql: str, tables: list, limit: int | None = None):
    import pyspark.sql.functions as F
    from openmldb_spark.operators.window import window_agg

    q = compile_window_sql(sql)
    primary = tables[q.primary_idx]
    for expr, name in q.aux.items():
        primary = primary.withColumn(name, F.expr(expr))
    primary = primary.withColumn(
        _RID, F.monotonically_increasing_id())
    # localCheckpoint (eager) pins the row id physically — it is
    # plan-dependent otherwise — and, unlike persist(), its blocks are
    # freed by the ContextCleaner when the DataFrame is GC'd, so corpus
    # replay loops don't accumulate executor storage
    primary = primary.localCheckpoint(eager=True)

    merged = primary
    final_cols = []
    for e in q.projection:
        if e[0] == "col":
            final_cols.append(F.col(e[1]).alias(e[2]))
        elif e[0] == "agg":
            final_cols.append(F.col(e[2].alias))
        else:
            final_cols.append(F.expr(e[1]).alias(e[2]))
    for wname, (spec, union_idx, aggs) in q.windows.items():
        if not aggs:
            continue
        union = [tables[i] for i in union_idx]
        # WINDOW UNION requires the union table's schema to match the
        # primary's exactly — count, names, types — even for columns the
        # query never touches (test_window_union.yaml ids 1-3 reject a
        # missing, renamed, or retyped column). int64<->timestamp stays
        # interchangeable (OpenMLDB timestamps ARE int64 ms). The
        # programmatic window_agg API stays lenient (aligned subsets via
        # unionByName) — this strictness is the SQL front door's.
        p_fields = [(f.name, f.dataType)
                    for f in tables[q.primary_idx].schema.fields]
        for u in union:
            u_fields = [(f.name, f.dataType) for f in u.schema.fields]
            if [n for n, _ in p_fields] != [n for n, _ in u_fields]:
                raise SqlUnsupported(
                    f"WINDOW UNION table schema "
                    f"{[n for n, _ in u_fields]} does not match primary "
                    f"{[n for n, _ in p_fields]}")
            for (pn, pt), (_, ut) in zip(p_fields, u_fields):
                import pyspark.sql.types as Ty
                # int64<->timestamp ONLY (OpenMLDB timestamps ARE int64
                # ms); narrower int-width mismatches are errors — the
                # reference's schema check is exact apart from this pair
                # (test_window_union.yaml id 2 rejects a retyped column)
                ints = (Ty.LongType, Ty.TimestampType)
                # decimal only arises from Spark-side arithmetic typing
                # (OpenMLDB has no decimal type) — logically a double;
                # float vs double stays a mismatch (the reference's
                # schema check is exact)
                dbls = (Ty.DoubleType, Ty.DecimalType)
                if pt != ut and not (
                        (isinstance(pt, ints) and isinstance(ut, ints))
                        or (isinstance(pt, dbls)
                            and isinstance(ut, dbls))):
                    raise SqlUnsupported(
                        f"WINDOW UNION column {pn!r} type "
                        f"{ut.simpleString()} != primary "
                        f"{pt.simpleString()}")
        for expr, name in q.aux.items():
            union = [u.withColumn(name, F.expr(expr)) for u in union]
        out = window_agg(primary, spec, aggs, keep_cols=[_RID],
                         union=union or None, tier="kernel")
        merged = merged.join(out, _RID, "inner")

    if q.distinct:
        # SELECT DISTINCT over window output (plan corpus
        # distinct_query id 2): dedup the projected rows, then LIMIT
        # (row identity after DISTINCT is set-like, so no _RID order)
        out = merged.select(*final_cols).distinct()
        return out.limit(limit) if limit is not None else out
    if limit is not None:
        # LIMIT after a window query: deterministic first-N in input-row
        # order (the reference iterates storage order)
        merged = merged.orderBy(F.col(_RID)).limit(limit)
    return merged.select(*final_cols)


def _run_lastjoin_groupby_sql(spark, sql: str, tables: list,
                              limit: int | None = None):
    """LAST JOIN followed by GROUP BY (test_lastjoin_complex.yaml ids
    22-24): run the join keeping every column, then the aggregation over
    the joined table through the plain-SQL path — the reference stacks
    GroupByAggregationPlan on JoinPlan the same way."""
    if len(re.findall(r"last\s+join", mask_literals(sql),
                      re.IGNORECASE)) > 1:
        raise SqlUnsupported("multi-table LAST JOIN chain + GROUP BY")
    m = re.match(
        r"^\s*select\s+(?P<proj>.*?)\s+from\s+\{0\}\s+last\s+join\s+\{1\}\s*"
        r"(?:order\s+by\s+\{1\}\.(?P<ord>\w+)\s+)?on\s+(?P<cond>.*?)"
        r"\s+group\s+by\s+(?P<tail>.*?)\s*;?\s*$",
        sql, re.IGNORECASE | re.DOTALL)
    if not m:
        raise SqlUnsupported("LAST JOIN + GROUP BY shape")
    left, right = tables[0], tables[1]
    ord_txt = f" ORDER BY {{1}}.{m.group('ord')}" if m.group("ord") else ""
    lcols = ", ".join(f"{{0}}.{c}" for c in left.columns)
    rcols = ", ".join(f"{{1}}.{c} as __r2_{c}" for c in right.columns)
    join_sql = (f"select {lcols}, {rcols} from {{0}} last join {{1}}"
                f"{ord_txt} on {m.group('cond')} ;")
    joined = _run_lastjoin_sql(join_sql, [left, right])
    import pyspark.sql.functions as F
    for c in right.columns:
        joined = joined.withColumnRenamed(f"__r2_{c}", f"r__{c}")
    body = (f"select {m.group('proj')} from {{0}} "
            f"group by {m.group('tail')}")
    body = re.sub(r"\{1\}\.(\w+)", r"r__\1", body)
    body = re.sub(r"\{0\}\.(\w+)", r"\1", body)
    out = _run_plain_sql(spark, body, [joined])
    return out.limit(limit) if limit is not None else out


def _run_lastjoin_sql(sql: str, tables: list, limit: int | None = None):
    """LAST JOIN statement — single join or a left-deep chain
    (JoinPlan.scala:39-44 recursion; cases/query/last_join_query.yaml:4).

    Each stage keeps every accumulated column (right side prefixed
    ``__j{i}_``); the final projection resolves {i}.col refs against the
    stage prefixes. LIMIT is deterministic first-N in left-row order,
    matching the window path (rid threaded through the chain)."""
    import pyspark.sql.functions as F

    sql = sql.strip().replace("\n", " ")
    # resolve per-table aliases (`from {0} as t0` / `join {1} as t1` with
    # `t1.col` refs — cases/query/fz_sql.yaml:3). The same table joined
    # under several aliases becomes several table INSTANCES (fz_sql.yaml
    # id 3, test_index_optimized.yaml id 4 LAST JOIN the same table
    # twice): each alias after an index's first use gets an appended
    # copy, keeping stage prefixes and projection refs distinct.
    tables = list(tables)
    used = {int(x) for x in re.findall(
        r"(?:join|from)\s+\{(\d+)\}(?!\s+as)", sql, re.IGNORECASE)}
    for am in list(re.finditer(
            r"(?:join|from)\s+\{(\d+)\}\s+as\s+(\w+)", sql, re.IGNORECASE)):
        idx, alias = int(am.group(1)), am.group(2)
        if idx in used:
            new_idx = len(tables)
            tables.append(tables[idx])
        else:
            new_idx = idx
            used.add(idx)
        sql = re.sub(
            rf"((?:join|from)\s+)\{{{idx}\}}\s+as\s+{re.escape(alias)}\b",
            rf"\g<1>{{{new_idx}}}", sql, count=1, flags=re.IGNORECASE)
        sql = re.sub(rf"\b{re.escape(alias)}\s*\.", f"{{{new_idx}}}.", sql)
    # optional WHERE after the join condition (parameterized_query.yaml:5)
    where_txt = None
    wm = re.search(r"\s+\bwhere\b\s+(?P<w>[^;]*?)\s*;?\s*$", sql,
                   re.IGNORECASE)
    if wm and re.search(r"\bon\b", sql[:wm.start()], re.IGNORECASE):
        where_txt = wm.group("w")
        sql = sql[:wm.start()] + " ;"
    # canonical renumbering: the head table becomes {0} and join targets
    # {1..k} in join order — production scripts join inlined sub-select
    # tables whose positional indexes are arbitrary ({9} LAST JOIN {10})
    hm = re.search(r"\bfrom\s+\{(\d+)\}", sql, re.IGNORECASE)
    if hm:
        ordered = [int(hm.group(1))] + [
            int(x) for x in re.findall(r"last\s+join\s+\{(\d+)\}", sql,
                                       re.IGNORECASE)]
        if ordered != list(range(len(ordered))) \
                and len(set(ordered)) == len(ordered):
            mapping = {old: new for new, old in enumerate(ordered)}
            sql = re.sub(
                r"\{(\d+)\}",
                lambda mm: (f"{{{mapping[int(mm.group(1))]}}}"
                            if int(mm.group(1)) in mapping
                            else mm.group(0)),
                sql)
            if where_txt:
                where_txt = re.sub(
                    r"\{(\d+)\}",
                    lambda mm: (f"{{{mapping[int(mm.group(1))]}}}"
                                if int(mm.group(1)) in mapping
                                else mm.group(0)),
                    where_txt)
            tables = [tables[o] for o in ordered]
    stages = re.split(r"\blast\s+join\b", sql, flags=re.IGNORECASE)
    if len(stages) > 2:
        return _run_lastjoin_chain(sql, tables, stages, limit=limit,
                                   where_txt=where_txt)
    m = _LASTJOIN_RE.match(sql)
    if not m:
        raise SqlUnsupported("not a supported LAST JOIN query")
    out = _one_last_join(tables[0], tables[1], m.group("ord"),
                         m.group("cond"), rid=limit is not None)
    out = _apply_lastjoin_where(out, where_txt, {1: "r__"})
    res = _project_lastjoin(out, m.group("proj"), {1: "r__"})
    if limit is not None:
        res = res[0].orderBy(F.col(_RID)).limit(limit).select(*res[1])
        return res
    return res[0].select(*res[1])


def _one_last_join(left, right, order, cond_txt, rid=False,
                   rprefix="r__"):
    """Execute one LAST JOIN of `right` into `left`; right columns come
    back prefixed `rprefix`; left columns keep their names (plus _RID
    when rid=True)."""
    import pyspark.sql.functions as F
    from openmldb_spark.plans.specs import LastJoinSpec
    from openmldb_spark.operators.lastjoin import last_join

    if rid and _RID not in left.columns:
        left = left.withColumn(_RID, F.monotonically_increasing_id()) \
                   .localCheckpoint(eager=True)

    # qualify bare column refs in the ON condition against the two
    # schemas (`on out1_id = out2_id` —
    # cluster/window_and_lastjoin.yaml ids 4-5): right-only names → the
    # right table, left names → {0}; ambiguous names stay left (the
    # head's column wins, as in the reference's resolver)
    lcols, rcols = set(left.columns), set(right.columns)
    rcols_order = list(right.columns)
    _kw = {"and", "or", "not", "between", "is", "null", "true", "false",
           "like", "in", "case", "when", "then", "else", "end", "xor"}

    def _qual(m):
        n = m.group(0)
        if n.lower() in _kw:
            return n
        if n in lcols:
            return "{0}." + n
        if n in rcols:
            return "{1}." + n
        return n

    cond_txt = sub_code(
        r"(?<![\w.}'\"])[A-Za-z_]\w*\b(?!\s*[(.])", _qual, cond_txt)

    right = right.select(*[F.col(c).alias(f"{rprefix}{c}")
                           for c in right.columns])
    equi, residual = [], []
    # top-level ANDs split the condition; the AND of a BETWEEN does not
    for tok in split(cond_txt, "and", between=True):
        tok = tok.strip()
        if not tok:
            continue
        em = re.fullmatch(r"\{0\}\.(\w+)\s*=\s*\{\d+\}\.(\w+)", tok) or \
            re.fullmatch(r"\{\d+\}\.(?P<r>\w+)\s*=\s*\{0\}\.(?P<l>\w+)", tok)
        if em and em.groupdict().get("r"):
            equi.append((em.group("l"), em.group("r")))
            continue
        if em:
            equi.append((em.group(1), em.group(2)))
            continue
        rm = re.fullmatch(r"\{(\d+)\}\.(\w+)\s*(>=|<=|!=|=|>|<)\s*(.+)",
                          tok, re.DOTALL)
        if rm:
            t, col, op, rhs = rm.groups()
            lhs = col if t == "0" else f"{rprefix}{col}"
            rhs = re.sub(r"\{0\}\.(\w+)", r"\1", rhs)
            rhs = re.sub(r"\{\d+\}\.(\w+)", rf"{rprefix}\1", rhs)
            # translate like the general path: OpenMLDB function
            # spellings (minimum/...) and the zero-divisor guard apply
            # to simple comparisons too
            residual.append(f"({translate_expr(f'{lhs} {op} {rhs}')})")
            continue
        # general residual (BETWEEN, IS NULL, function calls, ...)
        gen = re.sub(r"\{0\}\.(\w+)", r"\1", tok)
        gen = re.sub(r"\{\d+\}\.(\w+)", rf"{rprefix}\1", gen)
        residual.append(f"({translate_expr(gen)})")

    # right key/order columns are aliased away by last_join: duplicate
    # any the residual needs, and keep rk__ copies for projections
    right_on = [f"{rprefix}{r}" for _, r in equi]
    hidden = set(right_on) | ({f"{rprefix}{order}"} if order else set())
    need = set()
    cond_sql = " AND ".join(residual) if residual else None
    if cond_sql:
        for rc in re.findall(rf"\b{rprefix}(\w+)", cond_sql):
            if f"{rprefix}{rc}" in hidden:
                need.add(rc)
                cond_sql = re.sub(rf"\b{rprefix}{rc}\b", f"rk__{rc}",
                                  cond_sql)
    # projections may also need hidden cols — always duplicate them
    for c in list(hidden):
        need.add(c[len(rprefix):])
    for c in need:
        right = right.withColumn(f"rk__{c}", F.col(f"{rprefix}{c}"))

    spec = LastJoinSpec(
        left_on=[l for l, _ in equi] or ["__k"],
        right_on=right_on or [f"{rprefix}__k"],
        order_by=f"{rprefix}{order}" if order else None,
        condition=cond_sql,
    )
    if not equi:
        left = left.withColumn("__k", F.lit(1))
        right = right.withColumn(f"{rprefix}__k", F.lit(1))
    right_cols = [c for c in right.columns
                  if c not in spec.right_on and c != spec.order_by]
    out = last_join(left, right, spec, right_cols=right_cols)
    # restore hidden right cols under their public prefix
    for c in need:
        out = out.withColumnRenamed(f"rk__{c}", f"{rprefix}{c}") \
            if f"{rprefix}{c}" not in out.columns else out.drop(f"rk__{c}")
    # `select *` must see right columns in the right table's declared
    # order (key/order columns included — the reference's SIMPLE_PROJECT
    # keeps table order; cluster/window_and_lastjoin.yaml ids 3-5)
    lkeep = [c for c in out.columns if not c.startswith(rprefix)]
    rkeep = [f"{rprefix}{c}" for c in rcols_order
             if f"{rprefix}{c}" in out.columns]
    return out.select(*lkeep, *rkeep)


def _apply_lastjoin_where(out, where_txt: str | None, prefixes: dict):
    """Filter the joined result (WHERE after LAST JOIN ... ON)."""
    import pyspark.sql.functions as F

    if not where_txt:
        return out
    for t, p in prefixes.items():
        where_txt = re.sub(rf"\{{{t}\}}\.(\w+)", rf"{p}\1", where_txt)
    where_txt = re.sub(r"\{0\}\.(\w+)", r"\1", where_txt)
    return out.where(F.expr(translate_expr(where_txt)))


def _project_lastjoin(out, proj_txt: str, prefixes: dict):
    """Build the final select list for a LAST JOIN result. `prefixes`
    maps table index → column prefix in `out` (index 0 = bare)."""
    import pyspark.sql.functions as F

    def resolve(t, col):
        if t == 0:
            return col
        p = prefixes.get(t)
        if p and f"{p}{col}" in out.columns:
            return f"{p}{col}"
        return None

    if proj_txt.strip() == "*":
        # SELECT * over a LAST JOIN: every left column, then each joined
        # table's columns in join order under their original names
        # (production scripts: select * from (...) last join (...) ...)
        sel = []
        for c in out.columns:
            if c == _RID or c.startswith("rk__") or c == "__k":
                continue
            base = c
            for t, p in prefixes.items():
                if p and c.startswith(p):
                    base = c[len(p):]
                    break
            if base == "__k":
                continue
            sel.append(F.col(c).alias(base))
        return out, sel

    sel = []
    for item in split(proj_txt):
        item = item.strip()
        pm = re.fullmatch(
            r"\{(?P<t>\d+)\}\.(?P<col>\w+)(?:\s+as\s+(?P<alias>\w+))?",
            item, re.IGNORECASE)
        if pm:
            name = resolve(int(pm.group("t")), pm.group("col"))
            if not name:
                raise SqlUnsupported(
                    f"projected column {item!r} unavailable")
            sel.append(F.col(name).alias(pm.group("alias")
                                         or pm.group("col")))
            continue
        bm = re.fullmatch(r"(?P<col>\w+)(?:\s+as\s+(?P<alias>\w+))?", item,
                          re.IGNORECASE)
        if bm:
            col = bm.group("col")
            # bare names resolve left-first, then right tables in order
            name = col if col in out.columns else None
            if name is None:
                for t in sorted(k for k in prefixes if isinstance(k, int)):
                    name = resolve(t, col)
                    if name:
                        break
            if name is None:
                raise SqlUnsupported(f"projected column {col!r} unavailable")
            sel.append(F.col(name).alias(bm.group("alias") or col))
            continue
        em = re.fullmatch(r"(?P<expr>.+?)\s+as\s+(?P<alias>\w+)", item,
                          re.IGNORECASE | re.DOTALL)
        if not em:
            raise SqlUnsupported(f"projection item {item!r}")
        expr = em.group("expr")
        for t, p in prefixes.items():
            if isinstance(t, int):
                expr = re.sub(rf"\{{{t}\}}\.(\w+)", rf"{p}\1", expr)
        expr = re.sub(r"\{0\}\.(\w+)", r"\1", expr)
        sel.append(F.expr(translate_expr(expr)).alias(em.group("alias")))
    return out, sel


def _run_lastjoin_chain(sql: str, tables: list, stages: list,
                        limit: int | None = None,
                        where_txt: str | None = None):
    """Left-deep multi-table LAST JOIN chain:
    ``select P from {0} last join {a} [order by] on C1 last join {b}
    [order by] on C2 ...`` — applied left-to-right, each stage joining
    into the accumulated result (JoinPlan.scala:39-44)."""
    import pyspark.sql.functions as F

    head = re.match(r"^\s*select\s+(?P<proj>.*?)\s+from\s+\{0\}\s*$",
                    stages[0], re.IGNORECASE | re.DOTALL)
    if not head:
        raise SqlUnsupported("LAST JOIN chain head")
    cur = tables[0]
    prefixes: dict = {}
    for si, seg in enumerate(stages[1:]):
        seg = seg.strip().rstrip(";").strip()
        sm = re.match(
            r"^\{(?P<t>\d+)\}\s*(?:order\s+by\s+\{(?P=t)\}\.(?P<ord>\w+)\s+)?"
            r"on\s+(?P<cond>.*)$", seg, re.IGNORECASE | re.DOTALL)
        if not sm:
            raise SqlUnsupported(f"LAST JOIN chain stage {seg!r}")
        t = int(sm.group("t"))
        prefix = f"__j{t}_"
        cond = sm.group("cond").strip()
        # left-side refs in this stage's condition may cite {0} or any
        # earlier-joined table; map the latter to its prefix
        for pt, pp in prefixes.items():
            cond = re.sub(rf"\{{{pt}\}}\.(\w+)", rf"{{0}}.{pp}\1", cond)
        cur = _one_last_join(cur, tables[t], sm.group("ord"), cond,
                             rid=limit is not None and si == 0,
                             rprefix=prefix)
        prefixes[t] = prefix
    cur = _apply_lastjoin_where(cur, where_txt, prefixes)
    out, sel = _project_lastjoin(cur, head.group("proj"), prefixes)
    if limit is not None:
        return out.orderBy(F.col(_RID)).limit(limit).select(*sel)
    return out.select(*sel)
