"""DEPLOY / SHOW DEPLOYMENT / DROP DEPLOYMENT — the reference's named
SQL deployments, re-expressed for the batch engine.

In the reference a deployment compiles a SQL text against the online
catalog, records the request (input) and output schemas, and serves it
point-in-time (`/root/reference/cases/function/deploy/*.yaml`; SDK
`ShowDeployment` renders name/dbName/sql/inColumns/outColumns). Here a
deployment is a catalog entry: the SELECT is validated by actually
planning it through `run_sql` against the registered tables, the
normalized SQL text is rendered with the reference unparser's layout
(zetasql-style: one projection per line, FROM/LAST JOIN/ON on their own
lines, `OVER w` canonicalized to `OVER (w)`), and the in/out schemas
are recorded in the reference's `idx,name,kType,IsConstant` form.

Semantics pinned by the corpus:
  - duplicate deployment name rejected (test_create_deploy id 8); a
    deployment may share a TABLE's name (id 11);
  - body must be a SELECT — INSERT bodies rejected (id 10), trailing
    garbage after `deploy deployment <name>` is a syntax error (id 9);
  - cross-database references inside the body are rejected (ids 6/18);
  - SHOW DEPLOYMENT accepts an optional `db.name` qualifier
    (test_show_deploy id 3) but DROP DEPLOYMENT's grammar takes a bare
    identifier only (test_drop_deploy id 3);
  - `show deployments` lists the catalog (deploymentCount expects).
"""

from __future__ import annotations

import re

from openmldb_spark import sqllex

__all__ = ["DeployError", "create_deployment", "show_deployment",
           "show_deployments", "drop_deployment", "format_deploy_sql"]


class DeployError(Exception):
    pass


# ---------------------------------------------------------------- schemas

_KTYPES = {
    "smallint": "kInt16", "int": "kInt32", "bigint": "kInt64",
    "float": "kFloat", "double": "kDouble", "string": "kVarchar",
    "timestamp": "kTimestamp", "date": "kDate", "boolean": "kBool",
}


def _kcolumns(schema) -> list[str]:
    """Render a Spark schema as the reference's deployment column list:
    ``idx,name,kType,IsConstant`` (IsConstant is NO for table-derived
    columns — the only kind the batch surface produces)."""
    out = []
    for i, f in enumerate(schema.fields, 1):
        st = f.dataType.simpleString()
        if st not in _KTYPES:
            raise DeployError(f"deployment schema: unsupported type {st}")
        out.append(f"{i},{f.name},{_KTYPES[st]},NO")
    return out


# ---------------------------------------------------------- SQL unparser

_KEYWORDS = {
    "select", "from", "where", "group", "order", "by", "having", "limit",
    "as", "over", "window", "partition", "rows", "rows_range", "between",
    "and", "or", "not", "preceding", "following", "current", "row",
    "open", "maxsize", "last", "join", "on", "union", "all", "distinct",
    "instance_not_in_window", "exclude", "current_time", "current_row",
    "case", "when", "then", "else", "end", "is", "null", "like", "in",
}

_BINOPS = {"+", "-", "*", "/", "%", "=", ">=", "<=", ">", "<", "!=",
           "<>", "||", "&&", "AND", "OR", "LIKE", "IS", "NOT", "IN",
           "BETWEEN", "THEN", "ELSE", "WHEN", "CASE", "END", "DIV", "MOD",
           "XOR"}


# what the unparser prints besides names, numbers and literals ('==' and
# '->' print as two operators each); anything else is a syntax error
_OPS = {"-", "+", "*", "/", "%", "=", "<", ">", "(", ")", ",", ";", ">=",
        "<=", "!=", "<>", "||", "&&"}
_CLOSED_LITERAL = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", re.S)


def _body_tokens(sql: str) -> list:
    """The body's lexer tokens minus whitespace and comments, dotted
    names merged into one token."""
    s = sql.strip()
    out = []
    for t in sqllex.join_dotted(sqllex.tokenize(s)):
        if t.kind in ("ws", "comment"):
            continue
        if t.kind == "op" and t.text not in _OPS \
                and set(t.text) <= _OPS:
            out += [t._replace(text=c) for c in t.text]
            continue
        if not (t.kind == "num" or t.text in _OPS
                or t.kind == "id" and "{" not in t.text
                or t.kind == "str" and _CLOSED_LITERAL.fullmatch(t.text)):
            raise DeployError(
                f"deploy: cannot tokenize at {s[t.start:t.start + 20]!r}")
        out.append(t)
    return out


def _kw(tok: str) -> str:
    return tok.upper() if tok.lower() in _KEYWORDS else tok


class _P:
    """Mini recursive-descent printer over the deploy-able SELECT shape
    (projections, sub-select FROM, LAST JOIN chain, WINDOW clause) —
    mirrors the layout the reference's unparser emits in
    test_create_deploy.yaml expects."""

    def __init__(self, toks: list):
        self.t = [t.text for t in toks]
        self.depth = [t.depth for t in toks]
        self.i = 0

    def peek(self, k=0):
        j = self.i + k
        return self.t[j] if j < len(self.t) else None

    def low(self, k=0):
        p = self.peek(k)
        return p.lower() if p else None

    def take(self):
        tok = self.t[self.i]
        self.i += 1
        return tok

    # -- expressions ------------------------------------------------

    def expr(self, stops: set[str]) -> str:
        """Render tokens up to (not including) a depth-0 stop token."""
        parts: list[str] = []
        prev = None
        level = None      # paren depth of this expression's own tokens
        while self.i < len(self.t):
            tok = self.peek()
            d = self.depth[self.i]
            if level is None:
                level = d + (tok == ")")
            if tok == ")" and d < level:
                break                         # closes the enclosing group
            if d == level and tok != ")" and tok.lower() in stops:
                break
            self.take()
            # OVER w1  ->  OVER (w1)
            if prev is not None and prev.lower() == "over" and tok not in ("(",):
                parts.append(f" ({tok})")
                prev = tok
                continue
            rendered = _kw(tok)
            if tok == ",":
                parts.append(",")
            elif tok == "(":
                if prev is not None and (prev.lower() in _KEYWORDS
                                         or prev in _BINOPS or prev == "("
                                         or prev == ","):
                    parts.append(" (")
                else:
                    parts.append("(")        # function call
            elif tok == ")":
                parts.append(")")
            elif rendered in _BINOPS or tok in _BINOPS:
                parts.append(f" {rendered} ")
            else:
                if parts and parts[-1] not in ("(", " (") and not \
                        parts[-1].endswith(" "):
                    if parts[-1] == ",":
                        parts.append(" ")
                    else:
                        parts.append(" ")
                parts.append(rendered)
            prev = tok
        txt = "".join(parts)
        # normalize: collapse accidental double spaces
        return re.sub(r"\s+", " ", txt).strip()

    # -- select ------------------------------------------------------

    def select(self) -> list[str]:
        if self.low() != "select":
            raise DeployError("deploy body must be a SELECT statement")
        self.take()
        lines = ["SELECT"]
        items = []
        while True:
            item = self.expr({",", "from", ";"})
            items.append(item)
            if self.peek() == ",":
                self.take()
                continue
            break
        for k, it in enumerate(items):
            lines.append(it + ("," if k < len(items) - 1 else ""))
        if self.low() != "from":
            return lines                       # SELECT w/o FROM
        self.take()
        lines.append("FROM")
        lines += self.from_item()
        while self.low() == "last" and self.low(1) == "join":
            self.take(); self.take()
            lines.append("LAST JOIN")
            lines += self.from_item()
            if self.low() == "order" and self.low(1) == "by":
                self.take(); self.take()
                lines.append("ORDER BY " + self.expr({"on", "last",
                                                      "window", ";"}))
            if self.low() == "on":
                self.take()
                lines.append("ON " + self.expr({"last", "window", "where",
                                                "limit", ";"}))
        if self.low() == "where":
            self.take()
            lines.append("WHERE " + self.expr({"window", "limit", ";",
                                               "group"}))
        if self.low() == "window":
            self.take()
            lines += self.window_clause()
        if self.low() == "limit":
            self.take()
            lines.append("LIMIT " + self.expr({";"}))
        return lines

    def from_item(self) -> list[str]:
        if self.peek() == "(":
            self.take()
            inner = self.select()
            if self.peek() != ")":
                raise DeployError("deploy: unbalanced sub-select")
            self.take()
            close = ")"
            if self.low() == "as":
                self.take()
                close = f") AS {self.take()}"
            elif self.peek() and re.fullmatch(r"[A-Za-z_]\w*", self.peek()) \
                    and self.low() not in _KEYWORDS:
                close = f") AS {self.take()}"
            return ["("] + inner + [close]
        return [self.take()]

    def window_clause(self) -> list[str]:
        chunks = []
        while True:
            name = self.take()
            if self.low() != "as" or self.peek(1) != "(":
                raise DeployError("deploy: malformed WINDOW clause")
            self.take(); self.take()
            if self.low() == "union":
                # WINDOW UNION prefix: render verbatim-ish
                self.take()
                union = self.expr({"partition"})
                head = f"{name} AS (UNION {union} PARTITION BY "
            else:
                head = f"{name} AS (PARTITION BY "
            if self.low() != "partition" and "UNION" not in head:
                raise DeployError("deploy: WINDOW without PARTITION BY")
            if self.low() == "partition":
                self.take()
                if self.low() == "by":
                    self.take()
            keys = self.expr({"order"})
            if self.low() != "order" or self.low(1) != "by":
                raise DeployError("deploy: WINDOW without ORDER BY")
            self.take(); self.take()
            rest = self.expr({")"})
            if self.peek() != ")":
                raise DeployError("deploy: unbalanced WINDOW def")
            self.take()
            chunks.append(f"{head}{keys}\nORDER BY {rest})")
            if self.peek() == ",":
                self.take()
                continue
            break
        return ("WINDOW " + ", ".join(chunks)).split("\n")


def format_deploy_sql(name: str, body: str) -> str:
    """Render ``DEPLOY <name> <select>`` the way the reference's
    unparser does (test_create_deploy.yaml `sql:` expects)."""
    toks = _body_tokens(body)
    if toks and toks[-1].text == ";":
        toks = toks[:-1]
    p = _P(toks)
    lines = p.select()
    if p.i < len(p.t):
        raise DeployError(
            f"deploy: trailing tokens {' '.join(p.t[p.i:p.i+5])!r}")
    lines[0] = f"DEPLOY {name} " + lines[0]
    return "\n".join(lines) + "\n;\n"


# ------------------------------------------------------------- statements

_DEPLOY_RE = re.compile(
    r"(?is)^\s*deploy\s+(?:(?P<ine>if\s+not\s+exists)\s+)?"
    r"(?P<name>[A-Za-z_]\w*)\s+"
    r"(?:options\s*\((?P<opts>[^)]*)\)\s+)?(?P<body>.*?);?\s*$")


def _main_table(body: str, tables: dict) -> str | None:
    """The deployment's request table = first registered table named
    after a FROM (leftmost, innermost — matches the reference, whose
    request schema is the primary table's)."""
    toks = [t.text for t in _body_tokens(body)]
    for j, tok in enumerate(toks):
        if tok.lower() == "from":
            for t2 in toks[j + 1:]:
                if t2 == "(":
                    break                # sub-select: its FROM comes later
                if t2 in tables:
                    return t2
                break
    for j, tok in enumerate(toks):       # fallback: any registered name
        if tok in tables:
            return tok
    return None


def create_deployment(spark, stmt: str, tables: dict, deployments: dict,
                      db: str | None = None) -> None:
    m = _DEPLOY_RE.match(stmt)
    if not m:
        raise DeployError(f"deploy: cannot parse {stmt!r}")
    name, body = m.group("name"), m.group("body").strip()
    if not body.lower().startswith("select"):
        raise DeployError("deploy body must be a SELECT statement")
    if name in deployments:
        if m.group("ine"):
            return      # DEPLOY IF NOT EXISTS (cases/plan/cmd.yaml)
        raise DeployError(f"deployment {name!r} already exists")
    # cross-database references are rejected by the reference's deploy
    # path (test_create_deploy ids 6/18)
    if re.search(r"(?i)\b(?:from|join)\s+[A-Za-z_]\w*\.[A-Za-z_]\w*", body) \
            or re.search(r"\b[A-Za-z_]\w*\.[A-Za-z_]\w*\.[A-Za-z_]\w*", body):
        raise DeployError("deploy: cross-database references unsupported")

    from openmldb_spark.sqlfe import run_sql
    out_df = run_sql(spark, body, tables)     # plans + validates the body
    main = _main_table(body, tables)
    in_cols = _kcolumns(tables[main].schema) if main else []
    deployments[name] = {
        "name": name,
        "dbName": db or "",
        "sql": format_deploy_sql(name, body),
        "inColumns": in_cols,
        "outColumns": _kcolumns(out_df.schema),
        # execution handles (sources/procedure.execute_deployment_rows)
        "body": body,
        "mainTable": main,
    }


def show_deployment(stmt: str, deployments: dict,
                    db: str | None = None) -> dict:
    m = re.match(r"(?is)^\s*show\s+deployment\s+"
                 r"(?:(?P<db>[A-Za-z_]\w*)\.)?(?P<name>[A-Za-z_]\w*)"
                 r"\s*;?\s*$", stmt)
    if not m:
        raise DeployError(f"show deployment: cannot parse {stmt!r}")
    qdb, name = m.group("db"), m.group("name")
    if qdb is not None and db is not None and qdb != db:
        raise DeployError(f"show deployment: database {qdb!r} mismatch")
    if name not in deployments:
        raise DeployError(f"deployment {name!r} does not exist")
    return deployments[name]


def show_deployments(stmt: str, deployments: dict) -> list[dict]:
    if not re.match(r"(?is)^\s*show\s+deployments\s*;?\s*$", stmt):
        raise DeployError(f"show deployments: cannot parse {stmt!r}")
    return list(deployments.values())


def drop_deployment(stmt: str, deployments: dict) -> None:
    # the reference's DROP DEPLOYMENT grammar takes a bare identifier
    # only — a db-qualified name is a syntax error (test_drop_deploy id 3)
    m = re.match(r"(?is)^\s*drop\s+deployment\s+(?P<name>[A-Za-z_]\w*)"
                 r"\s*;?\s*$", stmt)
    if not m:
        raise DeployError(f"drop deployment: cannot parse {stmt!r}")
    name = m.group("name")
    if name not in deployments:
        raise DeployError(f"deployment {name!r} does not exist")
    del deployments[name]
