"""Golden net for the SQL text layer.

Every SQL-looking string literal in the repository (test modules,
``openmldb_spark/queries.py``, ``jobs/`` and ``perfbench/workloads.py``)
is frozen in ``sql_golden.json`` together with what each text-level
entry point of the front end returned for it (or the exception type and
message it raised). The test replays every entry point over the frozen
inputs and diffs against the recorded outputs, so a change to how SQL
text is lexed, split or rewritten shows up as a concrete input/output
pair.

Re-record the outputs over the frozen inputs (only when a behaviour
change is intended; list the changed entries in CHANGES.md), or harvest
the inputs afresh first:

    python tests/test_sql_golden.py --record
    python tests/test_sql_golden.py --harvest
"""

from __future__ import annotations

import ast
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GOLDEN = Path(__file__).with_name("sql_golden.json")

# keys of the recorded column-type environment for the typed
# translate_expr pass (the reference corpus' usual c1..c8 layout)
_TYPES = {"c1": "string", "c2": "int", "c3": "bigint", "c4": "float",
          "c5": "double", "c6": "timestamp", "c7": "date", "c8": "boolean",
          "id": "int", "ts": "timestamp", "conv_id": "string",
          "turn_idx": "int", "ts_ms": "bigint", "tool": "string",
          "latency_ms": "double", "n_tokens": "bigint", "role": "string"}
_SQLISH = re.compile(
    r"(?i)\b(select|create|insert|deploy|load|set|show|drop|use|desc|"
    r"delete|window|over|join|config|options|values|begin|case)\b"
    r"|[()?'\"`;]|--|/\*")
_TABLE_NAME = re.compile(r"(?i)\b(?:from|join|union)\s+([A-Za-z_]\w*)")
_HOLE_LITS = [f"#{k}" for k in range(2048)]
# clause bodies are harvested on their own too, so the option parsers
# see option lists and not only whole statements
_CLAUSE_BODY = re.compile(r"(?is)\b(?:options|config)\s*\((.*?)\)\s*(?:;|$)")


def harvest() -> list[str]:
    """Every distinct SQL-looking string constant in the sources
    (docstrings and absolute file paths are prose, not SQL)."""
    files = sorted(p for p in (ROOT / "tests").glob("*.py")
                   if p.name != Path(__file__).name)
    files += [ROOT / "openmldb_spark" / "queries.py",
              ROOT / "perfbench" / "workloads.py"]
    files += sorted((ROOT / "jobs").glob("*.py"))
    seen: set[str] = set()
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        docs = {id(n.body[0].value) for n in ast.walk(tree)
                if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
                and n.body and isinstance(n.body[0], ast.Expr)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and id(node) not in docs \
                    and not node.value.startswith("/"):
                seen.add(node.value)
                seen.update(m.group(1) for m in
                            _CLAUSE_BODY.finditer(node.value))
    import openmldb_spark.queries as q
    seen.update(v for k, v in vars(q).items()
                if k.startswith("SQL") and isinstance(v, str))
    return sorted(s for s in seen
                  if 2 <= len(s) <= 20000 and _SQLISH.search(s))


def _typed(fn):
    def run(s):
        from openmldb_spark import sqlfe
        tok = sqlfe._EXPR_TYPES.set(dict(_TYPES))
        try:
            return fn(s)
        finally:
            sqlfe._EXPR_TYPES.reset(tok)
    return run


def _canonical(s):
    from openmldb_spark import sqlfe
    names = sorted({m.group(1) for m in _TABLE_NAME.finditer(s)
                    if m.group(1).lower() not in ("select", "t")}
                   | {"t"})
    return sqlfe.canonicalize_tables(sqlfe.strip_comments(s),
                                     {n: None for n in names})[0]


def entry_points() -> dict:
    """name -> callable(sql) returning JSON-able data. Each maps onto
    the function that currently implements the recorded behaviour."""
    from openmldb_spark import sqlfe, sqllex
    from openmldb_spark.sources import ddl, deploy, io, session

    return {
        "translate_expr": sqlfe.translate_expr,
        "translate_expr_typed": _typed(sqlfe.translate_expr),
        "compile_window_sql": lambda s: repr(
            sqlfe.compile_window_sql(_canonical(s))),
        "strip_comments": sqlfe.strip_comments,
        "rewrite_calls": lambda s: sqlfe.rewrite_calls(s, lambda n, a: None),
        "lower_zero_div": sqlfe.lower_zero_div,
        "canonicalize_tables": _canonical,
        "lift_anonymous_windows": sqlfe._lift_anonymous_windows,
        "boolify_sql": sqlfe._boolify_sql,
        "rid_thread": lambda s: list(
            sqlfe._rid_thread_stmt(s, "t1", False, is_top=True)),
        "split_projection": sqllex.split,
        "split_conds": lambda s: [p for p in sqllex.split(
            s, "and", between=True) if p.strip()],
        "split_kw_and": lambda s: sqllex.split(s, "AND", case_end=True),
        "split_addsub": lambda s: [
            [o or "+", t] for o, t in sqllex.split_binary(s, "+-")],
        "split_mul": lambda s: [f for _, f in sqllex.split_binary(s, "*")],
        "split_muldiv": lambda s: [
            list(t) for t in sqllex.split_binary(s, "*/%")],
        "mask_strings": sqllex.mask_literals,
        "strip_backticks": lambda s: sqllex.sub_code("`", "", s),
        "split_statements": session.split_statements,
        "format_deploy_sql": lambda s: deploy.format_deploy_sql("d1", s),
        "parse_create_table": lambda s: repr(ddl.parse_create_table(s)),
        "parse_insert": lambda s: repr(ddl.parse_insert(s)),
        "strip_config_clauses": io._strip_config_clauses,
        "parse_stmt_options": lambda s: repr(io._parse_stmt_options(s)),
        "hole_count": sqllex.placeholders,
        "hole_fill": lambda s: sqllex.fill_placeholders(s, _HOLE_LITS),
    }


def _record(fn, s):
    try:
        out = fn(s)
    except RecursionError:
        return {"err": "RecursionError"}
    except Exception as e:   # the exception IS the recorded behaviour
        return {"err": f"{type(e).__name__}: {e}"}
    return {"same": True} if out in (s, [s]) else {"ok": out}


def compute(inputs: list[str]) -> dict:
    out = {name: [_record(fn, s) for s in inputs]
           for name, fn in entry_points().items()}
    # the typed pass is stored only where the type environment mattered
    out["translate_expr_typed"] = [
        {"untyped": True} if t == u else t for t, u in
        zip(out["translate_expr_typed"], out["translate_expr"])]
    return out


def test_golden_outputs_unchanged():
    data = json.loads(GOLDEN.read_text())
    inputs = data["inputs"]
    got = compute(inputs)
    diffs = []
    for name, want in data["outputs"].items():
        assert name in got, f"entry point {name} has no implementation"
        for s, w, g in zip(inputs, want, got[name]):
            if w != g:
                diffs.append(f"{name}({s[:80]!r}):\n  want {w}\n  got  {g}")
    assert not diffs, f"{len(diffs)} golden diffs:\n" + "\n".join(diffs[:20])


if __name__ == "__main__":
    if sys.argv[1:] not in (["--record"], ["--harvest"]):
        sys.exit("usage: python tests/test_sql_golden.py --record|--harvest")
    sys.path.insert(0, str(ROOT))
    inputs = harvest() if sys.argv[1] == "--harvest" else \
        json.loads(GOLDEN.read_text())["inputs"]
    GOLDEN.write_text(json.dumps(
        {"inputs": inputs, "outputs": compute(inputs)},
        indent=0, sort_keys=True) + "\n")
    print(f"{len(inputs)} inputs -> {GOLDEN}")
