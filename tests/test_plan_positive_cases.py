"""Success-mode sweep over the reference's POSITIVE plan corpus
(cases/plan/*.yaml — parser/planner tests with no execution
expectations): every statement the reference's planner accepts should
run through run_sql without crashing (crash/coverage breadth for
renamed tables, back-quoted identifiers, DISTINCT, UNION ALL, CONFIG
clauses, nested sub-queries, full-table aggregation, window syntax
variants).

The corpus is PLAN-only — the reference never executes these — so a
few statements have no defined execution semantics; those fall into
the enumerated acceptance classes below (each asserts a specific
error class, never a silent pass). Everything else must run.
"""

import re

import pytest
import yaml

import pyspark.sql.types as T

from openmldb_spark.sqlfe import SqlUnsupported, run_sql
from conftest import corpus_path

PLAN = corpus_path("cases/plan")

FILES = ["simple_query", "rename_query", "back_quote_identifier",
         "distinct_query", "order_query", "where_query", "group_query",
         "having_query", "sub_query", "join_query", "union_query",
         "const_query", "window_query", "table_aggregation_query",
         "udf_query"]

# one generic wide table per referenced name: the hybridse plan-test
# schema (col0 string, col1..col6 numerics) plus every extra column the
# corpus statements touch. Spark resolves COL1 == col1 (case-insensitive
# analysis, like the reference's plan tests). col2 is single-valued so
# scalar sub-queries grouped by it return one row (sub_query id 2).
_SCHEMA = T.StructType([
    T.StructField("col0", T.StringType()),
    T.StructField("col1", T.IntegerType()),
    T.StructField("col2", T.ShortType()),
    T.StructField("col3", T.FloatType()),
    T.StructField("col4", T.DoubleType()),
    T.StructField("col5", T.LongType()),
    T.StructField("col6", T.StringType()),
    T.StructField("col15", T.LongType()),
    T.StructField("id", T.IntegerType()),
    T.StructField("uid", T.IntegerType()),
    T.StructField("std_ts", T.LongType()),
    T.StructField("ts", T.LongType()),
    T.StructField("c0", T.StringType()),
    T.StructField("c1", T.IntegerType()),
    T.StructField("c2", T.ShortType()),
    T.StructField("c3", T.FloatType()),
    T.StructField("c4", T.DoubleType()),
    T.StructField("c5", T.LongType()),
    T.StructField("c6", T.StringType()),
    T.StructField("c7", T.LongType()),
    T.StructField("c8", T.StringType()),
    T.StructField("COL", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("class", T.IntegerType()),
    T.StructField("grade", T.IntegerType()),
    T.StructField("subject", T.StringType()),
    T.StructField("stu_id", T.IntegerType()),
])

_ROWS = [
    ("a", 1, 1, 1.0, 1.0, 1590738990000, "x", 1, 1, 1,
     1590738990000, 1590738990000,
     "a", 1, 1, 1.0, 1.0, 1590738990000, "x", 1590738990000, "p",
     7, "n1", 1, 7, "math", 1),
    ("b", 2, 1, 2.0, 2.0, 1590738991000, "y", 2, 2, 2,
     1590738991000, 1590738991000,
     "b", 2, 2, 2.0, 2.0, 1590738991000, "y", 1590738991000, "q",
     8, "n2", 2, 8, "math", 2),
    ("a", 3, 1, 3.0, 3.0, 1590738992000, "z", 3, 3, 1,
     1590738992000, 1590738992000,
     "a", 3, 3, 3.0, 3.0, 1590738992000, "z", 1590738992000, "r",
     9, "n3", 1, 7, "art", 3),
]

# plan-only statements with no defined batch execution semantics: the
# acceptance is an ASSERTED error class, never a silent pass
_ACCEPT = [
    (r"MISSING_AGGREGATION", r",\s*\*|\*\s*FROM",
     "agg + * projection with GROUP BY (positional-schema reference "
     "plans it; Spark requires grouped columns)"),
    (r"AMBIGUOUS_REFERENCE", r"as\s+(\w+)\b.*\bas\s+\1\b",
     "duplicate projection aliases (reference schema is positional; "
     "Spark names are unique)"),
    (r"UNBOUND_SQL_PARAMETER", r"\?",
     "parameterized statement without bound args (binding covered by "
     "parameterized_query corpus)"),
    (r"CAST_INVALID_INPUT", r"(?i)\bin\s*\(",
     "cross-type IN comparison (documented strict-ANSI-typing "
     "divergence family)"),
    (r"NUM_COLUMNS_MISMATCH", r"(?i)\bunion\b",
     "UNION branch arity mismatch (join star vs table star; the "
     "reference only plans this statement)"),
    (r"PARSE_SYNTAX_ERROR", r"(?i)(order\s+by|limit)[^()]*\bunion\b",
     "un-parenthesized ORDER BY/LIMIT inside a UNION branch (hybridse "
     "grammar allows it; Spark requires parentheses; plan-only)"),
]


def _load():
    out = []
    for f in FILES:
        with open(f"{PLAN}/{f}.yaml") as fh:
            cases = yaml.safe_load(fh)["cases"]
        for c in cases or []:
            sqls = c.get("sql")
            if sqls is None:
                continue
            sqls = sqls if isinstance(sqls, list) else [sqls]
            for k, s in enumerate(sqls):
                out.append((f, f"{c.get('id')}.{k}", str(s),
                            str(c.get("desc") or "")))
    return out


def _excluded(sql: str, desc: str) -> str | None:
    if re.search(r"(?i)^\s*(insert|create|load\s+data|"
                 r"set\b|show\b|desc\b|use\b|drop\b|delete\b|cmd)", sql):
        return "DDL/DML/cmd surface"
    if re.search(r"(?i)\binto\s+outfile|%%", sql):
        return "script-function / outfile surface"
    return None


def _tables(spark, sql):
    names = {n for n in re.findall(
        r"(?i)\b(?:from|join|union)\s+`?([A-Za-z_]\w*)`?", sql)
        if n.lower() not in ("select", "all", "distinct")}
    if not names:
        names = {"t1"}
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    return {n: df for n in names}


def _classify(sql: str, e: Exception) -> str | None:
    text = f"{type(e).__name__} {e}"
    flat = " ".join(sql.split())
    for err_pat, sql_pat, reason in _ACCEPT:
        if re.search(err_pat, text) and \
                re.search(sql_pat, flat, re.IGNORECASE | re.DOTALL):
            return reason
    return None


_ALL = _load()


@pytest.mark.parametrize(
    "fname,cid,sql,desc",
    [pytest.param(*p, id=f"{p[0]}::{p[1]}") for p in _ALL])
def test_plan_positive_case(fname, cid, sql, desc, spark):
    why = _excluded(sql, desc)
    if why:
        pytest.skip(why)
    try:
        run_sql(spark, sql, _tables(spark, sql)).collect()
    except SqlUnsupported as e:
        pytest.skip(f"unsupported: {e}")
    except Exception as e:
        reason = _classify(sql, e)
        if reason:
            pytest.skip(f"plan-only acceptance: {reason}")
        raise


def test_minimum_plan_positive_coverage(spark):
    ok, fails, skips = 0, [], []
    for fname, cid, sql, desc in _ALL:
        if _excluded(sql, desc):
            continue
        try:
            run_sql(spark, sql, _tables(spark, sql)).collect()
            ok += 1
        except SqlUnsupported as e:
            skips.append((fname, cid, str(e)[:80]))
        except Exception as e:
            if _classify(sql, e) is None:
                fails.append((fname, cid, type(e).__name__ + " "
                              + str(e)[:80]))
    assert not fails, fails
    assert ok >= 130, f"only {ok} plan statements ran"
