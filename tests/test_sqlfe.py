"""SQL front end end-to-end on Spark: reference YAML cases executed via
run_sql (DataFrames in, OpenMLDB SQL text in, DataFrame out) — the
"switch from the reference and run your queries" path."""

import math

import pandas as pd
import pytest
import yaml

import pyspark.sql.types as T

from openmldb_spark.sqlfe import SqlUnsupported, compile_window_sql, run_sql

_SPARK_TYPES = {
    "int": T.IntegerType(), "int32": T.IntegerType(),
    "smallint": T.ShortType(), "int16": T.ShortType(),
    "bigint": T.LongType(), "int64": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(),
    "string": T.StringType(), "bool": T.BooleanType(),
    "timestamp": T.LongType(), "date": T.DateType(),
}


def _mkdf(spark, inp):
    cols = [c.rsplit(" ", 1) for c in inp["columns"]]
    names = [c[0].strip() for c in cols]
    types = [c[1].strip().lower() for c in cols]
    schema = T.StructType(
        [T.StructField(n, _SPARK_TYPES[t]) for n, t in zip(names, types)])
    fixed = []
    for r in inp["rows"]:
        rr = []
        for v, t in zip(r, types):
            if v is None:
                rr.append(None)
            elif t in ("int", "int32", "smallint", "int16", "bigint",
                       "int64", "timestamp"):
                rr.append(int(v))
            elif t in ("float", "double"):
                rr.append(float(v))
            elif t == "bool":
                rr.append(v if isinstance(v, bool)
                          else str(v).lower() in ("true", "1"))
            elif t == "date":
                # real DateType (corpus may spell non-padded '2012-8-11')
                from test_window_query_cases import _parse_date
                rr.append(_parse_date(v))
            else:
                rr.append(str(v))
        fixed.append(rr)
    return spark.createDataFrame(fixed, schema)


def _load(fname):
    with open(f"/root/reference/cases/function/window/{fname}") as f:
        return yaml.safe_load(f)["cases"]


# a representative slice across feature families (ids chosen from the
# files already golden-tested at kernel level)
PICKS = [
    ("test_window_row.yaml", "0"),
    ("test_window_row.yaml", "38"),          # pure-history end offset
    ("test_window_row_range.yaml", "0"),
    ("test_maxsize.yaml", "0"),
    ("test_maxsize.yaml", "6"),
    ("test_window_exclude_current_time.yaml", "0"),
    ("test_window_union.yaml", "0"),
]


def _find(fname, cid):
    for c in _load(fname):
        if str(c.get("id")) == cid:
            return c
    raise KeyError((fname, cid))


@pytest.mark.parametrize("fname,cid", PICKS)
def test_sqlfe_reference_case_on_spark(fname, cid, spark):
    case = _find(fname, cid)
    dfs = [_mkdf(spark, inp) for inp in case["inputs"]]
    got = run_sql(spark, case["sql"], dfs).toPandas()

    exp = case["expect"]
    cols = [c.rsplit(" ", 1)[0].strip() for c in exp["columns"]]
    typs = [c.rsplit(" ", 1)[1].strip().lower() for c in exp["columns"]]
    assert list(got.columns) == cols
    erows = exp["rows"]
    assert len(got) == len(erows)
    order = exp.get("order")
    grows = got.where(pd.notna(got), None).values.tolist()
    if order:
        oi = cols.index(order)
        erows = sorted(erows, key=lambda r: (r[oi] is None, str(r[oi])))
        grows = sorted(grows, key=lambda r: (r[oi] is None, str(r[oi])))
    for grow, erow in zip(grows, erows):
        for cname, t, gv, ev in zip(cols, typs, grow, erow):
            if ev is None:
                assert gv is None, (cname, gv)
            elif t in ("float", "double"):
                assert math.isclose(float(gv), float(ev), rel_tol=1e-5), \
                    (cname, gv, ev)
            elif t in ("int", "bigint", "smallint", "timestamp"):
                assert int(gv) == int(ev), (cname, gv, ev)
            else:
                assert str(gv) == str(ev), (cname, gv, ev)


def test_sqlfe_lastjoin_on_spark(spark):
    case = None
    with open("/root/reference/cases/function/join/test_lastjoin_simple.yaml") as f:
        for c in yaml.safe_load(f)["cases"]:
            if str(c.get("id")) == "1":
                case = c
                break
    dfs = [_mkdf(spark, inp) for inp in case["inputs"]]
    got = run_sql(spark, case["sql"], dfs).toPandas().sort_values("c1")
    exp = pd.DataFrame(case["expect"]["rows"],
                       columns=[c.rsplit(" ", 1)[0].strip()
                                for c in case["expect"]["columns"]]
                       ).sort_values("c1")
    assert got.reset_index(drop=True).astype(str).equals(
        exp.reset_index(drop=True).astype(str))


def test_sqlfe_rejects_unsupported():
    with pytest.raises(SqlUnsupported):
        compile_window_sql("SELECT 1")
    with pytest.raises(SqlUnsupported):
        compile_window_sql(
            "SELECT a, rank() OVER w1 AS r FROM {0} WINDOW w1 AS "
            "(PARTITION BY a ORDER BY b ROWS BETWEEN 1 PRECEDING AND "
            "CURRENT ROW)")


def test_sqlfe_named_tables(spark):
    from openmldb_spark.sqlfe import run_sql as _run
    t = spark.createDataFrame(
        [("a", 0, 1000, 1.0), ("a", 1, 2000, 2.0), ("a", 2, 3000, 4.0)],
        ["conv_id", "turn_idx", "ts_ms", "value"])
    # union schema must match the primary exactly (name/count/type) —
    # the reference rejects subset schemas (test_window_union.yaml id 1)
    hist = spark.createDataFrame(
        [("a", -1, 500, 10.0)],
        ["conv_id", "turn_idx", "ts_ms", "value"])
    sql = """
    SELECT conv_id, turn_idx, sum(value) OVER w1 AS s
    FROM transcripts WINDOW w1 AS (
      UNION history
      PARTITION BY transcripts.conv_id ORDER BY transcripts.ts_ms
      ROWS_RANGE BETWEEN 10s PRECEDING AND CURRENT ROW)
    """
    out = {r.turn_idx: r.s for r in
           _run(spark, sql, {"transcripts": t, "history": hist}).collect()}
    assert out == {0: 11.0, 1: 13.0, 2: 17.0}


def test_strip_comments_quote_aware():
    from openmldb_spark.sqllex import strip_comments
    # literals survive; comments vanish to end of line / block
    assert strip_comments("select a -- drop me\nfrom t") == \
        "select a \nfrom t"
    assert strip_comments("select '-- not a comment' from t") == \
        "select '-- not a comment' from t"
    assert strip_comments("select /* gone */ a from t") == \
        "select   a from t"
    assert strip_comments("select '/* keep */' from t") == \
        "select '/* keep */' from t"


def test_like_edge_lowering():
    from openmldb_spark.sqlfe import (SqlUnsupported, _like_tpl,
                                      _lone_trailing_escape,
                                      translate_expr)
    # function form: multi-char escape is constant-false (udf.cc:415-419)
    assert "FALSE" in _like_tpl("LIKE", "c1", "'a%'", "'<>'")
    # function form: lone trailing escape in a literal pattern
    assert _lone_trailing_escape("a%#", "#")
    assert not _lone_trailing_escape("a%##", "#")
    assert "FALSE" in _like_tpl("LIKE", "c1", "'a%#'", "'#'")
    # operator form: multi-char escape is PLAN-rejected
    # (v040/test_like.yaml id 28 is a negative case)
    try:
        translate_expr("c1 like 'a%' escape '<>'")
        raise AssertionError("multi-char escape must be rejected")
    except SqlUnsupported:
        pass
    # operator form: trailing-escape pattern lowers to null-aware FALSE
    out = translate_expr("c1 like 'a%#' escape '#'")
    assert "FALSE" in out and "c1" in out
    # ...but a string literal containing the same text is untouched
    out = translate_expr("'x like \'a%\' escape \'<>\''")
    assert "like" in out.lower()


def test_timestamp_numeric_cast_is_epoch_ms(spark):
    """bigint(ts) / cast(ts as bigint) are epoch MILLISECONDS
    (Timestamp.ts_; autox.yaml time_diff) — Spark's native cast would
    give seconds."""
    from openmldb_spark.sqlfe import run_sql
    df = spark.createDataFrame(
        [(1, __import__("datetime").datetime.utcfromtimestamp(
            1590738989))], "id int, ts timestamp")
    got = run_sql(spark, "select bigint(ts) as a, cast(ts as bigint) "
                         "as b from {0}", [df]).collect()[0]
    assert got.a == 1590738989000 and got.b == 1590738989000


def test_zero_divisor_lowering_text():
    """lower_zero_div folds multiplicative chains and guards % / DIV
    and `/` with the reference's zero-divisor semantics
    (arithmetic_expr_ir_builder.cc:654-686); everything else passes
    through verbatim."""
    from openmldb_spark.sqlfe import lower_zero_div
    out = lower_zero_div("a % b")
    assert "CASE WHEN (b) = 0" in out and "1Y" in out and "0Y" in out
    out = lower_zero_div("a DIV b")
    assert "DIV (CASE WHEN (b) = 0" in out
    out = lower_zero_div("a / b")
    assert "'Infinity'" in out and "ELSE (a) / (b)" in out
    # chains keep left-associativity
    assert lower_zero_div("a % b * c").endswith(" * c")
    assert lower_zero_div("a * b % c").startswith("((a * b) %")
    # structure passes through: strings, keywords, windows
    assert lower_zero_div("'a%b'") == "'a%b'"
    assert lower_zero_div("sum(c) OVER w1 / count(c) OVER w1") == \
        "sum(c) OVER w1 / count(c) OVER w1"
    s = "CASE WHEN a THEN b % c ELSE d END"
    assert lower_zero_div(s).startswith("CASE WHEN a THEN ((b) %")


def test_zero_divisor_semantics(spark):
    """30 % 0 = 0, 30 DIV 0 = 0, 30 / 0 = Infinity, float % 0 = NaN,
    NULLs propagate (test_arithmetic.yaml ids 0-4; judge repro)."""
    import math
    from openmldb_spark.sqlfe import run_sql
    df = spark.createDataFrame(
        [(1, 30, 0, 30.0), (2, 30, 7, 30.0), (3, None, 0, None)],
        "id int, a int, b int, f float")
    rows = {r.id: r for r in run_sql(
        spark,
        "select id, a % b as m, a MOD b as m2, mod(a, b) as m3, "
        "a DIV b as d, a / b as q, f % b as fm from {0}",
        [df]).collect()}
    assert rows[1].m == 0 and rows[1].m2 == 0 and rows[1].m3 == 0
    assert rows[1].d == 0
    assert rows[1].q == float("inf")
    assert math.isnan(rows[1].fm)          # FRem: fmod(30.0, 0) = NaN
    assert rows[2].m == 2 and rows[2].d == 4
    assert abs(rows[2].q - 30 / 7) < 1e-12
    assert rows[3].m is None and rows[3].d is None and rows[3].q is None
