"""Query-corpus LAST JOIN cases (named tables, schema/data inputs,
expression projections) through run_sql on Spark —
/root/reference/cases/query/last_join_query.yaml."""

import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported, run_sql

from test_window_query_cases import Unsupported, _check as _wq_check, \
    _mk_named_df, _parse_schema, _parse_value
from conftest import corpus_path

CASES = corpus_path("cases/query/last_join_query.yaml")


def _load():
    with open(CASES) as f:
        return yaml.safe_load(f)["cases"]


def _params():
    return [pytest.param(c, id=f"ljq::{c.get('id')}") for c in _load()]


@pytest.mark.parametrize("case", _params())
def test_lastjoin_query_case(case, spark):
    if case.get("mode") and ("batch-unsupport" in str(case["mode"]) or "offline-unsupport" in str(case["mode"])):
        pytest.skip("marked unsupported")
    if case.get("expect", {}).get("success") is False:
        pytest.skip("negative case")
    try:
        _wq_check(spark, case)
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"outside subset: {e}")


def test_minimum_lastjoin_query_coverage(spark):
    ok, fails = 0, []
    for case in _load():
        if case.get("mode") and ("batch-unsupport" in str(case["mode"]) or "offline-unsupport" in str(case["mode"])):
            continue
        if case.get("expect", {}).get("success") is False:
            continue
        try:
            _wq_check(spark, case)
            ok += 1
        except (Unsupported, SqlUnsupported):
            pass
        except AssertionError as e:
            fails.append((case.get("id"), str(e)[:150]))
    assert not fails, fails
    assert ok >= 5, f"only {ok} last_join_query cases supported"
