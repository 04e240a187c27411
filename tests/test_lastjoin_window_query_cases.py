"""Combined LAST JOIN → WINDOW SQL cases through run_sql —
/root/reference/cases/query/last_join_window_query.yaml."""

import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported

from test_window_query_cases import Unsupported, _check as _wq_check
from conftest import corpus_path

CASES = corpus_path("cases/query/last_join_window_query.yaml")


def _load():
    with open(CASES) as f:
        return yaml.safe_load(f)["cases"]


@pytest.mark.parametrize(
    "case", [pytest.param(c, id=f"ljw::{c.get('id')}") for c in _load()])
def test_lastjoin_window_case(case, spark):
    if case.get("mode") and ("batch-unsupport" in str(case["mode"]) or "offline-unsupport" in str(case["mode"])):
        pytest.skip("marked unsupported")
    if case.get("expect", {}).get("success") is False:
        pytest.skip("negative case")
    try:
        _wq_check(spark, case)
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"outside subset: {e}")


def test_minimum_lastjoin_window_coverage(spark):
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
    assert ok >= 1, f"only {ok} combined cases supported"
