"""Replay the reference's v0.4.0 OFFLINE-batch corpus plus the remaining
stragglers through the full Spark stack (run_sql):

    cases/function/v040/test_{like,like_match,groupby,udaf}.yaml
        — the suite the reference runs specifically against its Spark
          batch engine (openmldb-batch); LIKE/ILIKE/NOT LIKE with
          escapes, like_match(), full-table GROUP BY, full-table UDAFs
          (test-suite layout: test/integration-test OfflineBatchJob).
    cases/debug/bug.yaml
        — pinned regressions: LAST JOIN followed by GROUP BY.
    cases/usecase/autox.yaml
        — an end-to-end AutoX feature script with literal expected rows:
          nested sub-select windows, LAST JOIN chain over derived
          tables, WINDOW UNION + INSTANCE_NOT_IN_WINDOW, fz_top1_ratio,
          count_where, calendar functions.
    cases/hybridsql_gen_cases/auto_gen_case_0.yaml
        — fuzz-generated single statement (success-mode).

Same contract as the other corpus tests: value-check every case with a
literal expectation, classify every skip, ratchet the minimum pass
count so coverage never regresses.
"""

import re

import pytest
import yaml

from openmldb_spark.sqlfe import SqlUnsupported, run_sql
from yaml_harness import expand_case
from test_plain_query_cases import check_case
from test_window_query_cases import Unsupported
from conftest import corpus_path

FILES = [
    corpus_path("cases/function/v040/test_like.yaml"),
    corpus_path("cases/function/v040/test_like_match.yaml"),
    corpus_path("cases/function/v040/test_groupby.yaml"),
    corpus_path("cases/function/v040/test_udaf.yaml"),
    corpus_path("cases/debug/bug.yaml"),
    corpus_path("cases/usecase/autox.yaml"),
    corpus_path("cases/hybridsql_gen_cases/auto_gen_case_0.yaml"),
]


def _load(path):
    with open(path) as f:
        cases = yaml.safe_load(f)["cases"]
    out = []
    for c in cases:
        out.extend(expand_case(c))
    return out


def _excluded(case) -> str | None:
    mode = str(case.get("mode") or "")
    if "batch-unsupport" in mode or "offline-unsupport" in mode:
        return "marked batch-unsupported"
    if re.search(r"\b(identity|inc)\s*\(", str(case.get("sql", ""))):
        # fuzz-generated statement using hybridse's test-only builtins
        # (identity/inc) AND nested window-UDAF-inside-UDAF-argument
        # shapes (min_where(c3 + sum_where(c3, c4), c5) OVER w): the
        # inner aggregate is a per-anchor-row frame scalar feeding the
        # outer frame aggregation — outside the vectorized kernel
        # surface (documented divergence; the only corpus occurrence is
        # success-mode with no expected rows)
        return "fuzz-only builtins + nested UDAF-in-UDAF frame (documented)"
    if any("TODO" in str(t) for t in case.get("tags") or []):
        # reference harness skips TODO-tagged cases (SqlCase tags_);
        # e.g. v040 udaf id 3 pins agg-over-empty-table = all zeros,
        # which contradicts the engine's own NULL semantics
        return "reference-skipped (TODO tag)"
    if case.get("expect", {}).get("success") is False:
        return "negative case (rejection sweep covers the query surface)"
    return None


def _params():
    out = []
    for f in FILES:
        tag = f.rsplit("/", 2)[-2] + "/" + f.rsplit("/", 1)[-1]
        for c in _load(f):
            out.append(pytest.param(f, c, id=f"{tag}::{c.get('id')}"))
    return out


@pytest.mark.parametrize("fname,case", _params())
def test_v040_case(fname, case, spark):
    why = _excluded(case)
    if why:
        pytest.skip(why)
    try:
        check_case(spark, case)
    except (Unsupported, SqlUnsupported) as e:
        pytest.skip(f"unsupported: {e}")


def test_minimum_v040_coverage(spark):
    """Ratchet: value-checked case count from these files must not
    regress, and no skip may be unclassified."""
    ok, fails, skips = 0, [], []
    for f in FILES:
        for case in _load(f):
            if _excluded(case):
                continue
            try:
                check_case(spark, case)
                ok += 1
            except (Unsupported, SqlUnsupported) as e:
                skips.append((f.rsplit("/", 1)[-1], case.get("id"),
                              str(e)[:90]))
            except AssertionError as e:
                fails.append((f.rsplit("/", 1)[-1], case.get("id"),
                              str(e)[:90]))
            except Exception as e:
                fails.append((f.rsplit("/", 1)[-1], case.get("id"),
                              type(e).__name__ + " " + str(e)[:90]))
    assert not fails, fails
    assert ok >= 136, f"only {ok} v040 cases passed"
    leftover = [s for s in skips if "no literal expect" not in s[2]]
    assert not leftover, leftover
