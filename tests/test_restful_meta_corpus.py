"""Replay cases/restful/v230/test_desc.yaml + test_show_tables.yaml
SEMANTICALLY (HTTP transport out of scope; the nameserver's table-info
payload is not).

Table fixtures are built from the corpus' own ``beforeAction`` specs
(``columns: ["c1 string not null", ...]`` +
``indexs: ["index1:c1:c7:(10h,10):absandlat"]``) through the real DDL
surface (CREATE TABLE text assembled from the spec), then
``Session.table_meta`` / ``list_table_metas`` are compared field-by-
field against every ``$.table...`` / ``$.tables[i]...`` expectation:
column_desc (restful type spellings: string→varchar, bool), column_key
(col_name/ts_name/ttl dict with minute-normalized bounds), and the
single-node partition/replica constants.

Cases whose expectation is ``msg: "no match method"`` are HTTP-routing
negatives (bad uri / wrong verb) with no catalog semantics — they are
enumerated and skipped by name, never silently. 'DB not found' /
'Table not found' negatives assert our exact refusal spellings.
"""

import re

import pytest
import yaml

from openmldb_spark.sources.ddl import DdlError
from openmldb_spark.sources.session import Session
from conftest import corpus_path

RDIR = corpus_path("cases/restful/v230")

with open(f"{RDIR}/test_desc.yaml") as f:
    DESC = yaml.safe_load(f)
with open(f"{RDIR}/test_show_tables.yaml") as f:
    SHOW = yaml.safe_load(f)

DB = "test_zw"


def _create_sql(spec: dict) -> str:
    """Corpus table spec → CREATE TABLE text through the real parser."""
    cols = ", ".join(spec["columns"])
    idx = []
    for s in spec.get("indexs") or []:
        parts = s.split(":")          # name:keys:ts[:ttl[:ttl_type]]
        body = f"key=({parts[1].replace('|', ', ')})"
        if len(parts) > 2 and parts[2]:
            body += f", ts={parts[2]}"
        if len(parts) > 3 and parts[3]:
            body += f", ttl={parts[3]}"
        if len(parts) > 4 and parts[4]:
            body += f", ttl_type={parts[4]}"
        idx.append(f"index({body})")
    return f"create table {spec['name']} ({cols}, {', '.join(idx)})"


def _session(spark, before: dict) -> Session:
    s = Session(spark, db=DB)
    for spec in (before or {}).get("tables") or []:
        s.execute(_create_sql(spec))
    return s


def _check_expect(meta: dict, expect: dict, prefix: str):
    """Compare one $.table... / $.tables[i]... expectation block."""
    for k, v in expect.items():
        m = re.fullmatch(re.escape(prefix) + r"\.(\w+)(?:\[(\d+)\])?"
                         r"(?:\.(\w+))?", k)
        if not m:
            continue
        field, idx, sub = m.group(1), m.group(2), m.group(3)
        got = meta[field]
        if idx is not None:
            got = got[int(idx)]
        if sub is not None:
            got = got[sub]
        assert got == v, f"{k}: {got!r} != {v!r}"


def test_desc_normal_case(spark):
    base = DESC["baseCase"]
    s = _session(spark, base["beforeAction"])
    meta = s.table_meta("t1")
    _check_expect(meta, base["expect"]["data"], "$.table")
    # the full column_desc and ttl dict, not just spot fields
    assert meta["column_desc"][0] == {
        "name": "c1", "type": "varchar", "not_null": True}
    assert meta["column_key"][0]["ttl"] == {
        "ttl_type": "absandlat", "abs_ttl": 600, "lat_ttl": 10}


def test_desc_db_not_found(spark):
    s = _session(spark, DESC["baseCase"]["beforeAction"])
    with pytest.raises(DdlError, match="DB not found"):
        s.table_meta("t1", db=DB + "11")     # caseId 5


def test_desc_table_not_found(spark):
    s = _session(spark, DESC["baseCase"]["beforeAction"])
    with pytest.raises(DdlError, match="Table not found"):
        s.table_meta("null")                 # caseId 4


def test_show_tables_empty(spark):
    s = Session(spark, db=DB)
    assert s.list_table_metas() == []        # caseId 0


@pytest.mark.parametrize("case_id", [1, 2])
def test_show_tables_listing(spark, case_id):
    case = next(c for c in SHOW["cases"] if c["caseId"] == case_id)
    s = _session(spark, case["beforeAction"])
    metas = s.list_table_metas()
    expect = case["expect"]["data"]
    n = 1 + max(int(m.group(1)) for m in
                (re.match(r"\$\.tables\[(\d+)\]", k)
                 for k in expect) if m)
    assert len(metas) == n
    for i in range(n):
        _check_expect(metas[i], expect, f"$.tables[{i}]")
    if case_id == 2:
        # ttl dicts carry ONLY the bounds their type defines
        assert metas[0]["column_key"][0]["ttl"] == {
            "ttl_type": "absolute", "abs_ttl": 0}
        assert metas[1]["column_key"][0]["ttl"] == {
            "ttl_type": "latest", "lat_ttl": 1000}


def test_show_tables_db_not_found(spark):
    s = Session(spark, db=DB)
    with pytest.raises(DdlError, match="DB not found"):
        s.list_table_metas(db=DB + "11")     # caseId 6


def test_routing_negatives_enumerated():
    """Every corpus case is either replayed above or an HTTP-routing
    negative ('no match method' — bad uri/verb, no catalog semantics).
    Nothing else exists, so nothing skips silently."""
    def routing_only(c):
        blocks = [c.get("expect", {}).get("data", {})] + [
            u.get("data", {}) for u in c.get("uriExpect") or []]
        msgs = {b.get("msg") for b in blocks if b}
        return msgs and msgs <= {"no match method", "DB not found",
                                 "Table not found"}
    replayed_desc = {0, 3, 4, 5}
    replayed_show = {0, 1, 2, 5, 6}
    for data, replayed in ((DESC, replayed_desc), (SHOW, replayed_show)):
        for c in data["cases"]:
            if c["caseId"] in replayed:
                continue
            assert routing_only(c), (c["caseId"], c.get("desc"))
