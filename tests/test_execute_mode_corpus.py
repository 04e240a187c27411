"""Replay cases/function/v040/test_execute_mode.yaml through the
Session surface (SET @@SESSION.execute_mode + SHOW VARIABLES + the
insert/select round-trip under each mode).

Classification:
- ids 0/1/4/5 value-check: the SET takes effect (SHOW VARIABLES carries
  the expected row; the inserted row reads back under either mode —
  the batch engine has one execution path, which IS the reference's
  offline path);
- id 2 (`set @@SESSION.execute_olol`) — the reference ACCEPTS the
  statement but silently drops unknown session keys
  (sql_cluster_router.cc:2595-2599 returns OK before
  session_variables_ is written), so the corpus' `success: false`
  materializes as the SHOW VARIABLES expectation failing; we assert
  exactly that: no error, and no execute_olol row;
- id 3 is byte-identical to id 0 but marked `success: false` — a
  corpus-internal inconsistency (same statements, opposite
  expectation); documented here, not replayed.
"""

import datetime

import yaml

from openmldb_spark.sources.session import Session
from conftest import corpus_path

CASE_FILE = corpus_path("cases/function/v040/test_execute_mode.yaml")

with open(CASE_FILE) as f:
    CASES = {c["id"]: c for c in yaml.safe_load(f)["cases"]}


def _vars(sess):
    rows = sess.execute("show variables").collect()
    return {r[0]: r[1] for r in rows}


def test_id0_set_online(spark):
    s = Session(spark, db="test_zw")
    s.execute('set @@SESSION.execute_mode="online"')
    assert _vars(s)["execute_mode"] == "online"


def test_id1_set_offline(spark):
    s = Session(spark, db="test_zw")
    s.execute('set @@SESSION.execute_mode="offline"')
    assert _vars(s)["execute_mode"] == "offline"


def test_id2_unknown_session_key_silently_dropped(spark):
    s = Session(spark, db="test_zw")
    s.execute('set @@SESSION.execute_olol = "offline"')   # no error
    assert "execute_olol" not in _vars(s)


def test_id3_is_corpus_inconsistency():
    """id 3's statements are identical to id 0's (modulo whitespace
    around '=') yet it expects failure — pin the fact so the exclusion
    stays auditable."""
    norm = lambda xs: ["".join(x.lower().split()) for x in xs]  # noqa: E731
    assert norm(CASES[3]["sqls"]) == norm(CASES[0]["sqls"])
    assert CASES[3]["expect"] == {"success": False}
    assert CASES[0]["expect"]["rows"] == [["execute_mode", "online"]]


def _roundtrip(spark, case_id, mode, expected):
    s = Session(spark, db="test_zw")
    s.execute("create table t0 (c1 string, c2 smallint, c3 int, "
              "c4 timestamp)")
    for stmt in CASES[case_id]["sqls"]:
        s.execute(stmt.replace("{0}", "t0").rstrip(";"))
    rows = [tuple(r) for r in s.table("t0").collect()]
    want_ts = datetime.datetime.utcfromtimestamp(expected[3] / 1000)
    assert rows == [(expected[0], expected[1], expected[2], want_ts)]
    assert _vars(s)["execute_mode"] == mode


def test_id4_online_insert_select(spark):
    _roundtrip(spark, 4, "online", ["aa", 1, 2, 1590738989000])


def test_id5_offline_insert_select(spark):
    _roundtrip(spark, 5, "offline", ["bb", 2, 3, 1590738989000])
