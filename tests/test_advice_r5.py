"""Round-5 advisor regression tests.

Each test pins one of the ADVICE.md round-4 findings:
1. long_window_agg pins its nondeterministic __rid assignment with an
   eager localCheckpoint so the four consuming subtrees can never bind
   the same id to different rows (medium).
2. dbapi executemany falls back to per-row execution when a multi-row
   batch statement fails, matching the reference's partial-failure
   behavior: rows before the bad row insert, the error localizes (low).
3. request_features bounds its persisted request batch to one per
   session instead of accumulating pinned storage (low).
4. _read_with_schema accepts a parquet file whose columns match the
   table in a different order — reordered via select, not rejected
   (low).
5. The unordered LAST JOIN determinism fallback skips unorderable
   right columns (map<...>) instead of raising AnalysisException (low).
"""

import pytest
import pyspark.sql.functions as F

from openmldb_spark.transcripts import transcripts_df


# -- 1. long_window_agg __rid pinned ---------------------------------------

def test_long_window_agg_rid_lineage_truncated(spark, sf_dir):
    """The plan downstream of the __rid assignment must read a
    materialized RDD (localCheckpoint), not re-derive the
    monotonically_increasing_id lineage per subtree."""
    from openmldb_spark.operators.preagg import build_preagg, long_window_agg
    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "ts_ms", "value")
    p = build_preagg(t, ["conv_id"], "ts_ms", "value", 600_000)
    out = long_window_agg(t, p, ["conv_id"], "ts_ms", "value",
                          3_600_000, 600_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the checkpointed rows surface as LogicalRDD scans; the raw
    # nondeterministic id must not appear downstream of them
    assert "LogicalRDD" in plan
    assert "monotonically_increasing_id" not in plan


def test_long_window_agg_still_correct_with_duplicates(spark):
    from openmldb_spark.operators.preagg import build_preagg, long_window_agg
    rows = [("c", 1_000, 5.0), ("c", 1_000, 5.0), ("c", 700_000, 2.0)]
    df = spark.createDataFrame(rows, "conv_id string, ts_ms long, value double")
    p = build_preagg(df, ["conv_id"], "ts_ms", "value", 600_000)
    got = {(r.ts_ms, r.w_sum, r.w_cnt)
           for r in long_window_agg(df, p, ["conv_id"], "ts_ms", "value",
                                    3_600_000, 600_000).collect()}
    # both duplicate rows keep their own frame (sum includes the twin)
    assert (1_000, 10.0, 2) in got
    assert (700_000, 12.0, 3) in got


# -- 2. executemany per-row fallback on batch failure ----------------------

def test_executemany_bad_row_does_not_abort_batch(spark):
    from openmldb_spark.dbapi import DatabaseError, connect
    db = connect("advr5", spark=spark)
    cur = db.cursor()
    cur.execute("create table em (a int, b string)")
    rows = [(0, "s0"), (1, "s1"), (2,), (3, "s3")]   # row 2: wrong arity
    with pytest.raises(DatabaseError):
        cur.executemany("insert into em values (?, ?)", rows,
                        batch_number=4)
    got = sorted(cur.execute("select * from em").fetchall())
    # reference behavior: every row BEFORE the failure inserted
    assert got == [(0, "s0"), (1, "s1")]


def test_executemany_all_good_rows_still_batch(spark):
    from openmldb_spark.dbapi import connect
    db = connect("advr5b", spark=spark)
    cur = db.cursor()
    cur.execute("create table em2 (a int)")
    cur.executemany("insert into em2 values (?)",
                    [(i,) for i in range(5)], batch_number=2)
    assert sorted(cur.execute("select * from em2").fetchall()) == \
        [(i,) for i in range(5)]


# -- 3. request_features batch pinned once, no pinned accumulation ---------

def test_request_features_batch_checkpointed_not_persisted(spark, sf_dir):
    """The request batch is pinned by an eager localCheckpoint: the
    bounds scan and the feature job read the SAME materialized rows
    (a persist was both leak-prone and wrong — CacheManager keys by
    plan equality, so equal-plan batches uncached each other), and
    checkpointed RDDs free on GC, so repeated calls leave no growing
    pinned storage."""
    from openmldb_spark.operators import request as req
    from openmldb_spark.plans.specs import Agg, WindowSpec
    t = transcripts_df(spark, sf_dir).select("conv_id", "ts_ms", "value")
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding=3_600_000)
    aggs = [Agg("sum", "value", "s")]
    out = req.request_features(t.limit(20), t, spec, aggs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan          # batch reads the pinned rows
    assert out.count() == 20
    # equal-plan repeat works and stays correct (the old persist-swap
    # pattern uncached the live batch here)
    assert req.request_features(t.limit(20), t, spec, aggs).count() == 20


# -- 4. parquet LOAD accepts reordered columns -----------------------------

def test_load_parquet_reordered_columns_ok(spark, tmp_path):
    import pyspark.sql.types as T
    from openmldb_spark.sources.io import _read_with_schema
    path = str(tmp_path / "re.parquet")
    spark.createDataFrame([("x", 1)], "b string, a int") \
        .write.parquet(path)
    schema = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
    out = _read_with_schema(spark, path, "parquet", {}, schema)
    assert out.columns == ["a", "b"]
    assert out.collect() == [(1, "x")]


def test_load_parquet_missing_column_still_rejected(spark, tmp_path):
    import pyspark.sql.types as T
    from openmldb_spark.sources.io import _read_with_schema
    path = str(tmp_path / "miss.parquet")
    spark.createDataFrame([(1,)], "a int").write.parquet(path)
    schema = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
    with pytest.raises(ValueError, match="missing"):
        _read_with_schema(spark, path, "parquet", {}, schema)


# -- 5. unordered LAST JOIN fallback skips unorderable columns -------------

def test_last_join_unordered_map_column_does_not_crash(spark):
    from openmldb_spark.operators.lastjoin import last_join
    from openmldb_spark.plans.specs import LastJoinSpec
    left = spark.createDataFrame([("c", 1)], "k string, lid int")
    right = spark.createDataFrame(
        [("c", "a", {"m": 1}), ("c", "z", {"m": 2})],
        "k string, cfg string, meta map<string,int>")
    for _ in range(3):
        got = last_join(left, right, LastJoinSpec(left_on=["k"])).collect()
        # deterministic on the remaining orderable column (cfg desc)
        assert got[0].cfg == "z"


def test_last_join_unordered_only_map_columns_falls_back(spark):
    from openmldb_spark.operators.lastjoin import last_join
    from openmldb_spark.plans.specs import LastJoinSpec
    left = spark.createDataFrame([("c", 1)], "k string, lid int")
    right = spark.createDataFrame(
        [("c", {"m": 1})], "k string, meta map<string,int>")
    out = last_join(left, right, LastJoinSpec(left_on=["k"])).collect()
    assert len(out) == 1 and out[0].meta == {"m": 1}


def test_last_join_unordered_case_insensitive_right_cols(spark):
    """right_cols that resolve only case-insensitively (Spark's default
    resolution) must not KeyError in the determinism fallback."""
    from openmldb_spark.operators.lastjoin import last_join
    from openmldb_spark.plans.specs import LastJoinSpec
    left = spark.createDataFrame([("c", 1)], "k string, lid int")
    right = spark.createDataFrame(
        [("c", "a"), ("c", "z")], "k string, cfg string")
    got = last_join(left, right, LastJoinSpec(left_on=["k"]),
                    right_cols=["CFG"]).collect()
    assert got[0]["CFG" if "CFG" in got[0].asDict() else "cfg"] == "z"
