"""Query registry — the driver-facing catalog of implemented operators.

Each entry pairs a PySpark implementation (built from the engine's
operators) with an ANSI-SQL oracle that DuckDB can execute over the same
parquet tables. The transcript table itself is *derived* deterministically
from the driver's ``events`` parquet by a CTE that runs identically on
Spark SQL and DuckDB (openmldb_spark/transcripts.py), so every feature
query gets a real value-level check.

Float policy: aggregates that accumulate (sum/avg) are rounded to 3
decimals on BOTH sides; pass-through doubles (min/max/lag/weight) compare
exactly because no accumulation happens.

Reference semantics per query are cited inline (file:line into
/root/reference).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from openmldb_spark.plans.specs import Agg, LastJoinSpec, SessionizeSpec, WindowSpec
from openmldb_spark.operators.window import window_agg
from openmldb_spark.operators.lastjoin import last_join, asof_join_kernel
from openmldb_spark.operators.sessionize import sessionize, session_stats
from openmldb_spark.transcripts import (
    skewed_sql,
    transcripts_df,
    transcripts_sql,
    transcripts_updates_sql,
    updates_df,
)

MIN_30 = 1_800_000
MIN_10 = 600_000
HOUR = 3_600_000

KEY = ["conv_id", "turn_idx"]


def _round3(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 3))
    return df


# --------------------------------------------------------------------------
# Window aggregation (SURVEY.md §2.5; WindowAggPlan.scala:53-191)
# --------------------------------------------------------------------------

def q_window_rows_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS_RANGE 30m PRECEDING — kernel tier (HistoryWindow semantics)."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v"),
            Agg("min", "value", "min_v"), Agg("max", "value", "max_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")
    out = _round3(out, ["sum_v"])
    # avg as round(sum)/cnt: both engines divide bitwise-identical doubles,
    # so no rounding-boundary sensitivity (avg itself is sum/cnt anyway)
    return out.withColumn("avg_v", F.col("sum_v") / F.col("cnt_v"))


SQL_WINDOW_ROWS_RANGE = transcripts_sql(f"""
SELECT conv_id, turn_idx,
       ROUND(SUM(value) OVER w, 3) AS sum_v,
       COUNT(value) OVER w AS cnt_v,
       MIN(value) OVER w AS min_v,
       MAX(value) OVER w AS max_v,
       ROUND(SUM(value) OVER w, 3) / (COUNT(value) OVER w) AS avg_v
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
             RANGE BETWEEN {MIN_30} PRECEDING AND CURRENT ROW)
""")


def q_window_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS 5 PRECEDING — kernel tier."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=5, tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v"),
            Agg("min", "value", "min_v"), Agg("max", "value", "max_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")
    return _round3(out, ["sum_v"])


SQL_WINDOW_ROWS = transcripts_sql("""
SELECT conv_id, turn_idx,
       ROUND(SUM(value) OVER w, 3) AS sum_v,
       COUNT(value) OVER w AS cnt_v,
       MIN(value) OVER w AS min_v,
       MAX(value) OVER w AS max_v
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
""")


def q_window_builtin_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same frame through the pure-JVM builtin tier (whole-stage codegen)."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY, tier="builtin")
    return _round3(out, ["sum_v"])


SQL_WINDOW_BUILTIN = transcripts_sql(f"""
SELECT conv_id, turn_idx,
       ROUND(SUM(value) OVER w, 3) AS sum_v,
       COUNT(value) OVER w AS cnt_v
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
             RANGE BETWEEN {MIN_30} PRECEDING AND CURRENT ROW)
""")


def q_window_maxsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS_RANGE 30m PRECEDING MAXSIZE 3 (mem_catalog.h:430-438)."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m", max_size=3,
                      tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")
    return _round3(out, ["sum_v"])


SQL_WINDOW_MAXSIZE = transcripts_sql(f"""
, cand AS (
  SELECT t.conv_id, t.turn_idx, h.value,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, t.turn_idx
                            ORDER BY h.ts_ms DESC) AS rk
  FROM transcripts t JOIN transcripts h
    ON h.conv_id = t.conv_id
   AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {MIN_30}
)
SELECT conv_id, turn_idx, ROUND(SUM(value), 3) AS sum_v,
       COUNT(value) AS cnt_v
FROM cand WHERE rk <= 3 GROUP BY conv_id, turn_idx
""")


def q_window_exclude_current_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCLUDE CURRENT_TIME over an hour-truncated (duplicate-ts) order key
    (BufferCurrentTimeBuffer, mem_catalog.h:459-468)."""
    t = transcripts_df(spark, sf_dir).withColumn(
        "ts_b", F.col("ts_ms") - F.col("ts_ms") % HOUR
    )
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_b",
                      frame="rows_range", preceding="2h",
                      exclude_current_time=True, tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")
    return _round3(out, ["sum_v"])


SQL_WINDOW_EXCLUDE_CT = transcripts_sql(f"""
, tb AS (
  SELECT conv_id, turn_idx, value, ts_ms - ts_ms % {HOUR} AS ts_b
  FROM transcripts
)
SELECT t.conv_id, t.turn_idx,
       ROUND(t.value + COALESCE(SUM(h.value), 0), 3) AS sum_v,
       CAST(1 + COUNT(h.value) AS BIGINT) AS cnt_v
FROM tb t LEFT JOIN tb h
  ON h.conv_id = t.conv_id
 AND h.ts_b < t.ts_b AND h.ts_b >= t.ts_b - {2 * HOUR}
GROUP BY t.conv_id, t.turn_idx, t.value
""")


def q_window_end_offset_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two frames stitched on the natural key (the reference's ConcatJoin
    role, SURVEY.md §2.3): [30m, 10m] PRECEDING and (OPEN 30m, CURRENT]."""
    t = transcripts_df(spark, sf_dir)
    mid = window_agg(
        t,
        WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                   frame="rows_range", preceding="30m", end_offset="10m",
                   tiebreak=("turn_idx",)),
        [Agg("sum", "value", "sum_mid"), Agg("count", "value", "cnt_mid")],
        keep_cols=KEY, tier="kernel",
    )
    op = window_agg(
        t,
        WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                   frame="rows_range", preceding="30m", start_open=True,
                   tiebreak=("turn_idx",)),
        [Agg("sum", "value", "sum_open"), Agg("count", "value", "cnt_open")],
        keep_cols=KEY, tier="kernel",
    )
    out = mid.join(op, KEY)
    return _round3(out, ["sum_mid", "sum_open"])


SQL_WINDOW_END_OFFSET_OPEN = transcripts_sql(f"""
SELECT t.conv_id, t.turn_idx,
       ROUND(COALESCE(
           SUM(CASE WHEN h.ts_ms <= t.ts_ms - {MIN_10} THEN h.value END),
           0), 3) AS sum_mid,
       COUNT(CASE WHEN h.ts_ms <= t.ts_ms - {MIN_10} THEN h.value END)
           AS cnt_mid,
       ROUND(COALESCE(
           SUM(CASE WHEN h.ts_ms > t.ts_ms - {MIN_30} THEN h.value END),
           0), 3) AS sum_open,
       COUNT(CASE WHEN h.ts_ms > t.ts_ms - {MIN_30} THEN h.value END)
           AS cnt_open
FROM transcripts t LEFT JOIN transcripts h
  ON h.conv_id = t.conv_id
 AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {MIN_30}
GROUP BY t.conv_id, t.turn_idx
""")


# --------------------------------------------------------------------------
# WINDOW UNION backfill (SURVEY.md §2.5; WindowAggPlanUtil.scala:50-92)
# --------------------------------------------------------------------------

def q_window_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame over primary ∪ updates; only primary rows emit."""
    t = transcripts_df(spark, sf_dir)
    u = updates_df(spark, sf_dir).select(
        "conv_id", "ts_ms", F.col("weight").alias("value")
    )
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY, union=[u], tier="kernel")
    return _round3(out, ["sum_v"])


SQL_WINDOW_UNION = transcripts_updates_sql(f"""
, uni AS (
  SELECT conv_id, ts_ms, value FROM transcripts
  UNION ALL
  SELECT conv_id, ts_ms, weight AS value FROM updates
)
SELECT t.conv_id, t.turn_idx,
       ROUND(SUM(h.value), 3) AS sum_v,
       COUNT(h.value) AS cnt_v
FROM transcripts t JOIN uni h
  ON h.conv_id = t.conv_id
 AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {MIN_30}
GROUP BY t.conv_id, t.turn_idx
""")


def q_window_union_instance_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSTANCE_NOT_IN_WINDOW: only union rows buffer; anchor joins its own
    frame (WindowAggPlan.scala:589-593; test_window_union.yaml id 13)."""
    t = transcripts_df(spark, sf_dir)
    u = updates_df(spark, sf_dir).select(
        "conv_id", "ts_ms", F.col("weight").alias("value")
    )
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      instance_not_in_window=True, tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY, union=[u], tier="kernel")
    return _round3(out, ["sum_v"])


SQL_WINDOW_UNION_INIW = transcripts_updates_sql(f"""
SELECT t.conv_id, t.turn_idx,
       ROUND(t.value + COALESCE(SUM(u.weight), 0), 3) AS sum_v,
       CAST(1 + COUNT(u.weight) AS BIGINT) AS cnt_v
FROM transcripts t LEFT JOIN updates u
  ON u.conv_id = t.conv_id
 AND u.ts_ms <= t.ts_ms AND u.ts_ms >= t.ts_ms - {MIN_30}
GROUP BY t.conv_id, t.turn_idx, t.value
""")


# --------------------------------------------------------------------------
# LAST JOIN / as-of join (SURVEY.md §2.3; JoinPlan.scala:151-196)
# --------------------------------------------------------------------------

def q_last_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST JOIN ORDER BY ts: newest update at or before each turn."""
    t = transcripts_df(spark, sf_dir).select(*KEY, "ts_ms")
    u = updates_df(spark, sf_dir).select("conv_id", "ts_ms", "cfg", "weight")
    spec = LastJoinSpec(left_on=["conv_id"], order_by="ts_ms",
                        condition="__r_ord <= ts_ms", tiebreak=("cfg",))
    out = last_join(t, u, spec, right_cols=["cfg", "weight"])
    return out.select(*KEY, "cfg", "weight")


SQL_LAST_JOIN = transcripts_updates_sql("""
, j AS (
  SELECT t.conv_id, t.turn_idx, u.cfg, u.weight,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, t.turn_idx
                            ORDER BY u.ts_ms DESC, u.cfg DESC) AS rk
  FROM transcripts t LEFT JOIN updates u
    ON u.conv_id = t.conv_id AND u.ts_ms <= t.ts_ms
)
SELECT conv_id, turn_idx, cfg, weight FROM j WHERE rk = 1
""")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of kernel: one union + running-window pass (one exchange, no
    Python, O(n+m) per key) — the plan for two huge sides; same
    semantics as q_last_join."""
    t = transcripts_df(spark, sf_dir).select(*KEY, "ts_ms")
    u = updates_df(spark, sf_dir).select("conv_id", "ts_ms", "cfg", "weight")
    out = asof_join_kernel(t, u, on=["conv_id"], left_ts="ts_ms",
                           right_ts="ts_ms", right_cols=["cfg", "weight"])
    return out.select(*KEY, "cfg", "weight")


SQL_ASOF_JOIN = SQL_LAST_JOIN


def q_last_join_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered LAST JOIN — one deterministic match per left row
    (JoinPlan.scala:190-196; tie pinned by tiebreak, newest cfg)."""
    t = transcripts_df(spark, sf_dir).select(*KEY)
    u = updates_df(spark, sf_dir).select("conv_id", "cfg", "weight",
                                         F.col("ts_ms").alias("u_ts"))
    spec = LastJoinSpec(left_on=["conv_id"], order_by=None,
                        tiebreak=("u_ts",))
    out = last_join(t, u, spec, right_cols=["cfg", "weight"])
    return out.select(*KEY, "cfg", "weight")


SQL_LAST_JOIN_UNORDERED = transcripts_updates_sql("""
, j AS (
  SELECT t.conv_id, t.turn_idx, u.cfg, u.weight,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, t.turn_idx
                            ORDER BY u.ts_ms DESC) AS rk
  FROM transcripts t LEFT JOIN updates u ON u.conv_id = t.conv_id
)
SELECT conv_id, turn_idx, cfg, weight FROM j WHERE rk = 1
""")


def q_window_skewed_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed conversation sizes (~200×) + duplicate timestamps: frame
    admits same-ts rows buffered earlier (sort = ord, primary, tiebreak —
    WindowAggPlan.windowPartition:322-343) and EXCLUDE CURRENT_TIME drops
    the same-ts peers. bucket_ms chunking exercises the skew path."""
    from openmldb_spark.transcripts import skewed_df

    t = skewed_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="5m",
                      tiebreak=("turn_idx",))
    inc = window_agg(t, spec, [Agg("sum", "value", "sum_v"),
                               Agg("count", "value", "cnt_v")],
                     keep_cols=KEY, tier="kernel", bucket_ms=600_000)
    spec_x = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                        frame="rows_range", preceding="5m",
                        exclude_current_time=True, tiebreak=("turn_idx",))
    exc = window_agg(t, spec_x, [Agg("sum", "value", "sum_x"),
                                 Agg("count", "value", "cnt_x")],
                     keep_cols=KEY, tier="kernel")
    out = inc.join(exc, KEY)
    return _round3(out, ["sum_v", "sum_x"])


SQL_WINDOW_SKEWED_TIES = skewed_sql(f"""
SELECT t.conv_id, t.turn_idx,
       ROUND(SUM(CASE WHEN h.ts_ms < t.ts_ms
                       OR (h.ts_ms = t.ts_ms AND h.turn_idx <= t.turn_idx)
                 THEN h.value END), 3) AS sum_v,
       COUNT(CASE WHEN h.ts_ms < t.ts_ms
                   OR (h.ts_ms = t.ts_ms AND h.turn_idx <= t.turn_idx)
             THEN h.value END) AS cnt_v,
       ROUND(t.value + COALESCE(
           SUM(CASE WHEN h.ts_ms < t.ts_ms THEN h.value END), 0), 3) AS sum_x,
       CAST(1 + COUNT(CASE WHEN h.ts_ms < t.ts_ms THEN h.value END)
            AS BIGINT) AS cnt_x
FROM skewed t JOIN skewed h
  ON h.conv_id = t.conv_id
 AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - 300000
GROUP BY t.conv_id, t.turn_idx, t.value
""")


def q_long_window_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 3 h ROWS_RANGE window, the shape the reference's
    LongWindowOptimized pass pre-aggregates for its online bucket store.
    Batch needs no bucket partials: the exact JVM lowering
    (window._jvm_window) does O(1) work per row after one sort, whatever
    the window depth."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding=3 * HOUR,
                      tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v")]
    out = window_agg(t, spec, aggs, keep_cols=KEY)
    return _round3(out, ["sum_v"])


# ANSI RANGE agrees with OpenMLDB's buffered-ties rule only because ts_ms
# strictly increases within a conv_id (steps >= 1000 ms); ties would differ.
SQL_LONG_WINDOW_PREAGG = transcripts_sql(f"""
SELECT conv_id, turn_idx,
       ROUND(SUM(value) OVER w, 3) AS sum_v,
       COUNT(value) OVER w AS cnt_v
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
             RANGE BETWEEN {3 * HOUR} PRECEDING AND CURRENT ROW)
""")


def q_request_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Request-mode analog (engine.h RequestRunSession / kRunnerRequestUnion):
    point-in-time features for one anchor per conversation, frames over
    stored history only + the anchor itself."""
    from openmldb_spark.operators.request import request_features

    t = transcripts_df(spark, sf_dir)
    req = t.where(F.col("turn_idx") == 40)
    hist = t.where(F.col("turn_idx") != 40)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "sum_v"), Agg("count", "value", "cnt_v")]
    out = request_features(req, hist, spec, aggs, keep_cols=KEY)
    return _round3(out, ["sum_v"])


SQL_REQUEST_MODE = transcripts_sql(f"""
, req AS (SELECT * FROM transcripts WHERE turn_idx = 40)
SELECT r.conv_id, r.turn_idx,
       ROUND(r.value + COALESCE(SUM(h.value), 0), 3) AS sum_v,
       CAST(1 + COUNT(h.value) AS BIGINT) AS cnt_v
FROM req r LEFT JOIN transcripts h
  ON h.conv_id = r.conv_id AND h.turn_idx <> 40
 AND h.ts_ms <= r.ts_ms AND h.ts_ms >= r.ts_ms - {MIN_30}
GROUP BY r.conv_id, r.turn_idx, r.value
""")


# --------------------------------------------------------------------------
# Sessionization + lag/lead (SURVEY.md §2.9 — our extension)
# --------------------------------------------------------------------------

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark, sf_dir)
    spec = SessionizeSpec(partition_by=["conv_id"], order_by="ts_ms",
                          gap_ms="5m")
    return sessionize(t, spec).select(*KEY, "session_id")


SQL_SESSIONIZE = transcripts_sql("""
, lagd AS (
  SELECT conv_id, turn_idx, ts_ms,
         LAG(ts_ms) OVER (PARTITION BY conv_id ORDER BY ts_ms) AS prev_ts
  FROM transcripts
)
SELECT conv_id, turn_idx,
       CAST(SUM(CASE WHEN ts_ms - prev_ts > 300000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY ts_ms
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM lagd
""")


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark, sf_dir)
    spec = SessionizeSpec(partition_by=["conv_id"], order_by="ts_ms",
                          gap_ms="5m")
    return session_stats(t, spec, value_col="value").select(
        "conv_id", "session_id", "n_turns", "start_ms", "end_ms",
        "span_ms", "sum_value",
    )


SQL_SESSION_STATS = transcripts_sql("""
, lagd AS (
  SELECT conv_id, ts_ms, value,
         LAG(ts_ms) OVER (PARTITION BY conv_id ORDER BY ts_ms) AS prev_ts
  FROM transcripts
), sess AS (
  SELECT conv_id, ts_ms, value,
         CAST(SUM(CASE WHEN ts_ms - prev_ts > 300000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY ts_ms
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM lagd
)
SELECT conv_id, session_id, COUNT(*) AS n_turns,
       MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
       MAX(ts_ms) - MIN(ts_ms) AS span_ms,
       ROUND(SUM(value), 4) AS sum_value
FROM sess GROUP BY conv_id, session_id
""")


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value in secondary-sorted groups (builtin tier)."""
    t = transcripts_df(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("ts_ms", "turn_idx")
    return t.select(
        *KEY,
        F.lag("value", 1).over(w).alias("lag1"),
        F.lag("role", 2).over(w).alias("lag_role2"),
        F.lead("value", 1).over(w).alias("lead1"),
        F.first("value").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("first_v"),
    )


SQL_LAG_LEAD = transcripts_sql("""
SELECT conv_id, turn_idx,
       LAG(value, 1) OVER w AS lag1,
       LAG(role, 2) OVER w AS lag_role2,
       LEAD(value, 1) OVER w AS lead1,
       FIRST_VALUE(value) OVER (PARTITION BY conv_id ORDER BY ts_ms, turn_idx
                                ROWS UNBOUNDED PRECEDING) AS first_v
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms, turn_idx)
""")


# --------------------------------------------------------------------------
# Frame-scoped UDAFs: top / top_n_frequency / *_cate / distinct_count
# (default_udf_library.cc:2389-2414, feature_zero_def.cc:438-665)
# --------------------------------------------------------------------------

def q_topn_frequency_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="1h",
                      tiebreak=("turn_idx",))
    aggs = [Agg("top_n_frequency", "tool", "top_tools", param=2),
            Agg("distinct_count", "tool", "n_tools")]
    return window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")


SQL_TOPN_FREQUENCY = transcripts_sql(f"""
, cand AS (
  SELECT t.conv_id, t.turn_idx, h.tool, COUNT(*) AS c
  FROM transcripts t JOIN transcripts h
    ON h.conv_id = t.conv_id
   AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {HOUR}
  WHERE h.tool IS NOT NULL
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY c DESC, tool ASC) AS rk
  FROM cand
), agg AS (
  SELECT conv_id, turn_idx,
         STRING_AGG(tool, ',' ORDER BY rk) AS top_tools,
         COUNT(*) AS cnt
  FROM ranked WHERE rk <= 2 GROUP BY 1, 2
), nt AS (
  -- distinct_count folds NULL into the type default (the reference's
  -- DistinctCountDef takes non-nullable T): null tool counts as ''
  SELECT t.conv_id, t.turn_idx,
         COUNT(DISTINCT COALESCE(h.tool, '')) AS n_tools
  FROM transcripts t LEFT JOIN transcripts h
    ON h.conv_id = t.conv_id
   AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {HOUR}
  GROUP BY 1, 2
)
-- frame always holds the anchor row, so fz_topn_frequency pads with
-- literal NULL entries up to k=2 (FZTopNFrequency::Output)
SELECT n.conv_id, n.turn_idx,
       ltrim(COALESCE(a.top_tools, '')
             || repeat(',NULL', 2 - CAST(COALESCE(a.cnt, 0) AS INT)),
             ',') AS top_tools,
       n.n_tools
FROM nt n LEFT JOIN agg a
  ON a.conv_id = n.conv_id AND a.turn_idx = n.turn_idx
""")


def q_top_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top(turn_idx, 3): csv of 3 largest frame values
    (TopKDef, default_udf_library.cc:2389-2414)."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="1h",
                      tiebreak=("turn_idx",))
    aggs = [Agg("top", "turn_idx", "top3", param=3)]
    return window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")


SQL_TOP_WINDOW = transcripts_sql(f"""
, cand AS (
  SELECT t.conv_id, t.turn_idx, h.turn_idx AS hv,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, t.turn_idx
                            ORDER BY h.turn_idx DESC) AS rk
  FROM transcripts t JOIN transcripts h
    ON h.conv_id = t.conv_id
   AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {HOUR}
)
SELECT conv_id, turn_idx,
       STRING_AGG(CAST(hv AS VARCHAR), ',' ORDER BY rk) AS top3
FROM cand WHERE rk <= 3 GROUP BY conv_id, turn_idx
""")


def q_window_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fz_join(fz_window_split(role, ','), ','): frame rows newest-first
    (feature_zero_def.cc:181-230 + :636-650)."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      tiebreak=("turn_idx",))
    aggs = [Agg("window_split", "role", "roles", delim=",")]
    return window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")


SQL_WINDOW_SPLIT = transcripts_sql(f"""
SELECT t.conv_id, t.turn_idx,
       STRING_AGG(h.role, ',' ORDER BY h.ts_ms DESC) AS roles
FROM transcripts t JOIN transcripts h
  ON h.conv_id = t.conv_id
 AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {MIN_30}
GROUP BY t.conv_id, t.turn_idx
""")


def q_count_cate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_cate(value, role): per-category counts within the frame,
    emitted as "k:v,..." sorted by key (*_by_category_def.cc)."""
    t = transcripts_df(spark, sf_dir)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="1h",
                      tiebreak=("turn_idx",))
    aggs = [Agg("count_cate", "value", "role_counts", cate="role")]
    return window_agg(t, spec, aggs, keep_cols=KEY, tier="kernel")


SQL_COUNT_CATE = transcripts_sql(f"""
, cand AS (
  SELECT t.conv_id, t.turn_idx, h.role AS k, COUNT(h.value) AS c
  FROM transcripts t JOIN transcripts h
    ON h.conv_id = t.conv_id
   AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {HOUR}
  GROUP BY 1, 2, 3
)
SELECT conv_id, turn_idx,
       STRING_AGG(k || ':' || CAST(c AS VARCHAR), ',' ORDER BY k)
           AS role_counts
FROM cand GROUP BY conv_id, turn_idx
""")


# --------------------------------------------------------------------------
# Group aggregation / joins / HAVING (SURVEY.md §2.2-2.4)
# --------------------------------------------------------------------------

def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape: scan-filter-groupagg-having, all builtin
    (GroupByAggregationPlan.scala:38-170 → df.groupBy().agg())."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            (F.round(F.sum("l_discount"), 3) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") > 10)
    )
    return out


SQL_GROUPBY_AGG = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       ROUND(SUM(l_discount), 3) / COUNT(*) AS avg_disc,
       COUNT(*) AS cnt
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 10
"""


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + broadcast dim + group agg: revenue per nation."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("cnt"))
    )
    return out


SQL_JOIN_AGG = """
SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS cnt
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Sort / limit / distinct / const project (SURVEY.md §2.2, §2.6;
# SortByPlan.scala:24-30, LimitPlan.scala:25-30, ConstProjectPlan.scala)
# --------------------------------------------------------------------------

def q_sort_limit_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT roles per conversation, globally sorted, limited."""
    t = transcripts_df(spark, sf_dir)
    return (
        t.select("conv_id", "role").distinct()
        .orderBy("conv_id", "role")
        .limit(50)
    )


SQL_SORT_LIMIT_DISTINCT = transcripts_sql("""
SELECT DISTINCT conv_id, role FROM transcripts
ORDER BY conv_id, role LIMIT 50
""")


def q_const_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT without FROM (ConstProjectPlan cast matrix)."""
    return spark.range(1).select(
        F.lit(42).cast("int").alias("i"),
        F.lit(3.5).cast("double").alias("d"),
        F.lit("x").alias("s"),
        F.lit(True).alias("b"),
        F.lit(None).cast("string").alias("n"),
        F.concat(F.lit("a"), F.lit("b")).alias("cat"),
        (F.lit(7) % F.lit(3)).cast("int").alias("m"),
    )


SQL_CONST_PROJECT = """
SELECT CAST(42 AS INT) AS i, CAST(3.5 AS DOUBLE) AS d, 'x' AS s,
       TRUE AS b, CAST(NULL AS VARCHAR) AS n, 'a' || 'b' AS cat,
       CAST(7 % 3 AS INT) AS m
"""


# --------------------------------------------------------------------------
# Scalar function surface (SURVEY.md §2.8; default_udf_library.cc)
# --------------------------------------------------------------------------

def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/date/null functions from the OpenMLDB 112-builtin
    library, all compiled to Catalyst built-ins via functions/registry.py."""
    from openmldb_spark.functions.registry import fn

    t = transcripts_df(spark, sf_dir)
    ts = F.timestamp_millis(F.col("ts_ms"))
    return t.select(
        *KEY,
        fn("ucase")("role").alias("role_uc"),
        fn("substr")("text", F.lit(1), F.lit(10)).alias("text10"),
        fn("concat_ws")("-", F.col("role"), F.col("tool")).alias("rt"),
        fn("char_length")("text").alias("text_len"),
        fn("reverse")("role").alias("role_rev"),
        fn("replace")("role", "o", "0").alias("role_repl"),
        fn("strcmp")(F.col("role"), F.lit("tool")).alias("cmp_tool"),
        fn("abs")(F.col("value") - 50).alias("abs_v"),
        fn("floor")("value").cast("long").alias("floor_v"),
        fn("ceil")("value").cast("long").alias("ceil_v"),
        F.round(fn("sqrt")("value"), 6).alias("sqrt_v"),
        F.round(fn("ln")(F.col("value") + 1), 6).alias("ln_v"),
        fn("truncate")("value").alias("trunc_v"),
        fn("pow")(F.col("value"), 2.0).alias("pow_v"),
        fn("year")(ts).alias("y"),
        fn("month")(ts).alias("mo"),
        fn("day")(ts).alias("d"),
        fn("hour")(ts).alias("h"),
        fn("minute")(ts).alias("mi"),
        fn("dayofweek")(ts).alias("dow"),
        fn("if_null")(F.col("tool"), F.lit("none")).alias("tool_nn"),
        fn("is_null")("tool").alias("tool_isnull"),
        fn("nvl2")(F.col("tool"), F.lit(1), F.lit(0)).alias("has_tool"),
        fn("minimum")(F.col("value"), F.lit(50.0)).alias("min50"),
        fn("int32")(F.col("turn_idx") % 7).alias("mod7"),
    )


SQL_SCALAR_FUNCS = transcripts_sql("""
SELECT conv_id, turn_idx,
       UPPER(role) AS role_uc,
       SUBSTR(text, 1, 10) AS text10,
       CONCAT_WS('-', role, tool) AS rt,
       CAST(LENGTH(text) AS INT) AS text_len,
       REVERSE(role) AS role_rev,
       REPLACE(role, 'o', '0') AS role_repl,
       CASE WHEN role < 'tool' THEN -1 WHEN role > 'tool' THEN 1 ELSE 0 END
           AS cmp_tool,
       ABS(value - 50) AS abs_v,
       CAST(FLOOR(value) AS BIGINT) AS floor_v,
       CAST(CEIL(value) AS BIGINT) AS ceil_v,
       ROUND(SQRT(value), 6) AS sqrt_v,
       ROUND(LN(value + 1), 6) AS ln_v,
       TRUNC(value) AS trunc_v,
       POW(value, 2) AS pow_v,
       -- calendar parts at fixed UTC+8 (reference udf.cc TZ_OFFSET)
       CAST(YEAR(epoch_ms(ts_ms + 28800000)) AS INT) AS y,
       CAST(MONTH(epoch_ms(ts_ms + 28800000)) AS INT) AS mo,
       CAST(DAY(epoch_ms(ts_ms + 28800000)) AS INT) AS d,
       CAST(HOUR(epoch_ms(ts_ms + 28800000)) AS INT) AS h,
       CAST(MINUTE(epoch_ms(ts_ms + 28800000)) AS INT) AS mi,
       CAST(DAYOFWEEK(epoch_ms(ts_ms + 28800000)) + 1 AS INT) AS dow,
       COALESCE(tool, 'none') AS tool_nn,
       tool IS NULL AS tool_isnull,
       CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS has_tool,
       LEAST(value, 50.0) AS min50,
       CAST(turn_idx % 7 AS INT) AS mod7
FROM transcripts
""")


# --------------------------------------------------------------------------
# Training-data pipeline: dedup / similarity / text analysis
# (openmldb_spark/pipeline/*; first-class per the build brief)
# --------------------------------------------------------------------------

# DuckDB mirror of pipeline.text.tokens_col / shingles_col (k=3)
_DUCK_TOKS = ("list_filter(string_split_regex(regexp_replace(lower(text), "
              "'[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')")
_DUCK_SHINGLES = ("list_distinct([array_to_string(tk[i:i+2], ' ') "
                  "for i in generate_series(1, greatest(len(tk)-2, 0))])")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.dedup import dedup_exact
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_exact(d, ["text"], "doc_id")


SQL_DEDUP_EXACT = """
-- null-flag prefix mirrors dedup_exact's NULL-safe digest encoding
-- (chr(1) || value, NULL -> chr(0)); single key column so no joiner
SELECT md5(CASE WHEN text IS NULL THEN chr(0) ELSE chr(1) || text END)
         AS digest,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
FROM documents
GROUP BY 1
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.text import text_stats
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text_stats(d, "text", keep=["doc_id"])


SQL_TEXT_STATS = f"""
WITH toks AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS tk FROM documents
), base AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS INT) AS n_char,
         CAST(len(tk) AS INT) AS n_tok,
         CAST(LENGTH(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS INT) AS n_alnum,
         CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS n_digit,
         CAST(LENGTH(regexp_replace(text, '[^A-Z]', '', 'g')) AS INT) AS n_upper,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS INT) AS n_punct,
         CAST(LENGTH(regexp_replace(text, '[^ \\t\\n]', '', 'g')) AS INT) AS n_space,
         CAST(len(list_intersect(list_distinct(tk),
              ['the','and','of','to','in','is','that','it','for','with'])) AS INT) AS en_hits
  FROM toks
)
SELECT doc_id, n_char, n_tok, n_digit, n_upper, n_punct, n_space,
       ROUND(CAST(n_alnum AS DOUBLE) / GREATEST(n_tok, 1), 6) AS avg_tok_len,
       ROUND(CAST(en_hits AS DOUBLE) / GREATEST(n_tok, 1), 6) AS stop_ratio,
       ROUND(
         (CASE WHEN n_char < 20 THEN 0.0 ELSE 1.0 END)
         * (1.0 - LEAST(CAST(n_digit AS DOUBLE) / GREATEST(n_char, 1), 1.0))
         * LEAST((CAST(en_hits AS DOUBLE) / GREATEST(n_tok, 1)) * 4.0 + 0.2, 1.0),
       6) AS quality
FROM base
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.text import lang_id
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_id(d, "text", keep=["doc_id"])


def _lang_sql() -> str:
    from openmldb_spark.pipeline.text import LANG_STOPWORDS
    hits = ",\n".join(
        f"CAST(len(list_intersect(list_distinct(tk), "
        f"[{', '.join(repr(w) for w in words)}])) AS INT) AS hits_{lang}"
        for lang, words in sorted(LANG_STOPWORDS.items())
    )
    langs = sorted(LANG_STOPWORDS)
    mx = f"GREATEST({', '.join('hits_' + la for la in langs)})"
    pred = "CASE WHEN " + mx + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{la} = {mx} THEN '{la}'" for la in langs
    ) + " END"
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
h AS (SELECT doc_id, {hits} FROM toks)
SELECT doc_id, {', '.join('hits_' + la for la in langs)},
       {pred} AS lang_pred
FROM h
"""


SQL_LANG_ID = _lang_sql()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.text import fingerprint
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint(d, "text", keep=["doc_id"])


SQL_DOC_FINGERPRINT = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
sh AS (SELECT doc_id, tk, {_DUCK_SHINGLES} AS shs FROM toks)
SELECT doc_id,
       md5(array_to_string(tk, ' ')) AS fp_exact,
       list_min([md5(x) for x in shs]) AS fp_min_shingle,
       list_max([md5(x) for x in shs]) AS fp_max_shingle
FROM sh
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.dedup import ngram_jaccard_pairs
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(d, "text", "doc_id", shingle_k=3, threshold=0.4)


SQL_NGRAM_JACCARD = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shs FROM toks),
sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS DOUBLE) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.n + sb.n - i) >= 0.4
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → canonical doc per
    cluster (alternating large-star/small-star; pipeline/cluster.py).
    Pair generator = the banded MinHash scale path, so the whole chain
    is the one you'd run at 100 TB."""
    from openmldb_spark.pipeline.cluster import dedup_clusters
    from openmldb_spark.pipeline.dedup import minhash_lsh_pairs
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(d, "text", "doc_id", bands=4,
                              rows_per_band=2, shingle_k=3, threshold=0.4,
                              materialize="parquet")
    return dedup_clusters(d, pairs)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.dedup import minhash_lsh_pairs
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(d, "text", "doc_id", bands=4, rows_per_band=2,
                             shingle_k=3, threshold=0.4,
                             materialize="parquet")


def _minhash_sql(bands: int = 4, rpb: int = 2, threshold: float = 0.4) -> str:
    n = bands * rpb
    sig_exprs = ",\n       ".join(
        f"list_min([md5('{s}|' || x) for x in shs]) AS sig{s}"
        for s in range(n)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sig".format(
            b=b,
            concat=" || '|' || ".join(
                f"sig{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shs FROM toks),
sig AS (SELECT doc_id, shs,
       {sig_exprs}
FROM sh),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
             / (len(sa.shs) + len(sb.shs)
                - len(list_intersect(sa.shs, sb.shs))), 6) AS jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
      / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
      >= {threshold}
"""


SQL_MINHASH_LSH = _minhash_sql()

# dedup_clusters oracle: min-reachable-id via a recursive CTE over the
# symmetrized pair set (same banded-MinHash pair generator as
# SQL_MINHASH_LSH); docs in no pair label themselves
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
lab AS (SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY 1)
SELECT doc_id, component,
       doc_id = component AS is_canonical,
       count(*) OVER (PARTITION BY component) AS cluster_size
FROM lab
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.similarity import ann_bruteforce
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qset = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ann_bruteforce(e, qset, k=10)
    return out.withColumn("cosine", F.round("cosine", 4))


SQL_ANN_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), s AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding, q.qv) AS c
  FROM embeddings e, q
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY c DESC, vec_id ASC) AS rk
  FROM s
)
SELECT query_id, vec_id, CAST(rk AS INT) AS rk, ROUND(c, 4) AS cosine
FROM r WHERE rk <= 10
"""


_IVF_NLIST = 8
_IVF_NPROBE = 2


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN — the coarse-quantizer scale path (complement
    to the hyperplane-LSH path): corpus assigned to nlist cells by a
    deterministic sample-init codebook, queries probe their nprobe
    nearest cells. Full value oracle: DuckDB rebuilds the identical
    quantizer (ORDER BY id LIMIT nlist), cell assignment (argmax cosine,
    ties to smallest cid), probe list, and pruned top-k."""
    from openmldb_spark.pipeline.similarity import ann_ivf
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qset = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ann_ivf(e, qset, k=10, nlist=_IVF_NLIST, nprobe=_IVF_NPROBE)
    return out.withColumn("cosine", F.round("cosine", 4))


SQL_ANN_IVF_TOPK = f"""
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id ASC LIMIT {_IVF_NLIST}
), asg0 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                    c.cid ASC) AS ark
  FROM embeddings e CROSS JOIN cent c
), asg AS (
  SELECT vec_id, embedding, cid AS list_id FROM asg0 WHERE ark = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 5
), probe AS (
  SELECT q.query_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_cosine_similarity(
                        CAST(q.qv AS DOUBLE[]), c.cv) DESC,
                    c.cid ASC) AS pr
  FROM q CROSS JOIN cent c
), s AS (
  SELECT q.query_id, a.vec_id,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(q.qv AS DOUBLE[])) AS c
  FROM q
  JOIN probe p ON p.query_id = q.query_id AND p.pr <= {_IVF_NPROBE}
  JOIN asg a ON a.list_id = p.cid
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY c DESC, vec_id ASC) AS rk
  FROM s
)
SELECT query_id, vec_id, CAST(rk AS INT) AS rk,
       ROUND(ROUND(c, 6), 4) AS cosine
FROM r WHERE rk <= 10
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openmldb_spark.pipeline.similarity import embedding_near_dups
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dups(e, threshold=0.4)
    return out.withColumn("cosine", F.round("cosine", 4))


SQL_EMBEDDING_NEAR_DUPS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
"""

_EMB_DIM = 64          # embeddings.parquet schema (TESTDATA.md)
_EMB_PLANES = 3
_EMB_SEED = 7


def q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-path variant (hyperplane-bucketed candidate generation)
    under a full oracle: DuckDB rebuilds the same buckets from the same
    plane literals, so candidate set + cosine are value-checked — the
    plan certified here is the one that runs at 100 TB."""
    from openmldb_spark.pipeline.similarity import embedding_near_dups
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dups(e, threshold=0.4, n_planes=_EMB_PLANES,
                              seed=_EMB_SEED, dim=_EMB_DIM)
    return out.withColumn("cosine", F.round("cosine", 4))


def _embedding_lsh_sql() -> str:
    from openmldb_spark.pipeline.similarity import _planes
    planes = _planes(_EMB_DIM, _EMB_PLANES, _EMB_SEED)
    terms = []
    for i, p in enumerate(planes):
        lst = "[" + ", ".join(repr(float(v)) for v in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{lst}) >= 0 THEN {2 ** (_EMB_PLANES - 1 - i)} ELSE 0 END)")
    bucket = "\n       + ".join(terms)
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket} AS bkt FROM embeddings
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(ROUND(list_cosine_similarity(a.embedding, c.embedding), 6), 4)
           AS cosine
FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
WHERE list_cosine_similarity(a.embedding, c.embedding) >= 0.4
"""


SQL_EMBEDDING_NEAR_DUPS_LSH = _embedding_lsh_sql()


def q_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash MinHash path (xxhash64 — not SQL-replicable, so
    rows-only check; the md5 twin above is the oracle-checked one)."""
    from openmldb_spark.pipeline.dedup import minhash_lsh_pairs
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(d, "text", "doc_id", bands=4, rows_per_band=2,
                             shingle_k=3, threshold=0.4, hash_fn="xxhash64",
                             materialize="parquet")


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with the md5-derived 64-bit token hash — same
    distribution as the blake2b production default, but DuckDB-replicable
    bit for bit, so the banded operator gets a full value oracle (the
    pigeonhole chunk join has recall 1 for hamming ≤ d, so the oracle can
    be the plain quadratic hamming filter)."""
    from openmldb_spark.pipeline.dedup import simhash_near_pairs
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = simhash_near_pairs(d, "text", "doc_id", max_hamming=3,
                             hash_fn="md5")
    return out.withColumn("hamming", F.col("hamming").cast("int"))


# DuckDB SimHash mirror: md5(token) first 8 bytes, MSB-first bit order
# (numpy unpackbits) — bit i lives in hex char i//4, in-char bit 3-i%4.
SQL_SIMHASH_NEAR_PAIRS = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
tc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
  GROUP BY doc_id, tok
),
bits AS (
  SELECT doc_id, b.i AS bit,
     SUM(CASE WHEN ((strpos('0123456789abcdef',
                            substr(md5(tok), CAST(b.i // 4 AS INT) + 1, 1))
                     - 1) >> CAST(3 - (b.i % 4) AS INT)) & 1 = 1
              THEN c ELSE -c END) AS acc
  FROM tc, (SELECT unnest(range(0, 64)) AS i) b
  GROUP BY doc_id, b.i
),
sigs0 AS (
  SELECT doc_id,
     CAST(SUM(CASE WHEN acc > 0 THEN
         CASE WHEN bit = 0 THEN CAST(-9223372036854775808 AS BIGINT)
              ELSE CAST(pow(2, 63 - bit) AS BIGINT) END
         ELSE 0 END) AS BIGINT) AS sig
  FROM bits GROUP BY doc_id
),
sigs AS (
  SELECT t.doc_id, COALESCE(s.sig, 0) AS sig
  FROM toks t LEFT JOIN sigs0 s ON t.doc_id = s.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode plumbing (pseudo-decoder; see pipeline/multimodal.py).

    Fully oracle-checked: the fake decode is cyclic byte repetition of the
    utf-8 payload to h*w*3 pseudo-pixels, so every feature is a function
    of per-byte-value counts that DuckDB can reproduce from ascii codes
    (documents.text is pure ASCII in the test corpus). The histo8 array is
    projected into scalar h0..h7 columns so the driver canonicalizer can
    sort rows. Both engines compute std as sqrt(E[x^2] - mean^2) over
    identical exact-integer sums, so the doubles match bitwise pre-round."""
    from openmldb_spark.pipeline.multimodal import (decode_features,
                                                    synthetic_media)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synthetic_media(d, "text", "doc_id")
    feats = decode_features(media)
    return feats.select(
        "media_id", "n_bytes",
        F.round("mean_px", 4).alias("mean_px"),
        F.round("std_px", 4).alias("std_px"),
        *[F.round(F.col("histo8")[i], 6).alias(f"h{i}") for i in range(8)],
    )


_MM_HBINS = ",\n    ".join(
    f"sum(CASE WHEN b // 32 = {k} THEN 1 ELSE 0 END) AS c{k},\n    "
    f"sum(CASE WHEN i <= rem AND b // 32 = {k} THEN 1 ELSE 0 END) AS p{k}"
    for k in range(8))
_MM_HOUT = ",\n  ".join(
    f"ROUND((f*c{k} + p{k}) / CAST(N AS DOUBLE), 6) AS h{k}"
    for k in range(8))

SQL_MULTIMODAL_FEATURES = f"""
WITH m AS (
  SELECT doc_id, text, length(text) AS L,
         (length(text) % 64 + 8) AS w,
         (length(text) % 48 + 8) AS h
  FROM documents
), d AS (
  SELECT doc_id, text, L,
         CAST(w*h*3 AS BIGINT) AS N,
         CAST((w*h*3) // L AS BIGINT) AS f,
         CAST((w*h*3) % L AS BIGINT) AS rem
  FROM m
), e AS (
  SELECT doc_id, N, f, rem, text,
         unnest(range(1, L + 1)) AS i
  FROM d
), v AS (
  SELECT doc_id, N, f, rem, i,
         CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) AS b
  FROM e
), a AS (
  SELECT doc_id, max(N) AS N, max(f) AS f, count(*) AS L,
    sum(b) AS s, sum(b*b) AS ss,
    sum(CASE WHEN i <= rem THEN b ELSE 0 END) AS ps,
    sum(CASE WHEN i <= rem THEN b*b ELSE 0 END) AS pss,
    {_MM_HBINS}
  FROM v GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(L AS INT) AS n_bytes,
  ROUND((f*s + ps) / CAST(N AS DOUBLE), 4) AS mean_px,
  ROUND(sqrt(greatest(
      (f*ss + pss) / CAST(N AS DOUBLE)
      - ((f*s + ps) / CAST(N AS DOUBLE)) * ((f*s + ps) / CAST(N AS DOUBLE)),
      0.0)), 4) AS std_px,
  {_MM_HOUT}
FROM a
"""


# --------------------------------------------------------------------------
# SQL front end end-to-end (sqlfe.run_sql — certifies the round-2 surface)
# --------------------------------------------------------------------------

def q_sql_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE + GROUP BY + HAVING *as OpenMLDB SQL text* through run_sql's
    Spark-SQL delegation (translated `==`/`!isnull`; reference semantics
    GroupByAggregationPlan.scala:38-170, cases/query/having_query.yaml)."""
    from openmldb_spark.sqlfe import run_sql
    t = transcripts_df(spark, sf_dir)
    sql = ("select role, tool, count(*) as n, "
           "round(sum(value), 3) as sum_v, "
           "round(sum(value), 3) / count(value) as avg_v, "
           "min(turn_idx) as min_turn, max(turn_idx) as max_turn "
           "from {0} where turn_idx % 2 == 0 and !isnull(tool) "
           "group by role, tool having count(*) > 10")
    return run_sql(spark, sql, [t.drop("ts")])


SQL_SQL_GROUP_HAVING = transcripts_sql("""
SELECT role, tool, COUNT(*) AS n,
       ROUND(SUM(value), 3) AS sum_v,
       ROUND(SUM(value), 3) / COUNT(value) AS avg_v,
       MIN(turn_idx) AS min_turn, MAX(turn_idx) AS max_turn
FROM transcripts
WHERE turn_idx % 2 = 0 AND tool IS NOT NULL
GROUP BY role, tool HAVING COUNT(*) > 10
""")


def q_sql_window_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression projections over window aggregates through run_sql:
    CASE WHEN over lag(), arithmetic over two aggregates, scalar call —
    compiled to __e{k} kernel aggs + Catalyst F.expr
    (cases/function/window/test_window_row.yaml:19-22 shape)."""
    from openmldb_spark.sqlfe import run_sql
    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "ts_ms", "value")
    sql = ("select conv_id, turn_idx, "
           "case when lag(role, 1) over w == 'user' "
           "then count(value) over w else null end as cnt_after_user, "
           "(round(sum(value) over w, 3) + count(value) over w) "
           "as sum_plus_cnt, "
           "ucase(substr(role, 1, 4)) as role4 "
           "from {0} window w as (partition by conv_id order by ts_ms "
           "rows between 3 preceding and current row)")
    return run_sql(spark, sql, [t])


SQL_SQL_WINDOW_EXPR = transcripts_sql("""
SELECT conv_id, turn_idx,
       CASE WHEN LAG(role, 1) OVER wl = 'user'
            THEN COUNT(value) OVER w ELSE NULL END AS cnt_after_user,
       ROUND(SUM(value) OVER w, 3) + COUNT(value) OVER w AS sum_plus_cnt,
       UPPER(SUBSTR(role, 1, 4)) AS role4
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
       wl AS (PARTITION BY conv_id ORDER BY ts_ms)
""")


def q_sql_prod_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-script shape through run_sql (the round-3 front-end
    surface): a windowed sub-select LAST JOINed to a multi-table LAST
    JOIN chain sub-select, with fz_* UDAFs and backticked identifiers —
    the statement form of cases/function/spark/test_jd.yaml id 1."""
    from openmldb_spark.sqlfe import run_sql
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sql = """
    select out0.eid as eid, out0.user_id as user_id,
           out0.sum_v as sum_v, out0.n_types as n_types,
           out0.top1r as top1r,
           out1.cust_name as cust_name, out1.nat_name as nat_name
    from
    (select `event_id` as eid, `user_id`,
            round(sum(`value`) over w, 3) as sum_v,
            distinct_count(`event_type`) over w as n_types,
            fz_top1_ratio(`event_type`) over w as top1r
     from `events`
     window w as (partition by `user_id` order by `ts`
                  rows_range between 1h preceding and current row)) as out0
    last join
    (select `events`.`event_id` as eid2, c.`c_name` as cust_name,
            n.`n_name` as nat_name
     from `events`
     last join `customer` as c on `events`.`user_id` = c.`c_custkey`
     last join `nation` as n on c.`c_nationkey` = n.`n_nationkey`) as out1
    on out0.eid = out1.eid2;
    """
    return run_sql(spark, sql,
                   {"events": ev, "customer": cust, "nation": nat})


SQL_SQL_PROD_PIPELINE = """
WITH fr AS (
  SELECT t.event_id AS eid, t.user_id AS user_id,
         h.event_type AS event_type, h.value AS value
  FROM events t JOIN events h
    ON h.user_id = t.user_id
   AND h.ts <= t.ts AND h.ts >= t.ts - INTERVAL 1 HOUR
),
agg AS (
  SELECT eid, user_id, ROUND(SUM(value), 3) AS sum_v,
         COUNT(DISTINCT event_type) AS n_types, COUNT(*) AS total
  FROM fr GROUP BY 1, 2
),
tc AS (
  SELECT eid, event_type, COUNT(*) AS cnt FROM fr GROUP BY 1, 2
),
top1 AS (SELECT eid, MAX(cnt) AS maxc FROM tc GROUP BY 1)
SELECT a.eid, a.user_id, a.sum_v, a.n_types,
       CAST(t1.maxc AS DOUBLE) / a.total AS top1r,
       c.c_name AS cust_name, n.n_name AS nat_name
FROM agg a JOIN top1 t1 USING (eid)
LEFT JOIN customer c ON a.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def q_sql_batch_request(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-request mode through the SQL front door (run_sql_request —
    BatchRequestEngineTestRunner semantics, engine_test_base.h:294-380):
    request rows (one anchor turn per conversation) compute point-in-time
    features over STORED history + themselves, never over each other; a
    LAST JOINed second sub-select aligns per request row id, exercising
    the rid threading that fz_ddl/test_myhug.yaml pins."""
    from openmldb_spark.sqlfe import run_sql_request

    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "ts_ms", "value")
    req = t.where(F.col("turn_idx") == 40)
    hist = t.where(F.col("turn_idx") != 40)
    sql = f"""
    select * from
    (select conv_id, turn_idx,
            round(sum(value) over w, 3) as sum_v,
            count(value) over w as cnt_v,
            min(value) over w as min_v
     from t
     window w as (partition by conv_id order by ts_ms
                  rows_range between {MIN_30} preceding
                  and 0 preceding)) as out0
    last join
    (select conv_id as conv_id_r, value * 2 as dbl_v from t) as out1
    on out0.conv_id = out1.conv_id_r;
    """
    out = run_sql_request(spark, sql, {"t": hist}, req, "t")
    return out.select("conv_id", "turn_idx", "sum_v", "cnt_v",
                      "min_v", "dbl_v")


SQL_SQL_BATCH_REQUEST = transcripts_sql(f"""
, req AS (SELECT * FROM transcripts WHERE turn_idx = 40)
SELECT r.conv_id, r.turn_idx,
       ROUND(COALESCE(SUM(h.value), 0) + COALESCE(r.value, 0), 3) AS sum_v,
       CAST(COUNT(h.value)
            + CASE WHEN r.value IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS cnt_v,
       CASE WHEN MIN(h.value) IS NULL THEN r.value
            WHEN r.value IS NULL THEN MIN(h.value)
            WHEN MIN(h.value) < r.value THEN MIN(h.value)
            ELSE r.value END AS min_v,
       r.value * 2 AS dbl_v
FROM req r LEFT JOIN transcripts h
  ON h.conv_id = r.conv_id AND h.turn_idx <> 40
 AND h.ts_ms <= r.ts_ms AND h.ts_ms >= r.ts_ms - {MIN_30}
GROUP BY r.conv_id, r.turn_idx, r.value
""")


def q_string_cmp_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-mixed comparison semantics (round 4): the reference casts
    the NON-string side of a comparison to string and compares lexically
    (PredicateIRBuilder::InferAndCastTypes,
    predicate_expr_ir_builder.cc:657-666) — timestamps render at fixed
    UTC+8 "%Y-%m-%d %H:%M:%S", doubles drop a trailing ".0". Lowered
    statically by sqlfe.lower_string_cmp (branch-free, pushdown-safe)."""
    from openmldb_spark.sqlfe import run_sql
    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "ts", "value")
    sql = ("select conv_id, turn_idx, "
           "text > turn_idx as b1, "
           "text <= value as b2, "
           "text < ts as b3, "
           "role != turn_idx as b4 "
           "from {0}")
    return run_sql(spark, sql, [t])


SQL_STRING_CMP_COERCION = transcripts_sql("""
SELECT conv_id, turn_idx,
       text > CAST(turn_idx AS VARCHAR) AS b1,
       text <= regexp_replace(CAST(value AS VARCHAR), '\\.0$', '') AS b2,
       text < strftime(make_timestamp(ts_ms * 1000) + INTERVAL 8 HOUR,
                       '%Y-%m-%d %H:%M:%S') AS b3,
       role <> CAST(turn_idx AS VARCHAR) AS b4
FROM transcripts
""")


def q_window_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates nested inside a window aggregate's argument (round 4):
    the inner aggregate evaluates over the ANCHOR's frame — a frame
    constant — so sum(v - count(v)) == sum(v) - count(v)^2
    (test_udaf_function.yaml id 43 pins the values); lowered
    algebraically to plain same-window kernel aggregates
    (sqlfe._lower_nested_sum)."""
    from openmldb_spark.sqlfe import run_sql
    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "ts_ms", "value")
    sql = ("select conv_id, turn_idx, "
           "round(sum(value - count(value)) over w, 3) as nsum, "
           "sum(turn_idx + count(turn_idx)) over w as isum "
           "from {0} window w as (partition by conv_id order by ts_ms "
           "rows between 5 preceding and current row)")
    return run_sql(spark, sql, [t])


SQL_WINDOW_NESTED_AGG = transcripts_sql("""
SELECT conv_id, turn_idx,
       ROUND(SUM(value) OVER w
             - COUNT(value) OVER w * COUNT(value) OVER w, 3) AS nsum,
       CAST(SUM(turn_idx) OVER w
            + COUNT(turn_idx) OVER w * COUNT(turn_idx) OVER w
            AS BIGINT) AS isum
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
""")


def q_window_anchor_count_where(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """count_where with an anchor-relative condition (round 4):
    lag(role, 0) inside the condition denotes the ANCHOR row, so the
    aggregate counts frame rows whose role equals the anchor's role
    (test_udaf_function.yaml ids 47-49; kernel path Agg.cond_anchor)."""
    from openmldb_spark.sqlfe import run_sql
    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "ts_ms")
    sql = ("select conv_id, turn_idx, "
           "count_where(turn_idx, role = lag(role, 0)) over w "
           "as same_role "
           "from {0} window w as (partition by conv_id order by ts_ms "
           "rows between 5 preceding and current row)")
    return run_sql(spark, sql, [t])


SQL_WINDOW_ANCHOR_COUNT_WHERE = transcripts_sql("""
, tr AS (SELECT conv_id, turn_idx, role, ts_ms,
                ROW_NUMBER() OVER (PARTITION BY conv_id
                                   ORDER BY ts_ms) AS rn
         FROM transcripts)
SELECT a.conv_id, a.turn_idx,
       CAST((SELECT COUNT(*) FROM tr b
             WHERE b.conv_id = a.conv_id
               AND b.rn BETWEEN a.rn - 5 AND a.rn
               AND b.role = a.role) AS BIGINT) AS same_role
FROM tr a
""")


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "window_rows_range": q_window_rows_range,
    "window_rows": q_window_rows,
    "window_builtin_tier": q_window_builtin_tier,
    "window_maxsize": q_window_maxsize,
    "window_exclude_current_time": q_window_exclude_current_time,
    "window_end_offset_open": q_window_end_offset_open,
    "window_union": q_window_union,
    "window_union_instance_not_in": q_window_union_instance_not_in,
    "last_join": q_last_join,
    "asof_join": q_asof_join,
    "last_join_unordered": q_last_join_unordered,
    "window_skewed_ties": q_window_skewed_ties,
    "long_window_preagg": q_long_window_preagg,
    "request_mode": q_request_mode,
    "sessionize": q_sessionize,
    "session_stats": q_session_stats,
    "lag_lead": q_lag_lead,
    "topn_frequency_window": q_topn_frequency_window,
    "top_window": q_top_window,
    "window_split": q_window_split,
    "count_cate_window": q_count_cate_window,
    "groupby_agg": q_groupby_agg,
    "join_agg": q_join_agg,
    "scalar_funcs": q_scalar_funcs,
    "sort_limit_distinct": q_sort_limit_distinct,
    "const_project": q_const_project,
    "sql_group_having": q_sql_group_having,
    "sql_window_expr": q_sql_window_expr,
    "sql_prod_pipeline": q_sql_prod_pipeline,
    "sql_batch_request": q_sql_batch_request,
    "string_cmp_coercion": q_string_cmp_coercion,
    "window_nested_agg": q_window_nested_agg,
    "window_anchor_count_where": q_window_anchor_count_where,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "dedup_clusters": q_dedup_clusters,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
    "minhash_lsh_fast": q_minhash_lsh_fast,
    "simhash_near_pairs": q_simhash_near_pairs,
    "multimodal_features": q_multimodal_features,
}

ORACLES: dict[str, str] = {
    "window_rows_range": SQL_WINDOW_ROWS_RANGE,
    "window_rows": SQL_WINDOW_ROWS,
    "window_builtin_tier": SQL_WINDOW_BUILTIN,
    "window_maxsize": SQL_WINDOW_MAXSIZE,
    "window_exclude_current_time": SQL_WINDOW_EXCLUDE_CT,
    "window_end_offset_open": SQL_WINDOW_END_OFFSET_OPEN,
    "window_union": SQL_WINDOW_UNION,
    "window_union_instance_not_in": SQL_WINDOW_UNION_INIW,
    "last_join": SQL_LAST_JOIN,
    "asof_join": SQL_ASOF_JOIN,
    "last_join_unordered": SQL_LAST_JOIN_UNORDERED,
    "window_skewed_ties": SQL_WINDOW_SKEWED_TIES,
    "long_window_preagg": SQL_LONG_WINDOW_PREAGG,
    "request_mode": SQL_REQUEST_MODE,
    "sessionize": SQL_SESSIONIZE,
    "session_stats": SQL_SESSION_STATS,
    "lag_lead": SQL_LAG_LEAD,
    "topn_frequency_window": SQL_TOPN_FREQUENCY,
    "top_window": SQL_TOP_WINDOW,
    "window_split": SQL_WINDOW_SPLIT,
    "count_cate_window": SQL_COUNT_CATE,
    "groupby_agg": SQL_GROUPBY_AGG,
    "join_agg": SQL_JOIN_AGG,
    "scalar_funcs": SQL_SCALAR_FUNCS,
    "sort_limit_distinct": SQL_SORT_LIMIT_DISTINCT,
    "const_project": SQL_CONST_PROJECT,
    "sql_group_having": SQL_SQL_GROUP_HAVING,
    "sql_window_expr": SQL_SQL_WINDOW_EXPR,
    "sql_prod_pipeline": SQL_SQL_PROD_PIPELINE,
    "sql_batch_request": SQL_SQL_BATCH_REQUEST,
    "string_cmp_coercion": SQL_STRING_CMP_COERCION,
    "window_nested_agg": SQL_WINDOW_NESTED_AGG,
    "window_anchor_count_where": SQL_WINDOW_ANCHOR_COUNT_WHERE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "text_stats": SQL_TEXT_STATS,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "minhash_lsh_pairs": SQL_MINHASH_LSH,
    "ann_cosine_topk": SQL_ANN_TOPK,
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
    "embedding_near_dups_lsh": SQL_EMBEDDING_NEAR_DUPS_LSH,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "simhash_near_pairs": SQL_SIMHASH_NEAR_PAIRS,
    # minhash_lsh_fast: xxhash64 not in DuckDB → rows-only by design
    # (the md5 twin minhash_lsh_pairs is the value-checked one)
}
