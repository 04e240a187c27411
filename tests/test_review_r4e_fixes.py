"""Regression pins for the fifth round-4 review pass (window engine
core: tier dispatch, union ms-view, salting, kernel min/max edges)."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.operators.window import window_agg

KEY = ["conv_id", "turn_idx"]


def _rows(n, step_ms=1000, conv="c"):
    return [(conv, i, 1_000_000 + i * step_ms, float(i)) for i in range(n)]


SCHEMA = "conv_id string, turn_idx int, ts_ms long, value double"


def test_union_bigint_ts_column_ms_view_analyzes(spark):
    """A WINDOW UNION table may store the primary's timestamp column as
    bigint ms — the agg ms-view used to call unix_millis on the raw
    bigint and fail analysis."""
    prim = spark.createDataFrame(
        [("c", 0, 1_000_000, 1.0)],
        "conv_id string, turn_idx int, ts_ms long, value double"
    ).select("conv_id", "turn_idx",
             F.timestamp_millis("ts_ms").alias("ts_ms"), "value",
             F.timestamp_millis(F.col("ts_ms")).alias("v"))
    un = spark.createDataFrame(
        [("c", -1, 999_000, 0.5, 998_000)],
        "conv_id string, turn_idx int, ts_ms long, value double, v long"
    ).select("conv_id", "turn_idx",
             F.timestamp_millis("ts_ms").alias("ts_ms"), "value", "v")
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="1h",
                      tiebreak=("turn_idx",))
    out = window_agg(prim, spec, [Agg("min", "v", "mv")],
                     keep_cols=KEY, tier="kernel", union=[un]).collect()
    assert out[0].mv is not None


def test_auto_tier_range_frame_uses_kernel_on_tied_ts(spark):
    """auto must not pick builtin for range frames: ANSI RANGE admits
    all equal-ts peers while OpenMLDB admits only buffered rows."""
    df = spark.createDataFrame(
        [("c", 0, 100, 1.0), ("c", 1, 100, 2.0)], SCHEMA)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="1h",
                      tiebreak=("turn_idx",))
    got = {r.turn_idx: r.s for r in window_agg(
        df, spec, [Agg("sum", "value", "s")], keep_cols=KEY,
        tier="auto").collect()}
    # buffered-ties semantics: first row sees only itself
    assert got == {0: 1.0, 1: 3.0}


def test_builtin_tier_rejects_bad_agg_domains(spark):
    """Domain checks run before tier dispatch — avg(string) is rejected
    whatever the physical plan (the reference's type checker)."""
    df = spark.createDataFrame([("c", 0, 100, "x")],
                               "conv_id string, turn_idx int, "
                               "ts_ms long, s string")
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=2, tiebreak=("turn_idx",))
    with pytest.raises(ValueError):
        window_agg(df, spec, [Agg("avg", "s", "a")], keep_cols=KEY,
                   tier="auto")
    # top ranks a numeric view, where every string reads as NULL ('')
    with pytest.raises(ValueError, match="top over string"):
        window_agg(df, spec, [Agg("top", "s", "t", param=2)], keep_cols=KEY)


def test_builtin_min_max_keep_type_and_strings_work(spark):
    """builtin min/max are T->T — the old blanket double cast NULLed
    string min/max and widened float."""
    df = spark.createDataFrame(
        [("c", 0, 100, "b"), ("c", 1, 200, "a")],
        "conv_id string, turn_idx int, ts_ms long, name string")
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=5, tiebreak=("turn_idx",))
    out = window_agg(df, spec, [Agg("min", "name", "m")],
                     keep_cols=KEY, tier="builtin")
    assert dict(out.dtypes)["m"] == "string"
    got = {r.turn_idx: r.m for r in out.collect()}
    assert got == {0: "b", 1: "a"}


def test_builtin_avg_empty_frame_is_nan_like_kernel(spark):
    df = spark.createDataFrame(
        [("c", 0, 100, None), ("c", 1, 200, 4.0)], SCHEMA)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=0, tiebreak=("turn_idx",))
    out = {r.turn_idx: r.a for r in window_agg(
        df, spec, [Agg("avg", "value", "a")], keep_cols=KEY,
        tier="builtin").collect()}
    assert np.isnan(out[0])        # 0/0 = NaN, never NULL
    assert out[1] == 4.0


def test_kernel_min_max_int64_exact_past_2_53(spark):
    big = 2 ** 53
    df = spark.createDataFrame(
        [("c", 0, 100, big + 1), ("c", 1, 200, big + 3)],
        "conv_id string, turn_idx int, ts_ms long, v long")
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=5, tiebreak=("turn_idx",))
    out = {r.turn_idx: (r.mn, r.mx, r.t) for r in window_agg(
        df, spec, [Agg("min", "v", "mn"), Agg("max", "v", "mx"),
                   Agg("top", "v", "t", param=2)],
        keep_cols=KEY, tier="kernel").collect()}
    # float64 would collapse big+1 and big+3 to even neighbors
    assert out[1] == (big + 1, big + 3, f"{big + 3},{big + 1}")


def test_kernel_min_of_all_inf_frame_is_inf_not_null(spark):
    df = spark.createDataFrame(
        [("c", 0, 100, float("inf")), ("c", 1, 200, float("inf"))],
        SCHEMA)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=5, tiebreak=("turn_idx",))
    out = {r.turn_idx: (r.mn, r.mx) for r in window_agg(
        df, spec, [Agg("min", "value", "mn"),
                   Agg("max", "value", "mx")],
        keep_cols=KEY, tier="kernel").collect()}
    assert out[1][0] == float("inf")     # genuine inf, not NULL
    # and a truly empty frame still NULLs: min_where nothing matches
    df2 = spark.createDataFrame([("c", 0, 100, 1.0, False)],
                                SCHEMA + ", flag boolean")
    out2 = window_agg(
        df2, spec, [Agg("min_where", "value", "m", cond="flag")],
        keep_cols=KEY, tier="kernel").collect()
    assert out2[0].m is None


def test_top_over_timestamp_column(spark):
    df = spark.createDataFrame(
        [("c", 0, 1_000), ("c", 1, 2_000)],
        "conv_id string, turn_idx int, ms long"
    ).select("conv_id", "turn_idx",
             F.col("ms").alias("ts_ms"),
             F.timestamp_millis("ms").alias("tcol"))
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=5, tiebreak=("turn_idx",))
    out = window_agg(df, spec, [Agg("top", "tcol", "t", param=2)],
                     keep_cols=KEY, tier="kernel").collect()
    # ms view feeds the reference's UTC+8 timestamp formatter, newest
    # first — the raw nanosecond path overflowed the formatter
    got = {r.turn_idx: r.t for r in out}
    assert got[1] == "1970-01-01 08:00:02,1970-01-01 08:00:01"


def test_salt_quantiles_duplicate_cuts_stay_correct(spark):
    """Heavily tied order keys produce duplicate percentile cuts; the
    salted result must equal the unsalted one (empty middle buckets
    used to break the one-hop replica chain)."""
    rows = [("h", i, 1_000_000, float(i)) for i in range(300)]
    rows += [("h", 300 + i, 1_000_000 + (i + 1) * 1000, float(i))
             for i in range(100)]
    df = spark.createDataFrame(rows, SCHEMA)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows", preceding=10, tiebreak=("turn_idx",))
    aggs = [Agg("sum", "value", "s"), Agg("count", "value", "c")]
    base = {(r.conv_id, r.turn_idx): (r.s, r.c) for r in window_agg(
        df, spec, aggs, keep_cols=KEY, tier="kernel").collect()}
    salted = {(r.conv_id, r.turn_idx): (r.s, r.c) for r in window_agg(
        df, spec, aggs, keep_cols=KEY, tier="kernel",
        salt_quantiles=4).collect()}
    assert base == salted
