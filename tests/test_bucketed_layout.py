"""Bucketed+sorted layout (sources/layout.py) — the index-driven
physical layout that makes the window kernel and the as-of cogroup run
SHUFFLE-FREE, plus the pre_partitioned safety property (wrong assertion
→ Catalyst re-adds the exchange, results unchanged)."""

import re

import pytest

from openmldb_spark.operators.lastjoin import asof_join_kernel
from openmldb_spark.operators.window import window_agg
from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.sources.layout import (materialize_by_index,
                                           materialize_indexed)


def _exchanges(df) -> int:
    s = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
        s))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def data(spark):
    # unique (conv, ts) per row: with duplicate order keys the kernel's
    # tie order would depend on scan order, which bucketing reshapes
    rows = [(f"conv_{i % 7}", (i // 7) * 12 + j,
             1_600_000_000_000 + ((i // 7) * 100 + j) * 60_000,
             float(i * 10 + j))
            for i in range(21) for j in range(12)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts_ms bigint, value double")


SPEC = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                  frame="rows", preceding=3, tiebreak=("turn_idx",))
AGGS = [Agg("sum", "value", "s"), Agg("count", "value", "c"),
        Agg("lag", "value", "l1", param=1)]


def test_bucketed_window_agg_is_shuffle_free(spark, data, tmp_path):
    t = materialize_indexed(data, "bkt_w", ["conv_id"], sort_by="ts_ms",
                            buckets=4, path=str(tmp_path / "bkt_w"))
    try:
        out_b = window_agg(t, SPEC, AGGS,
                           keep_cols=["conv_id", "turn_idx"],
                           tier="kernel", pre_partitioned=True)
        assert _exchanges(out_b) == 0, "bucketed scan must avoid the shuffle"
        out_d = window_agg(data, SPEC, AGGS,
                           keep_cols=["conv_id", "turn_idx"],
                           tier="kernel")
        assert _exchanges(out_d) >= 1
        assert _rows(out_b) == _rows(out_d)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_w")


def test_pre_partitioned_wrong_assertion_still_correct(spark, data):
    # NOT bucketed: Catalyst inserts the exchange itself — same rows
    out = window_agg(data, SPEC, AGGS, keep_cols=["conv_id", "turn_idx"],
                     tier="kernel", pre_partitioned=True)
    ref = window_agg(data, SPEC, AGGS, keep_cols=["conv_id", "turn_idx"],
                     tier="kernel")
    assert _exchanges(out) >= 1
    assert _rows(out) == _rows(ref)


def test_bucketed_asof_cogroup_is_shuffle_free(spark, data, tmp_path):
    right = data.selectExpr("conv_id", "ts_ms", "value as rv")
    lt = materialize_indexed(data, "bkt_l", ["conv_id"], sort_by="ts_ms",
                             buckets=4, path=str(tmp_path / "bkt_l"))
    rt = materialize_indexed(right, "bkt_r", ["conv_id"], sort_by="ts_ms",
                             buckets=4, path=str(tmp_path / "bkt_r"))
    try:
        out_b = asof_join_kernel(lt, rt, on=["conv_id"], left_ts="ts_ms",
                                 right_ts="ts_ms", right_cols=["rv"])
        assert _exchanges(out_b) == 0
        out_d = asof_join_kernel(data, right, on=["conv_id"],
                                 left_ts="ts_ms", right_ts="ts_ms",
                                 right_cols=["rv"])
        assert _exchanges(out_d) >= 1
        assert _rows(out_b) == _rows(out_d)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_l")
        spark.sql("DROP TABLE IF EXISTS bkt_r")


def test_materialize_by_index_uses_ddl_entry(spark, data, tmp_path):
    entry = {"keys": ["conv_id"], "ts": "ts_ms", "ttl": "0min",
             "ttlType": "kAbsoluteTime"}
    t = materialize_by_index(data, "bkt_ix", entry, buckets=4,
                             path=str(tmp_path / "bkt_ix"))
    try:
        assert t.count() == data.count()
        out = window_agg(t, SPEC, AGGS, keep_cols=["conv_id", "turn_idx"],
                        tier="kernel", pre_partitioned=True)
        assert _exchanges(out) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_ix")


def test_iceberg_adapter_fallback(spark, data, tmp_path):
    """sources/iceberg.py: no iceberg-spark-runtime in this sandbox, so
    iceberg_available is False and materialize_iceberg must delegate to
    the bucketed+sorted session-catalog layout with identical rows and
    the same shuffle-free downstream clustering."""
    from openmldb_spark.sources.iceberg import (iceberg_available,
                                                materialize_iceberg)
    assert iceberg_available(spark) is False
    t = materialize_iceberg(data, "ice_fallback", ["conv_id"],
                            sort_by="ts_ms", buckets=4,
                            path=str(tmp_path / "ice_fallback"))
    try:
        assert _rows(t.select(*data.columns)) == _rows(data)
        assert _exchanges(t.groupBy("conv_id").count()) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ice_fallback")
