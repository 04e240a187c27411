"""Streaming tier: file-source micro-batches → watermarked aggregates;
differential check against the equivalent batch computation."""

import os

import pyspark.sql.functions as F

from openmldb_spark.transcripts import transcripts_df


def _stream_source(spark, sf_dir, tmp_path):
    """Write the transcript table as parquet chunks and open it as a
    file-source stream (deterministic, no timing dependence)."""
    src = str(tmp_path / "stream_src")
    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "ts", "value")
    t.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src), t


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(availableNow=True).start()
    )
    _ends(q, 120)


def _ends(q, timeout_s):
    """An availableNow query must finish by itself, not time out."""
    try:
        assert q.awaitTermination(timeout_s) is True
    finally:
        q.stop()


def test_stream_window_counts_matches_batch(spark, sf_dir, tmp_path):
    from openmldb_spark.streaming.stream import stream_window_counts
    stream, batch = _stream_source(spark, sf_dir, tmp_path)
    out = stream_window_counts(stream, window_dur="1 hour",
                               watermark="0 seconds")
    _run_to_memory(out, "win_counts", mode="complete")
    got = {
        (r.conv_id, r.win_start): (r.n_turns, round(r.sum_value, 6))
        for r in spark.table("win_counts").collect()
    }
    exp_df = (
        batch.groupBy("conv_id",
                      F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    exp = {(r.conv_id, r.win.start): (r.n, round(r.s, 6)) for r in exp_df}
    assert got == exp and len(got) > 0


def test_stream_sessionize_matches_batch_sessions(spark, sf_dir, tmp_path):
    from openmldb_spark.streaming.stream import stream_sessionize
    from openmldb_spark.operators.sessionize import session_stats
    from openmldb_spark.plans.specs import SessionizeSpec

    stream, batch = _stream_source(spark, sf_dir, tmp_path)
    out = stream_sessionize(stream, gap="5 minutes", watermark="0 seconds")
    _run_to_memory(out, "sessions", mode="complete")
    got = spark.table("sessions")

    spec = SessionizeSpec(partition_by=["conv_id"], order_by="ts_ms",
                          gap_ms="5m")
    exp = session_stats(
        transcripts_df(spark, sf_dir), spec, value_col="value")
    # same number of sessions per conversation and same total turns
    g = {r.conv_id: r.n for r in
         got.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    e = {r.conv_id: r.n for r in
         exp.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert g == e
    assert (got.agg(F.sum("n_turns")).first()[0]
            == exp.agg(F.sum("n_turns")).first()[0])


def test_foreach_batch_runs_engine_ops(spark, sf_dir, tmp_path):
    from openmldb_spark.streaming.stream import foreach_batch_features
    from openmldb_spark.plans.specs import Agg, WindowSpec
    from openmldb_spark.operators.window import window_agg

    stream, batch = _stream_source(spark, sf_dir, tmp_path)
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      tiebreak=("turn_idx",))

    dest = str(tmp_path / "incr_features")

    def op(df):
        work = df.withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
        return window_agg(work, spec, [Agg("sum", "value", "s")],
                          keep_cols=["conv_id", "turn_idx"], tier="kernel")

    def sink(df, batch_id):
        df.write.mode("append").parquet(dest)

    q = foreach_batch_features(stream, op, sink).trigger(
        availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")).start()
    _ends(q, 180)

    out = spark.read.parquet(dest)
    assert out.count() == batch.count()
    assert set(out.columns) == {"conv_id", "turn_idx", "s"}


def test_stateful_reorder_buffer_heals_disorder(spark, tmp_path):
    """Watermark reorder buffer: a middle time-slice delivered FIRST is
    held in state until the earlier slice arrives, so the fold sees rows
    in event-time order; the tail (< reorder_ms from the high-water mark)
    stays buffered until flush — bounded disorder is healed exactly."""
    import time as _time
    import pyspark.sql.types as T
    from openmldb_spark.streaming.stateful import stream_running_features

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    slices = [  # written B, A, C — B is out of order
        [("x", 3, 4000, 3.0), ("x", 4, 5000, 4.0), ("x", 5, 6000, 5.0)],
        [("x", 0, 1000, 0.0), ("x", 1, 2000, 1.0), ("x", 2, 3000, 2.0)],
        [("x", 6, 20000, 6.0), ("x", 7, 21000, 7.0), ("x", 8, 22000, 8.0)],
    ]
    src = str(tmp_path / "reorder_src")
    for sl in slices:
        spark.createDataFrame(sl, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        _time.sleep(1.1)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (
        stream_running_features(stream, gap_ms=60_000, reorder_ms=3500)
        .writeStream.format("memory").queryName("reordered")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _ends(q, 180)
    got = {r.turn_idx: (r.session_id, r.run_sum, r.run_cnt, r.prev_value)
           for r in spark.table("reordered").collect()}
    # turns 0..5 emitted in event order with exact running state; the C
    # slice is < reorder_ms from the final high-water mark → still held
    exp = {0: (0, 0.0, 1, None), 1: (0, 1.0, 2, 0.0), 2: (0, 3.0, 3, 1.0),
           3: (0, 6.0, 4, 2.0), 4: (0, 10.0, 5, 3.0), 5: (0, 15.0, 6, 4.0)}
    clean = {k: (s, rs, rc, None if p != p else p) if p is not None
             else (s, rs, rc, p)
             for k, (s, rs, rc, p) in got.items()}
    assert clean == exp, clean


def test_stateful_running_features_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState operator: streamed running features equal
    the batch computation (sessionized cumsum/lag) on the same data."""
    from openmldb_spark.streaming.stateful import stream_running_features
    from openmldb_spark.operators.sessionize import sessionize
    from openmldb_spark.plans.specs import SessionizeSpec
    from pyspark.sql import Window

    src = str(tmp_path / "stateful_src")
    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "ts_ms", "value")
    # multiple files → multiple micro-batches exercise cross-batch state.
    # FileStreamSource orders files by modification time, so write the
    # time slices sequentially (distinct mtimes) — each conversation's
    # rows then arrive time-ascending, the operator's stated disorder
    # bound (a real deployment enforces it with per-key-ordered ingestion)
    import time as _time
    cuts = t.approxQuantile("ts_ms", [0.33, 0.66], 0.0)
    bounds = [float("-inf"), *cuts, float("inf")]
    for i in range(3):
        sl = t.where((F.col("ts_ms") > bounds[i])
                     & (F.col("ts_ms") <= bounds[i + 1]))
        sl.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream_running_features(stream, gap_ms=300_000)
        .writeStream.format("memory").queryName("running")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _ends(q, 180)
    got = {(r.conv_id, r.turn_idx): (r.session_id, round(r.run_sum, 6),
                                     r.run_cnt)
           for r in spark.table("running").collect()}

    sess = sessionize(t, SessionizeSpec(partition_by=["conv_id"],
                                        order_by="ts_ms", gap_ms="5m"))
    w = (Window.partitionBy("conv_id", "session_id")
         .orderBy("ts_ms", "turn_idx")
         .rowsBetween(Window.unboundedPreceding, 0))
    exp_df = sess.select(
        "conv_id", "turn_idx",
        F.col("session_id"),
        F.sum("value").over(w).alias("rs"),
        F.count("value").over(w).alias("rc"),
    ).collect()
    exp = {(r.conv_id, r.turn_idx): (r.session_id, round(r.rs, 6), r.rc)
           for r in exp_df}
    assert len(got) == len(exp) > 0
    # NOTE: micro-batch file order can deliver rows out of order across
    # batches; with this deterministic file split the per-conv order holds
    mismatches = {k: (got[k], exp[k]) for k in exp if got[k] != exp[k]}
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_straggler_fold_keeps_last_ts_monotonic():
    """A late row folded against newer carried state must not regress
    the carried last_ts: the next on-time row within the gap of the
    TRUE newest event would otherwise get a spurious session break."""
    import numpy as np
    from openmldb_spark.streaming.stateful import _fold_arrays

    carry = (10_000, 3, 5.0, 2, 1.5)          # last_ts=10000, session 3
    out, carry2 = _fold_arrays(
        "c", np.array([1_000], dtype=np.int64),
        np.array([7], dtype=np.int64),
        np.array([2.0]), carry, gap_ms=5_000)
    assert carry2[0] == 10_000                 # monotonic, not 1000
    out2, carry3 = _fold_arrays(
        "c", np.array([12_000], dtype=np.int64),
        np.array([8], dtype=np.int64),
        np.array([1.0]), carry2, gap_ms=5_000)
    # 12000 - 10000 = 2000 <= gap: SAME session, no spurious break
    assert out2["session_id"].iloc[0] == carry2[1]


def test_stream_null_order_keys_dropped_not_crash(spark, tmp_path):
    """A null ts_ms/turn_idx row must be dropped like the batch tiers
    drop null order keys — not crash the int64 conversion."""
    from openmldb_spark.streaming.stateful import stream_running_features
    src = str(tmp_path / "null_src")
    spark.createDataFrame(
        [("c1", 0, 1_000, 1.0), ("c1", None, 2_000, 9.0),
         ("c1", 1, None, 9.0), ("c1", 2, 3_000, 2.0)],
        "conv_id string, turn_idx int, ts_ms long, value double"
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_running_features(stream, gap_ms=300_000)
        .writeStream.format("memory").queryName("null_keys")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _ends(q, 120)
    got = {r.turn_idx: r.run_sum
           for r in spark.table("null_keys").collect()}
    assert got == {0: 1.0, 2: 3.0}


def _stateful_slices(spark, tmp_path, name, slices, **kw):
    """Write one parquet file per slice (distinct mtimes, so one
    micro-batch each), stream them through stream_running_features under
    availableNow and return the emitted rows keyed by (conv_id, turn)."""
    import time as _time
    from openmldb_spark.streaming.stateful import stream_running_features
    schema = "conv_id string, turn_idx int, ts_ms long, value double"
    src = str(tmp_path / name)
    for sl in slices:
        spark.createDataFrame(sl, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        _time.sleep(1.1)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (
        stream_running_features(stream, gap_ms=60_000, **kw)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    _ends(q, 180)
    return {(r.conv_id, r.turn_idx): (r.run_sum, r.run_cnt)
            for r in spark.table(name).collect()}


def test_stateful_row_far_behind_other_conversations_folds(spark, tmp_path):
    """A conversation whose events trail another conversation's by far
    more than idle_timeout_ms, in a later micro-batch, is still folded:
    no row is dropped as late."""
    got = _stateful_slices(
        spark, tmp_path, "far_behind",
        [[("x", 0, 10_000_000, 1.0)],
         [("y", 0, 0, 2.0), ("y", 1, 500, 3.0)]],
        idle_timeout_ms=1_000)
    assert got == {("x", 0): (1.0, 1), ("y", 0): (2.0, 1),
                   ("y", 1): (5.0, 2)}


def test_stateful_idle_conversation_flushes_reorder_buffer(spark, tmp_path):
    """A conversation idle for idle_timeout_ms while the stream keeps
    running expires, and its held reorder buffer is emitted; the
    conversation that arrived last is still within its timeout and keeps
    its tail held."""
    got = _stateful_slices(
        spark, tmp_path, "idle_flush",
        [[("x", 0, 1_000, 1.0), ("x", 1, 2_000, 2.0)],
         [("y", 0, 1_000, 5.0)]],
        idle_timeout_ms=1, reorder_ms=5_000)
    assert got == {("x", 0): (1.0, 1), ("x", 1): (3.0, 2)}
