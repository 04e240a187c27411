"""Window aggregation operator — Spark orchestration for the frame kernel.

Two tiers (SURVEY.md §2.5); the exact one runs on one of two paths:

1. **builtin** — ``pyspark.sql.Window`` rows/range frames. JVM-side,
   whole-stage-codegen, zero Python. Valid only for the ANSI-compatible
   subset: no MAXSIZE / EXCLUDE CURRENT_TIME / OPEN / WINDOW UNION /
   INSTANCE_NOT_IN_WINDOW, and (for range frames) unique order keys per
   partition — ANSI RANGE admits *all* peers of the current row while
   OpenMLDB ROWS_RANGE admits only already-buffered ones
   (WINDOW_CLAUSE.md:100-116). Used as the fast path and as a differential
   oracle in tests.
2. **kernel** — exact OpenMLDB semantics, on one of two paths, chosen once
   from the spec and the schema (``_lowerable``):

   a. **exact JVM lowering** (``_jvm_window``) — built-in Spark windows,
      zero Python. Eligible: a ROWS_RANGE frame ending at CURRENT ROW,
      no MAXSIZE, only sum/count/avg/min/max (and their ``_where`` forms,
      without an anchor-relative condition) over numeric columns — sum
      over an integer column excepted, it wraps to the input width — and
      a pinned order at equal timestamps (a tiebreak, or
      INSTANCE_NOT_IN_WINDOW). The frame is ``older ∪ same-ts ∪ {self}``:
      buffered rows with ``ts' ∈ [ts−d, ts−1]``, buffered rows at the
      row's own ``ts`` that sort before it (none under EXCLUDE
      CURRENT_TIME), and the row itself. sum/count/avg are differences
      of two unbounded-preceding frames; min/max use a two-block split of
      width ``d``. Never a sliding ``rangeBetween(-d, -1)``: Spark
      recomputes such a frame from scratch for every row.
   b. **numpy kernel** — ``groupBy(keys).applyInArrow`` with the frame
      kernel (window_kernel.py), which reads each group as a
      ``pyarrow.Table`` through numpy views and returns one typed
      exactly as the output schema. Every other spec: ROWS and
      rows_merge_rows_range frames, MAXSIZE, open or non-current ends,
      lag/at/first_value, top/top_n_frequency/distinct_count, ``*_cate``,
      ``window_split*``, integer sums, timestamp/string columns.

Scale design: the shuffle is one exchange on the partition keys (identical
to the reference batch engine, WindowAggPlan.windowPartition:322-343 —
repartition + sortWithinPartitions, never a global sort). Catalyst prunes
the scan to the referenced columns because we select them before the
shuffle. Giant/skewed keys are handled by ``bucket_ms`` time-chunking with
history replication — the same expand-and-flag trick as the reference's
window skew optimization (SkewDataFrameUtils.genUnionDf:110-143), but keyed
on time buckets so each chunk carries exactly frame-depth history.
"""

from __future__ import annotations

import contextvars
import math

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql.pandas.types import to_arrow_schema

from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.operators import window_kernel as wk
from openmldb_spark.operators.lastjoin import _orderable
from openmldb_spark.operators.window_kernel import EXPANDED, ORD, PRIMARY, UPOS


def _order_col(df: DataFrame, order_by: str) -> Column:
    dt = dict(df.dtypes).get(order_by)
    if dt is None:
        raise ValueError(f"order column {order_by!r} not in {df.columns}")
    if dt.startswith("timestamp"):
        return F.unix_millis(F.col(order_by).cast("timestamp"))
    return F.col(order_by).cast("long")


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _coerce_union_col(u: DataFrame, name: str, want: T.DataType) -> Column:
    """Align a WINDOW UNION frame's column type with the primary's —
    OpenMLDB stores timestamps as int64 ms, so timestamp↔integer coerces
    through milliseconds (not Spark's seconds-based cast)."""
    have = u.schema[name].dataType
    c = F.col(name)
    if have == want:
        return c
    if isinstance(want, T.TimestampType) and isinstance(have, _INT_TYPES):
        return F.timestamp_millis(c.cast("long")).alias(name)
    if isinstance(want, _INT_TYPES) and isinstance(have, T.TimestampType):
        return F.unix_millis(c).cast(want.simpleString()).alias(name)
    return c.cast(want).alias(name)


def _agg_field(agg: Agg, in_field: T.StructField | None) -> T.StructField:
    f = agg.func
    if f in ("count", "count_where", "distinct_count"):
        return T.StructField(agg.alias, T.LongType())
    if f in ("avg", "avg_where", "top1_ratio"):
        return T.StructField(agg.alias, T.DoubleType())
    if f.startswith("window_split") and agg.param in ("count",
                                                      "distinct_count"):
        # count/distinct_count over the split-parts stream
        return T.StructField(agg.alias, T.LongType())
    if f.startswith("window_split") and agg.param == "top1_ratio":
        return T.StructField(agg.alias, T.DoubleType())
    if f in ("top", "top_n_frequency") or "_cate" in f \
            or f.startswith("window_split"):
        return T.StructField(agg.alias, T.StringType())
    if f in ("lag", "at", "first_value"):
        assert in_field is not None
        return T.StructField(agg.alias, in_field.dataType)
    assert in_field is not None
    # min/max preserve the input type for EVERY domain (MinUdafDef /
    # MaxUdafDef are T→T and cannot overflow; strings/dates order
    # lexically)
    if f in ("min", "max", "min_where", "max_where"):
        return T.StructField(agg.alias, in_field.dataType)
    # sum (+_where): SumUdafDef is T→T — float stays float (deploy corpus
    # test_create_deploy id 5 pins sum(float)=kFloat) and integer inputs
    # keep their width WITH the reference's C wraparound on overflow
    # (restful get_procedure case 7 pins sum(int32)=int32; the
    # arithmetic corpus value-checks the wrapped sums). Wrap-addition is
    # associative mod 2^N, so accumulating wide and truncating the
    # result equals the reference's per-add wraps exactly (the kernel
    # sums in int64 and truncates to the output width).
    if isinstance(in_field.dataType, (T.FloatType, *_INT_TYPES)):
        return T.StructField(agg.alias, in_field.dataType)
    return T.StructField(agg.alias, T.DoubleType())


def _logical_name(dt: T.DataType) -> str:
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, _INT_TYPES):
        return "bigint"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BooleanType):
        return "bool"
    return "string"


_FMT_FUNCS = ("top", "top_n_frequency", "distinct_count")


def _fill_agg_types(a: Agg, in_fields: dict) -> Agg:
    import dataclasses
    val_type, cate_type = a.val_type, a.cate_type
    if val_type is None and a.col in in_fields and (
            a.func in _FMT_FUNCS or "_cate" in a.func):
        val_type = _logical_name(in_fields[a.col].dataType)
    if cate_type is None and a.cate and a.cate in in_fields:
        cate_type = _logical_name(in_fields[a.cate].dataType)
    if val_type is a.val_type and cate_type is a.cate_type:
        return a
    return dataclasses.replace(a, val_type=val_type, cate_type=cate_type)


# numeric reductions over TimestampType run on the int64-ms view: the
# reference's timestamps are int64 ms (positional picks — lag/at/
# first_value — take the timestamps themselves)
_MS_AGG_FUNCS = {"sum", "avg", "sum_where", "avg_where",
                 "min", "max", "min_where", "max_where",
                 # top over Timestamp is legal in the reference (TopKDef
                 # args_in, default_udf_library.cc:2412) — without the
                 # ms view the kernel would read NANOSECONDS and the ms
                 # formatter overflows
                 "top"}


def _ms_view_for_ts_aggs(df: DataFrame, aggs: list[Agg], fields: dict):
    """Repoint sum/avg (and cate values) over TimestampType columns to a
    derived unix-ms long column; returns (df, updated aggs, ts_cols)."""
    import dataclasses

    ts_cols = {
        a.col for a in aggs
        if (a.func in _MS_AGG_FUNCS or "_cate" in a.func)
        and a.col in fields
        and isinstance(fields[a.col].dataType, T.TimestampType)
    }
    if not ts_cols:
        return df, aggs, ts_cols
    for c in ts_cols:
        if f"__ms_{c}" not in df.columns:
            df = df.withColumn(f"__ms_{c}", F.unix_millis(F.col(c)))
    aggs = [dataclasses.replace(a, col=f"__ms_{a.col}")
            if a.col in ts_cols
            and (a.func in _MS_AGG_FUNCS or "_cate" in a.func) else a
            for a in aggs]
    return df, aggs, ts_cols


_NUMERIC_TYPES = (*_INT_TYPES, T.FloatType, T.DoubleType)


def _check_agg_domains(aggs: list[Agg], schema_fields: dict) -> None:
    """Reject UDAF argument types the reference's type checker rejects
    (cases/function/function/test_udaf_function.yaml ids 8-12, 18-19,
    25-26, 32-33, 39-40): avg needs a numeric input (avg over
    timestamp/date/string fails); sum additionally accepts timestamp
    (int64 ms); every *_where / *_cate value must be numeric; category
    keys must not be float/double/bool. Silently coercing would return
    answers the reference never produces for these statements."""
    def dt(col):
        f = schema_fields.get(col)
        return f.dataType if f is not None else None

    for a in aggs:
        vt = dt(a.col)
        if vt is None:
            continue
        fn = a.func
        if fn == "avg" and not isinstance(vt, _NUMERIC_TYPES):
            raise ValueError(f"avg over {vt.simpleString()} column "
                             f"{a.col!r} (reference rejects)")
        if fn == "sum" and not isinstance(
                vt, (*_NUMERIC_TYPES, T.TimestampType)):
            raise ValueError(f"sum over {vt.simpleString()} column "
                             f"{a.col!r} (reference rejects)")
        if fn == "top" and isinstance(vt, T.StringType):
            # the kernel ranks top on a numeric view, where a string is
            # NULL: every row would read '' (COVERAGE §2.6)
            raise ValueError(f"top over {vt.simpleString()} column "
                             f"{a.col!r} is not supported")
        if (fn.endswith("_where") or fn.endswith("_cate")
                or "_cate_where" in fn) and fn != "count_where" \
                and not fn.startswith("count_cate"):
            if not isinstance(vt, _NUMERIC_TYPES):
                raise ValueError(
                    f"{fn} over {vt.simpleString()} column {a.col!r} "
                    f"(reference rejects non-numeric values)")
        if fn == "count_where" and isinstance(vt, T.BooleanType):
            raise ValueError("count_where over a bool column "
                             "(reference rejects)")
        if fn.startswith("count_cate") and not isinstance(
                vt, _NUMERIC_TYPES):
            raise ValueError(
                f"{fn} over {vt.simpleString()} column {a.col!r} "
                f"(reference rejects non-numeric values)")
        if a.cate:
            kt = dt(a.cate)
            if isinstance(kt, (T.FloatType, T.DoubleType, T.BooleanType)):
                raise ValueError(
                    f"{fn} category key {a.cate!r} has type "
                    f"{kt.simpleString()} (reference rejects "
                    f"float/double/bool keys)")


def window_agg(
    df: DataFrame,
    spec: WindowSpec,
    aggs: list[Agg],
    keep_cols: list[str] | None = None,
    union: list[DataFrame] | None = None,
    tier: str = "auto",
    bucket_ms: int | None = None,
    salt_quantiles: int | None = None,
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """SELECT keep_cols, agg... OVER (spec) FROM df [WINDOW UNION union].

    ``pre_partitioned=True``: the input is already hash-clustered on the
    partition keys (bucketed table) — skip the explicit repartition so
    the kernel runs shuffle-free (see sources/layout.py). The JVM
    lowering has no explicit repartition: Catalyst adds the one exchange
    only where the input's partitioning does not already satisfy the
    windows, so ``pre_partitioned`` and ``num_partitions`` only steer
    the numpy kernel."""
    keys = list(spec.partition_by)
    keep_cols = list(keep_cols or df.columns)

    # case-insensitive column resolution (the reference's analyzer and
    # Spark SQL both resolve COL5 == col5; the kernel is dict-based, so
    # remap any unique case-insensitive match — plan corpus
    # distinct_query id 2 orders by COL5 over a col5 schema)
    have = set(df.columns)
    lower = {}
    for c in df.columns:
        lower.setdefault(c.lower(), []).append(c)

    def _ci(name):
        if name is None or name in have:
            return name
        hits = lower.get(str(name).lower())
        return hits[0] if hits and len(hits) == 1 else name

    if any(c is not None and c not in have
           for c in [*keys, spec.order_by, *spec.tiebreak, *keep_cols]):
        import dataclasses
        keys = [_ci(c) for c in keys]
        keep_cols = [_ci(c) for c in keep_cols]
        spec = dataclasses.replace(
            spec, partition_by=tuple(keys), order_by=_ci(spec.order_by),
            tiebreak=tuple(_ci(c) for c in spec.tiebreak))
    if any((a.col and a.col not in have) or (a.cond and a.cond not in have)
           or (a.cate and a.cate not in have)
           or (a.cond_anchor and a.cond_anchor not in have) for a in aggs):
        import dataclasses
        aggs = [dataclasses.replace(a, col=_ci(a.col), cond=_ci(a.cond),
                                    cate=_ci(a.cate),
                                    cond_anchor=_ci(a.cond_anchor))
                for a in aggs]

    # fail fast with a readable error instead of a deep analysis trace
    missing = [c for c in [*keys, spec.order_by, *spec.tiebreak, *keep_cols]
               if c not in have]
    for a in aggs:
        missing += [c for c in (a.col, a.cond, a.cate, a.cond_anchor)
                    if c is not None and c not in have]
        # first_value(x) == the anchor row only when the frame ends at
        # CURRENT ROW (non-open); an anchor-relative condition derived
        # from it is otherwise not expressible
        if a.cond_anchor_fv and (spec.end_delta != 0 or spec.end_open):
            raise ValueError(
                "anchor-relative first_value condition requires a frame "
                "ending at CURRENT ROW")
    if missing:
        raise ValueError(
            f"window_agg: column(s) {sorted(set(missing))} not in input "
            f"columns {sorted(have)}")

    # order-key type rule (mirrors the reference's analysis checks):
    # ROWS frames require BIGINT/TIMESTAMP (int32/smallint/bool rejected
    # — test_window_row.yaml ids 33-35); ROWS_RANGE additionally accepts
    # the narrower integer widths (ids 8-2/8-4 are value-checked offline
    # with an int32 order key) but still rejects string/float/double/
    # date/bool (test_window_row_range.yaml ids 7/9/10, error_window.yaml
    # ids 4-7). Silently casting a double to long would truncate the
    # order relation, so fail loudly instead.
    odt = df.schema[spec.order_by].dataType
    allowed: tuple = (T.LongType, T.TimestampType, T.TimestampNTZType)
    if spec.frame != "rows":
        allowed = (*_INT_TYPES, T.TimestampType, T.TimestampNTZType)
    if not isinstance(odt, allowed):
        raise ValueError(
            f"window_agg: ORDER BY {spec.order_by!r} has type "
            f"{odt.simpleString()}; the reference requires "
            f"{'BIGINT or TIMESTAMP' if spec.frame == 'rows' else 'an integer or TIMESTAMP'} "
            f"window order key")

    # argument-domain checks run BEFORE tier dispatch: the reference's
    # type checker rejects e.g. avg(string) whatever the physical plan;
    # builtin would otherwise let Spark implicitly cast and compute
    schema_fields = {f.name: f for f in df.schema.fields}
    _check_agg_domains(aggs, schema_fields)
    # decided on the caller's schema, before timestamp columns get their
    # int64-ms view: an aggregate over a timestamp keeps the kernel
    jvm = not _NUMPY_ONLY.get() and _lowerable(spec, aggs, schema_fields)

    if tier == "auto":
        # auto never picks builtin for range frames: ANSI RANGE admits
        # ALL equal-ts peers while OpenMLDB admits only already-buffered
        # rows — equivalent only when order keys are unique per key,
        # which auto cannot verify. Explicit tier='builtin' remains for
        # callers who know their keys are unique.
        tier = "builtin" if spec.frame == "rows" \
            and _builtin_ok(spec, aggs, union) else "kernel"
    if tier == "builtin":
        if union or not _builtin_ok(spec, aggs, union):
            raise ValueError("builtin tier cannot express this spec")
        return _builtin_window(df, spec, aggs, keep_cols)

    # fill logical input types (csv-UDAF formatting) from the schema,
    # then give numeric reductions over TIMESTAMP columns an int64-ms
    # view — the reference's timestamps ARE int64 ms, while Arrow would
    # hand the kernel microseconds (sum/avg over ts, last_join_window
    # corpus case 2)
    aggs = [_fill_agg_types(a, schema_fields) for a in aggs]
    df, aggs, ts_cols = _ms_view_for_ts_aggs(df, aggs, schema_fields)
    if ts_cols and union:
        # a union table may store the ts column as bigint (int64<->ts
        # interchangeable) — unix_millis on a bigint would not analyze
        def _ms_of(u, c):
            if isinstance(u.schema[c].dataType,
                          (T.TimestampType, T.TimestampNTZType)):
                return F.unix_millis(F.col(c))
            return F.col(c).cast("long")
        union = [
            u.withColumns({f"__ms_{c}": _ms_of(u, c)
                           for c in ts_cols if c in u.columns})
            for u in union
        ]

    needed = set(keys) | set(keep_cols) | set(spec.tiebreak) | {spec.order_by}
    for a in aggs:
        needed.add(a.col)
        if a.cond:
            needed.add(a.cond)
        if a.cate:
            needed.add(a.cate)
        if a.cond_anchor:
            needed.add(a.cond_anchor)
    needed_cols = [c for c in df.columns if c in needed]

    work = (
        df.select(*needed_cols)
        .withColumn(ORD, _order_col(df, spec.order_by))
        .withColumn(PRIMARY, F.lit(1).cast("int"))
        .withColumn(UPOS, F.lit(0).cast("int"))
    )
    prim_types = {f.name: f.dataType for f in df.schema.fields}
    for ui, u in enumerate(union or []):
        # coerce FIRST, then derive ORD from the coerced frame — a
        # timestamp order column aligned to an int64-ms primary must
        # read as milliseconds, not a seconds-based long cast
        ucoerced = u.select(*[_coerce_union_col(u, c, prim_types[c])
                              for c in needed_cols if c in u.columns])
        upart = (
            ucoerced
            .withColumn(ORD, _order_col(ucoerced, spec.order_by))
            .withColumn(PRIMARY, F.lit(0).cast("int"))
            # equal-ts ties: later-listed union tables sort older
            # (test_window_union.yaml id 19)
            .withColumn(UPOS, F.lit(-(ui + 1)).cast("int"))
        )
        work = work.unionByName(upart, allowMissingColumns=True)

    # Rows with null/negative order keys are dropped entirely
    # (WindowAggPlan.isValidOrder:783-790).
    work = work.where(F.col(ORD).isNotNull() & (F.col(ORD) >= 0))
    work = work.withColumn(EXPANDED, F.lit(0).cast("int"))

    group_keys = list(keys)
    if salt_quantiles and bucket_ms:
        raise ValueError("choose one skew strategy: salt_quantiles or bucket_ms")
    if salt_quantiles:
        if spec.frame != "rows":
            raise ValueError("salt_quantiles targets ROWS frames; use "
                             "bucket_ms for time-bounded frames")
        work = _salt_by_quantiles(work, keys, spec, salt_quantiles)
        group_keys = keys + ["__salt"]
    if bucket_ms:
        if spec.frame == "rows":
            raise ValueError("bucket_ms chunking needs a time-bounded frame")
        if spec.frame == "rows_merge_rows_range":
            # the merge frame retains rows_preceding+1 rows regardless
            # of age — time-depth replication can't satisfy it
            raise ValueError("bucket_ms chunking cannot express "
                             "rows_merge_rows_range row retention")
        buffer_bounded = [a.func for a in aggs if a.func in ("lag", "at")]
        if buffer_bounded:
            # lag/at read the buffer back to the partition start
            # (unbounded-by-frame, issue #1554); replicated history only
            # spans the frame depth
            raise ValueError(
                f"bucket_ms chunking cannot express buffer-bounded "
                f"functions {sorted(set(buffer_bounded))}")
        depth_ms = spec.start_delta
        shifts = max(1, math.ceil(depth_ms / bucket_ms))
        work = work.withColumn("__bucket", F.floor(F.col(ORD) / F.lit(bucket_ms)))
        # replicate frame-depth history rows into the following buckets
        replicas = (
            work.withColumn("__shift", F.explode(F.sequence(F.lit(1), F.lit(shifts))))
            .where(
                F.col(ORD)
                >= (F.col("__bucket") + F.col("__shift")) * F.lit(bucket_ms) - F.lit(depth_ms)
            )
            .withColumn("__bucket", F.col("__bucket") + F.col("__shift"))
            .withColumn(EXPANDED, F.lit(1).cast("int"))
            .drop("__shift")
        )
        work = work.unionByName(replicas)
        group_keys = keys + ["__bucket"]

    in_fields = {f.name: f for f in df.schema.fields}
    if jvm:
        return _jvm_window(work, spec, aggs, group_keys, keep_cols,
                           in_fields)

    out_schema = T.StructType(
        [in_fields[c] for c in keep_cols]
        + [_agg_field(a, in_fields.get(a.col)) for a in aggs])
    arrow_schema = to_arrow_schema(out_schema)

    def kernel(table):
        return wk.group_window_features(table, spec, aggs, keep_cols,
                                        arrow_schema)

    # Explicit partition count: AQE's size-based coalescing merges the
    # (byte-small) shuffle into 1-2 partitions, serializing the Python
    # kernel whose cost is per-GROUP, not per-byte (measured 12.4s -> 1.8s
    # on 3.4k groups). repartition(n, keys) satisfies the groupBy's
    # distribution, so no second exchange is added.
    if pre_partitioned:
        # caller asserts the input is already hash-clustered on the
        # partition keys (a bucketed+sorted table from sources/layout.py
        # — the batch analog of the reference's index(key, ts) layout):
        # the scan's HashPartitioning satisfies the groupBy's
        # ClusteredDistribution, so the explicit repartition — the ONLY
        # shuffle in this plan — is dropped. Safe even when the
        # assertion is wrong or a skew strategy added salt/bucket keys:
        # Catalyst's EnsureRequirements inserts the exchange itself.
        grouped = work
    else:
        if num_partitions is None:
            num_partitions = \
                work.sparkSession.sparkContext.defaultParallelism
        grouped = work.repartition(num_partitions, *group_keys)
    res = grouped.groupBy(*group_keys).applyInArrow(
        kernel, schema=out_schema).select(*keep_cols,
                                          *[a.alias for a in aggs])
    # T→T result types over TIMESTAMP inputs: the ms-view fed the kernel
    # int64 milliseconds; min/max/sum of a timestamp are timestamps in
    # the reference (MaxUdafDef etc. are T→T — restful get_procedure
    # case 7 pins max(c7)=timestamp). avg stays double, count long.
    _TS_PRESERVING = {"min", "max", "min_where", "max_where",
                      "sum", "sum_where"}
    for a in aggs:
        oc = a.col[5:] if a.col and a.col.startswith("__ms_") else a.col
        if a.func in _TS_PRESERVING and oc in ts_cols:
            res = res.withColumn(
                a.alias,
                F.timestamp_millis(F.col(a.alias).cast("long")))
    return res


def _salt_by_quantiles(work: DataFrame, keys: list[str], spec: WindowSpec,
                       q: int) -> DataFrame:
    """Percentile skew salting for ROWS frames — the reference's window
    skew optimization re-expressed (SkewDataFrameUtils.genDistributionDf/
    genAddColumnsDf/genUnionDf, utils/SkewDataFrameUtils.scala:26-143;
    WindowAggPlan.windowPartitionWithSkewOpt:203-314):

    1. per-key order-column quantile cut points via percentile_approx
       (parallel partial agg — never a per-key sort);
    2. tag each row with its quantile bucket (__salt);
    3. replicate the newest ``frame depth`` rows of each bucket into the
       next bucket, flagged EXPANDED → they buffer but never emit
       (the reference's expand-union with minBlockSize bounding).

    Correctness needs bucket size ≥ frame depth; callers pick q so that
    hot-key-rows / q ≥ rows_preceding (same constraint as the
    reference's minBlockSize math, WindowAggPlan.scala:251-288).
    """
    from pyspark.sql import Window as W

    depth = max(1, spec.start_delta)
    probs = [i / q for i in range(1, q)]
    # skew threshold: only keys whose buckets stay ≥ 2× frame depth are
    # salted; small keys keep one bucket (the reference gates on
    # openmldb.skew.level/threshold the same way)
    min_rows = 2 * depth * q
    cuts = work.groupBy(*keys).agg(
        # distinct cuts: duplicated percentiles (heavily tied order
        # keys) would leave intermediate salt buckets EMPTY, and the
        # one-hop replica chain cannot cross an empty bucket — frames
        # at the next bucket head would silently lose history
        F.array_distinct(
            F.percentile_approx(ORD, probs, 10_000)).alias("__cuts"),
        F.count(F.lit(1)).alias("__cnt"),
    ).withColumn(
        "__cuts",
        F.when(F.col("__cnt") >= min_rows, F.col("__cuts"))
        .otherwise(F.array().cast("array<bigint>")),
    ).drop("__cnt")
    tagged = work.join(F.broadcast(cuts), keys, "left").withColumn(
        "__salt",
        F.aggregate(
            F.coalesce(F.col("__cuts"), F.array().cast("array<bigint>")),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col(ORD) > c, 1).otherwise(0),
        ),
    ).drop("__cuts")

    w = W.partitionBy(*keys, "__salt").orderBy(
        F.col(ORD).desc(), *[F.col(t).desc() for t in spec.tiebreak])
    replicas = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") <= depth) & (F.col("__salt") < q - 1))
        .withColumn("__salt", F.col("__salt") + 1)
        .withColumn(EXPANDED, F.lit(1).cast("int"))
        .drop("__rn")
    )
    # unsalted keys live entirely in bucket 0: their replicas would land
    # in an empty bucket — restrict replication to actually-salted keys
    salted_keys = cuts.where(F.size("__cuts") > 0).select(*keys)
    replicas = replicas.join(F.broadcast(salted_keys), keys, "left_semi")
    return tagged.unionByName(replicas)


# Set only inside ``_numpy_window_agg``: tests run one spec down both exact
# paths and compare them.
_NUMPY_ONLY = contextvars.ContextVar("window_numpy_only", default=False)

_LOWERED_FUNCS = {"sum", "count", "avg", "min", "max",
                  "sum_where", "count_where", "avg_where", "min_where",
                  "max_where"}


def _numpy_window_agg(*args, **kwargs) -> DataFrame:
    """``window_agg`` with the JVM lowering off: every exact-tier call runs
    the numpy kernel."""
    token = _NUMPY_ONLY.set(True)
    try:
        return window_agg(*args, **kwargs)
    finally:
        _NUMPY_ONLY.reset(token)


def _lowerable(spec: WindowSpec, aggs: list[Agg], fields: dict) -> bool:
    """Whether ``_jvm_window`` computes this call exactly (module
    docstring, path 2a)."""
    if spec.frame != "rows_range" or spec.end_delta != 0 or spec.end_open \
            or spec.max_size:
        return False
    if spec.start_open and spec.start_delta == 0:
        return False      # the row falls out of its own frame: kernel rule
    if not (spec.tiebreak or spec.instance_not_in_window):
        return False      # equal-ts order would follow the scan order
    if not all(_orderable(fields[t].dataType) for t in spec.tiebreak):
        return False
    for a in aggs:
        dt = fields[a.col].dataType
        if a.func not in _LOWERED_FUNCS or a.cond_anchor \
                or not isinstance(dt, _NUMERIC_TYPES):
            return False
        if a.func.startswith("sum") and isinstance(dt, _INT_TYPES):
            return False  # the reference wraps integer sums to the input width
        if a.func.endswith("_where") and a.cond is not None \
                and not isinstance(fields[a.cond].dataType, T.BooleanType):
            return False
    return True


def _jvm_window(work: DataFrame, spec: WindowSpec, aggs: list[Agg],
                group_keys: list[str], keep_cols: list[str],
                fields: dict) -> DataFrame:
    """The exact JVM lowering (module docstring, path 2a) over
    ``window_agg``'s tagged rows: primary rows emit, union rows and
    ``bucket_ms`` replicas only buffer, and under INSTANCE_NOT_IN_WINDOW
    only union rows buffer. Every window partitions by ``group_keys`` or a
    superset of it, so the one exchange is the windows' own."""
    d = spec.start_delta - int(spec.start_open)   # older: ts' in [ts-d, ts-1]
    ect, inw = spec.exclude_current_time, spec.instance_not_in_window
    emit = (F.col(PRIMARY) == 1) & (F.col(EXPANDED) == 0)
    if inw:
        work = work.where(emit | (F.col(PRIMARY) == 0))

    def buffered(x: Column) -> Column:
        return F.when(F.col(PRIMARY) == 0, x) if inw else x

    def key(a: Agg) -> tuple:
        return a.col, a.cond if a.func.endswith("_where") else None

    def value(col: str, cond: str | None) -> Column:
        # NULL wherever the kernel reads no value: NULL, a float NaN
        # (the kernel reads it as NULL) or a failed _where condition
        x = F.col(col)
        if isinstance(fields[col].dataType, (T.FloatType, T.DoubleType)):
            x = F.when(~F.isnan(x), x)
        return x if cond is None else F.when(F.col(cond), x)

    unb = Window.unboundedPreceding
    tie = [F.col(UPOS), F.col(PRIMARY),
           *[F.col(t).asc_nulls_last() for t in spec.tiebreak]]
    base = {a.alias: a.func.replace("_where", "") for a in aggs}
    res: dict[str, Column] = {}

    # sum/count/avg: (-inf, upper] - (-inf, ts-d-1] over the buffered
    # rows. upper ends at the row itself, or at ts-1 under EXCLUDE
    # CURRENT_TIME; the row is added alone when upper misses it (it does
    # not buffer, or upper stops at ts-1). The row-ordered window goes
    # first: its sort also serves the ts-ordered one.
    dec = list(dict.fromkeys(key(a) for a in aggs
                             if base[a.alias] in ("sum", "count", "avg")))
    self_in_upper = not (ect or inw)
    by_ts = Window.partitionBy(*group_keys).orderBy(ORD)
    upper = by_ts.rangeBetween(unb, -1) if ect else \
        Window.partitionBy(*group_keys).orderBy(ORD, *tie).rowsBetween(unb, 0)
    for tag, w in (("u", upper), ("l", by_ts.rangeBetween(unb, -(d + 1)))):
        cols = {}
        for i, k in enumerate(dec):
            x = buffered(value(*k))
            cols[f"__{tag}s{i}"] = F.sum(x.cast("double")).over(w)
            cols[f"__{tag}c{i}"] = F.count(x).over(w)
        work = work.withColumns(cols)
    for a in aggs:
        if a.func.startswith(("min", "max")):
            continue
        i, x = dec.index(key(a)), value(*key(a))
        s = F.coalesce(F.col(f"__us{i}"), F.lit(0.0)) \
            - F.coalesce(F.col(f"__ls{i}"), F.lit(0.0))
        c = F.col(f"__uc{i}") - F.col(f"__lc{i}")
        if not self_in_upper:
            s = s + F.coalesce(x.cast("double"), F.lit(0.0))
            c = c + x.isNotNull().cast("long")
        res[a.alias] = {"sum": s, "count": c, "avg": F.when(
            c > 0, s / c).otherwise(F.lit(float("nan")))}[base[a.alias]]

    # min/max: blocks of width d. A row sits in its own block (role 0)
    # and, when it buffers, also in the next one (role 1). For a row at
    # offset o of its block, ts-d is offset o of the previous block, so
    # its older part is the own-block rows before it (a running max,
    # ascending) plus the previous-block rows at offsets >= o (a running
    # max, descending). Not one unbounded-following frame: Spark
    # recomputes those for every row. With d = 0 there is no older part
    # and the "block" is the row's own ts.
    ext = [a for a in aggs if a.func.startswith(("min", "max"))]
    if ext:
        if d > 0:
            roles = F.array(F.lit(0), F.lit(1))
            if inw:
                roles = F.when(F.col(PRIMARY) == 0, roles) \
                    .otherwise(F.array(F.lit(0)))
            work = work.withColumns({
                "__off": F.pmod(F.col(ORD), F.lit(d)),
                "__role": F.explode(roles)})
            work = work.withColumn(
                "__pair", F.col(ORD) - F.col("__off") + F.col("__role") * d)
        else:
            work = work.withColumns({"__off": F.lit(0), "__role": F.lit(0),
                                     "__pair": F.col(ORD)})
        part = Window.partitionBy(*group_keys, "__pair")
        own_w = part.orderBy("__off").rangeBetween(unb, -1) if ect else \
            part.orderBy("__off", "__role", *tie).rowsBetween(unb, -1)
        prev_w = part.orderBy(F.col("__off").desc(),
                              F.col("__role").desc()).rangeBetween(unb, 0)
        own = F.col("__role") == 0
        xs = [value(*key(a)) for a in ext]
        fns = [F.max if base[a.alias] == "max" else F.min for a in ext]
        work = work.withColumns({
            f"__o{i}": fn(F.when(own, buffered(x))).over(own_w)
            for i, (fn, x) in enumerate(zip(fns, xs))})
        if d > 0:
            work = work.withColumns({
                f"__p{i}": fn(F.when(~own, x)).over(prev_w)
                for i, (fn, x) in enumerate(zip(fns, xs))})
        work = work.where(own)
        for i, (a, x) in enumerate(zip(ext, xs)):
            pick = F.greatest if base[a.alias] == "max" else F.least
            res[a.alias] = pick(x, F.col(f"__o{i}"),
                                *([F.col(f"__p{i}")] if d > 0 else []))

    # when(emit, ...) is always true past the filter: it only makes every
    # output nullable, so the schema is the kernel's field for field
    return work.where(emit).select(
        *keep_cols,
        *[F.when(emit, res[a.alias]).cast(_agg_field(a, fields[a.col])
                                          .dataType).alias(a.alias)
          for a in aggs])


def _builtin_ok(spec: WindowSpec, aggs: list[Agg], union) -> bool:
    if union or spec.max_size or spec.exclude_current_time or spec.start_open \
            or spec.end_open or spec.instance_not_in_window \
            or spec.frame == "rows_merge_rows_range":
        return False
    ok_funcs = _LOWERED_FUNCS | {"first_value"}
    # first_value is only equivalent when the frame end is CURRENT ROW
    if spec.end_delta != 0:
        ok_funcs.discard("first_value")
    # anchor-relative *_where conditions are kernel-only
    if any(a.cond_anchor for a in aggs):
        return False
    return all(a.func in ok_funcs for a in aggs)


def _builtin_window(df: DataFrame, spec: WindowSpec, aggs: list[Agg],
                    keep_cols: list[str]) -> DataFrame:
    ord_col = "__ord_builtin"
    work = df.withColumn(ord_col, _order_col(df, spec.order_by))
    work = work.where(F.col(ord_col).isNotNull() & (F.col(ord_col) >= 0))

    if spec.frame == "rows":
        w = (
            Window.partitionBy(*spec.partition_by)
            .orderBy(ord_col, *spec.tiebreak)
            .rowsBetween(-spec.start_delta, -spec.end_delta)
        )
    else:
        w = (
            Window.partitionBy(*spec.partition_by)
            .orderBy(ord_col)
            .rangeBetween(-spec.start_delta, -spec.end_delta)
        )

    exprs = []
    for a in aggs:
        col = F.col(a.col)
        if a.func.endswith("_where"):
            col = F.when(F.col(a.cond), col)
        base = a.func.replace("_where", "")
        in_dt = df.schema[a.col].dataType
        if base == "first_value":
            # OpenMLDB first_value = NEWEST frame row = current row here
            e = F.col(a.col)
        else:
            fn = {"sum": F.sum, "count": F.count, "avg": F.avg,
                  "min": F.min, "max": F.max}[base]
            e = fn(col).over(w)
            if base == "sum":
                # OpenMLDB sum: empty/all-null frame -> 0 (SumUdafDef
                # const_init, default_udf_library.cc:106-120)
                e = F.coalesce(e, F.lit(0))
            if base == "avg":
                # AvgUdafDef outputs sum/cnt unconditionally: an
                # empty/all-null frame is 0/0 = a real double NaN
                # (kernel parity — fz_ddl/test_myhug pins NaN vs NULL)
                e = F.when(F.count(col).over(w) == 0,
                           F.lit(float("nan"))).otherwise(e.cast("double"))
            elif base == "sum" and isinstance(in_dt, _INT_TYPES):
                # integer sums stay LONG in this tier: an ANSI cast to
                # the input width would throw where the kernel wraps
                # (use tier='kernel' for reference wrap semantics)
                e = e.cast("long")
            elif base in ("sum", "min", "max"):
                # T -> T like the kernel and the reference's UDAF
                # signatures (sum(float)=float, min/max keep the input
                # type; the old blanket double cast NULLed string/date
                # min/max and widened float)
                if isinstance(in_dt, (*_INT_TYPES, T.FloatType,
                                      T.DoubleType)):
                    e = e.cast(in_dt.simpleString())
        exprs.append(e.alias(a.alias))
    return work.select(*keep_cols, *exprs)
