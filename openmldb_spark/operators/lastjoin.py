"""LAST JOIN — OpenMLDB's point-in-time as-of join.

Semantics (reference: JoinPlan.scala:151-196; docs JOIN_CLAUSE.md):
for each left row, among right rows matching the equi keys and optional
residual condition, keep the single row with the extreme ``order_by`` value
(max when ascending, min when descending); unordered LAST JOIN keeps one
deterministic match. Left rows with no match survive with nulls (left
outer cardinality is always preserved).

Two physical strategies:

- ``last_join`` — join + ranked-dedup. The left gets a unique row id
  (monotonically_increasing_id — same role as the reference's
  zipWithUniqueId, SparkUtil.scala:57-90), joins left-outer, and a
  row_number window over the row id keeps the extreme match. Catalyst
  freely picks broadcast-hash when the right side is small; at 100 TB the
  join shuffles on the equi keys once and the dedup window re-uses that
  partitioning (row id is a salt-free key: no skew because it's unique).
- ``asof_join_kernel`` — the time-travel case (condition
  ``right.ts <= left.ts``) as one running-window pass, all in the JVM:
  union the left rows with the non-null-ts right rows (right values
  packed in one struct), sort each key's rows by ts with right before
  left at equal ts, and carry the last right struct forward onto every
  left row. One exchange on the keys (none on inputs bucketed on them),
  no row explosion for hot keys (the joined+dedup plan materializes
  every candidate match; this pass is O(n+m) per key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F
import pyspark.sql.types as T

from openmldb_spark.plans.specs import LastJoinSpec

_RID = "__l_rid"
_SIDE = "__side"
_RVAL = "__r"

# types Spark can sort: a column of any other type (map, variant,
# calendar interval, UDT, geometry) in an ORDER BY raises
# AnalysisException
_ORDERABLE = (T.NumericType, T.StringType, T.CharType, T.VarcharType,
              T.BinaryType, T.BooleanType, T.DatetimeType,
              T.AnsiIntervalType, T.NullType)


def _orderable(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return isinstance(dt, _ORDERABLE)


def last_join(
    left: DataFrame,
    right: DataFrame,
    spec: LastJoinSpec,
    right_cols: list[str] | None = None,
    broadcast: bool | None = None,
) -> DataFrame:
    """LEFT-cardinality as-of join; right columns appended (prefixed names
    must be pre-aliased by the caller if they collide)."""
    left_on = list(spec.left_on)
    right_on = list(spec.right_on or spec.left_on)
    if not left_on:
        raise ValueError(
            "last_join: left_on must name at least one equi key (for a "
            "pure-residual join, add a constant key column to both sides)")
    if len(left_on) != len(right_on):
        raise ValueError(
            f"last_join: left_on has {len(left_on)} keys but right_on "
            f"has {len(right_on)} — a silent zip would join on fewer "
            f"keys than specified")
    if right_cols is None:
        # default excludes the order column like asof_join_kernel
        # excludes right_ts — it is already carried as __r_ord, and the
        # raw name next to it makes residual conditions ambiguous
        right_cols = [c for c in right.columns
                      if c not in right_on and c != spec.order_by]

    if spec.order_by:
        # the reference rejects float/double/date/smallint LAST JOIN
        # order keys (test_lastjoin_simple.yaml ids 7-9, 28); int32,
        # int64 and timestamp are the sortable key domain
        odt = right.schema[spec.order_by].dataType
        if isinstance(odt, (T.FloatType, T.DoubleType, T.DateType,
                            T.StringType, T.BooleanType, T.ShortType,
                            T.ByteType)):
            raise ValueError(
                f"last_join: ORDER BY {spec.order_by!r} has type "
                f"{odt.simpleString()}; the reference requires an "
                f"int/bigint/timestamp order key")

    l = left.withColumn(_RID, F.monotonically_increasing_id())
    r = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in right_on],
        *[F.col(c) for c in right_cols],
        *([F.col(spec.order_by).alias("__r_ord")] if spec.order_by else []),
        *[F.col(c).alias(f"__rt_{c}") for c in spec.tiebreak],
    )
    if broadcast:
        r = F.broadcast(r)

    cond: Column | None = None
    for lc, rc in zip(left_on, right_on):
        # null-safe: a NULL key matches NULL right keys (reference:
        # cases/function/join/test_lastjoin_simple.yaml id 19 expects the
        # null-keyed left row to pick up the null-keyed right row)
        c = l[lc].eqNullSafe(r[f"__r_{rc}"])
        cond = c if cond is None else (cond & c)
    if spec.condition:
        cond = cond & F.expr(spec.condition)

    joined = l.join(r, cond, "left")

    if spec.order_by:
        # null order keys sort as +infinity: an ascending LAST JOIN
        # picks a null-ts right row over real timestamps. Provenance is
        # weak: the pinning case (cases/function/window/test_maxsize.yaml
        # id 23-2) is tagged ["TODO"] (skipped by the reference harness),
        # and the reference's offline JoinPlan reduceByKey would NPE
        # unboxing a null time value — so this is our deliberate choice
        # of a total order, not reference-exercised behavior.
        order = [
            F.col("__r_ord").desc_nulls_first()
            if spec.ascending
            else F.col("__r_ord").asc_nulls_last()
        ]
    else:
        order = []
    # deterministic tie-break (the reference's reduceByKey tie is
    # nondeterministic, JoinPlan.scala:166-188; we pin it)
    order += [F.col(f"__rt_{c}").desc_nulls_last() for c in spec.tiebreak]
    if not order:
        # unordered join with no declared tiebreak: pin determinism on
        # the right VALUE columns (an orderBy(lit(1)) row_number keeps
        # partition-arrival order — different per retry/partitioning).
        # Only ORDERABLE types can participate: filter the others out and
        # fall back to lit(1) if nothing orderable remains (documented
        # residual nondeterminism, same as pre-pinning behavior).

        # exact-name lookup first, case-insensitive fallback second —
        # Spark resolves r[c] case-insensitively, so a caller-supplied
        # right_cols=['CFG'] against a 'cfg' column must not KeyError
        # here; a name resolving to nothing is skipped (the select
        # above would already have raised for a truly missing column)
        rschema = {f.name: f.dataType for f in right.schema.fields}
        rschema_ci = {f.name.lower(): f.dataType
                      for f in right.schema.fields}

        def _dt(c):
            return rschema.get(c, rschema_ci.get(c.lower()))

        order = [r[c].desc_nulls_last() for c in right_cols
                 if _dt(c) is not None and _orderable(_dt(c))] \
            or [F.lit(1)]

    w = Window.partitionBy(_RID).orderBy(*order)
    out = (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", _RID, "__r_ord", *[f"__r_{c}" for c in right_on],
              *[f"__rt_{c}" for c in spec.tiebreak])
    )
    return out


def asof_join_kernel(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts_ms",
    right_ts: str = "ts_ms",
    right_cols: list[str] | None = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Point-in-time as-of join: newest right row with ts <= left ts per key.

    Equivalent to LAST JOIN with condition ``r.ts <= l.ts ORDER BY r.ts``
    (``r.ts < l.ts`` when ``allow_exact_matches`` is False), run as one
    running-window pass over the union of both sides. Right rows tied at
    the picked ts resolve to the max value tuple, a NULL ranking above
    every value; a NULL-ts row on either side never matches.
    """
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in on and c != right_ts
        ]
    missing_l = [c for c in [*on, left_ts] if c not in left.columns]
    missing_r = [c for c in [*on, right_ts, *right_cols]
                 if c not in right.columns]
    if missing_l or missing_r:
        raise ValueError(
            f"asof_join_kernel: missing columns left={missing_l} "
            f"right={missing_r}")
    clash = [c for c in right_cols if c in left.columns]
    if clash:
        # the right values are unpacked next to every left column: a
        # shared name would make the output ambiguous
        raise ValueError(
            f"asof_join_kernel: right_cols {clash} collide with left "
            f"columns — alias them on the right side first")

    rtype = T.StructType([T.StructField(c, right.schema[c].dataType)
                          for c in right_cols])
    # at equal ts the side sorting first is visible to the other:
    # right first admits exact matches
    r_side, l_side = (0, 1) if allow_exact_matches else (1, 0)
    # re-aliasing the keys keeps a bucketed child's hash partitioning
    # visible through the union, so the window needs no exchange
    keys = [F.col(k).alias(k) for k in on]
    l = left.select(
        *keys,
        *[F.col(c) for c in left.columns if c not in on],
        F.lit(l_side).alias(_SIDE),
        F.lit(None).cast(rtype).alias(_RVAL))
    r = right.where(F.col(right_ts).isNotNull()).select(
        *keys,
        *[F.col(right_ts).alias(left_ts) if c == left_ts
          else F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in on],
        F.lit(r_side).alias(_SIDE),
        F.struct(*right_cols).alias(_RVAL))
    # ties among right rows at one ts: the last in ascending NULLS LAST
    # value order wins, i.e. the max value tuple; unorderable value
    # columns (maps) drop out of that order
    ties = [F.col(_RVAL)[c].asc_nulls_last() for c in right_cols
            if _orderable(rtype[c].dataType)]
    w = (Window.partitionBy(*on)
         .orderBy(F.col(left_ts).asc_nulls_first(), _SIDE, *ties)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # a NULL-ts left row sorts before every right row: no match
    return (l.unionByName(r)
            .withColumn(_RVAL, F.last(_RVAL, ignorenulls=True).over(w))
            .where(F.col(_SIDE) == l_side)
            .select(*left.columns,
                    *[F.col(_RVAL)[c].alias(c) for c in right_cols]))
