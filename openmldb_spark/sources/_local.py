"""Rows built from Python values, as an Arrow local relation.

Every DataFrame the engine builds from Python values (request rows,
INSERT appends, CREATE TABLE's empty frames, SHOW/DESC results) goes
through ``local_rows``. The values become one ``pyarrow.Table`` and
``spark.createDataFrame(table)`` plans it as a ``LocalRelation``: the
rows live in the plan, so building and scanning them starts no Spark
job and no Python worker, and re-evaluating the plan yields the same
rows in the same order. PySpark's list path instead ships the rows
through a ``PythonRDD`` and plans a ``LogicalRDD``, whose every scan is
a job of Python-worker tasks.

Because the rows are a leaf of the plan, a plan analyzed once over one
set of rows can take another set in their place (``bind_rows``): this
is how a prepared request plan (``sqlfe.run_sql_request``) serves each
request without lowering its statement again.

Naive datetimes are UTC wall time, the engine's convention (the session
timezone is UTC and the wire decoders use ``utcfromtimestamp``); pass an
aware datetime for any other zone.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyspark.sql.types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_rows(spark, rows, schema, error=ValueError):
    """A DataFrame over ``rows`` (sequences in ``schema`` field order),
    planned as a LocalRelation. ``schema`` is a StructType or a DDL
    string. A value the column cannot hold, or a NULL in a NOT NULL
    column, raises ``error`` naming the column."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = []
    for i, (f, af) in enumerate(zip(schema.fields, arrow)):
        vals = [r[i] for r in rows]
        what = f"column {f.name!r} ({f.dataType.simpleString()})"
        if isinstance(f.dataType, (T.TimestampType, T.DateType)):
            # pyarrow would read an int as raw micros/days since epoch
            bad = [v for v in vals
                   if v is not None and not isinstance(v, datetime.date)]
            if bad:
                raise error(f"{what}: cannot hold {type(bad[0]).__name__} "
                            f"value {bad[0]!r}")
        try:
            col = pa.array(vals, type=af.type)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as e:
            raise error(f"{what}: {e}") from None
        if not f.nullable and col.null_count:
            raise error(f"{what} is NOT NULL: got NULL")
        cols.append(col)
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow))


def is_local(df) -> bool:
    """True when ``df``'s optimized plan is a LocalRelation: rows built
    by ``local_rows``, and any projection or filter of them the
    optimizer folds into the relation at planning time (a
    ``monotonically_increasing_id()`` column folds to the row index
    0..n-1). Such rows are deterministic without a checkpoint."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def local_relation(df):
    """``df``'s analyzed plan when it is a bare LocalRelation (rows as
    ``local_rows`` builds them), else None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan if plan.getClass().getSimpleName() == "LocalRelation" \
        else None


def bind_rows(spark, plan, leaves, rel):
    """A DataFrame over the analyzed JVM ``plan`` in which each
    ``(leaf, output)`` of ``leaves``, a LocalRelation node of the plan,
    holds the rows of the LocalRelation ``rel`` instead. Every leaf
    keeps its own output attributes, so the rest of the plan still
    resolves against it; the new DataFrame is optimized and executed
    like any other, so the optimizer folds the new rows in."""
    from pyspark.sql import DataFrame
    jvm = spark._jvm
    data, streaming, stream = rel.data(), rel.isStreaming(), rel.stream()
    swap = jvm.java.util.HashMap()
    for leaf, output in leaves:
        swap.put(leaf, rel.copy(output, data, streaming, stream))
    # a Scala Map is a PartialFunction: one transformUp swaps every leaf
    bound = plan.transformUp(
        jvm.org.apache.spark.api.python.PythonUtils.toScalaMap(swap))
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, bound), spark)
