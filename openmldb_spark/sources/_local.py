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

A stored table's rows can be copied the same way (``history_copy``):
the copy is a driver-resident ``pyarrow.Table`` and a LocalRelation
over it, with a per-key index (``History.rows``), so a request binds
only the stored rows of its own keys instead of scanning the table.

Naive datetimes are UTC wall time, the engine's convention (the session
timezone is UTC and the wire decoders use ``utcfromtimestamp``); pass an
aware datetime for any other zone.
"""

from __future__ import annotations

import datetime
import threading
import weakref

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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


def bind_rows(spark, plan, binds, session=None):
    """A DataFrame over the analyzed JVM ``plan`` in which the
    LocalRelation leaves of each ``(leaves, data)`` of ``binds`` (a list
    of ``(leaf, output)``) hold the rows ``data`` (a JVM ``Seq`` of
    InternalRow, such as another LocalRelation's ``data()``) instead.
    Every leaf keeps its own output attributes, so the rest of the plan
    still resolves against it; the new DataFrame is optimized and
    executed like any other, in the JVM ``session`` (default: the
    session of ``spark``), so the optimizer folds the new rows in."""
    from pyspark.sql import DataFrame
    jvm = spark._jvm
    swap = jvm.java.util.HashMap()
    for leaves, data in binds:
        if not leaves:
            continue
        first = leaves[0][0]
        streaming, stream = first.isStreaming(), first.stream()
        for leaf, output in leaves:
            swap.put(leaf, leaf.copy(output, data, streaming, stream))
    # a Scala Map is a PartialFunction: one transformUp swaps every leaf
    bound = plan.transformUp(
        jvm.org.apache.spark.api.python.PythonUtils.toScalaMap(swap))
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session or spark._jsparkSession, bound), spark)


# A stored frame of at most this many rows is copied to the driver for
# request serving (history_copy); a larger one is scanned per request.
# 16,000 rows is the largest history the copy has been measured at.
HISTORY_CAP = 16_000
# key types whose collected Python values equal the copy's to_pylist()
# (a collected timestamp is naive local time, a copied one aware UTC)
SLICE_KEY_TYPES = (T.StringType, T.BooleanType, T.ByteType, T.ShortType,
                   T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
                   T.DateType)
# column types the copy round-trips through Arrow unchanged
_COPY_TYPES = SLICE_KEY_TYPES + (T.TimestampType,)

_NAN = object()


def _key(values) -> tuple:
    """A key tuple as a dict key: NaN keys group together (as Spark's
    partitioning groups them), NULL keys likewise (None == None)."""
    return tuple(_NAN if v != v else v for v in values)


class _KeyIndex:
    """The positions of a ``History``'s rows grouped by the key columns
    ``keys``: ``perm`` is a stable sort of the positions by key, and
    ``spans`` holds each key tuple's run of it. This is the reference's
    per-key segment (src/storage/segment.h:83,145-148), one sorted run
    per key instead of a skiplist."""

    def __init__(self, table: pa.Table, keys: tuple):
        self.perm = pc.sort_indices(
            table, [(k, "ascending") for k in keys]).to_numpy()
        rows = table.select(list(keys)).take(self.perm)
        self.spans: dict = {}
        prev, lo = None, 0
        for i, k in enumerate(zip(*(rows.column(c).to_pylist()
                                    for c in keys))):
            k = _key(k)
            if i and k != prev:
                self.spans[prev] = (lo, i)
                lo = i
            prev = k
        if rows.num_rows:
            self.spans[prev] = (lo, rows.num_rows)


class History:
    """The rows of a stored frame, copied once to the driver: ``table``
    (a ``pyarrow.Table``) and ``df``, a LocalRelation over it whose rows
    object ``data`` identifies its leaves in a plan."""

    def __init__(self, spark, table: pa.Table):
        self.table = table
        self.df = spark.createDataFrame(table)
        self.data = local_relation(self.df).data()
        self._spark = spark
        self._indexes: dict = {}
        self._lock = threading.Lock()

    def index(self, keys: tuple) -> _KeyIndex:
        with self._lock:
            ix = self._indexes.get(keys)
            if ix is None:
                ix = self._indexes[keys] = _KeyIndex(self.table, keys)
            return ix

    def rows(self, wanted):
        """The copy's rows (a JVM ``Seq``) whose key tuple is one of
        ``tuples`` for some ``(keys, tuples)`` of ``wanted``, each row
        once and in copy order, so one key's rows keep the order in
        which a scan of the frame reads them."""
        picked = np.zeros(self.table.num_rows, dtype=bool)
        for keys, tuples in wanted:
            ix = self.index(keys)
            for t in tuples:
                span = ix.spans.get(_key(t))
                if span:
                    picked[ix.perm[span[0]:span[1]]] = True
        # one gather in the JVM: a Seq is a function of its positions,
        # so mapping the picked positions (a Scala BitSet, ascending)
        # through the copy's rows takes them in copy order
        jvm = self._spark._jvm
        words = jvm.java.util.BitSet.valueOf(bytearray(
            np.packbits(picked, bitorder="little").tobytes())).toLongArray()
        bits = getattr(getattr(jvm, "scala.collection.immutable.BitSet$"),
                       "MODULE$").fromBitMaskNoCopy(words)
        return bits.toIndexedSeq().map(self.data)


_HISTORIES: dict = {}
_HISTORIES_LOCK = threading.Lock()


def history_copy(frame) -> History | None:
    """The driver copy of the stored ``frame``'s rows, read on the first
    call for this frame object and kept until the frame is
    garbage-collected. None when the frame has more than ``HISTORY_CAP``
    rows or a column the copy cannot hold; that answer is kept too. The
    first call reads ``limit(HISTORY_CAP + 1)`` of the frame (a Spark
    job)."""
    fid = id(frame)
    with _HISTORIES_LOCK:
        if fid in _HISTORIES:
            return _HISTORIES[fid]
    hist = None
    fields = [(f.name, f.dataType) for f in frame.schema.fields]
    if all(isinstance(t, _COPY_TYPES) for _, t in fields):
        # one job; over the cap it brings HISTORY_CAP + 1 rows, which
        # take no longer than a count of them would
        table = frame.limit(HISTORY_CAP + 1).toArrow()
        if table.num_rows <= HISTORY_CAP:
            hist = History(frame.sparkSession, table)
            if [(f.name, f.dataType) for f in hist.df.schema.fields] \
                    != fields:
                hist = None
    with _HISTORIES_LOCK:
        if fid not in _HISTORIES:
            _HISTORIES[fid] = hist
            weakref.finalize(frame, _HISTORIES.pop, fid, None)
        return _HISTORIES[fid]
