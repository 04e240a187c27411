"""Bucketed+sorted table layout — the batch analog of the reference's
online index.

An OpenMLDB table index ``index(key=(k...), ts=t)`` clusters rows by key
and orders them by time inside each cluster so the online engine serves
point-in-time reads without scanning (`mem_catalog.h` segment layout).
The offline analog at 100 TB is a bucketed+sorted file layout:

    df.write.bucketBy(N, *keys).sortBy(ts).saveAsTable(name)

Every downstream operator that clusters on the same keys — the window
kernel's ``groupBy(keys).applyInArrow``, the as-of join's running
window, plain joins/aggregations on the keys — then reads a scan whose
HashPartitioning already satisfies its ClusteredDistribution, and
Catalyst's EnsureRequirements inserts NO shuffle: the single exchange
that otherwise dominates a 100 TB window/backfill job disappears. Pass
``pre_partitioned=True`` to window_agg to drop its explicit
AQE-defeating repartition as well (still correct if the assertion is
wrong — Catalyst re-adds the exchange); asof_join_kernel has no
repartition to drop and needs no flag.

The reference approximates the same effect on Spark by letting its
offline planner exploit table indexes for window/join key alignment
(openmldb-batch WindowAggPlan/JoinPlan key-partitioning); an
iceberg-spark-runtime jar would express it as an Iceberg bucket
partition spec + sorted write — absent from this sandbox, the Spark
session-catalog bucketed table is the same physical layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_indexed(
    df: DataFrame,
    name: str,
    keys: list[str],
    sort_by: str | None = None,
    buckets: int | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> DataFrame:
    """Write ``df`` as a bucketed(+sorted) table and return a scan of it.

    buckets defaults to the session's defaultParallelism — on a real
    cluster pick ~2-4x total executor cores so task skew smooths, and
    keep the SAME count for tables that will be joined together, as-of
    or plain (a shuffle-free join needs matching bucket counts)."""
    spark = df.sparkSession
    if not keys:
        raise ValueError("materialize_indexed needs at least one key")
    missing = [c for c in [*keys, *([sort_by] if sort_by else [])]
               if c not in df.columns]
    if missing:
        raise ValueError(f"materialize_indexed: missing columns {missing}")
    if buckets is None:
        buckets = spark.sparkContext.defaultParallelism
    w = df.write.mode(mode).format("parquet").bucketBy(
        int(buckets), keys[0], *keys[1:])
    if sort_by:
        # sort INSIDE buckets by (keys, ts): the kernel's per-group sort
        # then sees pre-ordered runs (timsort-friendly), mirroring the
        # reference index's time-ordered segments
        w = w.sortBy(keys[0], *keys[1:], sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(name)
    return spark.table(name)


def materialize_by_index(
    df: DataFrame,
    name: str,
    index: dict,
    buckets: int | None = None,
    **kw,
) -> DataFrame:
    """Materialize using a normalized index entry from sources/ddl.py
    (``{"keys": [...], "ts": col | "-"}``) — CREATE TABLE's declared
    index drives the physical layout, like the reference's nameserver
    does for the online store."""
    ts = index.get("ts")
    return materialize_indexed(
        df, name, list(index["keys"]),
        sort_by=None if ts in (None, "-") else ts,
        buckets=buckets, **kw)
