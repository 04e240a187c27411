"""Request-mode analog — point-in-time features for specific anchor rows.

OpenMLDB's online path answers "give me the feature vector for THIS row
now": kRunnerRequestUnion merges the request row with index-scanned
history and runs the same window logic over the merged buffer, emitting
only the request row (/root/reference/hybridse/src/vm/runner.h:326-351,
engine.h:239-272). Batch/online consistency holds because both modes
derive from one logical plan.

Our engine gets the same guarantee from the same mechanism: request rows
are the PRIMARY table of a WINDOW UNION whose union side is the history
table — primary rows emit, history only buffers (WindowAggPlanUtil.
windowUnionTables, SURVEY.md §2.5). No new kernel semantics: request
mode IS window-union backfill with a tiny primary side.

At scale this is the backfill-vs-serve trade: a small request batch
broadcasts nothing, shuffles only (request ∪ relevant-history) on the
key, and history can be pre-pruned by ``history_horizon_ms`` (the frame
depth) before the shuffle — Catalyst pushes that filter to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.operators.window import _order_col, window_agg
from openmldb_spark.sources._local import is_local


def request_features(
    requests: DataFrame,
    history: DataFrame,
    spec: WindowSpec,
    aggs: list[Agg],
    keep_cols: list[str] | None = None,
    prune_history: bool = True,
) -> DataFrame:
    """One output row per request row; frames read only history rows with
    order key ≤ the request's (plus the request row itself).

    ``requests`` and ``history`` share the schema columns referenced by
    the spec/aggs. Each request sees ONLY history plus itself — other
    request rows in the same batch never enter its frame (OpenMLDB
    request semantics: each RequestRunSession reads stored state, not
    fellow requests). That is precisely INSTANCE_NOT_IN_WINDOW: primary
    rows don't buffer, the anchor still joins its own frame — so the
    flag is forced here.
    """
    import dataclasses
    spec = dataclasses.replace(spec, instance_not_in_window=True)
    hist = history
    # prune ONLY pure-time frames: a rows frame needs the newest N rows
    # whatever their age, and rows_merge_rows_range keeps a
    # rows_preceding floor (window_kernel lo = min(time_lo,
    # hi-(rows+1))) that time-pruned history could starve
    if prune_history and spec.frame == "rows_range":
        # history older than (max request ts - frame depth) can never
        # enter any frame: push the bound to the scan. The order column
        # resolves with window_agg's case-insensitive rule so the
        # pruned and unpruned paths accept the same specs.
        order_name = spec.order_by
        if order_name not in requests.columns:
            hits = [c for c in requests.columns
                    if c.lower() == str(order_name).lower()]
            if len(hits) == 1:
                order_name = hits[0]
        if is_local(requests):
            # rows held in the plan: read their order values on the
            # driver (the projection folds into the relation, no job)
            vals = [r[0] for r in requests.select(
                _order_col(requests, order_name)).collect()
                if r[0] is not None]
            mx, mn = (max(vals), min(vals)) if vals else (None, None)
        else:
            # the min/max action is one of the engine's three bounded
            # deliberate driver actions (request batches are small by
            # contract). Materialize the batch ONCE with an eager
            # localCheckpoint before it: the bounds scan here and the
            # feature job later then read the same pinned rows. A
            # persist() is the wrong tool twice over — Spark's
            # CacheManager keys cache entries by PLAN EQUALITY, so
            # unpersisting a previous equal-plan batch would uncache the
            # new one (empirically verified), and an evicted/unpersisted
            # entry silently re-executes the request lineage, which for a
            # nondeterministic source (limit/sample) could emit rows
            # outside the history window pruned from the bounds snapshot
            # below. Checkpointed RDDs are freed when the DataFrame is
            # garbage-collected — no unpersist bookkeeping, nothing
            # accumulates across calls.
            requests = requests.localCheckpoint(eager=True)
            ordc = _order_col(requests, order_name)
            mx, mn = requests.agg(F.max(ordc), F.min(ordc)).first()
        if mx is not None:
            lo = mn - spec.start_delta
            h_ord = _order_col(history, order_name)
            hist = history.where((h_ord >= lo) & (h_ord <= mx))

    return window_agg(requests, spec, aggs, keep_cols=keep_cols,
                      union=[hist], tier="kernel")
