"""The exact JVM lowering of ROWS_RANGE windows against the numpy kernel.

``window_agg`` sends an eligible spec (see ``window._lowerable``) to
built-in Spark windows; ``window._numpy_window_agg`` runs the same call
through the numpy kernel. A seeded generator draws eligible specs — frame
depths 0, 1 ms and larger, start OPEN, EXCLUDE CURRENT_TIME,
INSTANCE_NOT_IN_WINDOW with 0-2 union tables, ``bucket_ms`` — over data
with NULL keys, NULL and NaN values, NULL and negative timestamps, heavy
timestamp ties and exact-duplicate rows, and every output row must agree.
The tiebreak is a row id, unique except between duplicates, so the order
at equal timestamps is pinned on both paths. Some cases order the lowered
call by a TIMESTAMP copy of the BIGINT ms column the kernel reads: the
order key must be its epoch-millisecond view.
"""

import math
import random

import pytest
import pyspark.sql.functions as F
import pyspark.sql.types as T

from openmldb_spark.operators import window
from openmldb_spark.plans.explain import PYTHON_NODES
from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.queries import QUERIES

from conftest import executed_plan

KEYS = ["a", "b", "c", None]
SCHEMA = ("k string, ts bigint, rid int, grp int, vd double, vf float, "
          "vi int, ok boolean")
COLS = ("vd", "vf", "vi")


def _maybe(rng, v, p=0.12):
    return None if rng.random() < p else v


def _rows(rng, n, first_rid, ts_span):
    out = []
    for rid in range(first_rid, first_rid + n):
        ts = rng.randrange(ts_span)
        ts = None if rng.random() < 0.04 else (-ts if rng.random() < 0.04
                                                else ts)
        vd = rng.randrange(-40, 40) / 4
        if rng.random() < 0.06:
            vd = float("nan")
        out.append((rng.choice(KEYS), ts, rid, _maybe(rng, rng.randrange(3)),
                    _maybe(rng, vd), _maybe(rng, rng.randrange(-20, 20) / 8),
                    _maybe(rng, rng.randrange(-1000, 1000)),
                    _maybe(rng, rng.random() < 0.6)))
    return out


def _case(rng, j):
    """One eligible call: (spec, aggs, n_union, bucket_ms, ts_span,
    n_dup, ts_typed)."""
    depth = [0, 1, 7, 60, 100_000][j % 5]
    ts_span = rng.choice([12, 40, 200])          # few distinct ts: many ties
    inw = rng.random() < 0.35
    spec = WindowSpec(
        partition_by=["k"], order_by="ts", frame="rows_range",
        preceding=depth, start_open=depth > 0 and rng.random() < 0.3,
        exclude_current_time=rng.random() < 0.4,
        instance_not_in_window=inw,
        tiebreak=rng.choice([("rid",), ("grp", "rid")])
        if not inw or rng.random() < 0.5 else ())
    aggs = []
    for i in range(rng.randrange(2, 6)):
        # every case has a min or max: their block split has the most rules
        func = rng.choice(["sum", "count", "avg", "min", "max"] if i
                          else ["min", "max"])
        col = rng.choice(COLS if func != "sum" else ("vd", "vf"))
        where = rng.random() < 0.3
        aggs.append(Agg(func + ("_where" if where else ""), col, f"a{i}",
                        cond="ok" if where else None))
    n_union = rng.randrange(3) if inw else rng.choice([0, 0, 1])
    bucket_ms = rng.choice([None, 16, 50]) if depth <= 60 else None
    return spec, aggs, n_union, bucket_ms, ts_span, 12 * (j % 2), j % 3 == 0


def _same(x, y, dt):
    if x is None or y is None:
        return x is y
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    rel = 1e-6 if isinstance(dt, T.FloatType) else 1e-9
    return math.isclose(x, y, rel_tol=rel, abs_tol=rel)


def _by_rid(rows):
    out = {}
    for r in rows:
        out.setdefault(r.rid, []).append(r)
    return out


@pytest.mark.parametrize("seed", [0, 1])
def test_lowered_matches_numpy_kernel(spark, seed):
    rng = random.Random(seed)
    for j in range(8):
        spec, aggs, n_union, bucket_ms, ts_span, n_dup, ts_typed = \
            _case(rng, j)
        rows = _rows(rng, 160, 0, ts_span)
        df = spark.createDataFrame(rows + rng.sample(rows, n_dup), SCHEMA)
        union = [spark.createDataFrame(
                     _rows(rng, 60, 1000 * (u + 1), ts_span), SCHEMA)
                 .drop(*rng.sample(["grp", "vf", "ok"], rng.randrange(2)))
                 for u in range(n_union)]
        fields = {f.name: f for f in df.schema.fields}
        assert window._lowerable(spec, aggs, fields), (spec, aggs)
        kw = dict(keep_cols=["rid"], union=union or None, tier="kernel",
                  bucket_ms=bucket_ms)
        # union tables keep the BIGINT column: it coerces through ms
        lowered = df.withColumn("ts", F.timestamp_millis("ts")) \
            if ts_typed else df
        jvm = window.window_agg(lowered, spec, aggs, **kw)
        ref = window._numpy_window_agg(df, spec, aggs, **kw)
        assert jvm.schema == ref.schema, (spec, aggs)
        got, exp = _by_rid(jvm.collect()), _by_rid(ref.collect())
        assert {k: len(v) for k, v in got.items()} == \
            {k: len(v) for k, v in exp.items()}, (spec, aggs)
        types = {f.name: f.dataType for f in ref.schema.fields}
        # duplicates share a rid: match each row to any unmatched twin
        bad = []
        for rid, rows_exp in exp.items():
            left = list(rows_exp)
            for g in got[rid]:
                hit = next((i for i, e in enumerate(left) if all(
                    _same(g[a.alias], e[a.alias], types[a.alias])
                    for a in aggs)), None)
                if hit is None:
                    bad.append((rid, g, left))
                else:
                    left.pop(hit)
        assert not bad, (spec, aggs, n_union, bucket_ms, ts_typed, bad[:5])


def test_long_window_query_has_no_python_or_checkpoint(spark, sf_dir):
    """The 3 h window of ``long_window_preagg`` runs on the lowering: no
    Python node and no checkpointed (``ExistingRDD``) scan."""
    plan = executed_plan(QUERIES["long_window_preagg"](spark, sf_dir))
    for node in ("ExistingRDD", *PYTHON_NODES):
        assert node not in plan, (node, plan)


def test_empty_frames_on_lowered_path(spark):
    """An all-NULL frame: sum 0, count 0, min/max NULL, avg NaN; sum over
    float stays float and over double stays double."""
    df = spark.createDataFrame(
        [("a", 10, 0, None, None), ("a", 20, 1, None, None),
         ("b", 10, 2, 1.5, 2.5)],
        "k string, ts bigint, rid int, vf float, vd double")
    spec = WindowSpec(partition_by=["k"], order_by="ts", frame="rows_range",
                      preceding=100, tiebreak=("rid",))
    aggs = [Agg("sum", "vf", "sf"), Agg("sum", "vd", "sd"),
            Agg("count", "vd", "c"), Agg("min", "vd", "mn"),
            Agg("max", "vf", "mx"), Agg("avg", "vd", "av")]
    out = window.window_agg(df, spec, aggs, keep_cols=["rid"], tier="kernel")
    assert "Pandas" not in executed_plan(out)
    types = {f.name: f.dataType for f in out.schema.fields}
    assert types["sf"] == T.FloatType() and types["sd"] == T.DoubleType()
    rows = {r.rid: r for r in out.collect()}
    for rid in (0, 1):
        r = rows[rid]
        assert (r.sf, r.sd, r.c, r.mn, r.mx) == (0.0, 0.0, 0, None, None)
        assert math.isnan(r.av)
    assert (rows[2].sf, rows[2].c, rows[2].mn, rows[2].mx, rows[2].av) == \
        (1.5, 1, 2.5, 1.5, 2.5)


def test_nan_reads_as_null_on_both_paths(spark):
    """The numpy kernel reads a double NaN as NULL (pandas cannot tell
    them apart); the lowered path maps NaN to NULL so a result never
    depends on the path: count over {1.0, NaN} is 1, not Spark's 2."""
    df = spark.createDataFrame(
        [("a", 10, 0, 1.0), ("a", 20, 1, float("nan")),
         ("b", 10, 2, float("nan"))],
        "k string, ts bigint, rid int, v double")
    spec = WindowSpec(partition_by=["k"], order_by="ts", frame="rows_range",
                      preceding=100, tiebreak=("rid",))
    aggs = [Agg("count", "v", "c"), Agg("sum", "v", "s"),
            Agg("max", "v", "mx"), Agg("avg", "v", "av")]
    for run in (window.window_agg, window._numpy_window_agg):
        rows = {r.rid: r for r in run(df, spec, aggs, keep_cols=["rid"],
                                      tier="kernel").collect()}
        assert (rows[1].c, rows[1].s, rows[1].mx, rows[1].av) == \
            (1, 1.0, 1.0, 1.0), run
        assert (rows[2].c, rows[2].s, rows[2].mx) == (0, 0.0, None), run
        assert math.isnan(rows[2].av), run


def test_ineligible_specs_keep_the_kernel(spark):
    fields = {f.name: f for f in spark.createDataFrame(
        [], SCHEMA).schema.fields}
    ok = WindowSpec(partition_by=["k"], order_by="ts", frame="rows_range",
                    preceding=10, tiebreak=("rid",))
    assert window._lowerable(ok, [Agg("sum", "vd", "s")], fields)
    no = [
        (ok, [Agg("sum", "vi", "s")]),                    # wraps to int
        (ok, [Agg("lag", "vd", "l", param=1)]),
        (ok, [Agg("top_n_frequency", "vi", "t", param=2)]),
        (ok, [Agg("count_where", "vd", "c", cond="ok", cond_anchor="grp")]),
        (ok, [Agg("max", "k", "m")]),                     # string column
        (WindowSpec(partition_by=["k"], order_by="ts", frame="rows_range",
                    preceding=10), [Agg("sum", "vd", "s")]),  # no tiebreak
        (WindowSpec(partition_by=["k"], order_by="ts", frame="rows_range",
                    preceding=10, max_size=3, tiebreak=("rid",)),
         [Agg("sum", "vd", "s")]),
        (WindowSpec(partition_by=["k"], order_by="ts", frame="rows",
                    preceding=3, tiebreak=("rid",)), [Agg("sum", "vd", "s")]),
        (WindowSpec(partition_by=["k"], order_by="ts", frame="rows_range",
                    preceding=10, end_offset=2, tiebreak=("rid",)),
         [Agg("sum", "vd", "s")]),
    ]
    for spec, aggs in no:
        assert not window._lowerable(spec, aggs, fields), (spec, aggs)
