"""Golden net for the window frame kernel.

Seeded, generated rows run through ``window._numpy_window_agg`` (the
exact tier with the JVM lowering off, so every call reaches the frame
kernel) under one spec per frame shape: ROWS, ROWS_RANGE and
rows_merge_rows_range frames with OPEN bounds, end offsets, MAXSIZE,
EXCLUDE CURRENT_TIME, INSTANCE_NOT_IN_WINDOW and WINDOW UNION rows, and
a timestamp order key. Every call computes every kernel-only family:
lag/at/first_value, top, top_n_frequency, distinct_count, top1_ratio,
the ``*_cate[_where]`` and ``top_n_key_*`` families, ``window_split*``,
``count_where`` with an anchor-relative condition, integer sums that
wrap, and string/date/timestamp min/max. The data has timestamp ties,
NULL and negative order keys, NULL partition keys, NULL values, NaN
doubles and NULL tiebreaks.

``window_kernel_golden.json`` holds each call's output schema and rows;
the test replays the calls and diffs. Re-record only for an intended
change, and list the changed cases in CHANGES.md:

    python tests/test_window_kernel_golden.py --record
"""

from __future__ import annotations

import datetime
import json
import sys
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
GOLDEN = Path(__file__).with_name("window_kernel_golden.json")

SCHEMA = ("id int, k string, ts bigint, tts timestamp, tb int, i32 int, "
          "i16 smallint, i64 bigint, f32 float, d double, s string, "
          "dt date, c boolean, ck string, ci int, sp string")
KEEP = ["id", "k", "i64", "s", "dt", "tts", "d"]
UTC = datetime.timezone.utc


def _rows(seed: int, n: int, first_id: int) -> list[tuple]:
    rng = np.random.default_rng(seed)

    def maybe(v, p=0.15):
        return None if rng.random() < p else v

    t0 = datetime.datetime(2021, 3, 1, tzinfo=UTC)
    out = []
    for i in range(first_id, first_id + n):
        ts = int(rng.integers(0, 40)) * 500       # few distinct: many ties
        u = rng.random()
        ts = None if u < 0.03 else (-ts - 1 if u < 0.05 else ts)
        d = round(float(rng.normal()) * 10, 3)
        if rng.random() < 0.05:
            d = float("nan")
        out.append((
            i,
            maybe(str(rng.choice(["a", "b", "c"])), 0.1),
            ts,
            maybe(t0 + datetime.timedelta(seconds=int(rng.integers(0, 20)))),
            maybe(int(rng.integers(0, 3)), 0.2),
            maybe(int(rng.integers(-2**31, 2**31))),
            maybe(int(rng.integers(-2**15, 2**15))),
            maybe(int(rng.integers(-10**12, 10**12))),
            maybe(int(rng.integers(-100, 100)) / 4),
            maybe(d, 0.1),
            maybe(str(rng.choice(["apple", "banana", "cherry", "date", ""]))),
            maybe(datetime.date(2020, 1, 1)
                  + datetime.timedelta(days=int(rng.integers(0, 60)))),
            maybe(bool(rng.random() < 0.6), 0.2),
            maybe(str(rng.choice(["x", "y", "z"])), 0.2),
            maybe(int(rng.choice([2, 10, 7])), 0.2),
            maybe(str(rng.choice(["a:1,b:2", "c:3", "d:4,x,e:5", "",
                                  "a:1,", "b:2,b:3"]))),
        ))
    return out


def _aggs():
    from openmldb_spark.plans.specs import Agg

    out = []

    def a(func, col, **kw):
        out.append(Agg(func, col, f"o{len(out)}_{func}_{col}", **kw))

    for col in ("i32", "i16", "i64", "f32", "d", "tts"):
        a("sum", col)
    a("sum_where", "i32", cond="c")
    a("sum_where", "d", cond="c")
    a("avg", "d")
    a("avg", "f32")
    a("avg_where", "i64", cond="c")
    for col in ("s", "dt", "d", "tts"):
        a("count", col)
    a("count_where", "d", cond="c")
    a("count_where", "i64", cond="ck", cond_anchor="ck")
    a("count_where", "id", cond="ci", cond_anchor="ci")
    for col in ("s", "dt", "tts", "i64", "i16", "d", "f32"):
        a("min", col)
        a("max", col)
    a("min_where", "d", cond="c")
    a("max_where", "i32", cond="c")
    a("lag", "i64", param=1)
    a("lag", "s", param=2)
    a("at", "d", param=1)
    a("lag", "dt", param=1)
    a("lag", "tts", param=1)
    a("lag", "i32", param=0)
    a("lag", "c", param=1)
    for col in ("s", "f32", "tts", "i64", "dt"):
        a("first_value", col)
    a("top", "i32", param=3)
    a("top", "d", param=2)
    a("top", "tts", param=2)
    a("top", "f32", param=2)
    a("top_n_frequency", "s", param=2)
    a("top_n_frequency", "ci", param=3)
    a("top_n_frequency", "tts", param=2)
    a("top_n_frequency", "dt", param=2)
    for col in ("s", "i64", "dt", "c", "tts", "d"):
        a("distinct_count", col)
    a("top1_ratio", "ck")
    a("top1_ratio", "ci")
    a("sum_cate", "d", cate="ck")
    a("count_cate", "i32", cate="ck")
    a("avg_cate", "f32", cate="ck")
    a("min_cate", "d", cate="ci")
    a("max_cate", "i64", cate="ck")
    a("count_cate", "i32", cate="tts")
    a("count_cate", "i16", cate="dt")
    a("sum_cate_where", "d", cond="c", cate="ck")
    a("avg_cate_where", "i16", cond="c", cate="ci")
    a("top_n_key_sum_cate_where", "d", cond="c", cate="ck", param=2)
    a("top_n_key_avg_cate_where", "i32", cond="c", cate="ci", param=2)
    a("top_n_key_max_cate_where", "f32", cond="c", cate="ck", param=1)
    a("top_n_key_min_cate_where", "i64", cond="c", cate="ci", param=2)
    a("top_n_key_count_cate_where", "d", cond="c", cate="ck", param=2)
    a("window_split", "sp", delim=",")
    a("window_split_by_key", "sp", delim=",", kv_delim=":")
    a("window_split_by_value", "sp", delim=",", kv_delim=":")
    a("window_split", "sp", delim=",", param="count")
    a("window_split_by_key", "sp", delim=",", kv_delim=":",
      param="distinct_count")
    a("window_split", "sp", delim=",", param="top1_ratio")
    a("window_split", "sp", delim=",", param="top_n_frequency:2")
    a("window_split", "sp", delim=",:", sep="|")
    return out


def _cases():
    """name -> (WindowSpec, with WINDOW UNION rows)."""
    from openmldb_spark.plans.specs import WindowSpec

    def w(**kw):
        kw.setdefault("order_by", "ts")
        kw.setdefault("tiebreak", ("tb", "id"))
        return WindowSpec(partition_by=["k"], **kw)

    return {
        "rows_3": (w(frame="rows", preceding=3), False),
        "rows_end_1_open": (w(frame="rows", preceding=5, end_offset=1,
                              start_open=True, end_open=True), False),
        "rows_ect_maxsize": (w(frame="rows", preceding=4, max_size=3,
                               exclude_current_time=True), False),
        "rows_union": (w(frame="rows", preceding=3), True),
        "range_3s": (w(frame="rows_range", preceding="3s"), False),
        "range_open_end_1s": (w(frame="rows_range", preceding="4s",
                                start_open=True, end_offset="1s",
                                end_open=True), False),
        "range_ect_maxsize": (w(frame="rows_range", preceding="5s",
                                max_size=3, exclude_current_time=True),
                              False),
        "range_union_inw": (w(frame="rows_range", preceding="3s",
                              instance_not_in_window=True), True),
        "merge_rows_range": (w(frame="rows_merge_rows_range",
                               preceding="1s", rows_preceding=3), False),
        "range_tts_union_ect": (w(frame="rows_range", order_by="tts",
                                  preceding="2s",
                                  exclude_current_time=True), True),
    }


BIG = 2**53


def _bigint_case(spark):
    """BIGINT values past 2^53 next to a NULL."""
    from openmldb_spark.plans.specs import Agg, WindowSpec
    from openmldb_spark.sources._local import local_rows

    df = local_rows(spark, [(i, "g", 1000 * (i + 1), v) for i, v in
                            enumerate([BIG + 1, None, BIG + 3, BIG + 5])],
                    "id int, k string, ts bigint, v bigint")
    spec = WindowSpec(partition_by=["k"], order_by="ts", frame="rows",
                      preceding=2, tiebreak=("id",))
    aggs = [Agg("lag", "v", "lag1", param=1), Agg("first_value", "v", "fv"),
            Agg("max", "v", "mx"), Agg("min", "v", "mn"),
            Agg("sum", "v", "sm")]
    return df, spec, aggs, [], ["id", "v"]


def _value(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def compute(spark) -> dict:
    from openmldb_spark.operators import window
    from openmldb_spark.sources._local import local_rows

    prim = local_rows(spark, _rows(1, 160, 0), SCHEMA)
    union = local_rows(spark, _rows(2, 40, 10_000), SCHEMA)
    aggs = _aggs()
    calls = {name: (prim, spec, aggs, [union] if u else [], KEEP)
             for name, (spec, u) in _cases().items()}
    calls["bigint_past_2_53"] = _bigint_case(spark)
    out = {}
    for name, (df, spec, ags, un, keep) in calls.items():
        res = window._numpy_window_agg(df, spec, ags, keep_cols=keep,
                                       union=un or None)
        rows = sorted(res.collect(), key=lambda r: r["id"])
        out[name] = {"schema": res.schema.simpleString(),
                     "rows": [[_value(v) for v in r] for r in rows]}
    return out


def test_window_kernel_golden(spark):
    want = json.loads(GOLDEN.read_text())
    got = compute(spark)
    assert sorted(got) == sorted(want)
    diffs = []
    for name, w in want.items():
        g = got[name]
        if g["schema"] != w["schema"]:
            diffs.append(f"{name}: schema\n  want {w['schema']}\n"
                         f"  got  {g['schema']}")
            continue
        cols = w["schema"][len("struct<"):-1].split(",")
        if len(g["rows"]) != len(w["rows"]):
            diffs.append(f"{name}: {len(w['rows'])} rows, "
                         f"got {len(g['rows'])}")
            continue
        for wr, gr in zip(w["rows"], g["rows"]):
            for col, wv, gv in zip(cols, wr, gr):
                if wv != gv:
                    diffs.append(f"{name} id={wr[0]} {col}: "
                                 f"want {wv!r} got {gv!r}")
    assert not diffs, f"{len(diffs)} golden diffs:\n" + "\n".join(diffs[:30])


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python tests/test_window_kernel_golden.py --record")
    sys.path.insert(0, str(ROOT))
    from openmldb_spark.session import get_spark
    session = get_spark(app_name="openmldb-spark-tests", master="local[4]",
                        shuffle_partitions=4)
    # one output row per line: a diff of the file reads row by row
    GOLDEN.write_text("{\n" + ",\n".join(
        f"{json.dumps(name)}: {{\"schema\": {json.dumps(case['schema'])}, "
        f"\"rows\": [\n" + ",\n".join(json.dumps(r) for r in case["rows"])
        + "]}" for name, case in compute(session).items()) + "\n}\n")
    print(f"recorded -> {GOLDEN}")
