"""Golden tests for the numpy frame kernel (no Spark needed).

Cases ported verbatim from the reference yaml corpus:
- cases/function/window/test_window.yaml id 33/34/35 (first_value over
  frames with end offsets, rows and rows_range)
- cases/function/window/test_window_union.yaml id 13 (INSTANCE_NOT_IN_WINDOW)
- cases/function/window/test_maxsize.yaml-style MAXSIZE interactions
- EXCLUDE CURRENT_TIME duplicate-ts behaviour (BufferCurrentTimeBuffer trace)
Plus a hypothesis-style randomized differential test against the slow
pure-Python oracle (tests/oracle.py).
"""

import numpy as np
import pandas as pd
import pytest

from openmldb_spark.plans.specs import Agg, WindowSpec
from openmldb_spark.operators.window_kernel import group_window_features
from oracle import oracle_agg


def run(rows, spec, aggs, keep=("id",)):
    pdf = pd.DataFrame(rows)
    if "__primary" not in pdf.columns:
        pdf["__primary"] = 1
    pdf["__expanded"] = 0
    out = group_window_features(pdf, spec, aggs, list(keep))
    return out.sort_values(list(keep)).reset_index(drop=True)


# ---- reference case: test_window.yaml id 33/34/35 ----
G1 = [
    dict(id=1, __ord=1612130400000, val1=1),
    dict(id=2, __ord=1612130401000, val1=2),
    dict(id=3, __ord=1612130402000, val1=3),
    dict(id=4, __ord=1612130403000, val1=4),
    dict(id=5, __ord=1612130404000, val1=5),
]
G2 = [
    dict(id=6, __ord=1612130404000, val1=4),
    dict(id=7, __ord=1612130405000, val1=3),
    dict(id=8, __ord=1612130406000, val1=2),
]


def test_first_value_rows_range_end_offsets():
    w1 = WindowSpec(partition_by=["g"], frame="rows_range", preceding="5s",
                    end_offset="0s")
    w2 = WindowSpec(partition_by=["g"], frame="rows_range", preceding="5s",
                    end_offset="1s")
    for grp, exp1, exp2 in [
        (G1, [1, 2, 3, 4, 5], [None, 1, 2, 3, 4]),
        (G2, [4, 3, 2], [None, 4, 3]),
    ]:
        o1 = run(grp, w1, [Agg("first_value", "val1", "agg1")])
        o2 = run(grp, w2, [Agg("first_value", "val1", "agg2")])
        assert list(o1["agg1"]) == exp1
        assert [None if pd.isna(v) else v for v in o2["agg2"]] == exp2


def test_first_value_rows_end_offsets():
    w1 = WindowSpec(partition_by=["g"], frame="rows", preceding=5, end_offset=0)
    w2 = WindowSpec(partition_by=["g"], frame="rows", preceding=5, end_offset=1)
    o1 = run(G1, w1, [Agg("first_value", "val1", "agg1")])
    o2 = run(G1, w2, [Agg("first_value", "val1", "agg2")])
    assert list(o1["agg1"]) == [1, 2, 3, 4, 5]
    assert [None if pd.isna(v) else v for v in o2["agg2"]] == [None, 1, 2, 3, 4]


# ---- reference case: test_window_union.yaml id 13 ----
def test_window_union_instance_not_in_window():
    rows = [
        dict(id=1, __ord=1590738993000, c4=30, __primary=1),
        dict(id=4, __ord=1590738994000, c4=33, __primary=1),
        dict(id=2, __ord=1590738991000, c4=31, __primary=0),
        dict(id=3, __ord=1590738992000, c4=32, __primary=0),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=2,
                      instance_not_in_window=True)
    out = run(rows, spec, [Agg("sum", "c4", "s")])
    got = dict(zip(out["id"], out["s"]))
    assert got == {1: 93, 4: 96}  # expected rows from the yaml case


def test_window_union_buffer_not_emit():
    # secondary rows contribute to frames but produce no output rows
    rows = [
        dict(id=1, __ord=1000, v=10, __primary=1),
        dict(id=2, __ord=2000, v=20, __primary=1),
        dict(id=90, __ord=1500, v=5, __primary=0),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows_range", preceding="10s")
    out = run(rows, spec, [Agg("sum", "v", "s"), Agg("count", "v", "c")])
    assert len(out) == 2
    got = dict(zip(out["id"], out["s"]))
    assert got == {1: 10, 2: 35}


def test_union_same_ts_secondary_sorts_first():
    # At equal order keys, union rows sort before primary rows
    # (WindowAggPlan.windowPartition sort includes the union flag).
    rows = [
        dict(id=1, __ord=1000, v=1, __primary=1),
        dict(id=99, __ord=1000, v=100, __primary=0),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=1)
    out = run(rows, spec, [Agg("sum", "v", "s")])
    assert list(out["s"]) == [101]  # union row already buffered


# ---- EXCLUDE CURRENT_TIME (BufferCurrentTimeBuffer trace) ----
def test_exclude_current_time():
    rows = [
        dict(id=1, __ord=1000, v=1),
        dict(id=2, __ord=1000, v=2),
        dict(id=3, __ord=2000, v=4),
        dict(id=4, __ord=2000, v=8),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows_range", preceding="10s",
                      exclude_current_time=True, tiebreak=("id",))
    out = run(rows, spec, [Agg("sum", "v", "s")])
    assert list(out["s"]) == [1, 2, 7, 11]
    # without the flag the same-ts earlier row IS included
    spec2 = WindowSpec(partition_by=["g"], frame="rows_range", preceding="10s",
                       tiebreak=("id",))
    out2 = run(rows, spec2, [Agg("sum", "v", "s")])
    assert list(out2["s"]) == [1, 3, 7, 15]


def test_exclude_current_time_rows_frame():
    rows = [
        dict(id=1, __ord=1000, v=1),
        dict(id=2, __ord=1000, v=2),
        dict(id=3, __ord=2000, v=4),
        dict(id=4, __ord=2000, v=8),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=2,
                      exclude_current_time=True, tiebreak=("id",))
    out = run(rows, spec, [Agg("sum", "v", "s")])
    # id4: {self} + 2 newest with ts<2000 = 8+1+2
    assert list(out["s"]) == [1, 2, 7, 11]


# ---- MAXSIZE ----
def test_maxsize_rows_range():
    rows = [dict(id=i, __ord=1000 * i, v=i) for i in range(1, 7)]
    spec = WindowSpec(partition_by=["g"], frame="rows_range", preceding="10s",
                      max_size=3)
    out = run(rows, spec, [Agg("sum", "v", "s"), Agg("count", "v", "c")])
    assert list(out["c"]) == [1, 2, 3, 3, 3, 3]
    assert list(out["s"]) == [1, 3, 6, 9, 12, 15]


def test_maxsize_with_exclude_current_time():
    rows = [
        dict(id=1, __ord=1000, v=1),
        dict(id=2, __ord=2000, v=2),
        dict(id=3, __ord=2000, v=4),
        dict(id=4, __ord=3000, v=8),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows_range", preceding="10s",
                      max_size=2, exclude_current_time=True, tiebreak=("id",))
    out = run(rows, spec, [Agg("sum", "v", "s")])
    # id3: self + newest 1 row with ts<2000 → 4+1; id4: self + newest(ts<3000)=4
    assert list(out["s"]) == [1, 3, 5, 12]


# ---- OPEN bounds ----
def test_open_start_bound():
    rows = [dict(id=i, __ord=1000 * i, v=1) for i in range(1, 6)]
    closed = WindowSpec(partition_by=["g"], frame="rows_range", preceding="2s")
    opened = WindowSpec(partition_by=["g"], frame="rows_range", preceding="2s",
                        start_open=True)
    oc = run(rows, closed, [Agg("count", "v", "c")])
    oo = run(rows, opened, [Agg("count", "v", "c")])
    assert list(oc["c"]) == [1, 2, 3, 3, 3]
    assert list(oo["c"]) == [1, 2, 2, 2, 2]


# ---- null & invalid order handling ----
def test_null_values_skipped_in_aggs():
    rows = [
        dict(id=1, __ord=1000, v=1.0),
        dict(id=2, __ord=2000, v=None),
        dict(id=3, __ord=3000, v=3.0),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("sum", "v", "s"), Agg("count", "v", "c"),
                           Agg("avg", "v", "a")])
    assert list(out["c"]) == [1, 1, 2]
    assert list(out["s"]) == [1.0, 1.0, 4.0]
    assert out["a"].tolist() == [1.0, 1.0, 2.0]


# ---- lag / at ----
def test_lag_within_frame():
    rows = [dict(id=i, __ord=1000 * i, v=i) for i in range(1, 6)]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=2)
    out = run(rows, spec, [Agg("lag", "v", "l1", param=1),
                           Agg("lag", "v", "l2", param=2),
                           Agg("lag", "v", "l3", param=3)])
    def clean(c):
        return [None if pd.isna(x) else x for x in out[c]]
    assert clean("l1") == [None, 1, 2, 3, 4]
    assert clean("l2") == [None, None, 1, 2, 3]
    # lag is partition-scoped, NOT frame-bounded: the reference merges
    # each lag offset into the buffered frame, so lag(3) over `rows
    # between 2 preceding and current row` still reaches the 3rd row
    # back (test_udaf_function.yaml ids 57-60, OpenMLDB issue #1554)
    assert clean("l3") == [None, None, None, 1, 2]


# ---- hard UDAFs ----
def test_top_and_top_n_frequency():
    rows = [
        dict(id=1, __ord=1000, v=5, t="a"),
        dict(id=2, __ord=2000, v=9, t="b"),
        dict(id=3, __ord=3000, v=7, t="a"),
        dict(id=4, __ord=4000, v=9, t="c"),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("top", "v", "topv", param=2),
                           Agg("top_n_frequency", "t", "topt", param=2),
                           Agg("top1_ratio", "t", "r1"),
                           Agg("distinct_count", "t", "dc")])
    assert list(out["topv"]) == ["5", "9,5", "9,7", "9,9"]
    # fewer than k present keys → pad with "NULL" to k
    # (FZTopNFrequency::Output, feature_zero_def.cc:520-545)
    assert list(out["topt"]) == ["a,NULL", "a,b", "a,b", "a,b"]
    assert out["r1"].tolist() == [1.0, 0.5, 2 / 3, 0.5]
    assert list(out["dc"]) == [1, 2, 2, 3]


def test_top_n_frequency_null_padding_and_numeric_keys():
    # all-null-key frame: Update ran (top_n_ set) but map empty → "NULL,NULL";
    # numeric keys order natively (2 before 10), not lexicographically
    rows = [
        dict(id=1, __ord=1000, t=None, k=10),
        dict(id=2, __ord=2000, t=None, k=2),
        dict(id=3, __ord=3000, t="z", k=2),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("top_n_frequency", "t", "topt", param=2),
                           Agg("top_n_frequency", "k", "topk", param=3)])
    assert list(out["topt"]) == ["NULL,NULL", "NULL,NULL", "z,NULL"]
    # counts: row3 frame has k=10 once, k=2 twice → 2 first (count), then 10
    assert list(out["topk"]) == ["10,NULL,NULL", "2,10,NULL", "2,10,NULL"]


def test_all_null_key_group_pads_and_emits_empty():
    # a group whose key column is entirely NULL has no categories at all:
    # top_n_frequency still pads a non-empty frame to k "NULL"s, and the
    # *_cate family emits "" (no key present)
    rows = [
        dict(id=1, __ord=1000, v=1.0, t=None, c=True),
        dict(id=2, __ord=2000, v=2.0, t=None, c=True),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [
        Agg("top_n_frequency", "t", "topt", param=2),
        Agg("sum_cate", "v", "sc", cate="t"),
        Agg("count_cate_where", "v", "cw", cond="c", cate="t"),
        Agg("top_n_key_avg_cate_where", "v", "ta", cond="c", cate="t",
            param=2),
    ])
    assert list(out["topt"]) == ["NULL,NULL", "NULL,NULL"]
    assert list(out["sc"]) == ["", ""]
    assert list(out["cw"]) == ["", ""]
    assert list(out["ta"]) == ["", ""]


def test_top_n_key_cate_where():
    # keep only the n LARGEST keys (complete accumulators), emit key-DESC
    # (TopKAvgCateWhereDef, avg_by_category_def.cc:143-218; bounded
    # std::map evicts begin() past the bound)
    rows = [
        dict(id=1, __ord=1000, v=1.0, k="a", c=True),
        dict(id=2, __ord=2000, v=2.0, k="b", c=True),
        dict(id=3, __ord=3000, v=3.0, k="c", c=True),
        dict(id=4, __ord=4000, v=4.0, k="b", c=False),
        dict(id=5, __ord=5000, v=5.0, k="b", c=True),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [
        Agg("top_n_key_sum_cate_where", "v", "s2", cond="c", cate="k",
            param=2),
        Agg("top_n_key_count_cate_where", "v", "c1", cond="c", cate="k",
            param=1),
        Agg("top_n_key_avg_cate_where", "v", "a2", cond="c", cate="k",
            param=2),
    ])
    assert list(out["s2"]) == ["a:1", "b:2,a:1", "c:3,b:2", "c:3,b:2",
                               "c:3,b:7"]
    assert list(out["c1"]) == ["a:1", "b:1", "c:1", "c:1", "c:1"]
    assert list(out["a2"]) == ["a:1", "b:2,a:1", "c:3,b:2", "c:3,b:2",
                               "c:3,b:3.5"]


def test_cate_numeric_key_native_order():
    # std::map<int> in the reference orders 2 before 10; str() order would
    # wrongly emit "10:...,2:..."
    rows = [
        dict(id=1, __ord=1000, v=1.0, k=10),
        dict(id=2, __ord=2000, v=2.0, k=2),
        dict(id=3, __ord=3000, v=3.0, k=2),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("sum_cate", "v", "sc", cate="k")])
    assert list(out["sc"]) == ["10:1", "2:2,10:1", "2:5,10:1"]


def test_cate_aggs():
    rows = [
        dict(id=1, __ord=1000, v=1.0, k="x"),
        dict(id=2, __ord=2000, v=2.0, k="y"),
        dict(id=3, __ord=3000, v=3.0, k="x"),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("sum_cate", "v", "sc", cate="k"),
                           Agg("count_cate", "v", "cc", cate="k")])
    assert list(out["sc"]) == ["x:1", "x:1,y:2", "x:4,y:2"]
    assert list(out["cc"]) == ["x:1", "x:1,y:1", "x:2,y:1"]


# ---- where-variants ----
def test_where_aggs():
    rows = [
        dict(id=i, __ord=1000 * i, v=float(i), pos=(i % 2 == 0))
        for i in range(1, 6)
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("sum_where", "v", "sw", cond="pos"),
                           Agg("count_where", "v", "cw", cond="pos"),
                           Agg("min_where", "v", "mw", cond="pos")])
    # sum_where inits 0: no-match frame -> 0 (SumWhereDef :305-318)
    assert [None if pd.isna(x) else x for x in out["sw"]] == [0, 2, 2, 6, 6]
    assert list(out["cw"]) == [0, 1, 1, 2, 2]
    assert [None if pd.isna(x) else x for x in out["mw"]] == [None, 2, 2, 2, 2]


# ---- rows_merge_rows_range ----
def test_rows_merge_rows_range():
    rows = [dict(id=i, __ord=[0, 10_000, 11_000, 12_000, 50_000][i - 1], v=1)
            for i in range(1, 6)]
    spec = WindowSpec(partition_by=["g"], frame="rows_merge_rows_range",
                      preceding="2s", rows_preceding=2)
    out = run(rows, spec, [Agg("count", "v", "c")])
    # time frame alone: [1,1,2,3,1] — but at least 3 rows retained once seen
    assert list(out["c"]) == [1, 2, 3, 3, 3]


# ---- randomized differential vs pure-Python oracle ----
@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_random_differential_vs_oracle(seed):
    rng = np.random.default_rng(seed)
    n = 60
    ts = np.sort(rng.integers(0, 40, n)) * 1000
    prim = rng.integers(0, 2, n)
    prim[0] = 1
    vals = rng.integers(0, 100, n).astype(float)
    vals[rng.random(n) < 0.15] = np.nan
    rows = [
        dict(id=i, __ord=int(ts[i]), v=(None if np.isnan(vals[i]) else float(vals[i])),
             __primary=int(prim[i]))
        for i in range(n)
    ]
    specs = [
        WindowSpec(partition_by=["g"], frame="rows", preceding=int(rng.integers(0, 6)),
                   tiebreak=("id",)),
        WindowSpec(partition_by=["g"], frame="rows_range",
                   preceding=f"{int(rng.integers(1, 15))}s", tiebreak=("id",)),
        WindowSpec(partition_by=["g"], frame="rows_range", preceding="8s",
                   max_size=3, tiebreak=("id",)),
        WindowSpec(partition_by=["g"], frame="rows_range", preceding="8s",
                   exclude_current_time=True, tiebreak=("id",)),
        WindowSpec(partition_by=["g"], frame="rows_range", preceding="10s",
                   end_offset="2s", tiebreak=("id",)),
        WindowSpec(partition_by=["g"], frame="rows_range", preceding="10s",
                   instance_not_in_window=True, tiebreak=("id",)),
        WindowSpec(partition_by=["g"], frame="rows", preceding=4,
                   exclude_current_time=True, tiebreak=("id",)),
    ]
    funcs = [("sum", None), ("count", None), ("avg", None), ("min", None),
             ("max", None), ("distinct_count", None), ("lag", 1), ("lag", 2),
             ("first_value", None)]
    for spec in specs:
        aggs = [Agg(f, "v", f"o{i}", param=p) for i, (f, p) in enumerate(funcs)]
        got = run(rows, spec, aggs, keep=("id",))
        # oracle works on the same sort order
        srt = sorted(rows, key=lambda r: (r["__ord"], r["__primary"], r["id"]))
        emit = [i for i, r in enumerate(srt) if r["__primary"] == 1]
        emit_ids = [srt[i]["id"] for i in emit]
        got = got.set_index("id").loc[emit_ids]
        for i, (f, p) in enumerate(funcs):
            exp = [oracle_agg(srt, j, spec, f, "v", param=p) for j in emit]
            g = got[f"o{i}"].tolist()
            for a, b in zip(g, exp):
                if b is None:
                    assert a is None or pd.isna(a), (spec, f, emit_ids, g, exp)
                else:
                    assert a is not None and not pd.isna(a) and abs(a - b) < 1e-9, (
                        spec, f, g, exp)


# ---- fz_window_split family (feature_zero_def.cc:181-280) ----
def test_window_split_family():
    rows = [
        dict(id=1, __ord=1000, s="a:1,b:2"),
        dict(id=2, __ord=2000, s="c:3"),
        dict(id=3, __ord=3000, s=None),
        dict(id=4, __ord=4000, s="d:4,x,e:5"),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [
        Agg("window_split", "s", "ws", delim=","),
        Agg("window_split_by_key", "s", "wk", delim=",", kv_delim=":"),
        Agg("window_split_by_value", "s", "wv", delim=",", kv_delim=":"),
    ])
    # newest row first; parts within a row keep natural order
    assert list(out["ws"]) == [
        "a:1,b:2", "c:3,a:1,b:2", "c:3,a:1,b:2", "d:4,x,e:5,c:3,a:1,b:2"]
    assert list(out["wk"]) == ["a,b", "c,a,b", "c,a,b", "d,e,c,a,b"]
    assert list(out["wv"]) == ["1,2", "3,1,2", "3,1,2", "4,5,3,1,2"]


def test_window_split_trailing_delim_and_empty():
    rows = [dict(id=1, __ord=1000, s="a,"), dict(id=2, __ord=2000, s="")]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("window_split", "s", "ws", delim=",", sep="|")])
    # trailing delimiter yields an empty part (UpdateSplit scan loop);
    # empty string is one empty part
    assert list(out["ws"]) == ["a|", "|a|"]


# ---- hypothesis property test: kernel vs pure-Python oracle ----
try:
    from hypothesis import given, settings, strategies as st

    @st.composite
    def _frames(draw):
        n = draw(st.integers(5, 40))
        ts = sorted(draw(st.lists(st.integers(0, 30), min_size=n, max_size=n)))
        vals = draw(st.lists(
            st.one_of(st.none(), st.integers(0, 50)), min_size=n, max_size=n))
        prim = draw(st.lists(st.booleans(), min_size=n, max_size=n))
        spec = WindowSpec(
            partition_by=["g"],
            frame=draw(st.sampled_from(["rows", "rows_range"])),
            preceding=draw(st.integers(0, 12)) * (
                1000 if draw(st.booleans()) else 1),
            max_size=draw(st.sampled_from([0, 0, 2, 3])),
            exclude_current_time=draw(st.booleans()),
            tiebreak=("id",),
        )
        rows = [dict(id=i, __ord=t * 1000,
                     v=None if v is None else float(v),
                     __primary=int(p or i == 0))
                for i, (t, v, p) in enumerate(zip(ts, vals, prim))]
        return rows, spec

    @given(_frames())
    @settings(max_examples=60, deadline=None)
    def test_hypothesis_kernel_matches_oracle(case):
        rows, spec = case
        aggs = [Agg("sum", "v", "s"), Agg("count", "v", "c"),
                Agg("min", "v", "mn"), Agg("max", "v", "mx"),
                Agg("lag", "v", "l1", param=1)]
        got = run(rows, spec, aggs, keep=("id",))
        srt = sorted(rows, key=lambda r: (r["__ord"], r["__primary"], r["id"]))
        emit = [i for i, r in enumerate(srt) if r["__primary"] == 1]
        emit_ids = [srt[i]["id"] for i in emit]
        got = got.set_index("id").loc[emit_ids]
        for alias, (f, p) in [("s", ("sum", None)), ("c", ("count", None)),
                              ("mn", ("min", None)), ("mx", ("max", None)),
                              ("l1", ("lag", 1))]:
            exp = [oracle_agg(srt, j, spec, f, "v", param=p) for j in emit]
            for a, b in zip(got[alias].tolist(), exp):
                if b is None:
                    assert a is None or pd.isna(a), (spec, f, a, b)
                else:
                    assert a is not None and not pd.isna(a) \
                        and abs(a - b) < 1e-9, (spec, f, a, b)
except ImportError:  # pragma: no cover
    pass


def test_string_date_min_max():
    rows = [
        dict(id=1, __ord=1000, s="banana", d="2020-05-03"),
        dict(id=2, __ord=2000, s="apple", d="2020-05-01"),
        dict(id=3, __ord=3000, s=None, d="2020-05-02"),
        dict(id=4, __ord=4000, s="cherry", d=None),
    ]
    spec = WindowSpec(partition_by=["g"], frame="rows", preceding=10)
    out = run(rows, spec, [Agg("min", "s", "smin"), Agg("max", "s", "smax"),
                           Agg("min", "d", "dmin"), Agg("max", "d", "dmax")])
    assert list(out["smin"]) == ["banana", "apple", "apple", "apple"]
    assert list(out["smax"]) == ["banana", "banana", "banana", "cherry"]
    assert list(out["dmin"]) == ["2020-05-03", "2020-05-01", "2020-05-01",
                                 "2020-05-01"]
    assert list(out["dmax"]) == ["2020-05-03", "2020-05-03", "2020-05-03",
                                 "2020-05-03"]
