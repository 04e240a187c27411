"""Property test: integer window sums wrap EXACTLY like the reference.

The reference's SumUdafDef accumulates in the input's C type and wraps
on overflow (templates<T,T,T>, default_udf_library.cc:106-120; the
arithmetic/window corpora value-check wrapped results). Our kernel
accumulates in int64 and truncates the result mod 2^N — valid
because wrap-addition is associative mod 2^N. This test drives random
int32/int16 frames (values spanning the full domain, so intermediate
and final overflow both occur) through the kernel and compares against
a per-row pure-Python oracle that wraps after every single addition,
i.e. the reference's exact accumulation order.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import run_window_kernel
from openmldb_spark.operators.window_kernel import EXPANDED, ORD, PRIMARY, UPOS
from openmldb_spark.plans.specs import Agg, WindowSpec


def _wrap(v, bits):
    m = 1 << bits
    v %= m
    return v - m if v >= m // 2 else v


def _oracle_sums(vals, rows_preceding, bits):
    """Per-add wraparound sum over ROWS n PRECEDING AND CURRENT ROW."""
    out = []
    for i in range(len(vals)):
        acc = 0
        for j in range(max(0, i - rows_preceding), i + 1):
            if vals[j] is not None:
                acc = _wrap(acc + vals[j], bits)
        out.append(acc)
    return out


def _run_kernel(vals, rows_preceding, dtype):
    n = len(vals)
    pdf = pd.DataFrame({
        "k": ["g"] * n,
        "v": pd.array(vals, dtype=dtype),
        ORD: np.arange(n, dtype=np.int64),
        PRIMARY: np.ones(n, dtype=np.int64),
        UPOS: np.zeros(n, dtype=np.int64),
        EXPANDED: np.zeros(n, dtype=np.int64),
        "__rid": np.arange(n, dtype=np.int64),
    })
    spec = WindowSpec(partition_by=("k",), order_by="__ord",
                      frame="rows", preceding=rows_preceding, end_offset=0)
    out = run_window_kernel(pdf, spec, [Agg("sum", "v", "s")], ["__rid"])
    return out.sort_values("__rid")["s"].tolist()


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.integers(-2**31, 2**31 - 1)),
                min_size=1, max_size=40),
       st.integers(0, 6))
def test_int32_window_sum_wraps_like_reference(vals, prec):
    got = _run_kernel(vals, prec, "Int32")
    want = _oracle_sums(vals, prec, 32)
    assert got == want, (vals, prec, got, want)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.integers(-2**15, 2**15 - 1)),
                min_size=1, max_size=40),
       st.integers(0, 6))
def test_int16_window_sum_wraps_like_reference(vals, prec):
    got = _run_kernel(vals, prec, "Int16")
    want = _oracle_sums(vals, prec, 16)
    assert got == want, (vals, prec, got, want)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.integers(-2**63, 2**63 - 1)),
                min_size=1, max_size=40),
       st.integers(0, 6))
def test_int64_window_sum_wraps_like_reference(vals, prec):
    """Full-domain int64 values: prefix sums blow past 2^53 immediately,
    so this pins the int64 accumulator path (the float64 prefix path
    loses low-order bits and fails this)."""
    got = _run_kernel(vals, prec, "Int64")
    want = _oracle_sums(vals, prec, 64)
    assert got == want, (vals, prec, got, want)


def test_int32_sum_exact_when_group_prefix_exceeds_2_53():
    """A group whose RUNNING prefix sum passes 2^53 while every frame
    sum stays small: the old float64 prefix accumulator dropped
    low-order bits here (spacing 2 at 1e16), so late-row frame sums
    came out wrong; the int64 accumulator path must stay exact.
    5M rows of INT32_MAX -> prefix ~1.07e16 > 2^53 ~ 9.0e15."""
    n, prec, v = 5_000_000, 3, 2**31 - 1
    got = _run_kernel([v] * n, prec, "int32")
    # analytic per-add-wrap oracle: frame holds min(i, prec)+1 copies
    m = 1 << 32
    wrapped = [((k * v) % m) - m if ((k * v) % m) >= m // 2
               else (k * v) % m for k in range(1, prec + 2)]
    want = [wrapped[min(i, prec)] for i in range(n)]
    assert got == want
