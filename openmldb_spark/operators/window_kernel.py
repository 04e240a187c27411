"""Vectorized sliding-frame kernel — the engine core.

Reproduces the exact frame semantics of OpenMLDB's ``HistoryWindow`` buffer
(/root/reference/hybridse/include/vm/mem_catalog.h:368-471: BufferData /
BufferEffectiveWindow / BufferCurrentTimeBuffer / BufferCurrentHistoryBuffer)
and the batch-engine emit rules
(/root/reference/java/openmldb-batch/.../nodes/WindowAggPlan.scala:540-611),
re-expressed as numpy prefix sums + searchsorted over one sorted group —
no per-row Python in the hot path for sum/count/avg/min/max/lag/first_value.

Semantics cheat-sheet (derived from the reference, validated by its yaml
cases):

- Buffer order: rows sorted by (order_key, is_primary, *tiebreak); at equal
  order keys union (secondary) rows sort BEFORE primary rows
  (WindowAggPlan.windowPartition:322-343 — union flag appended to sort keys).
- Rows with NULL or negative order key are dropped entirely — neither
  buffered nor emitted (WindowAggPlan.isValidOrder:783-790).
- ROWS frame [s PRECEDING, e PRECEDING]: positions e..s counting back from
  the current row within the buffer.
- ROWS_RANGE frame: order_key in [cur-s, cur-e]; OPEN makes a bound
  exclusive. Only rows already buffered (sort position < current) qualify.
- EXCLUDE CURRENT_TIME (only applies when the frame end is CURRENT ROW):
  frame = {current row} ∪ rows with order_key strictly < current key
  (BufferCurrentTimeBuffer trace).
- MAXSIZE k: keep only the newest k frame rows, current row included
  (BufferEffectiveWindow pop loop, mem_catalog.h:430-438).
- WINDOW UNION: secondary rows buffer but never emit
  (WindowAggPlan.scala:598-601).
- INSTANCE_NOT_IN_WINDOW: primary rows never buffer; the anchor row itself
  still joins its own frame (cases/function/window/test_window_union.yaml
  id 13: anchor + union rows).
- rows_merge_rows_range: expires by time but always retains at least
  rows_preceding+1 newest rows (mem_catalog.h:439-452).
- at/lag(col,k): k-th frame row counting back from the newest; first_value =
  at(col,0) (window_functions_def.cc:96-157).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from openmldb_spark.plans.specs import Agg, WindowSpec

ORD = "__ord"          # int64 order key (ms for range frames)
PRIMARY = "__primary"  # 1 = row of the primary (emitting) table
EXPANDED = "__expanded"  # 1 = skew-replica row: buffers, never emits
UPOS = "__upos"        # 0 = primary, -(i+1) = i-th WINDOW UNION table


def _searchsorted(a: np.ndarray, v: np.ndarray, side: str) -> np.ndarray:
    return np.searchsorted(a, v, side=side).astype(np.int64)


def compute_frame_bounds(
    ts_e: np.ndarray,      # order keys of eligible (bufferable) rows, sorted
    tsE: np.ndarray,       # order keys of emit rows
    PE: np.ndarray,        # # eligible rows strictly before each emit row
    selfE: np.ndarray,     # 1 if the emit row itself is eligible
    spec: WindowSpec,
):
    """Return (lo, hi, extra): frame = ts_e[lo:hi] ∪ ({self} if extra).

    lo/hi are int64 arrays over emit rows; extra is a boolean array (the
    anchor participates without being part of the contiguous slice).
    """
    end_delta = spec.end_delta
    at_current = end_delta == 0 and not spec.end_open
    # OPEN on a rows-frame bound excludes that end's row: start capacity
    # shrinks by 1, end exclusion grows by 1 (WINDOW_CLAUSE.md:118-139;
    # case test_window_exclude_current_time.yaml id 3: 7 OPEN PRECEDING
    # holds 7 rows, not 8)
    rows_start_open = 1 if (spec.frame == "rows" and spec.start_open) else 0
    rows_end_eff = end_delta + (
        1 if (spec.frame == "rows" and spec.end_open) else 0)

    if at_current:
        if spec.exclude_current_time:
            hi = _searchsorted(ts_e, tsE, "left")
            extra = np.ones(len(tsE), dtype=bool)
        else:
            hi = PE + selfE
            extra = selfE == 0
    else:
        extra = np.zeros(len(tsE), dtype=bool)
        if spec.frame == "rows":
            # offsets count back from the VIRTUAL anchor position PE —
            # also when the anchor itself is not buffered
            # (INSTANCE_NOT_IN_WINDOW): `1 PRECEDING` is then the newest
            # buffered row (test_window_union.yaml id 19-2)
            hi = np.maximum(PE + 1 - rows_end_eff, 0)
        else:
            side = "left" if spec.end_open else "right"
            hi = _searchsorted(ts_e, tsE - end_delta, side)
            hi = np.minimum(hi, PE + selfE)

    extra_i = extra.astype(np.int64)
    if spec.frame == "rows":
        lo = hi - (spec.start_delta + 1 - rows_start_open
                   - rows_end_eff - extra_i)
    else:
        side = "right" if spec.start_open else "left"
        lo = _searchsorted(ts_e, tsE - spec.start_delta, side)
        if spec.frame == "rows_merge_rows_range":
            lo_rows = hi - (spec.rows_preceding + 1 - extra_i)
            lo = np.minimum(lo, lo_rows)

    if spec.max_size and spec.max_size > 0:
        lo = np.maximum(lo, hi - (spec.max_size - extra_i))

    lo = np.clip(lo, 0, hi)
    return lo, hi, extra


def _prefix(arr: np.ndarray) -> np.ndarray:
    out = np.empty(len(arr) + 1, dtype=np.float64)
    out[0] = 0.0
    np.cumsum(arr, out=out[1:])
    return out


class _SparseTable:
    """O(m log m) range-min/max over the eligible value array."""

    def __init__(self, x: np.ndarray, op, identity=None):
        self.op = op
        self.identity = identity if identity is not None else (
            np.inf if op is np.minimum else -np.inf)
        m = len(x)
        levels = max(1, m.bit_length())
        self.tab = [x]
        k = 1
        while (1 << k) <= m:
            prev = self.tab[-1]
            half = 1 << (k - 1)
            self.tab.append(op(prev[: m - (1 << k) + 1], prev[half : m - half + 1]))
            k += 1

    def query(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """Reduce over [lo, hi); empty ranges yield the op identity."""
        out = np.full(len(lo), self.identity,
                      dtype=self.tab[0].dtype if len(self.tab[0])
                      else np.float64)
        w = hi - lo
        valid = w > 0
        if not valid.any():
            return out
        k = np.zeros(len(lo), dtype=np.int64)
        wv = w[valid]
        k_v = np.floor(np.log2(wv)).astype(np.int64)
        k[valid] = k_v
        for kk in np.unique(k_v):
            mask = valid & (k == kk)
            t = self.tab[kk]
            a = t[lo[mask]]
            b = t[hi[mask] - (1 << kk)]
            out[mask] = self.op(a, b)
        return out


def _factorize_sorted(s: pd.Series, fmt=None):
    """Factorize to int codes with uniques sorted ascending in NATIVE key
    order — the reference's containers are std::map<StorageK> with
    native-type comparison (BoundedGroupByDict, udf/containers.h), so
    numeric category keys emit numerically (2 before 10) while string
    keys emit lexicographically. ``fmt`` renders the emit strings (the
    logical-type formatter from typed_formatter); default _fmt_num so
    float-typed keys from nullable int columns render as ints.
    Nulls → -1."""
    codes, uniques = pd.factorize(s.to_numpy(object))
    if not len(uniques):
        # every key NULL: no categories, every code -1
        return codes.astype(np.int64), np.array([], dtype=object)
    if pd.api.types.is_numeric_dtype(s) and len(uniques):
        order = np.argsort(np.asarray(uniques, dtype=np.float64),
                           kind="stable")
        uniq_str = np.array([(fmt or _fmt_num)(u) for u in uniques],
                            dtype=object)
    else:
        uniq_str = np.array([(fmt or str)(u) for u in uniques],
                            dtype=object)
        order = np.argsort(uniq_str, kind="stable")
    inv = np.empty(len(order), dtype=np.int64)
    inv[order] = np.arange(len(order))
    remapped = np.where(codes >= 0, inv[np.maximum(codes, 0)], -1)
    return remapped, uniq_str[order]


def _cat_prefix(codes_e: np.ndarray, weights: np.ndarray | None, u: int):
    """(n_e+1, u) column-wise cumulative counts (or weighted sums)."""
    n_e = len(codes_e)
    M = np.zeros((n_e + 1, u), dtype=np.float64)
    valid = codes_e >= 0
    idx = np.flatnonzero(valid)
    w = np.ones(len(idx)) if weights is None else weights[idx]
    np.add.at(M, (idx + 1, codes_e[idx]), w)
    np.cumsum(M, axis=0, out=M)
    return M


def cat_counts(pdf, col, cond, idx_e, lo, hi, E, anchored, fmt=None,
               series=None):
    """Per-emit-frame category counts matrix (n_emit × u) + sorted uniques.

    Replaces per-row value_counts loops with two vectorized ops:
    one-hot scatter + cumsum, then M[hi]-M[lo].
    """
    codes, uniq = _factorize_sorted(
        pdf[col] if series is None else series, fmt)
    if cond is not None:
        cm = pdf[cond].fillna(False).to_numpy(bool)
        codes = np.where(cm, codes, -1)
    codes_e = codes[idx_e]
    u = len(uniq)
    if u == 0:
        return np.zeros((len(E), 0)), uniq
    M = _cat_prefix(codes_e, None, u)
    counts = M[hi] - M[lo]
    anchor_codes = codes[E]
    am = anchored & (anchor_codes >= 0)
    ai = np.flatnonzero(am)
    np.add.at(counts, (ai, anchor_codes[ai]), 1.0)
    return counts, uniq


def topn_freq_strings(counts: np.ndarray, uniq: np.ndarray, k: int,
                      frame_n: np.ndarray) -> list:
    """fz_topn_frequency emit: top-k keys by (count desc, key asc in native
    order) as csv, padded with literal "NULL" entries up to k
    (FZTopNFrequency::Output, feature_zero_def.cc:438-554). An EMPTY frame
    emits "" (Update never ran, so top_n_ stays 0); a non-empty frame with
    fewer than k present keys — including all-null-key frames — pads."""
    k = min(max(int(k), 0), 1024)                 # MAXIMUM_TOPN
    n = len(counts)
    if k == 0:
        return [""] * n
    if counts.shape[1] == 0:
        return ["" if frame_n[r] == 0 else ",".join(["NULL"] * k)
                for r in range(n)]
    # columns are key-ascending (native order); stable sort on -count →
    # ties by key asc, matching the reference's priority_queue cmp
    ordr = np.argsort(-counts, axis=1, kind="stable")[:, :k]
    top_counts = np.take_along_axis(counts, ordr, axis=1)
    out = []
    for r in range(n):
        if frame_n[r] == 0:
            out.append("")
            continue
        keys = [str(uniq[c]) for c, n_ in zip(ordr[r], top_counts[r])
                if n_ > 0]
        keys += ["NULL"] * (k - len(keys))
        out.append(",".join(keys))
    return out


def cate_agg_strings(pdf, cate_col, val_col, cond, base, idx_e, lo, hi, E,
                     anchored, numeric, top_n: int | None = None,
                     key_fmt=None, val_fmt=None) -> list:
    """{sum,count,avg,min,max}_cate[_where] and the top_n_key_* variants:
    per-category aggregate within the frame, emitted "k1:v1,k2:v2" sorted
    by key ascending (*_by_category_def.cc). ``top_n``: keep only the n
    LARGEST keys and emit them key-DESCENDING — the reference's bounded
    std::map evicts begin() past the bound, so surviving keys always
    carry complete accumulators (TopKAvgCateWhereDef::Update;
    OutputString(ptr, is_desc=true)).

    sum/count/avg via category prefix sums (vectorized); min/max via
    per-row numpy slices (no prefix structure)."""
    codes, uniq = _factorize_sorted(pdf[cate_col], key_fmt)
    # value rendering: count is always %lld; avg always %f (double
    # accumulator); sum/min/max render in the value column's own type
    if base == "count":
        vfmt = lambda v: str(int(v))  # noqa: E731
    elif base == "avg":
        vfmt = (lambda v: f"{float(v):.6f}") if val_fmt else _fmt_num
    else:
        vfmt = val_fmt or _fmt_num
    x, _, _ = numeric(val_col)
    valid = (codes >= 0) & ~np.isnan(x)
    if cond is not None:
        cm = pdf[cond].fillna(False).to_numpy(bool)
        valid &= cm
    codes = np.where(valid, codes, -1)
    u = len(uniq)
    n = len(E)
    if u == 0:
        return [""] * n
    codes_e = codes[idx_e]
    x_e = x[idx_e]
    anchor_codes = codes[E]
    anchor_vals = x[E]
    am = anchored & (anchor_codes >= 0)
    ai = np.flatnonzero(am)

    if base in ("sum", "count", "avg"):
        C = _cat_prefix(codes_e, None, u)
        cnt = C[hi] - C[lo]
        np.add.at(cnt, (ai, anchor_codes[ai]), 1.0)
        if base == "count":
            vals = cnt
        else:
            S = _cat_prefix(codes_e, np.where(valid[idx_e], x_e, 0.0), u)
            sm = S[hi] - S[lo]
            np.add.at(sm, (ai, anchor_codes[ai]), anchor_vals[ai])
            vals = sm if base == "sum" else np.where(cnt > 0, sm / np.maximum(cnt, 1), np.nan)
        out = []
        is_count = base == "count"
        for r in range(n):
            cs = [c for c in range(u) if cnt[r, c] > 0]
            if top_n is not None:
                cs = cs[-top_n:][::-1] if top_n > 0 else []
            parts = [
                f"{uniq[c]}:{vfmt(int(cnt[r, c])) if is_count else vfmt(vals[r, c])}"
                for c in cs
            ]
            out.append(",".join(parts))
        return out

    # min/max: per-row slice reduction
    op = np.fmin if base == "min" else np.fmax
    out = []
    xe_masked = np.where(valid[idx_e], x_e, np.nan)
    for r in range(n):
        sl_codes = codes_e[lo[r]:hi[r]]
        sl_vals = xe_masked[lo[r]:hi[r]]
        acc: dict[int, float] = {}
        m = sl_codes >= 0
        for c, v in zip(sl_codes[m], sl_vals[m]):
            if not np.isnan(v):
                acc[c] = v if c not in acc else (min(acc[c], v) if base == "min" else max(acc[c], v))
        if am[r]:
            c, v = anchor_codes[r], anchor_vals[r]
            acc[c] = v if c not in acc else (min(acc[c], v) if base == "min" else max(acc[c], v))
        cs = sorted(acc)
        if top_n is not None:
            cs = cs[-top_n:][::-1] if top_n > 0 else []
        out.append(",".join(f"{uniq[c]}:{vfmt(acc[c])}" for c in cs))
    return out


def _split_parts(s: str, f: str, delim: str, kv_delim: str | None) -> list:
    """Replicates FZStringOpsDef split rules: single-char delimiters use
    the scan loop (trailing delim yields ''), multi-char use regex; the
    by_key/by_value variants keep only parts containing the kv delim."""
    import re as _re

    if not delim:
        # empty delimiter → no parts at all (UpdateSplit* returns the
        # state untouched — test_feature_zero_function.yaml id 5)
        return []
    if len(delim) == 1:
        parts = s.split(delim)
    else:
        parts = _re.split(delim, s)
    if f == "window_split":
        return parts
    out = []
    for p in parts:
        if kv_delim is None or kv_delim == "":
            continue
        if len(kv_delim) == 1:
            i = p.find(kv_delim)
            if i >= 0:
                out.append(p[:i] if f == "window_split_by_key" else p[i + 1:])
        else:
            sub = _re.split(kv_delim, p)
            if len(sub) >= 2:
                out.append(sub[0] if f == "window_split_by_key" else sub[1])
    return out


def window_split_strings(pdf, col, f, delim, kv_delim, sep,
                         idx_e, lo, hi, E, anchored, mode=None) -> list:
    """mode None → fz_join of the frame's split parts (newest first);
    mode 'count' / 'distinct_count' → count(fz_window_split*(..)) /
    distinct_count(..) over the same parts stream
    (test_feature_zero_function.yaml ids 1-4)."""
    raw = pdf[col].to_numpy(object)
    # pre-split each eligible row once
    cache: dict[int, list] = {}

    def parts_of(pos: int) -> list:
        if pos not in cache:
            v = raw[pos]
            cache[pos] = [] if v is None or (isinstance(v, float) and
                                             np.isnan(v)) else \
                _split_parts(str(v), f, delim, kv_delim)
        return cache[pos]

    res = []
    for j in range(len(E)):
        acc: list[str] = []
        # newest first: anchor, then slice reversed
        if anchored[j]:
            acc.extend(parts_of(E[j]))
        for pos in idx_e[lo[j]:hi[j]][::-1]:
            acc.extend(parts_of(pos))
        if mode == "count":
            res.append(len(acc))
        elif mode == "distinct_count":
            res.append(len(set(acc)))
        elif mode == "top1_ratio":
            # FZTop1Ratio::Output: empty map → 0.0
            if not acc:
                res.append(0.0)
            else:
                from collections import Counter
                res.append(max(Counter(acc).values()) / len(acc))
        elif mode and str(mode).startswith("top_n_frequency:"):
            from collections import Counter
            k = int(str(mode).split(":", 1)[1])
            if not acc:
                # zero parts → Update never ran → top_n_ stays 0 →
                # empty output, NOT NULL-padding (FZTopNFrequency;
                # test_feature_zero_function.yaml id 4 row 4)
                res.append("")
                continue
            top = sorted(Counter(acc).items(),
                         key=lambda kv: (-kv[1], kv[0]))[:k]
            keys = [kk for kk, _ in top] + ["NULL"] * (k - len(top))
            res.append(",".join(keys))
        else:
            res.append(sep.join(acc))
    return res


def ordered_min_max(pdf, col, cond, f, idx_e, lo, hi, E,
                    anchored) -> np.ndarray:
    """min/max over orderable non-numeric columns (strings, dates):
    factorize to sorted ordinals, run the numeric range-min/max, map back
    to the ORIGINAL values (not the csv-formatted strings — min over a
    DateType column must return datetime.date for the declared output
    schema). str() sort order == native order for both strings and ISO
    dates."""
    raw_codes, uniques = pd.factorize(pdf[col].to_numpy(object))
    if len(uniques):
        order = np.argsort(np.array([str(u) for u in uniques],
                                    dtype=object), kind="stable")
        inv = np.empty(len(order), dtype=np.int64)
        inv[order] = np.arange(len(order))
        codes = np.where(raw_codes >= 0, inv[np.maximum(raw_codes, 0)], -1)
        uniq = np.asarray(uniques, dtype=object)[order]
    else:
        codes, uniq = raw_codes, np.array([], dtype=object)
    x = codes.astype(np.float64)
    x[codes < 0] = np.nan
    if cond is not None:
        cm = pdf[cond].fillna(False).to_numpy(bool)
        x = np.where(cm, x, np.nan)
    x_e = x[idx_e]
    is_min = f.startswith("min")
    op = np.minimum if is_min else np.maximum
    fill = np.inf if is_min else -np.inf
    st = _SparseTable(np.where(np.isnan(x_e), fill, x_e), op)
    vals = st.query(lo, hi)
    sv = x[E]
    ok = anchored & ~np.isnan(sv)
    vals = np.where(ok, op(vals, np.where(np.isnan(sv), fill, sv)), vals)
    # an object array, not a list: a group with no anchor rows (request
    # mode's history-only keys) must not turn into an empty float64
    # column, which Arrow cannot cast to date
    out = np.empty(len(vals), dtype=object)
    out[:] = [None if np.isinf(v) or np.isnan(v) else uniq[int(v)]
              for v in vals]
    return out


def _fmt_num(v) -> str:
    """Format a value for csv-emitting UDAFs (top, *_cate)."""
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f == int(f) and abs(f) < 1e15:
            return f"{f:.6f}".rstrip("0").rstrip(".") if "." in f"{f:.6f}" else str(f)
        return repr(f)
    return str(v)


_INT_LOGICAL = {"int", "int16", "int32", "int64", "bigint", "smallint",
                "short", "long", "tinyint"}
_FLOAT_LOGICAL = {"float", "double"}


def _ts8_str(v) -> str:
    """ms (or pandas Timestamp) → the reference's timestamp string
    (fixed UTC+8, format_string<Timestamp>, udf.cc:1030-1039)."""
    import datetime
    ms = v.value // 10**6 if isinstance(v, pd.Timestamp) else int(v)
    return datetime.datetime.utcfromtimestamp(
        (ms + 28_800_000) // 1000).strftime("%Y-%m-%d %H:%M:%S")


def typed_formatter(logical: str | None):
    """Per-logical-type value formatter matching the reference's
    format_string specializations (udf.cc:991-1060): ints "%d",
    float/double "%f" (6 decimals), timestamp UTC+8 datetime. None →
    the generic repr-ish _fmt_num (API callers without type info)."""
    if logical is None:
        return _fmt_num
    t = logical.lower()
    if t in _INT_LOGICAL:
        return lambda v: str(int(v))
    if t in _FLOAT_LOGICAL:
        return lambda v: f"{float(v):.6f}"
    if t == "timestamp":
        return lambda v: _ts8_str(v)
    return str


def group_window_features(
    pdf: pd.DataFrame,
    spec: WindowSpec,
    aggs: list[Agg],
    keep_cols: list[str],
    out_dtypes: dict | None = None,
    ordinal_cols: frozenset | None = None,
) -> pd.DataFrame:
    """Compute all window aggregates of one group in one pass.

    ``ordinal_cols``: min/max agg columns that take the ordinal
    (lexicographic/ISO) path, decided once from the Spark schema by the
    caller; None = legacy per-group value sniff (test harness callers).

    ``pdf`` must contain ORD (int64), PRIMARY, EXPANDED plus every column an
    agg references. Returns emit rows (primary & not expanded) with
    keep_cols + one column per agg alias.
    """
    # equal-ts tie order: union rows sort below the primary, and
    # later-listed union tables sort OLDER — "the order for rows in
    # union tables with same ts is explicitly as the order in SQL"
    # (test_window_union.yaml id 19). UPOS carries 0 for the primary and
    # -(i+1) for the i-th union table; absent = single-source input.
    sort_cols = [ORD, *([UPOS] if UPOS in pdf.columns else []),
                 PRIMARY, *spec.tiebreak]
    pdf = pdf.sort_values(sort_cols, kind="stable").reset_index(drop=True)
    n = len(pdf)
    ts = pdf[ORD].to_numpy(np.int64, copy=False)
    primary = pdf[PRIMARY].to_numpy(np.int64, copy=False)
    expanded = (
        pdf[EXPANDED].to_numpy(np.int64, copy=False)
        if EXPANDED in pdf.columns
        else np.zeros(n, dtype=np.int64)
    )

    elig = np.ones(n, dtype=bool)
    if spec.instance_not_in_window:
        elig = primary == 0
    cum = np.cumsum(elig)
    P = cum - elig  # eligible strictly before each row

    emit_mask = (primary == 1) & (expanded == 0)
    E = np.flatnonzero(emit_mask)
    idx_e = np.flatnonzero(elig)
    ts_e = ts[idx_e]

    tsE = ts[E]
    PE = P[E]
    selfE = elig[E].astype(np.int64)
    lo, hi, extra = compute_frame_bounds(ts_e, tsE, PE, selfE, spec)
    anchored = extra  # anchor participates beyond the slice

    out = pdf.loc[E, keep_cols].reset_index(drop=True)

    num_cache: dict[str, tuple] = {}

    def numeric(col: str):
        if col not in num_cache:
            x = pd.to_numeric(pdf[col], errors="coerce").to_numpy(np.float64)
            x_e = x[idx_e]
            nn = ~np.isnan(x_e)
            num_cache[col] = (x, x_e, nn)
        return num_cache[col]

    def masked_prefix(col: str, cond: str | None):
        x, x_e, nn = numeric(col)
        if cond is None:
            m = nn
        else:
            c = pdf[cond].fillna(False).to_numpy(bool)[idx_e]
            m = nn & c
        ps = _prefix(np.where(m, x_e, 0.0))
        pc = _prefix(m.astype(np.float64))
        return x, x_e, m, ps, pc

    def self_vals(col: str, cond: str | None):
        """(value, in-frame-and-valid) for the anchor rows."""
        x, _, _ = numeric(col)
        sv = x[E]
        ok = anchored & ~np.isnan(sv)
        if cond is not None:
            c = pdf[cond].fillna(False).to_numpy(bool)[E]
            ok = ok & c
        return sv, ok

    def agg_sum_count(col, cond):
        _, _, _, ps, pc = masked_prefix(col, cond)
        sv, ok = self_vals(col, cond)
        s = ps[hi] - ps[lo] + np.where(ok, sv, 0.0)
        c = pc[hi] - pc[lo] + ok.astype(np.float64)
        return s, c

    def agg_sum_int(col, cond, dtype):
        """Integer-typed sum: accumulate in int64, not float64. numpy
        int64 wraps mod 2^64 like the reference's C accumulator, so
        frame sums stay exact even after a group's running prefix sum
        passes 2^53 (where the float64 prefix path silently loses
        low-order bits); truncating the mod-2^64 result to the narrow
        width equals the reference's per-add wraparound."""
        x, x_e, nn = numeric(col)
        if cond is None:
            m = nn
        else:
            m = nn & pdf[cond].fillna(False).to_numpy(bool)[idx_e]
        if pd.api.types.is_integer_dtype(pdf[col].dtype):
            # na_value=0: nullable Int columns — the mask m / ok already
            # excludes NULL positions, so the fill never contributes
            xi = pdf[col].to_numpy(dtype=np.int64, na_value=0)
            xe_i = np.where(m, xi[idx_e], 0)
            sv_i = xi[E]
        else:
            # null-carrying column arrives float64: element-exact < 2^53
            xe_i = np.where(m, x_e, 0.0).astype(np.int64)
            sv_i = np.where(np.isnan(x[E]), 0.0, x[E]).astype(np.int64)
        ps = np.zeros(len(xe_i) + 1, dtype=np.int64)
        np.cumsum(xe_i, out=ps[1:])
        _, ok = self_vals(col, cond)
        s = ps[hi] - ps[lo] + np.where(ok, sv_i, 0)
        return s.astype(dtype)

    for agg in aggs:
        f, col, alias = agg.func, agg.col, agg.alias
        if f == "count_where" and agg.cond_anchor:
            # anchor-relative equality condition: count frame rows whose
            # `cond` value equals the ANCHOR row's `cond_anchor` value
            # (count_where(id, c1 = lag(c1, 0)) —
            # test_udaf_function.yaml ids 47-49). Vectorized: composite
            # (code, position) keys sorted once, then two searchsorted
            # sweeps per anchor batch — O(n log n) total instead of the
            # reference's O(anchors × frame) per-frame rescan, which
            # matters for deep frames at scale.
            cc = pd.factorize(pd.concat(
                [pdf[agg.cond], pdf[agg.cond_anchor]],
                ignore_index=True))[0]
            rc, ac = cc[:n], cc[n:]
            valid = pdf[col].notna().to_numpy(bool)
            rc_e, ve = rc[idx_e], valid[idx_e]
            mask = ve & (rc_e >= 0)
            pos = np.flatnonzero(mask)
            B = np.int64(len(rc_e) + 1)
            keys = rc_e[pos].astype(np.int64) * B + pos
            keys.sort()
            a = ac[E].astype(np.int64)
            ok = a >= 0          # anchor-side NULL: condition never true
            qa = np.where(ok, a, 0) * B
            cnt = (np.searchsorted(keys, qa + hi)
                   - np.searchsorted(keys, qa + lo)).astype(np.float64)
            self_ok = anchored & ok & (rc[E] == ac[E]) & valid[E]
            out[alias] = np.where(ok, cnt + self_ok, 0.0)
            continue
        if f in ("sum", "avg", "count", "sum_where", "avg_where", "count_where"):
            cond = agg.cond if f.endswith("_where") else None
            if f.startswith("count") and not pd.api.types.is_numeric_dtype(
                    pdf[col]):
                # count over string/date columns counts NON-NULL values —
                # numeric coercion would wrongly drop unparseable strings
                # (CountUdafDef counts every non-null,
                # cases/query/udaf_query.yaml:1)
                valid = pdf[col].notna().to_numpy(bool)
                m_e = valid[idx_e].copy()
                okc = anchored & valid[E]
                if cond is not None:
                    cm = pdf[cond].fillna(False).to_numpy(bool)
                    m_e &= cm[idx_e]
                    okc = okc & cm[E]
                pc = _prefix(m_e.astype(np.float64))
                out[alias] = pc[hi] - pc[lo] + okc.astype(np.float64)
                continue
            if (f.startswith("sum") and out_dtypes
                    and str(out_dtypes.get(alias, "")).lower()
                    .startswith("int")):
                out[alias] = agg_sum_int(
                    col, cond, str(out_dtypes[alias]).lower())
                continue
            s, c = agg_sum_count(col, cond)
            if f.startswith("sum"):
                # OpenMLDB sum inits to 0 and outputs the accumulator:
                # empty/all-null frame -> 0, never NULL (SumUdafDef
                # const_init(T(0)), default_udf_library.cc:106-120;
                # SumWhereDef :305-318; yaml test_window.yaml id 3)
                vals = s
            elif f.startswith("avg"):
                # AvgUdafDef outputs sum/cnt unconditionally (FDiv,
                # default_udf_library.cc:253-259): empty/all-null frame
                # = 0/0 = a REAL double NaN, never NULL (pinned by
                # fz_ddl/test_myhug.yaml avg_75='nan' next to max=NULL).
                # An explicit-mask FloatingArray carries NaN through
                # Arrow (plain float64 NaN would be read as null) —
                # built only when an empty frame actually occurred
                # (rare); the common all-frames-populated group keeps
                # the plain ndarray fast path.
                vals = np.where(c > 0, s / np.maximum(c, 1), np.nan)
                if (c == 0).any():
                    out[alias] = pd.arrays.FloatingArray(
                        vals, np.zeros(len(vals), dtype=bool))
                    continue
            else:
                vals = c
            out[alias] = vals
        elif f in ("min", "max", "min_where", "max_where"):
            cond = agg.cond if f.endswith("_where") else None
            if ordinal_cols is not None:
                # decided ONCE from the Spark schema by the caller —
                # avoids a per-group per-row .map type sniff
                use_ordinal = col in ordinal_cols
            else:
                use_ordinal = (
                    not pd.api.types.is_numeric_dtype(pdf[col])
                    and not pdf[col].map(
                        lambda v: v is None or isinstance(v, (int, float))
                    ).all())
            if use_ordinal:
                # string/date columns: ordinal-encode (sorted order ==
                # lexicographic/ISO order) then reuse the numeric
                # sparse-table machinery (MinUdafDef<StringRef>)
                out[alias] = ordered_min_max(
                    pdf, col, cond, f, idx_e, lo, hi, E, anchored)
                continue
            x, x_e, nn = numeric(col)
            if cond is not None:
                cm = pdf[cond].fillna(False).to_numpy(bool)[idx_e]
                m = nn & cm
            else:
                m = nn
            op = np.minimum if f.startswith("min") else np.maximum
            sv, ok = self_vals(col, cond)
            if pdf[col].dtype == np.int64:
                # int64-exact path: a non-null int64 column keeps
                # integer comparisons — the float64 path collapses
                # adjacent values past 2^53 (same reason agg_sum_int
                # exists)
                xi = pdf[col].to_numpy(np.int64)
                fill = np.iinfo(np.int64).max if f.startswith("min") \
                    else np.iinfo(np.int64).min
                st = _SparseTable(np.where(m, xi[idx_e], fill), op,
                                  identity=fill)
                vals = st.query(lo, hi)
                vals = np.where(
                    ok, op(vals, np.where(ok, xi[E], fill)), vals)
            else:
                fill = np.inf if f.startswith("min") else -np.inf
                st = _SparseTable(np.where(m, x_e, fill), op)
                vals = st.query(lo, hi)
                vals = np.where(
                    ok, op(vals, np.where(np.isnan(sv), fill, sv)), vals)
            # empty/all-null frame → NULL, never NaN: Min/MaxUdafDef's
            # output flag stays unset when Update never ran (avg differs:
            # 0/0 emits a double NaN — fz_ddl/test_myhug.yaml pins
            # max=NULL vs avg=NaN over the same empty frame). Nullable
            # arrays keep the NULL distinction through Arrow — built
            # only when an empty frame actually occurred; the common
            # case stays a plain ndarray.
            cand = vals == fill
            if cand.any():
                # confirm TRUE emptiness by frame count: a frame whose
                # genuine extremum EQUALS the sentinel (±inf doubles,
                # int64 domain edges) must keep its value, not NULL
                pcm = _prefix(m.astype(np.float64))
                cnt = pcm[hi] - pcm[lo] + ok.astype(np.float64)
                empty = cand & (cnt == 0)
            else:
                empty = cand
            if empty.any():
                res = pd.array(vals, dtype="Int64"
                               if vals.dtype == np.int64 else "Float64")
                res[empty] = pd.NA
                out[alias] = res
            else:
                out[alias] = vals
        elif f == "first_value":
            # first_value = newest FRAME row (frame-bound, end-bound
            # exclusions apply — github.com/4paradigm/OpenMLDB#1587,
            # test_window.yaml id 33)
            raw = pdf[col].to_numpy()
            at_current = spec.end_delta == 0 and not spec.end_open
            res = pd.Series([None] * len(E), dtype=object)
            if at_current:
                res[:] = raw[E]
            else:
                pos = hi - 1
                valid = (pos >= lo) & (pos < hi)
                res[valid] = raw[idx_e[pos[valid]]]
            out[alias] = res
        elif f in ("lag", "at"):
            # lag/at(k): k-th row back from the CURRENT row's position in
            # the partition-ordered buffer, bounded by the partition
            # start and MAXSIZE ONLY. The declared frame does NOT bound
            # it: the reference's planner merges each lag offset into the
            # buffered frame (node_manager.cc MergeFrameNode →
            # kFrameRowsMergeRowsRange) and at() reads the raw buffer
            # (window_functions_def.cc AtList), so lag(3) over `rows
            # between 2 preceding and 1 preceding` still returns the 3rd
            # row back (test_udaf_function.yaml ids 57-60, issue #1554).
            # End-bound exclusions don't shift the anchor either
            # (test_window.yaml ids 36-37; test_window_union.yaml id 19
            # pins the virtual anchor through INSTANCE_NOT_IN_WINDOW).
            k = int(agg.param or 0)
            raw = pdf[col].to_numpy()
            res = pd.Series([None] * len(E), dtype=object)
            if k == 0:
                # lag(0) = the current row itself, always (also under
                # INW / EXCLUDE CURRENT_TIME, where it is not buffered)
                res[:] = raw[E]
                out[alias] = res
                continue
            if spec.exclude_current_time:
                # same-ts rows sit in the current-history buffer, not
                # the effective window (HistoryWindow::
                # BufferCurrentTimeBuffer) — lag(k>=1) counts back from
                # the first row with ts strictly below the anchor's
                # (test_window_union.yaml ids 18-4/18-5)
                anchor = _searchsorted(ts_e, tsE, "left")
                buf_end = anchor + 1          # + the current row
            else:
                anchor = PE
                buf_end = PE + selfE
            pos = anchor - k
            if spec.max_size and spec.max_size > 0:
                buf_lo = np.maximum(buf_end - spec.max_size, 0)
            else:
                buf_lo = 0
            valid = (pos >= 0) & (pos >= buf_lo) & (pos < buf_end)
            res[valid] = raw[idx_e[pos[valid]]]
            out[alias] = res
        elif f in ("distinct_count", "top_n_frequency", "top1_ratio"):
            # One-hot prefix-sum over factorized categories: counts for all
            # emit frames in two numpy ops (categorical cardinality in
            # feature data is small; guarded fallback below).
            series = None
            if f == "distinct_count" and pdf[col].isna().any():
                # the reference's DistinctCountDef takes a NON-nullable T
                # (default_udf_library.cc:237-272): a NULL row inserts
                # the type's default value (0 / "") into the set, so
                # nulls count as one distinct default-valued entry
                s = pdf[col]
                if agg.val_type == "bool" or \
                        pd.api.types.is_bool_dtype(s):
                    series = s.fillna(False)
                elif pd.api.types.is_datetime64_any_dtype(s):
                    series = s.fillna(pd.Timestamp(0))
                elif pd.api.types.is_numeric_dtype(s):
                    series = s.fillna(0)
                else:
                    series = s.fillna("")
            counts, uniq = cat_counts(pdf, col, None, idx_e, lo, hi, E,
                                      anchored,
                                      fmt=typed_formatter(agg.val_type),
                                      series=series)
            if f == "distinct_count":
                out[alias] = (counts > 0).sum(axis=1).astype(np.float64)
            elif f == "top1_ratio":
                # empty/all-null frame → 0.0, not NULL
                # (FZTop1Ratio::Output, feature_zero_def.cc:418-421;
                # test_feature_zero_function.yaml id 3 row 4)
                tot = counts.sum(axis=1)
                out[alias] = np.where(
                    tot > 0, counts.max(axis=1) / np.maximum(tot, 1), 0.0
                )
            else:
                k = int(agg.param or 1)
                frame_n = hi - lo + anchored.astype(np.int64)
                out[alias] = topn_freq_strings(counts, uniq, k, frame_n)
        elif f == "top":
            k = int(agg.param or 1)
            tfmt = typed_formatter(agg.val_type)
            x, x_e, nn = numeric(col)
            xv = np.where(nn, x_e, np.nan)
            sv, ok = self_vals(col, None)
            res = []
            for j in range(len(E)):
                fr = xv[lo[j]:hi[j]]
                fr = fr[~np.isnan(fr)]
                if anchored[j] and ok[j]:
                    fr = np.append(fr, sv[j])
                if len(fr) > k:
                    fr = fr[np.argpartition(fr, len(fr) - k)[len(fr) - k:]]
                res.append(",".join(tfmt(v) for v in np.sort(fr)[::-1]))
            out[alias] = res
        elif f in ("window_split", "window_split_by_key",
                   "window_split_by_value"):
            # fz_window_split family + fz_join (feature_zero_def.cc:
            # FZStringOpsDef::UpdateSplit/UpdateSplitByKey/UpdateSplitByValue,
            # :181-280): per frame row (newest first — the HistoryWindow
            # iterator order), split and append parts; emit joined string.
            out[alias] = window_split_strings(
                pdf, col, f,
                "," if agg.delim is None else agg.delim,
                agg.kv_delim, agg.sep,
                idx_e, lo, hi, E, anchored, mode=agg.param)
        elif f.endswith("_cate") or f.endswith("_cate_where"):
            base = f.split("_cate")[0].replace("top_n_key_", "")
            cond = agg.cond if f.endswith("_where") else None
            top_n = int(agg.param) if f.startswith("top_n_key_") else None
            out[alias] = cate_agg_strings(
                pdf, agg.cate, col, cond, base, idx_e, lo, hi, E, anchored,
                numeric, top_n=top_n,
                key_fmt=typed_formatter(agg.cate_type),
                val_fmt=typed_formatter(agg.val_type)
                if agg.val_type else None,
            )
        else:  # pragma: no cover
            raise ValueError(f"unhandled agg func {f}")

    if out_dtypes:
        for c, dt in out_dtypes.items():
            if c in out.columns:
                if isinstance(out[c].dtype, pd.Float64Dtype):
                    # NULL-carrying numeric (empty-frame min/max): cast
                    # to the nullable counterpart so NA survives the
                    # astype (plain float64 would fold NA back to NaN)
                    d = str(dt)
                    if d.startswith(("int", "float")):
                        dt = d.capitalize()
                d = str(dt)
                if d.startswith("int") and str(out[c].dtype) == "float64":
                    if np.isfinite(out[c].to_numpy()).all():
                        # integer result from the float64 accumulator:
                        # cast through int64 so narrow widths TRUNCATE
                        # mod 2^N — the reference's C wraparound for sum
                        # overflow (float64→int32 directly is UB for
                        # out-of-range values)
                        out[c] = out[c].astype("int64").astype(d)
                    else:
                        # NULL-carrying min/max: NaN → NA via the
                        # nullable counterpart
                        out[c] = out[c].astype(d.capitalize())
                    continue
                try:
                    out[c] = out[c].astype(dt)
                except (TypeError, ValueError):
                    pass
    return out
