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
import pyarrow as pa
import pyarrow.compute as pc

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
        self.tab = [x]
        k = 1
        while (1 << k) <= m:
            prev = self.tab[-1]
            half = 1 << (k - 1)
            self.tab.append(op(prev[: m - (1 << k) + 1], prev[half : m - half + 1]))
            k += 1

    def query(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """Reduce over [lo, hi); empty ranges yield the op identity."""
        out = np.full(len(lo), self.identity, dtype=self.tab[0].dtype)
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


_MS_PER_UNIT = {"s": (1000, 1), "ms": (1, 1), "us": (1, 1000),
                "ns": (1, 10**6)}


def _valid(a: pa.Array) -> np.ndarray:
    """True where ``a`` holds a value."""
    if a.null_count == 0:
        return np.ones(len(a), dtype=bool)
    return a.is_valid().to_numpy(zero_copy_only=False)


def _nan_null(a: pa.Array) -> pa.Array:
    """A float NaN reads as NULL: the JVM lowering matches it
    (COVERAGE §2.5)."""
    if not pa.types.is_floating(a.type):
        return a
    x = a.to_numpy(zero_copy_only=False)    # NULL slots read as NaN
    nan = np.isnan(x)
    if nan.sum() == a.null_count:
        return a
    return pa.array(x, type=a.type, mask=nan)


def _parse_float(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return np.nan


def _floats(a: pa.Array) -> np.ndarray:
    """float64 view, NaN where NULL; strings parse as numbers where they
    can, other non-numeric values read as NULL."""
    t = a.type
    if pa.types.is_boolean(t) or pa.types.is_decimal(t):
        a = a.cast(pa.float64())
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        return np.array([_parse_float(v) for v in a.to_pylist()],
                        dtype=np.float64)
    elif not (pa.types.is_integer(t) or pa.types.is_floating(t)):
        return np.full(len(a), np.nan)
    return np.asarray(a.to_numpy(zero_copy_only=False), dtype=np.float64)


def _ints(a: pa.Array) -> np.ndarray:
    """Exact int64 view of an integer column, 0 where NULL."""
    if a.null_count:
        a = pc.fill_null(a, 0)
    return np.asarray(a.to_numpy(zero_copy_only=False), dtype=np.int64)


def _truth(a: pa.Array) -> np.ndarray:
    """A condition column as bools; NULL is false."""
    if not pa.types.is_boolean(a.type):
        a = a.cast(pa.bool_())
    return pc.fill_null(a, False).to_numpy(zero_copy_only=False)


def _sort_key(a: pa.Array) -> np.ndarray:
    """An ascending sort key with NULL last."""
    if a.null_count == 0 and pa.types.is_integer(a.type):
        return a.to_numpy()
    return pc.rank(a, null_placement="at_end", tiebreaker="dense").to_numpy()


def _ranked(a: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """(codes, distinct values): the distinct values sorted in NATIVE
    order — the reference's containers are std::map<StorageK> with
    native-type comparison (BoundedGroupByDict, udf/containers.h), so
    numeric keys order numerically (2 before 10) and strings byte-wise —
    and each row's index into them, -1 for NULL."""
    enc = pc.dictionary_encode(a)
    srt = pc.array_sort_indices(enc.dictionary).to_numpy()
    if not len(srt):
        return np.full(len(a), -1, dtype=np.int64), enc.dictionary
    inv = np.empty(len(srt), dtype=np.int64)
    inv[srt] = np.arange(len(srt))
    idx = np.asarray(pc.fill_null(enc.indices, -1)
                     .to_numpy(zero_copy_only=False), dtype=np.int64)
    return (np.where(idx >= 0, inv[np.maximum(idx, 0)], -1),
            enc.dictionary.take(pa.array(srt)))


def _labels(uniq: pa.Array, fmt) -> np.ndarray:
    """Distinct values rendered for csv output by ``fmt`` (the
    logical-type formatter from typed_formatter); timestamps render
    from epoch milliseconds."""
    if pa.types.is_timestamp(uniq.type):
        mul, div = _MS_PER_UNIT[uniq.type.unit]
        vals = (uniq.cast(pa.int64()).to_numpy() * mul // div).tolist()
    else:
        vals = uniq.to_pylist()
    return np.array([fmt(v) for v in vals], dtype=object)


def _default(t: pa.DataType):
    """The value a NULL takes in a NON-nullable UDAF argument; None for
    dates, whose NULL counts as a value of its own."""
    if pa.types.is_boolean(t):
        return pa.scalar(False)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pa.scalar("", type=t)
    if pa.types.is_integer(t) or pa.types.is_floating(t) \
            or pa.types.is_timestamp(t):
        return pa.scalar(0, type=t)
    return None


def _arrow(vals, t: pa.DataType, null: np.ndarray | None = None) -> pa.Array:
    """One output column as Arrow type ``t``, NULL where ``null``."""
    if isinstance(vals, pa.Array):
        return vals if vals.type == t else vals.cast(t)
    if isinstance(vals, list):
        return pa.array(vals, type=t)
    if not (pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_boolean(t)):
        return pa.array(vals, mask=null).cast(t, safe=False)
    if pa.types.is_integer(t) and vals.dtype.kind == "f":
        # through int64 so narrow widths TRUNCATE mod 2^N — the
        # reference's C wraparound (float64→int32 directly is UB for
        # out-of-range values)
        vals = vals.astype(np.int64)
    return pa.array(vals.astype(t.to_pandas_dtype(), copy=False), type=t,
                    mask=null)


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


def cat_counts(codes, u, idx_e, lo, hi, E, anchored) -> np.ndarray:
    """Per-emit-frame category counts matrix (n_emit × u).

    Replaces per-row value_counts loops with two vectorized ops:
    one-hot scatter + cumsum, then M[hi]-M[lo].
    """
    if u == 0:
        return np.zeros((len(E), 0))
    M = _cat_prefix(codes[idx_e], None, u)
    counts = M[hi] - M[lo]
    anchor_codes = codes[E]
    ai = np.flatnonzero(anchored & (anchor_codes >= 0))
    np.add.at(counts, (ai, anchor_codes[ai]), 1.0)
    return counts


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


def cate_agg_strings(codes, uniq, x, cm, base, idx_e, lo, hi, E, anchored,
                     top_n: int | None = None, val_fmt=None) -> list:
    """{sum,count,avg,min,max}_cate[_where] and the top_n_key_* variants:
    per-category aggregate within the frame, emitted "k1:v1,k2:v2" sorted
    by key ascending (*_by_category_def.cc). ``codes``/``uniq`` are the
    key column's native-order codes and rendered keys, ``x`` the values,
    ``cm`` the condition. ``top_n``: keep only the n
    LARGEST keys and emit them key-DESCENDING — the reference's bounded
    std::map evicts begin() past the bound, so surviving keys always
    carry complete accumulators (TopKAvgCateWhereDef::Update;
    OutputString(ptr, is_desc=true)).

    sum/count/avg via category prefix sums (vectorized); min/max via
    per-row numpy slices (no prefix structure)."""
    # value rendering: count is always %lld; avg always %f (double
    # accumulator); sum/min/max render in the value column's own type
    if base == "count":
        vfmt = lambda v: str(int(v))  # noqa: E731
    elif base == "avg":
        vfmt = (lambda v: f"{float(v):.6f}") if val_fmt else _fmt_num
    else:
        vfmt = val_fmt or _fmt_num
    valid = (codes >= 0) & ~np.isnan(x)
    if cm is not None:
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


def window_split_strings(raw: list, f, delim, kv_delim, sep,
                         idx_e, lo, hi, E, anchored, mode=None) -> list:
    """mode None → fz_join of the frame's split parts (newest first);
    mode 'count' / 'distinct_count' → count(fz_window_split*(..)) /
    distinct_count(..) over the same parts stream
    (test_feature_zero_function.yaml ids 1-4). ``raw``: the column's
    values in buffer order."""
    # pre-split each eligible row once
    cache: dict[int, list] = {}

    def parts_of(pos: int) -> list:
        if pos not in cache:
            v = raw[pos]
            cache[pos] = [] if v is None else \
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


def ordered_min_max(codes, uniq: pa.Array, cm, f, idx_e, lo, hi, E,
                    anchored) -> pa.Array:
    """min/max over orderable non-numeric columns (strings, dates):
    run the numeric range-min/max over the native-order codes
    (``_ranked``), then take the ORIGINAL values back, so the result
    keeps the column's type."""
    x = codes.astype(np.float64)
    x[codes < 0] = np.nan
    if cm is not None:
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
    null = np.isinf(vals)
    return uniq.take(pa.array(np.where(null, 0, vals).astype(np.int64),
                              mask=null))


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
    """epoch ms → the reference's timestamp string (fixed UTC+8,
    format_string<Timestamp>, udf.cc:1030-1039)."""
    import datetime
    ms = int(v)
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
    table: pa.Table,
    spec: WindowSpec,
    aggs: list[Agg],
    keep_cols: list[str],
    schema: pa.Schema,
) -> pa.Table:
    """Compute all window aggregates of one group in one pass.

    ``table`` must contain ORD (int64), PRIMARY plus every column an agg
    references; UPOS and EXPANDED read as 0 when absent. Returns the emit rows
    (primary & not expanded) as keep_cols + one column per agg alias,
    typed exactly as ``schema``. Computation runs on numpy views of the
    Arrow buffers; picked values (keep_cols, lag/at/first_value,
    string/date min/max) are Arrow ``take``s, so they keep the column's
    type and every bit of a BIGINT.
    """
    n = table.num_rows
    cols: dict[str, pa.Array] = {}

    def col(name: str) -> pa.Array:
        if name not in cols:
            cols[name] = _nan_null(table.column(name).combine_chunks())
        return cols[name]

    def flag(name: str, default: int) -> np.ndarray:
        if name in table.column_names:
            return _ints(col(name))
        return np.full(n, default, dtype=np.int64)

    # equal-ts tie order: union rows sort below the primary, and
    # later-listed union tables sort OLDER — "the order for rows in
    # union tables with same ts is explicitly as the order in SQL"
    # (test_window_union.yaml id 19). UPOS carries 0 for the primary and
    # -(i+1) for the i-th union table. NULL tiebreaks sort last.
    ts = _ints(col(ORD))
    primary = _ints(col(PRIMARY))
    order = np.lexsort([*(_sort_key(col(t)) for t in reversed(spec.tiebreak)),
                        primary, flag(UPOS, 0), ts])
    ts, primary = ts[order], primary[order]
    expanded = flag(EXPANDED, 0)[order]

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

    # every per-row view below is in buffer (sorted) order
    def valid(c: str) -> np.ndarray:
        return _valid(col(c))[order]

    def truth(c: str | None) -> np.ndarray:
        return np.ones(n, dtype=bool) if c is None else _truth(col(c))[order]

    def pick(c: str, pos: np.ndarray, ok: np.ndarray | None = None,
             via: np.ndarray | None = None) -> pa.Array:
        """Column ``c`` at buffer positions ``via[pos]`` (``pos`` when
        no ``via``), NULL where not ``ok``."""
        if ok is None:
            return col(c).take(pa.array(order[pos]))
        idx = np.zeros(len(pos), dtype=np.int64)
        p = pos[ok]
        idx[ok] = order[p if via is None else via[p]]
        return col(c).take(pa.array(idx, mask=~ok))

    num_cache: dict[str, tuple] = {}

    def numeric(c: str):
        if c not in num_cache:
            x = _floats(col(c))[order]
            x_e = x[idx_e]
            num_cache[c] = (x, x_e, ~np.isnan(x_e))
        return num_cache[c]

    def agg_sum_count(c, cond):
        x, x_e, nn = numeric(c)
        m = nn & truth(cond)[idx_e]
        ps = _prefix(np.where(m, x_e, 0.0))
        pc_ = _prefix(m.astype(np.float64))
        sv = x[E]
        ok = anchored & ~np.isnan(sv) & truth(cond)[E]
        s = ps[hi] - ps[lo] + np.where(ok, sv, 0.0)
        k = pc_[hi] - pc_[lo] + ok.astype(np.float64)
        return s, k

    def agg_sum_int(c, cond):
        """Integer-typed sum: accumulate in int64, not float64. numpy
        int64 wraps mod 2^64 like the reference's C accumulator, so
        frame sums stay exact even after a group's running prefix sum
        passes 2^53 (where the float64 prefix path silently loses
        low-order bits); truncating the mod-2^64 result to the narrow
        width equals the reference's per-add wraparound."""
        xi, v, cm = _ints(col(c))[order], valid(c), truth(cond)
        ps = np.zeros(len(idx_e) + 1, dtype=np.int64)
        np.cumsum(np.where(v[idx_e] & cm[idx_e], xi[idx_e], 0), out=ps[1:])
        ok = anchored & v[E] & cm[E]
        return ps[hi] - ps[lo] + np.where(ok, xi[E], 0)

    types = {f.name: f.type for f in schema}
    out: dict[str, pa.Array] = {}

    def put(alias: str, vals, null: np.ndarray | None = None) -> None:
        out[alias] = _arrow(vals, types[alias], null)

    for agg in aggs:
        f, c, alias = agg.func, agg.col, agg.alias
        cond = agg.cond if f.endswith("_where") else None
        if f == "count_where" and agg.cond_anchor:
            # anchor-relative equality condition: count frame rows whose
            # `cond` value equals the ANCHOR row's `cond_anchor` value
            # (count_where(id, c1 = lag(c1, 0)) —
            # test_udaf_function.yaml ids 47-49). Vectorized: composite
            # (code, position) keys sorted once, then two searchsorted
            # sweeps per anchor batch — O(n log n) total instead of the
            # reference's O(anchors × frame) per-frame rescan, which
            # matters for deep frames at scale.
            rv, av = col(agg.cond), col(agg.cond_anchor)
            cc, _ = _ranked(pa.concat_arrays([rv, av.cast(rv.type)]))
            rc, ac = cc[:n][order], cc[n:][order]
            v = valid(c)
            rc_e, ve = rc[idx_e], v[idx_e]
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
            self_ok = anchored & ok & (rc[E] == ac[E]) & v[E]
            put(alias, np.where(ok, cnt + self_ok, 0.0))
        elif f in ("count", "count_where"):
            # counts every non-NULL value (CountUdafDef,
            # cases/query/udaf_query.yaml:1), whatever the type
            v, cm = valid(c), truth(cond)
            pc_ = _prefix((v[idx_e] & cm[idx_e]).astype(np.float64))
            put(alias, pc_[hi] - pc_[lo] + (anchored & v[E] & cm[E]))
        elif f in ("sum", "sum_where") and pa.types.is_integer(types[alias]):
            put(alias, agg_sum_int(c, cond))
        elif f in ("sum", "avg", "sum_where", "avg_where"):
            s, k = agg_sum_count(c, cond)
            # OpenMLDB sum inits to 0 and outputs the accumulator:
            # empty/all-null frame -> 0, never NULL (SumUdafDef
            # const_init(T(0)), default_udf_library.cc:106-120;
            # SumWhereDef :305-318; yaml test_window.yaml id 3).
            # AvgUdafDef outputs sum/cnt unconditionally (FDiv,
            # default_udf_library.cc:253-259): empty/all-null frame
            # = 0/0 = a REAL double NaN, never NULL (pinned by
            # fz_ddl/test_myhug.yaml avg_75='nan' next to max=NULL).
            put(alias, s if f.startswith("sum")
                else np.where(k > 0, s / np.maximum(k, 1), np.nan))
        elif f in ("min", "max", "min_where", "max_where"):
            t = col(c).type
            if pa.types.is_string(t) or pa.types.is_large_string(t) \
                    or pa.types.is_date(t) or pa.types.is_timestamp(t):
                # string/date columns: native-order codes through the
                # numeric sparse-table machinery (MinUdafDef<StringRef>)
                codes, uniq = _ranked(col(c))
                put(alias, ordered_min_max(
                    codes[order], uniq, None if cond is None else truth(cond),
                    f, idx_e, lo, hi, E, anchored))
                continue
            v, cm = valid(c), truth(cond)
            m = v[idx_e] & cm[idx_e]
            ok = anchored & v[E] & cm[E]
            op = np.minimum if f.startswith("min") else np.maximum
            if pa.types.is_integer(t):
                # integer comparisons: float64 collapses adjacent values
                # past 2^53 (same reason agg_sum_int exists)
                x = _ints(col(c))[order]
                fill = np.iinfo(np.int64).max if f.startswith("min") \
                    else np.iinfo(np.int64).min
            else:
                x = numeric(c)[0]
                fill = np.inf if f.startswith("min") else -np.inf
            st = _SparseTable(np.where(m, x[idx_e], fill), op, identity=fill)
            vals = st.query(lo, hi)
            vals = np.where(ok, op(vals, np.where(ok, x[E], fill)), vals)
            # empty/all-null frame → NULL, never NaN: Min/MaxUdafDef's
            # output flag stays unset when Update never ran (avg differs:
            # 0/0 emits a double NaN — fz_ddl/test_myhug.yaml pins
            # max=NULL vs avg=NaN over the same empty frame). A frame
            # whose genuine extremum EQUALS the sentinel (±inf doubles,
            # int64 domain edges) keeps its value: emptiness is
            # confirmed by the frame count.
            empty = vals == fill
            if empty.any():
                pcm = _prefix(m.astype(np.float64))
                empty &= pcm[hi] - pcm[lo] + ok == 0
            put(alias, vals, empty)
        elif f == "first_value":
            # first_value = newest FRAME row (frame-bound, end-bound
            # exclusions apply — github.com/4paradigm/OpenMLDB#1587,
            # test_window.yaml id 33)
            if spec.end_delta == 0 and not spec.end_open:
                put(alias, pick(c, E))
            else:
                pos = hi - 1
                put(alias, pick(c, pos, pos >= lo, via=idx_e))
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
            if k == 0:
                # lag(0) = the current row itself, always (also under
                # INW / EXCLUDE CURRENT_TIME, where it is not buffered)
                put(alias, pick(c, E))
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
            ok = (pos >= 0) & (pos >= buf_lo) & (pos < buf_end)
            put(alias, pick(c, pos, ok, via=idx_e))
        elif f in ("distinct_count", "top_n_frequency", "top1_ratio"):
            # One-hot prefix-sum over native-order categories: counts for
            # all emit frames in two numpy ops (categorical cardinality
            # in feature data is small).
            codes, uniq = _ranked(col(c))
            u = len(uniq)
            if f == "distinct_count" and col(c).null_count:
                # the reference's DistinctCountDef takes a NON-nullable T
                # (default_udf_library.cc:237-272): a NULL row inserts
                # the type's default value (0 / "" / false / epoch) into
                # the set, so nulls count as one default-valued entry
                dflt = _default(uniq.type)
                j = -1 if dflt is None else pc.index(uniq, dflt).as_py()
                codes = np.where(codes >= 0, codes, j if j >= 0 else u)
                u += j < 0
            counts = cat_counts(codes[order], u, idx_e, lo, hi, E, anchored)
            if f == "distinct_count":
                put(alias, (counts > 0).sum(axis=1))
            elif f == "top1_ratio":
                # empty/all-null frame → 0.0, not NULL
                # (FZTop1Ratio::Output, feature_zero_def.cc:418-421;
                # test_feature_zero_function.yaml id 3 row 4)
                tot = counts.sum(axis=1)
                put(alias, np.where(
                    tot > 0, counts.max(axis=1, initial=0)
                    / np.maximum(tot, 1), 0.0))
            else:
                frame_n = hi - lo + anchored.astype(np.int64)
                put(alias, topn_freq_strings(
                    counts, _labels(uniq, typed_formatter(agg.val_type)),
                    int(agg.param or 1), frame_n))
        elif f == "top":
            k = int(agg.param or 1)
            tfmt = typed_formatter(agg.val_type)
            if pa.types.is_integer(col(c).type):
                # BIGINT past 2^53: float64 rounds neighbours together
                x, has = _ints(col(c))[order], valid(c)
            else:
                x = numeric(c)[0]
                has = ~np.isnan(x)
            xv, hv = x[idx_e], has[idx_e]
            ok = anchored & has[E]
            res = []
            for j in range(len(E)):
                fr = xv[lo[j]:hi[j]][hv[lo[j]:hi[j]]]
                if ok[j]:
                    fr = np.append(fr, x[E[j]])
                if len(fr) > k:
                    fr = fr[np.argpartition(fr, len(fr) - k)[len(fr) - k:]]
                res.append(",".join(tfmt(v) for v in np.sort(fr)[::-1]))
            put(alias, res)
        elif f in ("window_split", "window_split_by_key",
                   "window_split_by_value"):
            # fz_window_split family + fz_join (feature_zero_def.cc:
            # FZStringOpsDef::UpdateSplit/UpdateSplitByKey/UpdateSplitByValue,
            # :181-280): per frame row (newest first — the HistoryWindow
            # iterator order), split and append parts; emit joined string.
            put(alias, window_split_strings(
                col(c).take(pa.array(order)).to_pylist(), f,
                "," if agg.delim is None else agg.delim,
                agg.kv_delim, agg.sep,
                idx_e, lo, hi, E, anchored, mode=agg.param))
        elif f.endswith("_cate") or f.endswith("_cate_where"):
            base = f.split("_cate")[0].replace("top_n_key_", "")
            codes, uniq = _ranked(col(agg.cate))
            put(alias, cate_agg_strings(
                codes[order], _labels(uniq, typed_formatter(agg.cate_type)),
                numeric(c)[0], None if cond is None else truth(cond), base,
                idx_e, lo, hi, E, anchored,
                top_n=int(agg.param) if f.startswith("top_n_key_") else None,
                val_fmt=typed_formatter(agg.val_type)
                if agg.val_type else None))
        else:  # pragma: no cover
            raise ValueError(f"unhandled agg func {f}")

    return pa.Table.from_arrays(
        [_arrow(pick(c, E), types[c]) for c in keep_cols]
        + [out[a.alias] for a in aggs], schema=schema)
