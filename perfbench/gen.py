"""Seeded input generator for the benchmark workloads.

One process, numpy + pyarrow, no Spark. The same seed and parameters give
byte-identical parquet files. Each generated dataset lives in its own cache
directory with a ``meta.json`` that records the parameters and a sha256
digest of every file; a dataset whose digest or parameters no longer match
is regenerated.

Tables (``input_hint`` shape plus the engine's int64 order key):

- ``transcripts``: conv_id string, turn_idx int32, role string, text string,
  tool string (nullable), ts timestamp[ms, UTC], ts_ms int64, value double
- ``updates``: conv_id string, ts_ms int64, cfg string, weight double, ts
  timestamp — sparse per-conversation config changes, each 1.5 s before
  some turn, so an update never shares a timestamp with a turn
- ``docs`` (near-dup only): doc_id int64, text string

The knobs are only the properties the workloads vary: the conversation-size
distribution (``sizes``), timestamp duplication (``ts_mode``) and the
near-duplicate fraction (``dup_frac``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = "1"
TS_BASE_MS = 1_704_067_200_000        # 2024-01-01T00:00:00Z
N_FILES = 8                           # parquet files per table: 8 scan splits
VOCAB = 5000                          # transcript text vocabulary
DOC_VOCAB = 50_000                    # near-dup document vocabulary
TOOLS = np.array(["search", "browser", "python"], dtype=object)
ROLES = np.array(["user", "assistant", "tool"], dtype=object)


@dataclass(frozen=True)
class Params:
    """What a dataset is made of. ``sizes``: 'geometric' (mean
    ``mean_len``) or 'zipf' (``n_convs`` conversations, size ∝ 1/rank).
    ``ts_mode``: 'unique' (strictly increasing per conversation) or
    'minute' (truncated to the minute, so equal timestamps are common).
    ``n_docs`` > 0 adds a ``docs`` table with ``dup_frac`` near-copies."""
    n_turns: int = 0
    sizes: str = "geometric"
    mean_len: int = 40
    n_convs: int = 0
    ts_mode: str = "unique"
    n_docs: int = 0
    dup_frac: float = 0.0

    def key(self) -> str:
        blob = json.dumps([GEN_VERSION, asdict(self)], sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:12]


# ------------------------------------------------------------ generation

def _conv_sizes(rng: np.random.Generator, p: Params) -> np.ndarray:
    if p.sizes == "geometric":
        out, total = [], 0
        while total < p.n_turns:
            s = rng.geometric(1.0 / p.mean_len, size=max(1024, p.n_turns // p.mean_len))
            out.append(s)
            total += int(s.sum())
        sizes = np.concatenate(out)
        cut = int(np.searchsorted(np.cumsum(sizes), p.n_turns))
        sizes = sizes[:cut + 1].copy()
        sizes[-1] -= int(sizes.sum()) - p.n_turns
        return sizes[sizes > 0]
    if p.sizes == "zipf":
        w = 1.0 / np.arange(1, p.n_convs + 1)
        sizes = np.maximum(1, np.floor(w / w.sum() * p.n_turns)).astype(np.int64)
        sizes[0] += p.n_turns - int(sizes.sum())     # remainder to the largest
        return rng.permutation(sizes)
    raise ValueError(f"unknown size distribution {p.sizes!r}")


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int,
           vocab: int) -> pa.Array:
    """n space-joined token strings of lo..hi tokens ``w<id>``."""
    lens = rng.integers(lo, hi + 1, size=n)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    words = pa.array([f"w{i}" for i in range(vocab)])
    toks = words.take(pa.array(rng.integers(0, vocab, size=int(offsets[-1]))))
    return _join(offsets, toks)


def _join(offsets: np.ndarray, toks: pa.Array) -> pa.Array:
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), toks), " ")


def _transcripts(rng: np.random.Generator, p: Params) -> tuple[pa.Table, pa.Table]:
    sizes = _conv_sizes(rng, p)
    n_conv, n = len(sizes), int(sizes.sum())
    conv = np.repeat(np.arange(n_conv), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn = (np.arange(n) - np.repeat(starts, sizes)).astype(np.int32)
    # per-conversation clock: a random start in a 30-day span, then steps
    if p.ts_mode == "unique":
        step = rng.integers(2_000, 600_000, size=n)            # 2 s .. 10 min
    elif p.ts_mode == "minute":
        step = rng.integers(1_000, 40_000, size=n)             # 1 s .. 40 s
    else:
        raise ValueError(f"unknown ts_mode {p.ts_mode!r}")
    step[starts] = 0
    clock = np.cumsum(step)
    clock -= np.repeat(clock[starts], sizes)
    ts = TS_BASE_MS + np.repeat(rng.integers(0, 30 * 86_400_000, size=n_conv), sizes) + clock
    if p.ts_mode == "minute":
        ts = ts // 60_000 * 60_000
    conv_ids = np.array([f"c{i:06d}" for i in range(n_conv)], dtype=object)
    tool = rng.integers(0, 5, size=n)                          # 3, 4 -> NULL
    # the first turn always names a tool: top_n_frequency over a group
    # whose tool column is entirely NULL raises in the window kernel
    tool[starts] = rng.integers(0, 3, size=n_conv)
    value = rng.integers(0, 100_000, size=n) / 100.0
    t = pa.table({
        "conv_id": pa.array(conv_ids[conv], pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(ROLES[rng.integers(0, 3, size=n)], pa.string()),
        "text": _texts(rng, n, 4, 12, VOCAB),
        "tool": pa.array(np.where(tool < 3, TOOLS[np.minimum(tool, 2)], None),
                         pa.string()),
        "ts": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "ts_ms": pa.array(ts, pa.int64()),
        "value": pa.array(value, pa.float64()),
    })
    pick = np.flatnonzero(rng.random(n) < 1 / 7)
    u_ts = ts[pick] - 1500
    u = pa.table({
        "conv_id": pa.array(conv_ids[conv[pick]], pa.string()),
        "ts_ms": pa.array(u_ts, pa.int64()),
        "cfg": pa.array([f"cfg_{i}" for i in turn[pick]], pa.string()),
        "weight": pa.array(value[pick] * 10.0, pa.float64()),
        "ts": pa.array(u_ts, pa.timestamp("ms", tz="UTC")),
    })
    return t, u


def _docs(rng: np.random.Generator, p: Params) -> pa.Table:
    """Base documents of 12..30 tokens; ``dup_frac`` of all docs are
    near-copies of a base doc with one or two tokens dropped or one
    adjacent pair swapped (never an exact copy)."""
    n = p.n_docs
    n_dup = int(n * p.dup_frac)
    n_base = n - n_dup
    lens = rng.integers(12, 31, size=n_base)
    offs = np.concatenate([[0], np.cumsum(lens)])
    toks = rng.integers(0, DOC_VOCAB, size=int(offs[-1]))
    src = rng.integers(0, n_base, size=n_dup)
    kind = rng.integers(0, 3, size=n_dup)          # 0: drop 1, 1: drop 2, 2: swap
    dup_lists = []
    for s, k in zip(src, kind):
        d = toks[offs[s]:offs[s + 1]].copy()
        i = int(rng.integers(0, len(d) - 1))
        if k == 2 and d[i] != d[i + 1]:
            d[i], d[i + 1] = d[i + 1], d[i]
        else:
            d = np.delete(d, [i, i + 1] if k == 1 else [i])
        dup_lists.append(d)
    all_lens = np.concatenate([lens, [len(d) for d in dup_lists]])
    all_toks = np.concatenate([toks, *dup_lists]) if dup_lists else toks
    offsets = np.concatenate([[0], np.cumsum(all_lens)]).astype(np.int32)
    words = pa.array([f"t{i}" for i in range(DOC_VOCAB)])
    text = _join(offsets, words.take(pa.array(all_toks)))
    doc_id = rng.permutation(n).astype(np.int64)   # copies are not adjacent
    return pa.table({"doc_id": pa.array(doc_id), "text": text}) \
        .sort_by("doc_id")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    per = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def generate(p: Params, seed: int, out_dir: str) -> None:
    rng = np.random.default_rng([seed, int(p.key(), 16)])
    if p.n_turns:
        t, u = _transcripts(rng, p)
        _write(t, os.path.join(out_dir, "transcripts.parquet"))
        _write(u, os.path.join(out_dir, "updates.parquet"))
    if p.n_docs:
        _write(_docs(rng, p), os.path.join(out_dir, "docs.parquet"))


# ----------------------------------------------------------------- cache

def digest(path: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f == "meta.json":
                continue
            fp = os.path.join(root, f)
            h.update(os.path.relpath(fp, path).encode() + b"\0")
            with open(fp, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def dataset(p: Params, seed: int, cache_root: str) -> str:
    """Directory holding the dataset for (p, seed); generated if absent or
    if its recorded digest does not match the files."""
    d = os.path.join(cache_root, f"{p.key()}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    want = {"gen_version": GEN_VERSION, "params": asdict(p), "seed": seed}
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
        if {k: meta.get(k) for k in want} == want and meta["digest"] == digest(d):
            return d
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(p, seed, tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({**want, "digest": digest(tmp)}, fh, indent=1)
    os.rename(tmp, d)
    return d
