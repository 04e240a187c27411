"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns plus a typed metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages. No image/audio codec library is
a dependency, so decoding is a deterministic pseudo-decoder: the payload
bytes repeated to ``h*w*3`` pseudo-pixels. The Spark plumbing around it
(schema, partitioning, UDF signature, Arrow batch shape) is the real one;
a codec (Pillow/librosa/pyav) would replace ``_fake_decode`` and the
vectorized byte statistics in ``decode_features``.

At 100 TB: media rows are large → keep `spark.sql.files.maxPartitionBytes`
at 128m so tasks stay memory-bounded, and select metadata-only columns
(Catalyst prunes the binary payload from scans that don't decode).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType()),   # image|audio|video
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])


def synthetic_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic fake media table from a text table (for tests):
    payload = utf-8 bytes of the text; meta derived from lengths."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        c.cast("binary").alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("application/x-fake").alias("mime"),
            (F.length(c) % 64 + 8).cast("int").alias("width"),
            (F.length(c) % 48 + 8).cast("int").alias("height"),
            (F.length(c).cast("long") * 10).alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic pseudo-pixels: repeat payload bytes to w*h*3."""
    if payload is None or len(payload) == 0:
        return np.zeros((h, w, 3), dtype=np.uint8)
    buf = np.frombuffer(payload, dtype=np.uint8)
    return np.resize(buf, (h, w, 3))


def _meta_int(m, key, default: int) -> int:
    """A meta struct FIELD can be null even when the struct isn't —
    int(None) would abort the whole Arrow stage."""
    if m is None:
        return default
    v = m[key]
    return default if v is None or (isinstance(v, float) and np.isnan(v)) \
        else int(v)


def _meta_wh(metas) -> tuple[np.ndarray, np.ndarray]:
    """Extract (width, height) arrays from a meta struct column."""
    w = np.array([_meta_int(m, "width", 8) for m in metas], dtype=np.int64)
    h = np.array([_meta_int(m, "height", 8) for m in metas], dtype=np.int64)
    return w, h


FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("mean_px", T.DoubleType()),
    T.StructField("std_px", T.DoubleType()),
    T.StructField("histo8", T.ArrayType(T.DoubleType())),
])


def decode_features(df: DataFrame, batch_hook=None) -> DataFrame:
    """Decode payloads and emit per-media pixel features via mapInPandas.

    ``batch_hook(pdf)`` (tests) observes each Arrow batch shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if batch_hook is not None:
                batch_hook(pdf)
            n = len(pdf)
            if n == 0:
                continue
            # Whole-batch vectorized pseudo-decode: the fake pixels are the
            # payload bytes cyclically repeated to N = h*w*3, so every
            # feature is a function of per-byte-value counts. One flat
            # bincount over (row_id*256 + byte) covers the entire batch
            # with no per-row Python.
            payloads = [bytes(p) if p is not None else b""
                        for p in pdf["payload"]]
            w, h = _meta_wh(pdf["meta"])
            L = np.array([len(p) for p in payloads], dtype=np.int64)
            N = h * w * 3
            allb = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            ids = np.repeat(np.arange(n, dtype=np.int64), L)
            counts = np.bincount(ids * 256 + allb,
                                 minlength=n * 256).reshape(n, 256)
            Lsafe = np.maximum(L, 1)
            full = N // Lsafe                      # complete cycles
            rem = np.where(L == 0, 0, N % Lsafe)   # leading partial cycle
            starts = np.concatenate(([0], np.cumsum(L)))[:-1]
            offs = np.arange(allb.size, dtype=np.int64) - starts[ids]
            pmask = offs < rem[ids]
            pcounts = np.bincount((ids * 256 + allb)[pmask],
                                  minlength=n * 256).reshape(n, 256)
            tot = counts * full[:, None] + pcounts
            empty = L == 0                         # zeros(h, w, 3) fallback
            if empty.any():
                tot[empty] = 0
                tot[empty, 0] = N[empty]
            vals = np.arange(256, dtype=np.int64)
            s = tot @ vals
            ss = tot @ (vals * vals)
            mean = s / N
            std = np.sqrt(np.maximum(ss / N - mean * mean, 0.0))
            histo = tot.reshape(n, 8, 32).sum(axis=2) / N[:, None]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "n_bytes": L.astype(np.int32),
                "mean_px": mean,
                "std_px": std,
                "histo8": list(histo),
            })

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)


def resize(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of decoded media → new payload bytes."""

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # per-item loop is intrinsic to codec work (real decoders are
            # per-image); bookkeeping stays columnar via zip, not iterrows
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"],
                                          pdf["meta"]):
                w = _meta_int(meta, "width", 8)
                h = _meta_int(meta, "height", 8)
                px = _fake_decode(payload, w, h)
                yi = (np.arange(out_h) * h // out_h)
                xi = (np.arange(out_w) * w // out_w)
                rs = px[np.ix_(yi, xi)]
                new_meta = dict(meta) if meta is not None else {}
                new_meta.update({"width": out_w, "height": out_h})
                rows.append({"media_id": mid,
                             "payload": rs.tobytes(), "meta": new_meta})
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


def frame_sample(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Sample pseudo-frames every `every_ms` of duration (video path):
    one output row per (media_id, frame_idx)."""

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ms", T.LongType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # per-item loop is intrinsic (real frame extraction is per-video)
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"],
                                          pdf["meta"]):
                dur = _meta_int(meta, "duration_ms", 0)
                payload = payload or b""
                n = max(1, dur // every_ms)
                for i in range(int(n)):
                    lo = (i * len(payload)) // n
                    hi = ((i + 1) * len(payload)) // n
                    rows.append({
                        "media_id": mid, "frame_idx": i,
                        "frame_ms": i * every_ms,
                        "frame_bytes": payload[lo:hi],
                    })
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)
