"""Multimodal (image/audio/video) column plumbing.

Media rides as opaque ``binary`` columns with typed metadata structs; decode
and feature extraction run as Arrow-batched ``mapInPandas`` stages.  The
codec layer is PLUGGABLE, sniffed from magic bytes:

- **PNM (P5 grayscale / P6 RGB, binary)** — real decoder, pure numpy header
  parse + frombuffer (no external libraries needed).
- **WAV (RIFF PCM)** — real decoder via the stdlib ``wave`` module
  (16/8-bit PCM).
- anything else falls back to a deterministic fake decode (a seeded,
  reproducible tensor from the raw bytes) so pipelines over formats whose
  codecs aren't installed here (JPEG/MP4/...) still exercise the real
  dataflow — schema, batch shape, partitioning, UDF signatures — and a real
  codec drops in by registering one function.
"""

from __future__ import annotations

import io
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, FloatType,
                               IntegerType, LongType, StringType, StructField,
                               StructType)

#: length of every pooled feature vector (extract_features)
FEAT_DIM = 64

MEDIA_META = StructType([
    StructField("kind", StringType()),       # image | audio | video
    StructField("mime", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("sample_rate", IntegerType()),
])

def feature_schema(dtype: str = "float32") -> StructType:
    elem = FloatType() if dtype == "float32" else DoubleType()
    return StructType([
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("fake_decoded", IntegerType()),
        StructField("feature", ArrayType(elem)),
        StructField("feat_dim", IntegerType()),
    ])


FEATURE_SCHEMA = feature_schema()


def decode_pnm(blob: bytes) -> tuple[np.ndarray, dict]:
    """Real binary-PNM decoder (P5 grayscale, P6 RGB): header token parse
    (whitespace + '#' comments) then a raw frombuffer.  Returns (uint8
    pixels shaped (h, w[, 3]), meta)."""
    tokens: list[bytes] = []
    i = 0
    while len(tokens) < 4:
        while i < len(blob) and blob[i:i + 1].isspace():
            i += 1
        if blob[i:i + 1] == b"#":
            while i < len(blob) and blob[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(blob) and not blob[j:j + 1].isspace():
            j += 1
        tokens.append(blob[i:j])
        i = j
    i += 1  # single whitespace byte after maxval, then raster
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PNM: {magic!r}")
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported PNM maxval {maxval} (only 8-bit)")
    ch = 1 if magic == b"P5" else 3
    if len(blob) - i < w * h * ch:
        raise ValueError("truncated PNM raster")
    data = np.frombuffer(blob, dtype=np.uint8, count=w * h * ch, offset=i)
    arr = data.reshape((h, w) if ch == 1 else (h, w, ch))
    return arr, {"kind": "image", "mime": f"image/x-portable-{'graymap' if ch == 1 else 'pixmap'}",
                 "width": w, "height": h, "maxval": maxval}


def decode_wav(blob: bytes) -> tuple[np.ndarray, dict]:
    """Real WAV decoder (stdlib ``wave``): returns (int samples, meta).
    16-bit PCM -> int16, 8-bit -> uint8 shifted to signed."""
    with wave.open(io.BytesIO(blob), "rb") as wf:
        n = wf.getnframes()
        raw = wf.readframes(n)
        width = wf.getsampwidth()
        meta = {"kind": "audio", "mime": "audio/wav",
                "sample_rate": wf.getframerate(),
                "n_channels": wf.getnchannels(), "n_frames": n}
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    elif width == 1:
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
    else:
        raise ValueError(f"unsupported sample width {width}")
    meta["sampwidth"] = width
    return samples, meta


def decode_media(blob: bytes) -> tuple[str, np.ndarray, dict]:
    """Codec dispatcher: magic-byte sniff -> (kind, normalized float64 1-D
    signal in [-1, 1], meta).  PNM pixels normalize by maxval, WAV samples
    by full scale for their sample width (2^15 / 2^7).  Unknown formats AND
    malformed/truncated/unsupported blobs take the deterministic fake path —
    one bad blob must never fail a mapInPandas task (corpora at scale
    always contain garbage)."""
    try:
        if blob and blob[:2] in (b"P5", b"P6"):
            arr, meta = decode_pnm(blob)
            flat = arr.reshape(-1).astype(np.float64)
            return "image", flat / float(meta["maxval"]), meta
        if blob and blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
            samples, meta = decode_wav(blob)
            full_scale = 32768.0 if meta["sampwidth"] == 2 else 128.0
            return "audio", samples.astype(np.float64) / full_scale, meta
    except Exception:
        pass  # malformed media -> opaque fallback below
    # float64 end to end (not via the float32 stub) so quantized oracle
    # comparisons see the same correctly-rounded doubles SQL computes
    if blob is None or len(blob) == 0:
        sig = np.zeros(64, dtype=np.float64)
    else:
        arr = np.frombuffer(blob, dtype=np.uint8)
        reps = int(np.ceil(64 / arr.size))
        sig = (np.tile(arr, reps)[:64].astype(np.float64) - 127.5) / 127.5
    return "opaque", sig, {"kind": "opaque", "mime": "application/octet-stream"}


MEDIA_STATS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("kind", StringType()),
    StructField("n_raw", IntegerType()),
    StructField("mean_sig", DoubleType()),
    StructField("lo_sig", DoubleType()),
    StructField("hi_sig", DoubleType()),
])


def media_stats(df: DataFrame, blob_col: str = "blob",
                id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode + per-blob signal stats (count / mean / min /
    max of the normalized signal) — the verifiable face of the real codecs;
    q_media_codecs oracle-checks it against closed-form synthesized blobs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, ns, means, los, his = [], [], [], [], []
            for b in pdf[blob_col]:
                kind, sig, _ = decode_media(b)
                kinds.append(kind)
                ns.append(len(sig))
                means.append(float(sig.mean()) if len(sig) else 0.0)
                los.append(float(sig.min()) if len(sig) else 0.0)
                his.append(float(sig.max()) if len(sig) else 0.0)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype(str), "kind": kinds,
                "n_raw": np.asarray(ns, dtype=np.int32),
                "mean_sig": means, "lo_sig": los, "hi_sig": his,
            })

    return df.mapInPandas(run, MEDIA_STATS_SCHEMA)


def pool_signal(sig: np.ndarray, feat_dim: int) -> np.ndarray:
    """Segment-mean pooling of a 1-D signal to exactly ``feat_dim`` values:
    segment i covers sig[floor(i*n/d) : floor((i+1)*n/d)); empty segments
    (signal shorter than feat_dim) yield 0.0.  Deterministic and, for
    segment lengths <= 1, division-free — which keeps the oracle closed
    forms integer-exact."""
    n = len(sig)
    out = np.zeros(feat_dim, dtype=np.float64)
    if n == 0:
        return out
    bounds = (np.arange(feat_dim + 1, dtype=np.int64) * n) // feat_dim
    for i in range(feat_dim):
        a, b = bounds[i], bounds[i + 1]
        if b > a:
            out[i] = sig[a:b].mean()
    return out


def extract_features(df: DataFrame, blob_col: str = "blob",
                     id_col: str = "doc_id", ref_col: str = "media_ref",
                     dtype: str = "float32") -> DataFrame:
    """mapInPandas feature extraction: REAL codec decode (PNM/WAV via
    decode_media; anything else takes the fake fallback, flagged per row by
    ``fake_decoded`` so production truncation/garbage is observable) +
    segment-mean pooling to ``FEAT_DIM``.  Arrow batches in, Arrow batches
    out; no per-row Python beyond the codec call itself (which a real codec
    also requires).  ``dtype='float64'`` keeps full precision for
    quantized oracle comparison; float32 is the storage default."""
    schema = feature_schema(dtype)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, flags, feats = [], [], []
            for b in pdf[blob_col]:
                kind, sig, _ = decode_media(b)
                kinds.append(kind)
                flags.append(int(kind == "opaque"))
                pooled = pool_signal(sig, FEAT_DIM)
                feats.append(pooled.astype(dtype).tolist())
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype(str),
                "media_ref": pdf[ref_col].astype(str),
                "kind": kinds,
                "fake_decoded": np.asarray(flags, dtype=np.int32),
                "feature": feats,
                "feat_dim": FEAT_DIM,
            })

    return df.mapInPandas(run, schema)


def synth_blob_udf():
    """pandas UDF (doc_id: long) -> binary test blobs for the real codecs:
    even ids get an 8x8 P5 PGM with pixel[i] = (id*31 + i*7) % 251, odd ids
    a 32-sample 16-bit mono WAV with sample[i] = (id*13 + i*3) % 2003 - 1001
    — closed forms a SQL oracle can reproduce without decoding."""
    from pyspark.sql import functions as F

    @F.pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        out = []
        for d in ids:
            d = int(d)
            if d % 2 == 0:
                px = ((d * 31 + np.arange(64) * 7) % 251).astype(np.uint8)
                out.append(b"P5\n8 8\n255\n" + px.tobytes())
            else:
                s = ((d * 13 + np.arange(32) * 3) % 2003 - 1001).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(s.tobytes())
                out.append(buf.getvalue())
        return pd.Series(out)

    return _synth
